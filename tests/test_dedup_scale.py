"""Scale-shape guarantees for the dedup family (round-2 hardening).

1. The exact embedding near-dup operator must not put a row-level
   CartesianProduct in the plan (blocked matmul replaces the crossJoin) and
   must return exactly the brute-force result.
2. The n-gram Jaccard prefix filter must lose no pair: not one made of a
   shingle every doc shares, not one whose Jaccard only rounds up to the
   threshold, and none that brute force over all pairs finds; each
   MinHash+LSH pair must be a brute-force pair with the same Jaccard.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_source_legislation_spark.operators import dedup

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


@pytest.fixture(scope="module")
def emb_df(spark):
    # deterministic pseudo-random unit-ish vectors, 40 rows x 8 dims
    rows = []
    for i in range(40):
        vec = [((1103515245 * (i * 8 + j + 1) + 12345) % 1000) / 500.0 - 1.0 for j in range(8)]
        rows.append((i, vec, i % 4))
    return spark.createDataFrame(rows, schema=EMB_SCHEMA)


def test_blocked_matches_bruteforce(emb_df):
    blocked = {
        (r.vec_a, r.vec_b, r.cos)
        for r in dedup.embedding_near_dup_pairs(emb_df, threshold=0.5, block=16).collect()
    }
    brute = {
        (r.vec_a, r.vec_b, r.cos)
        for r in dedup.embedding_near_dup_bruteforce(emb_df, threshold=0.5).collect()
    }
    assert blocked == brute
    assert len(blocked) > 0  # non-vacuous


def test_blocked_plan_has_no_row_cartesian(emb_df):
    plan = dedup.embedding_near_dup_pairs(
        emb_df, threshold=0.5, block=16
    )._jdf.queryExecution().executedPlan().toString()
    # the tiny block-key inequality join may be a BroadcastNestedLoopJoin
    # (n/block rows); a row-level CartesianProduct must never appear
    assert "CartesianProduct" not in plan


def _brute_force_jaccard(docs, threshold):
    """All pairs over ``dedup.shingles``, as in the definition; rounded
    half-up from the double's decimal form, as Spark's ``round`` does."""
    sets: dict[int, set[str]] = {}
    for r in dedup.shingles(docs, 3).collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a < b and sa & sb:
                j = Decimal(repr(len(sa & sb) / len(sa | sb)))
                j = float(j.quantize(Decimal("0.001"), ROUND_HALF_UP))
                if j >= threshold:
                    out.add((a, b, j))
    return out


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


def test_ngram_finds_pairs_made_of_a_ubiquitous_shingle(spark):
    # 1002 docs share one trigram (df > 1000); docs 0 and 1 consist only
    # of it, so their Jaccard is 1.0
    docs = spark.createDataFrame(
        [(0, "common stop phrase"), (1, "common stop phrase")]
        + [(i, f"common stop phrase unique{i} token{i} tail{i}") for i in range(2, 1002)],
        schema="doc_id long, text string",
    )
    assert _pairs(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)) == {(0, 1, 1.0)}

    docs2 = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "x y z w")],
        schema="doc_id long, text string",
    )
    out = dedup.ngram_jaccard_pairs(docs2, n=3, threshold=0.8).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(0, 1, 1.0)]


def test_ngram_keeps_a_pair_that_rounds_up_to_the_threshold(spark):
    # doc 1 holds 1599 of doc 0's 2000 trigrams: Jaccard 0.7995 rounds to
    # 0.8; in doubles ceil(0.7995 * 2000) is 1600, a prefix one too short
    words = [f"w{i}" for i in range(2002)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(words[:1601]))],
        schema="doc_id long, text string",
    )
    assert _pairs(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)) == {(0, 1, 0.8)}


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=9), min_size=2, max_size=8
    ),
    threshold=st.sampled_from([0.5, 0.8]),
)
# sets of 3 and 5 shingles (Jaccard 0.6) that LSH pairs: a size carried on
# the wrong side of the pair changes the Jaccard it reports
@example(texts=[list("abcde"), list("abcdeab")], threshold=0.5)
def test_ngram_equals_brute_force(spark, texts, threshold):
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    brute = _brute_force_jaccard(docs, threshold)
    assert _pairs(dedup.ngram_jaccard_pairs(docs, n=3, threshold=threshold)) == brute
    # LSH may miss a pair, but each pair it reports carries its true Jaccard,
    # so a set size carried on the wrong candidate shows here
    assert _pairs(dedup.minhash_lsh_pairs(docs, n=3, threshold=threshold)) <= brute


def test_ann_lsh_pairs_subset_of_exact(emb_df):
    from open_source_legislation_spark.operators import similarity

    ann = {
        (r.vec_a, r.vec_b)
        for r in similarity.ann_lsh_pairs(
            emb_df, n_planes=2, dim=8, threshold=0.5
        ).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in dedup.embedding_near_dup_bruteforce(emb_df, threshold=0.5).collect()
    }
    assert ann <= exact  # bucket-join can only prune, never invent pairs


def test_near_dup_clusters_transitive_keep_min(spark):
    """A chain a~b, b~c (a and c NOT direct near-dups) must land in ONE
    cluster with the min doc_id kept; isolated docs keep themselves."""
    docs = spark.createDataFrame(
        [
            # 10/11 share most trigrams; 11/12 share most trigrams; 10/12
            # are farther apart but must still cluster transitively
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "alpha beta gamma delta epsilon zeta eta iota"),
            (12, "beta gamma delta epsilon zeta eta iota kappa mu"),
            (30, "completely different words about unrelated topics here"),
        ],
        "doc_id long, text string",
    )
    # bands=8 (2 rows/band) for candidate recall on this tiny fixture;
    # threshold 0.5 sits between J(10,12)=0.444 and J(11,12)=0.625, so
    # 10~12 can only cluster through the chain
    got = {
        r.doc_id: (r.canonical_id, r.is_kept)
        for r in dedup.near_dup_clusters(
            docs, num_perm=16, bands=8, threshold=0.5
        ).collect()
    }
    assert got[10] == (10, True)
    assert got[11] == (10, False)
    assert got[12] == (10, False)
    assert got[30] == (30, True)
    # pair check: 10~12 are not a direct verified pair (chain only)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, num_perm=16, bands=8, threshold=0.5
        ).collect()
    }
    assert pairs == {(10, 11), (11, 12)}


def test_near_dup_clusters_no_pairs_is_identity(spark):
    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "four five six"), (3, "seven eight nine")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.canonical_id, r.is_kept)
        for r in dedup.near_dup_clusters(docs).collect()
    }
    assert got == {1: (1, True), 2: (2, True), 3: (3, True)}


def test_c4_line_clean_rules(spark):
    from open_source_legislation_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [
            (1, "This line is kept.\nno terminal punctuation\nSo tiny.\n"
                "Contains javascript somewhere here.\nAnother good line stays!"),
            (2, "Lorem ipsum dolor sit amet.\nA normal line remains here."),
            (3, "var x = { a: 1 };\nA second fine line stays here."),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text_analysis.c4_line_clean(docs).collect()}
    r1 = got[1]
    assert r1.clean_text == "This line is kept.\nAnother good line stays!"
    assert (r1.n_lines_kept, r1.n_lines_total) == (2, 5)
    assert not r1.doc_flagged
    assert got[2].doc_flagged      # lorem ipsum marker
    assert got[3].doc_flagged      # curly-brace boilerplate marker


def test_c4_line_clean_metachar_separator(spark):
    """line_sep is used as a LITERAL in both the split and the re-join —
    a regex metacharacter separator ('|') must not split per-character."""
    from open_source_legislation_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [(1, "This line is kept.|no terminal punct|Another good line stays!")],
        "doc_id long, text string",
    )
    r = text_analysis.c4_line_clean(docs, line_sep="|").collect()[0]
    assert r.n_lines_total == 3
    assert r.clean_text == "This line is kept.|Another good line stays!"
    assert r.n_lines_kept == 2


def test_c4_line_clean_null_text(spark):
    """NULL text yields an empty-ish row, not a poisoned NULL cascade."""
    from open_source_legislation_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [(1, None), (2, "A good line stands here.")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text_analysis.c4_line_clean(docs).collect()}
    assert got[2].n_lines_kept == 1
    # null in, null lines out (split(NULL) is NULL): counts are null, the
    # flag is null — no exception and no fabricated content
    assert got[1].clean_text in ("", None)


def test_tfidf_score_int_exact(spark):
    from open_source_legislation_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [(1, "the law of the land"), (2, "law and order"),
         (3, "nothing relevant here"), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.score
        for r in text_analysis.tfidf_score_int(docs, ["the", "law"]).collect()
    }
    # df(the)=1 -> w=1_000_000; df(law)=2 -> w=500_000
    # doc1: 2*1e6 + 1*5e5; doc2: 5e5; docs 3/4: no query tokens -> 0
    assert out == {1: 2_500_000, 2: 500_000, 3: 0, 4: 0}

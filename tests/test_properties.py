"""Property-based tests (SURVEY §5.2 item 5).

- pure-rules properties run hundreds of hypothesis examples (no Spark);
- Spark-level properties (input-order invariance, repartition invariance,
  duplicate-injection determinism) run a few seeded examples — each costs a
  pipeline run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from open_source_legislation_spark import oracle, rules, schemas, synth

# ---------------------------------------------------------------------------
# Pure-rules properties (fast, many examples)
# ---------------------------------------------------------------------------

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300
)


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_clean_text_idempotent(s):
    once = rules.clean_text(s)
    assert rules.clean_text(once) == once


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_rules_total_on_arbitrary_unicode(s):
    """No rule kernel may throw on any input row (a crash in a pandas UDF
    kills the whole task at scale)."""
    c = rules.clean_text(s)
    rules.parse_hierarchy_marker(c)
    rules.is_definitions_header(c)
    rules.extract_mentions(c)
    rules.extract_definitions(c, True)
    rules.extract_definitions(c, False)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_defs_scope_closed_is_subset_of_open(s):
    """extract_definitions(t, False) must equal the scope-open result minus
    emphasized entries — the invariant the stream engine's JVM-side filter
    relies on (extract.derive_nodes_stream)."""
    c = rules.clean_text(s)
    open_defs = rules.extract_definitions(c, True)
    closed = rules.extract_definitions(c, False)
    assert closed == [d for d in open_defs if d["kind"] != "emphasized"]


# ---------------------------------------------------------------------------
# Spark-level properties (few seeded examples)
# ---------------------------------------------------------------------------


def _triples_set(spark, pdf, parts=None):
    from open_source_legislation_spark.plans.pipeline import run_pipeline

    ed = spark.createDataFrame(
        synth.make_entity_dictionary(), schema=schemas.ENTITY_DICTIONARY
    )
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    res = run_pipeline(spark, tdf, ed, num_partitions=parts)
    out = set(map(tuple, res.triples.select("subj", "pred", "obj").collect()))
    res.cleanup()
    return out


@settings(
    max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_input_order_and_partitioning_invariance(spark, seed):
    base = synth.make_transcripts(seed=seed, n_turns_target=250)
    rng = np.random.default_rng(seed + 1)
    shuffled = base.iloc[rng.permutation(len(base))].reset_index(drop=True)
    assert _triples_set(spark, base, parts=2) == _triples_set(
        spark, shuffled, parts=7
    )


@settings(
    max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_duplicate_injection_deterministic(spark, seed):
    """Re-injecting exact duplicates never changes the output (first-writer
    -wins dedup), and the run is reproducible — both vs the oracle."""
    base = synth.make_transcripts(seed=seed, n_turns_target=250)
    rng = np.random.default_rng(seed + 2)
    dup_rows = base.iloc[rng.choice(len(base), size=len(base) // 5)]
    dup = pd.concat([base, dup_rows], ignore_index=True)
    dup = dup.iloc[rng.permutation(len(dup))].reset_index(drop=True)

    got = _triples_set(spark, dup)
    assert got == _triples_set(spark, base)

    ed = synth.make_entity_dictionary()
    o = oracle.run_oracle(dup, ed)
    exp = set(
        map(tuple, o["triples"][["subj", "pred", "obj"]].itertuples(index=False))
    )
    assert oracle.precision_recall(got, exp) == (1.0, 1.0)


@settings(
    max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_hot_conv_matches_oracle(spark, seed):
    """Random input with one hot conversation and duplicates: the pipeline's
    triples equal the oracle's under arbitrary seeds, not just the fixture
    in test_engines_equivalent."""
    pdf = synth.make_transcripts(
        seed=seed, n_turns_target=400, hot_fraction=0.4, dup_fraction=0.05
    )
    o = oracle.run_oracle(pdf, synth.make_entity_dictionary())
    exp = set(o["triples"][["subj", "pred", "obj"]].itertuples(index=False, name=None))
    assert _triples_set(spark, pdf) == exp


# Edge cases every example carries; the generated keys add random mixes.
_LADDER_FIXED = [
    "a", "a=b", "a/b", "a/b=c=d", "a/b=", "a/", "/b=5", "a/b=5.1", "a/b=5.1.2",
    "a/b=05", "a/b=123", "a/b=5a", "a/b=.5", "a/b=5\n", "a\n/b=5", "a/b=\n5",
    "a/b=²", "a/b=٣", "a/b=𝟘", "a/b=①", "é/b=7", None,
]
_LADDER_CHARS = st.sampled_from(list("/=.09ab\n") + ["é", "²", "٣", "𝟘"])
_ladder_key = st.one_of(
    st.none(),
    st.text(alphabet=_LADDER_CHARS, max_size=16),
    st.builds(
        lambda head, cls, num, tail: f"{head}/{cls}={num}{tail}",
        st.text(alphabet=_LADDER_CHARS, max_size=8),
        st.text(alphabet=st.sampled_from("ab\n"), max_size=3),
        st.integers(0, 12_345).map(str) | st.sampled_from(["", "7", "07"]),
        st.sampled_from(["", "a", ".2", ".2.3", "=x", "/", "\n", "²", "."]),
    ),
)


@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(keys=st.lists(_ladder_key, max_size=60), data=st.data())
def test_link_mentions_matches_oracle_ladder(spark, keys, data):
    """``linking.link_mentions`` over the rungs the payload kernel attaches
    (``extract.ladder_rungs``) picks the entity ``oracle.link_raw_key``
    picks, against a dictionary that holds a random subset of each key's
    ``rules.candidate_keys`` rungs (colliding aliases included)."""
    from open_source_legislation_spark.operators import extract, linking

    keys = _LADDER_FIXED + keys
    rows = []
    for i, k in enumerate(keys):
        mask = data.draw(st.integers(0, 7))
        for p, cand in rules.candidate_keys(k) if k is not None else []:
            if mask >> (p - 1) & 1:
                rows.append((f"e{i:03d}.{p}", "statute", None, [cand], None))
    ed = pd.DataFrame(rows, columns=schemas.ENTITY_DICTIONARY.fieldNames())
    index = oracle.build_linking_index(ed)
    mentions = spark.createDataFrame(
        [(i, k, *extract.ladder_rungs(k)) for i, k in enumerate(keys)],
        "i int, raw_key string, k2 string, k3 string",
    )
    linked = linking.link_mentions(
        mentions, spark.createDataFrame(rows, schemas.ENTITY_DICTIONARY)
    )
    got = {r["i"]: r["entity_id"] for r in linked.collect()}
    assert len(got) == len(keys)
    for i, k in enumerate(keys):
        exp = oracle.link_raw_key(k, index) if k is not None else None
        assert got[i] == exp, repr(k)

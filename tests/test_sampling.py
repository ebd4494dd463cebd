"""Invariants for the training-data sampling/packing/vocab operators.

The contract sweep pins value-parity vs DuckDB; these tests pin the
properties the operators exist for: the split is partitioning- and
growth-invariant (eval membership never changes when data is added), the
packing layout is a correct exclusive-offset chunking, and the vocab
top-k is a deterministic total order.
"""

from __future__ import annotations

import hashlib

import pytest

from open_source_legislation_spark.operators import sampling, text_analysis


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (i, f"src_{i % 4}", f"the doc {i} of words and the tokens row {i % 7}")
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id: long, source: string, text: string")


def test_split_matches_md5_reference_and_ignores_partitioning(docs_df):
    got = {r["doc_id"]: r["split"] for r in sampling.split_assign(docs_df).collect()}
    re7 = {
        r["doc_id"]: r["split"]
        for r in sampling.split_assign(docs_df.repartition(7)).collect()
    }
    assert got == re7
    for doc_id, split in got.items():
        pfx = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        assert split == ("eval" if pfx < "1a" else "train")
    # ~10% eval at the default threshold; wide band to stay seed-free
    n_eval = sum(1 for s in got.values() if s == "eval")
    assert 5 <= n_eval <= 40


def test_split_is_growth_invariant(spark, docs_df):
    before = dict(
        (r["doc_id"], r["split"]) for r in sampling.split_assign(docs_df).collect()
    )
    more = docs_df.unionByName(
        spark.createDataFrame(
            [(10_000 + i, "src_new", f"new doc {i}") for i in range(50)],
            "doc_id: long, source: string, text: string",
        )
    )
    after = dict(
        (r["doc_id"], r["split"]) for r in sampling.split_assign(more).collect()
    )
    assert all(after[k] == v for k, v in before.items())


def test_pack_budget_is_exclusive_offset_chunking(docs_df):
    out = sampling.pack_token_budget(docs_df, budget=50).collect()
    by_source: dict[str, list] = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r)
    assert len(by_source) == 4
    for rows in by_source.values():
        rows.sort(key=lambda r: r["doc_id"])
        offset = 0
        prev_pack = 0
        for r in rows:
            assert r["pack_id"] == offset // 50
            assert r["pack_id"] >= prev_pack  # packs are monotone per shard
            prev_pack = r["pack_id"]
            offset += r["n_tokens"]


def test_decontaminate_counts_cross_split_shingle_overlap(spark):
    # doc 6 hashes to 'eval' (md5('6') starts '16'), docs 2 and 12 to
    # 'train' (md5('2')='c8...', md5('12')='c2...'); doc 6 shares its
    # whole text with train doc 2 → every distinct 3-gram contaminated
    rows = [
        (2, "alpha beta gamma delta epsilon"),  # train
        (12, "zeta eta theta iota kappa"),  # train
        (6, "alpha beta gamma delta epsilon"),  # eval, fully leaked
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r["n_contaminated"] for r in
           sampling.decontaminate(docs, n=3).collect()}
    assert out == {6: 3}  # 5 tokens → 3 distinct trigrams, all in train

    # remove the leaked train doc → clean eval row reported with 0
    docs2 = spark.createDataFrame(rows[1:], "doc_id: long, text: string")
    out2 = {r["doc_id"]: r["n_contaminated"] for r in
            sampling.decontaminate(docs2, n=3).collect()}
    assert out2 == {6: 0}


def test_vocab_topk_total_order(docs_df):
    out = text_analysis.vocab_topk(docs_df, k=10).collect()
    assert len(out) == 10
    pairs = [(-r["df"], r["token"]) for r in out]
    assert pairs == sorted(pairs)
    # 'the' appears twice per doc but counts ONCE per doc (document frequency)
    dfs = {r["token"]: r["df"] for r in out}
    assert dfs["the"] == 200


def test_stratified_sample_rates_and_determinism(spark):
    from open_source_legislation_spark.operators import sampling

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_sample(
        docs, "lang", {"en": 10000, "de": 1000}, default_bps=0
    )
    got = [(r.doc_id, r.lang) for r in out.collect()]
    en = [d for d, lg in got if lg == "en"]
    de = [d for d, lg in got if lg == "de"]
    assert len(en) == 1000            # 100% of en kept
    assert 40 <= len(de) <= 160       # ~10% of 1000 de (md5 bucket spread)
    # reproducible: same rows on a second run
    again = sampling.stratified_sample(
        docs, "lang", {"en": 10000, "de": 1000}, default_bps=0
    )
    assert sorted(got) == sorted((r.doc_id, r.lang) for r in again.collect())
    # unlisted strata get default (0 -> dropped)
    zh = spark.createDataFrame([(1, "zh")], "doc_id long, lang string")
    assert (
        sampling.stratified_sample(zh, "lang", {"en": 10000}, default_bps=0).count()
        == 0
    )


def test_stratified_sample_broadcast_path_matches_when_chain(spark):
    """10 000 strata — the regime where the old nested-when expression
    tree was pathological. The broadcast-join path (auto past
    when_chain_max) must agree row-for-row with the when-chain path
    forced on the same data, and with the md5-bucket reference."""
    rows = [(i, f"s_{i % 10_000}") for i in range(5000)]
    docs = spark.createDataFrame(rows, "doc_id long, stratum string")
    rates = {f"s_{i}": (i * 7) % 10_001 for i in range(10_000)}
    big = sampling.stratified_sample(docs, "stratum", rates, default_bps=0)
    got = sorted((r.doc_id, r.stratum) for r in big.collect())
    # reference: pure-python md5 bucket
    exp = sorted(
        (i, s)
        for i, s in rows
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
        < rates[s]
    )
    assert got == exp
    # and the when-chain path (small dict, same strata subset) agrees
    small_rates = {f"s_{i}": rates[f"s_{i}"] for i in range(5)}
    small_docs = docs.filter(docs.stratum.isin(list(small_rates)))
    a = sampling.stratified_sample(small_docs, "stratum", small_rates)
    b = sampling.stratified_sample(
        small_docs, "stratum", small_rates, when_chain_max=0
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_budget_two_phase_matches_window_mode(spark):
    """chunks=P parallel prefix-sum mode ≡ the single-window mode, incl.
    one source far bigger than the others (the skew case the mode is
    for) and P exceeding the natural parallelism."""
    rows = [
        (i, "big" if i < 900 else f"src_{i % 3}", f"w{i} " * ((i % 13) + 1))
        for i in range(1000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    base = sorted(
        map(tuple, sampling.pack_token_budget(docs, budget=40).collect())
    )
    for p in (1, 4, 17):
        two = sampling.pack_token_budget(docs, budget=40, chunks=p)
        assert sorted(map(tuple, two.collect())) == base
        for h in getattr(two, "_osl_persists", []):
            h.unpersist()
    with pytest.raises(ValueError, match="chunks"):
        sampling.pack_token_budget(docs, budget=40, chunks=0)


def test_boilerplate_strip_linewise_dedup(spark):
    """RefinedWeb-style line dedup: the shared footer (3 docs) is stripped,
    doc-unique lines and blank lines survive in order, a fully-boilerplate
    doc comes back empty but present."""
    docs = spark.createDataFrame(
        [
            (1, "unique one\nFOOTER\n\nalpha"),
            (2, "unique two\nFOOTER"),
            (3, "FOOTER"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           text_analysis.boilerplate_strip(docs, min_docs=3).collect()}
    assert out[1]["clean_text"] == "unique one\n\nalpha"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_removed"]) == (3, 1)
    assert out[2]["clean_text"] == "unique two"
    assert out[3]["clean_text"] == "" and out[3]["n_lines_removed"] == 1
    assert out[3]["n_lines_kept"] == 0
    assert 4 in out  # null text: present, nothing kept or removed
    assert (out[4]["n_lines_kept"], out[4]["n_lines_removed"]) == (0, 0)


def test_stratified_sample_native_typed_strata_both_paths(spark):
    """Int-typed stratum column with int dict keys: both rate-lookup
    paths match natively (a string-cast comparison would silently turn
    a double column's 2020.0 == 2020 into a never-matching '2020.0')."""
    docs = spark.createDataFrame(
        [(i, 2020 + i % 3) for i in range(300)], "doc_id long, yr long"
    )
    rates = {2020: 10000, 2021: 0}
    a = sampling.stratified_sample(docs, "yr", rates, default_bps=0)
    b = sampling.stratified_sample(docs, "yr", rates, default_bps=0,
                                   when_chain_max=0)
    got = sorted(map(tuple, a.collect()))
    assert got == sorted(map(tuple, b.collect()))
    assert {yr for _, yr in got} == {2020}
    assert len(got) == 100  # all of the 2020 stratum, none of 2021/2022

    # double column, int keys: native equality still matches
    ddocs = docs.select("doc_id", docs.yr.cast("double").alias("yr"))
    da = sampling.stratified_sample(ddocs, "yr", rates, default_bps=0)
    db = sampling.stratified_sample(ddocs, "yr", rates, default_bps=0,
                                    when_chain_max=0)
    assert sorted(map(tuple, da.collect())) == sorted(map(tuple, db.collect()))
    assert {yr for _, yr in da.collect()} == {2020.0}


def test_stratified_sample_string_column_int_keys_no_crash(spark):
    """String stratum column + int dict keys: the KEY casts to the
    COLUMN's type, so a non-numeric stratum value ('unknown') never hits
    an ANSI CAST_INVALID_INPUT, and '02020' does NOT numerically coerce
    into key 2020 — string semantics stay string."""
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(["2020", "unknown", "02020", "2020"])],
        "doc_id long, yr string",
    )
    for wcm in (16, 0):  # when-chain and broadcast paths
        out = sampling.stratified_sample(
            docs, "yr", {2020: 10000}, default_bps=0, when_chain_max=wcm
        )
        assert {r.yr for r in out.collect()} == {"2020"}


def test_stratified_sample_rejects_lossy_and_colliding_keys(spark):
    """A fractional key against an int column would silently truncate to
    the wrong stratum (Spark CAST truncates, no error), and two keys
    colliding after normalization would fan out the broadcast join and
    duplicate corpus rows — both must raise at build time."""
    docs = spark.createDataFrame([(1, 2020)], "doc_id long, yr long")
    with pytest.raises(ValueError, match="losslessly"):
        sampling.stratified_sample(docs, "yr", {2020.5: 10000})
    # 2**53 + 1 has no double: float() would silently rate 2**53's stratum
    fdocs = spark.createDataFrame([(1, float(2**53))], "doc_id long, yr double")
    with pytest.raises(ValueError, match="losslessly"):
        sampling.stratified_sample(fdocs, "yr", {2**53 + 1: 10000})
    sdocs = spark.createDataFrame([(1, "2020")], "doc_id long, yr string")
    with pytest.raises(ValueError, match="collide"):
        sampling.stratified_sample(sdocs, "yr", {2020: 10000, "2020": 5000})
    # lossless float keys are fine, both paths
    for wcm in (16, 0):
        out = sampling.stratified_sample(
            docs, "yr", {2020.0: 10000}, when_chain_max=wcm
        )
        assert out.count() == 1

"""Per-turn text equality under stable turn ordering — THE row invariant
(BASELINE.json input_hint) — plus dedup, ordinal and order-independence
properties, all asserted on the derive engine's output frame."""

import pytest
from pyspark.sql import functions as F

from open_source_legislation_spark import oracle, rules
from open_source_legislation_spark.operators import extract
from open_source_legislation_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def derived(spark, transcripts_df, entity_dict_df):
    res = run_pipeline(spark, transcripts_df, entity_dict_df)
    yield res.turns
    res.cleanup()


def test_per_turn_text_equality(derived, transcripts_pd, entity_dict_pd):
    """Derived (conv_id, turn_idx) → clean_text equals the oracle's
    ordered, deduped, cleaned turn set exactly."""
    got = {
        (r["conv_id"], r["turn_idx"]): r["clean_text"]
        for r in derived.select("conv_id", "turn_idx", "clean_text").collect()
    }
    o = oracle.run_oracle(transcripts_pd, entity_dict_pd)
    exp = {
        (r.conv_id, r.turn_idx): r.clean_text
        for r in o["turns"].itertuples(index=False)
    }
    assert got == exp


def test_dedup_first_writer_wins(derived, transcripts_df):
    dups = (
        derived.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
    # synth injects ~1% duplicates, so dedup must have removed rows
    assert derived.count() < transcripts_df.count()


def test_ord_is_dense_per_conv(derived):
    bad = (
        derived.groupBy("conv_id")
        .agg(
            F.min("ord").alias("mn"),
            F.max("ord").alias("mx"),
            F.count("*").alias("n"),
            F.countDistinct("ord").alias("nd"),
        )
        .filter(
            (F.col("mn") != 1) | (F.col("mx") != F.col("n")) | (F.col("nd") != F.col("n"))
        )
        .count()
    )
    assert bad == 0


def test_reassemble_documents_order(derived):
    """Chunked (skew-safe) per-node text reassembly equals a direct ordered
    collect — chunk boundaries must not disturb turn order."""
    docs = extract.node_text_agg(derived, chunk_size=7)
    content = derived.filter(F.col("node_id").isNull())
    direct = content.groupBy(F.col("current_node").alias("node_id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ord", "clean_text"))),
            lambda s: s["clean_text"],
        ).alias("expected")
    )
    joined = docs.join(direct, "node_id")
    assert joined.filter(F.col("node_text_list") != F.col("expected")).count() == 0
    assert docs.count() == direct.count()
    # some node really spans several 7-turn chunks
    assert docs.filter(F.col("n_paragraphs") > 7).count() > 0


def test_order_independence_under_repartition(spark, transcripts_df):
    """Shuffled input order / different partitioning → identical output
    (SURVEY §5.2 property 5)."""
    a = extract.derive_nodes_stream(transcripts_df, num_partitions=3)
    b = extract.derive_nodes_stream(transcripts_df.repartition(17))
    cols = [
        "conv_id",
        "turn_idx",
        "ord",
        "clean_text",
        "node_id",
        "node_parent",
        "current_node",
        "in_defs_scope",
    ]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_clean_udf_matches_rules(spark, transcripts_df):
    """The payload kernel's cleaning column is ``rules.clean_text``."""
    sample = transcripts_df.limit(200).select(
        "text", extract.turn_payload_udf("text")["clean_text"].alias("c")
    )
    for r in sample.collect():
        assert r["c"] == rules.clean_text(r["text"])

"""Embedding enrichment (operators/enrich.py): the fused node-payload
UDF the nodes plan runs must equal the JVM expression it stands in for."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_source_legislation_spark.operators import enrich


def test_fused_node_enrich_matches_unfused(spark):
    """node_enrich_udf must equal the unfused JVM columns it replaced in
    the pipeline: n_tokens = size(split(trim(lower(t)), '\\s+')) under the
    isNotNull guard, embedding = hash_embed_expr(coalesce(t, '')) and
    name_embedding = hash_embed_expr(coalesce(nm, ''))."""
    rows = [
        (0, "the quick brown fox", "name 0"),
        (1, "", "name 1"),                    # JVM split('') -> [''] i.e. 1 token
        (2, None, "name 2"),                  # NULL text -> NULL count, zero vec
        (3, "  padded  spaces  ", "name 3"),
        (4, "line\nbreaks\tand tabs", "name 4"),
        (5, "the the the", None),             # NULL name -> zero name vec
        (6, "nbsp\xa0inside and\u2009thin space", "name 6"),  # Java \s is ASCII-only
        (7, "nb\xa0sp and thin", "nb\xa0sp"),
    ]
    df = spark.createDataFrame(rows, schema="id long, t string, nm string")
    unfused = df.select(
        "id",
        F.when(
            F.col("t").isNotNull(),
            F.size(F.split(F.trim(F.lower("t")), r"\s+")),
        ).alias("n_tokens"),
        enrich.hash_embed_expr(F.coalesce("t", F.lit("")), dim=16).alias("emb"),
        enrich.hash_embed_expr(F.coalesce("nm", F.lit("")), dim=16).alias("nemb"),
    )
    fused = df.select(
        "id", enrich.node_enrich_udf(dim=16)(F.col("t"), F.col("nm")).alias("e")
    )
    a = {
        r["id"]: (r["n_tokens"], tuple(r["emb"]), tuple(r["nemb"]))
        for r in unfused.collect()
    }
    b = {
        r["id"]: (
            r["e"]["n_tokens"],
            tuple(r["e"]["embedding"]),
            tuple(r["e"]["name_embedding"]),
        )
        for r in fused.collect()
    }
    assert a == b
    assert a[2][1] == (0.0,) * 16 and a[5][2] == (0.0,) * 16
    # summary: first tokens of the lowered ASCII-ws split; NULL text -> NULL
    summ = {r["id"]: r["e"]["summary"] for r in fused.collect()}
    assert summ[0] == "the quick brown fox"
    assert summ[1] == ""
    assert summ[2] is None
    assert summ[3] == "padded spaces"
    # row 6 holds a U+2009 thin space: NOT an ASCII-\s boundary,
    # so it stays inside one token (matching the JVM split)
    assert summ[6] == rows[6][1].lower()

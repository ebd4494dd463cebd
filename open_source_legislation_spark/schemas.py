"""Explicit StructType schemas for the pipeline's input tables.

The reference validates shapes with Pydantic models (reference
``src/utils/pydanticModels.py:408-467``); we read inputs with explicit
Spark schemas — never inference. The output invariants live in
``operators/graph.py``: the orphan and null-parent checks return a
violations DataFrame, and ``counts_by_level`` the sanity distribution.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input — authoritative shape from BASELINE.json input_hint.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Broadcast canonical dictionary (FIXTURES.md §2) — the linking target,
# modeled on the reference's bluebook node-ID scheme
# (reference scrapeECFR.py:1174-1210, pydanticModels.py:16-69).
ENTITY_DICTIONARY = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("canonical_citation", T.StringType(), True),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
        T.StructField("link", T.StringType(), True),
    ]
)

# Canonicalization input (FIXTURES.md §3) — alias graph with chains + cycles.
ALIAS_EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("reason", T.StringType(), True),
    ]
)

"""Extraction kernels + hierarchy derivation — the heart of the DAG.

Re-expresses the reference's per-document imperative parse loop
(``scrapeCA.py:150-221`` parent resolution, ``scrapeECFR.py:530-837``
definition state machine, ``scrapeECFR.py:1112-1172`` mention extraction)
as one derive engine, :func:`derive_nodes_stream`:

- a stateless **Arrow-batched payload UDF** (``turn_payload_udf``) runs
  every regex kernel BEFORE the ``conv_id`` shuffle — shared with the
  oracle via ``rules.py`` (no drift), balanced across scan partitions and
  immune to hot-conversation skew. It also gives every mention and every
  incorporated definition's citation its linking keys (the raw key and
  the ``rules.candidate_keys`` rungs ``k2``, ``k3``), so linking after the
  spill is a plain JVM equi-join;
- a vectorized ``mapInArrow`` state pass over the ``hash(conv_id)``-
  partitioned, sorted turns does dedup/ordinals/parent-stack/scope fills
  at ~µs/row, and stamps each node id it mints with its
  ``rules.node_citation``.

The pure-Python oracle (``oracle.py``) is the independent reference the
engine is tested against (tests/test_engines_equivalent.py).

At 10^12 turns per-conv state is O(stack depth) per partition, so hot
conversations cost time, not memory. The per-node text
(:func:`node_text_agg`) is one row per node, so one task holds a node's
text whatever the plan; nodes stay small (at most 29 content turns
measured at 200k turns) even when their conversation is hot.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import rules

_MENTIONS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("mention_text", T.StringType()),
            T.StructField("corpus", T.StringType()),
            T.StructField("raw_key", T.StringType()),
            T.StructField("k2", T.StringType()),
            T.StructField("k3", T.StringType()),
            T.StructField("start", T.IntegerType()),
        ]
    )
)
_DEFS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("definition", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("incorporated_from", T.StringType()),
            T.StructField("parent_term", T.StringType()),
            T.StructField("incorporated_key", T.StringType()),
            T.StructField("incorporated_k2", T.StringType()),
            T.StructField("incorporated_k3", T.StringType()),
        ]
    )
)


def ladder_rungs(raw_key: str | None) -> tuple[str | None, str | None]:
    """The ``k2`` (zero-padded) and ``k3`` (popped level) rungs of
    ``rules.candidate_keys(raw_key)``, null where the rung does not exist:
    the keys ``linking.link_mentions`` joins after ``raw_key``."""
    rungs = dict(rules.candidate_keys(raw_key)) if raw_key is not None else {}
    return rungs.get(2), rungs.get(3)


def _def_tuple(d: dict) -> tuple:
    """One ``_DEFS_TYPE`` row. ``incorporated_key`` is the raw key of the
    first mention inside an incorporated definition's citation (the key
    ``pipeline.link_incorporated`` links), else null; ``incorporated_k2``
    and ``incorporated_k3`` are its :func:`ladder_rungs`."""
    hits = (
        rules.extract_mentions(d["incorporated_from"])
        if d["kind"] == "incorporated"
        else []
    )
    key = hits[0]["raw_key"] if hits else None
    return (
        d["term"],
        d["definition"],
        d["kind"],
        d["incorporated_from"],
        d["parent_term"],
        key,
        *ladder_rungs(key),
    )


_EXTRACTIONS_TYPE = T.StructType(
    [
        T.StructField("mentions", _MENTIONS_TYPE),
        T.StructField("defs", _DEFS_TYPE),
    ]
)


_DERIVED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("clean_text", T.StringType()),
        T.StructField("level_classifier", T.StringType()),
        T.StructField("node_name", T.StringType()),
        T.StructField("node_id", T.StringType()),
        T.StructField("node_raw_id", T.StringType()),
        T.StructField("node_parent", T.StringType()),
        T.StructField("node_status", T.StringType()),
        T.StructField("node_citation", T.StringType()),
        T.StructField("current_node", T.StringType()),
        T.StructField("in_defs_scope", T.BooleanType()),
        T.StructField("extractions", _EXTRACTIONS_TYPE),
    ]
)


_PAYLOAD_TYPE = T.StructType(
    [
        T.StructField("clean_text", T.StringType()),
        T.StructField("classifier", T.StringType()),
        T.StructField("number", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("defs_header", T.BooleanType()),
        T.StructField("extractions", _EXTRACTIONS_TYPE),
    ]
)


@pandas_udf(_PAYLOAD_TYPE)
def turn_payload_udf(texts: pd.Series) -> pd.DataFrame:
    """Stateless per-turn payload: clean + marker parse + defs-header +
    mention/definition extraction in ONE Arrow pass, runnable BEFORE the
    ``conv_id`` shuffle — so the expensive regex work is spread over the
    evenly-sized scan partitions and a hot conversation cannot straggle it
    (north-rule skew handling; the sequential state pass downstream is then
    cheap enough that skew costs ~µs/row, not ~25µs/row).

    Definitions are extracted with the scope OPEN (a superset — the
    scope-dependent 'emphasized' case, scrapeECFR.py:530-560, only fires
    when no other definition matched); the state pass drops the emphasized
    entry JVM-side when the turn turns out to be outside a definitions
    scope.
    """
    cleaned = texts.map(rules.clean_text)
    parsed = cleaned.map(rules.parse_hierarchy_marker)
    ext = [
        None
        if p is not None
        else (
            [
                (m["mention_text"], m["corpus"], m["raw_key"],
                 *ladder_rungs(m["raw_key"]), m["start"])
                for m in rules.extract_mentions(c)
            ],
            [_def_tuple(d) for d in rules.extract_definitions(c, True)],
        )
        for c, p in zip(cleaned, parsed)
    ]
    return pd.DataFrame(
        {
            "clean_text": cleaned,
            "classifier": parsed.map(lambda t: t[0] if t else None),
            "number": parsed.map(lambda t: t[1] if t else None),
            "name": parsed.map(lambda t: t[2] if t else None),
            "defs_header": cleaned.map(rules.is_definitions_header),
            "extractions": pd.Series(ext, index=texts.index),
        }
    )


def _ffill_object(a: "np.ndarray") -> "np.ndarray":
    """Forward-fill None slots of an object ndarray (leading Nones stay
    None) — the pandas ``Series.ffill`` it replaces silently downcasts
    object→bool (deprecated FutureWarning on every batch) and costs a
    Series round-trip per call."""
    import numpy as np

    mask = a != None  # noqa: E711 — elementwise on object dtype
    idx = np.where(mask, np.arange(len(a)), 0)
    np.maximum.accumulate(idx, out=idx)
    return a[idx]


def _prepped_payload(transcripts: DataFrame, num_partitions: int | None) -> DataFrame:
    """Prologue of :func:`derive_nodes_stream`: ``payload UDF (pre-shuffle,
    balanced) → repartition(hash(conv_id)) → sortWithinPartitions(conv_id,
    turn_idx, ts, md5(text))`` → project the Arrow-hop columns.

    Raw text never crosses the shuffle: the dedup tie-break is md5(text)
    (32 B, matches the oracle), and everything downstream consumes
    clean_text + the extraction payload computed pre-shuffle.
    """
    df = transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.md5("text").alias("_tb"),
        turn_payload_udf("text").alias("feat"),
    )
    if num_partitions:
        df = df.repartition(num_partitions, "conv_id")
    else:
        df = df.repartition("conv_id")
    df = df.sortWithinPartitions("conv_id", "turn_idx", "ts", "_tb")
    # project away the sort-only columns (ts, md5) before the Arrow hop
    return df.select(
        "conv_id",
        "turn_idx",
        F.col("feat.clean_text").alias("clean_text"),
        F.col("feat.classifier").alias("classifier"),
        F.col("feat.number").alias("number"),
        F.col("feat.name").alias("name"),
        F.col("feat.defs_header").alias("defs_header"),
        F.col("feat.extractions").alias("extractions"),
    )


def _state_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The sorted-partition state pass (see :func:`derive_nodes_stream` for
    semantics)."""
    import numpy as np
    import pyarrow as pa

    ranks = rules.LEVEL_RANKS
    # state carried across Arrow batches within a partition
    carry_conv: str | None = None
    carry_turn = -1
    carry_ord = 0
    carry_current: str | None = None
    carry_defs = False
    stack: list[tuple[int, str]] = []
    id_counts: dict[str, int] = {}
    stack_conv: str | None = None

    for batch in batches:
        if batch.num_rows == 0:
            continue
        names = batch.schema.names
        col = {n: batch.column(i) for i, n in enumerate(names)}
        conv = np.asarray(col["conv_id"].to_pylist(), dtype=object)
        turn = col["turn_idx"].to_numpy(zero_copy_only=False)
        # first-writer-wins dedup: equal-turn runs keep only the first
        prev_conv = np.concatenate(([carry_conv], conv[:-1]))
        prev_turn = np.concatenate(([carry_turn], turn[:-1]))
        keep = (conv != prev_conv) | (turn != prev_turn)
        if not keep.all():
            batch = batch.filter(pa.array(keep))
            col = {n: batch.column(i) for i, n in enumerate(names)}
            conv = conv[keep]
            turn = turn[keep]
        m = len(conv)
        if m == 0:
            continue

        start = conv != np.concatenate(([carry_conv], conv[:-1]))
        pos = np.arange(m)
        # stable ordinal: restart at conv starts, else continue carry
        last_start = np.maximum.accumulate(np.where(start, pos, -1))
        ords = np.where(
            last_start >= 0, pos - last_start + 1, pos + carry_ord + 1
        )

        cls = np.asarray(col["classifier"].to_pylist(), dtype=object)
        num = np.asarray(col["number"].to_pylist(), dtype=object)
        nam = np.asarray(col["name"].to_pylist(), dtype=object)
        hier_mask = cls != None  # noqa: E711

        node_id = np.full(m, None, dtype=object)
        raw_id = np.full(m, None, dtype=object)
        parent = np.full(m, None, dtype=object)
        status = np.full(m, None, dtype=object)
        citation = np.full(m, None, dtype=object)
        current = np.full(m, None, dtype=object)
        defs_v = np.full(m, None, dtype=object)

        # sequential stack walk over hierarchy rows only
        for i in np.flatnonzero(hier_mask):
            c = conv[i]
            if c != stack_conv:
                stack = []
                id_counts = {}
                stack_conv = c
            rank = ranks[cls[i]]
            while stack and stack[-1][0] >= rank:
                stack.pop()
            par = stack[-1][1] if stack else "conv=" + c
            r = f"{par}/{cls[i]}={num[i]}"
            k = id_counts[r] = id_counts.get(r, 0) + 1
            nid = r if k == 1 else f"{r}-v_{k}"
            stack.append((rank, nid))
            node_id[i] = nid
            raw_id[i] = r
            parent[i] = par
            status[i] = rules.node_status(nam[i])
            citation[i] = rules.node_citation(nid)
            current[i] = nid

        # definitions scope: headers open it, hierarchy nodes close it,
        # conv starts reset it
        defs_v[hier_mask] = False
        hdr = col["defs_header"].to_numpy(zero_copy_only=False).astype(bool)
        defs_v[hdr & ~hier_mask] = True
        defs_v[start & (defs_v == None)] = False  # noqa: E711
        # current-node scope: conv starts seed the root id
        for i in np.flatnonzero(start & (current == None)):  # noqa: E711
            current[i] = "conv=" + conv[i]
        # batch-boundary continuation seeds
        if not start[0]:
            if current[0] is None:
                current[0] = carry_current
            if defs_v[0] is None:
                defs_v[0] = carry_defs
        current = _ffill_object(current)
        defs_filled = _ffill_object(defs_v)

        carry_conv = conv[-1]
        carry_turn = turn[-1]
        carry_ord = int(ords[-1])
        carry_current = current[-1]
        carry_defs = bool(defs_filled[-1])

        yield pa.RecordBatch.from_arrays(
            [
                col["conv_id"],
                col["turn_idx"],
                pa.array(ords.astype("int32")),
                col["clean_text"],
                col["classifier"],
                col["name"],
                pa.array(node_id, type=pa.string()),
                pa.array(raw_id, type=pa.string()),
                pa.array(parent, type=pa.string()),
                pa.array(status, type=pa.string()),
                pa.array(citation, type=pa.string()),
                pa.array(current, type=pa.string()),
                pa.array(defs_filled, type=pa.bool_()),
                col["extractions"],
            ],
            names=[f.name for f in _DERIVED_SCHEMA.fields],
        )


def _emphasized_fixup(out: DataFrame) -> DataFrame:
    """Drop the scope-dependent emphasized definition where the scope is
    closed (the payload UDF extracts with scope OPEN — see
    ``turn_payload_udf``)."""
    return out.withColumn(
        "extractions",
        F.when(
            F.col("node_id").isNull(),
            F.struct(
                F.col("extractions.mentions").alias("mentions"),
                F.when(F.col("in_defs_scope"), F.col("extractions.defs"))
                .otherwise(
                    F.expr("filter(extractions.defs, d -> d.kind != 'emphasized')")
                )
                .alias("defs"),
            ),
        ),
    )


def derive_nodes_stream(
    transcripts: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Streaming derive — the scale path.

    ``payload UDF (pre-shuffle, balanced) → repartition(hash(conv_id)) →
    sortWithinPartitions(conv_id, turn_idx, ts, md5(text)) → mapInArrow(state
    kernel)``: ONE exchange, ONE JVM sort, ONE balanced Arrow pass plus a
    near-free sequential pass. The state kernel walks each sorted partition
    with a running parent stack (the reference's per-document cursor,
    scrapeCA.py:150-221), first-writer-wins turn dedup
    (scrapingHelpers.py:110-114), duplicate-id versioning
    (scrapingHelpers.py:61-115), and definitions-scope tracking
    (scrapeECFR.py:530-560) — all vectorized over numpy except the stack
    walk, which touches only hierarchy-marker rows. State carries across
    Arrow batches inside a partition, so hot conversations cost O(stack
    depth) memory and ~µs/row time.

    Equality with the pure-Python oracle on adversarial inputs (duplicates,
    hot skew, dirty text) is a test invariant.
    """
    df = _prepped_payload(transcripts, num_partitions)
    out = df.mapInArrow(_state_kernel, schema=_DERIVED_SCHEMA)
    return _emphasized_fixup(out)


def conv_root_col(conv_id: Column) -> Column:
    """Column form of rules.conv_root_id."""
    return F.concat(F.lit("conv="), conv_id)


def nodes_table(derived: DataFrame) -> DataFrame:
    """Materialize the nodes table (reference CLAUDE.md:514-536 shape),
    including one root node per conversation and the bluebook-style
    ``citation`` that the state pass derived from the id path as it minted
    the id (``rules.node_citation``, reference scrapeECFR.py:1174-1210).
    Each root comes from its conversation's first turn: the state pass
    restarts ``ord`` at 1 per conversation."""
    node_rows = derived.filter(F.col("node_id").isNotNull()).select(
        F.col("node_id"),
        F.when(F.col("level_classifier") == "section", "content")
        .otherwise("structure")
        .alias("node_type"),
        "level_classifier",
        F.col("node_name").alias("name"),
        F.col("node_parent").alias("parent"),
        F.col("node_status").alias("status"),
        "conv_id",
        "turn_idx",
        F.col("clean_text").alias("text"),
        F.col("node_citation").alias("citation"),
    )
    roots = (
        derived.filter(F.col("ord") == 1).select(
            conv_root_col(F.col("conv_id")).alias("node_id"),
            F.lit("structure").alias("node_type"),
            F.lit("conv").alias("level_classifier"),
            F.col("conv_id").alias("name"),
            F.lit(None).cast("string").alias("parent"),
            F.lit("valid").alias("status"),
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("citation"),
        )
    )
    return node_rows.unionByName(roots)


def is_addendum(text: Column) -> Column:
    """Column twin of :func:`rules.is_addendum`."""
    return text.rlike(rules.ADDENDUM_PATTERN)


def last_addendum() -> Column:
    """Aggregate over a node's content turns: its addendum, the LAST turn
    by ``ord`` whose text is a source/history trailer (reference
    extract_addendum, scrapeECFR.py:867-992), as ``struct(text, conv_id,
    turn_idx, ord)``; null when the node has none. ``max_by`` skips rows
    whose ordering is null, so the other turns never win."""
    return F.max_by(
        F.struct(
            F.col("clean_text").alias("text"),
            F.col("conv_id").alias("conv_id"),
            F.col("turn_idx").alias("turn_idx"),
            F.col("ord").alias("ord"),
        ),
        F.when(is_addendum(F.col("clean_text")), F.col("ord")),
    )


def node_text_agg(derived: DataFrame) -> DataFrame:
    """Per-node addendum and ordered document text (reference ``NodeText``
    — the ordered array of ALL paragraphs under a section,
    pydanticModels.py:203-366, serialized via ``to_list_text()``
    :290-296) in ONE ``groupBy(current_node)`` over the content turns
    (``node_id IS NULL``).

    The turn that :func:`last_addendum` picks is peeled from the text (the
    reference removes the trailing source paragraph from the node body,
    extract_addendum scrapeECFR.py:905-940). ``ord`` is unique within a
    node, because node ids carry their conversation prefix, so the peel
    drops exactly that turn. When nothing is left, the text columns are
    NULL, as in the oracle.

    A node's text is one output row, so one task holds all of it whatever
    the plan; salting the aggregate could not bound that. Nodes stay
    small even in hot conversations: the largest measured held 20-29
    content turns (the test fixtures, 20k and 200k synthetic turns).

    Output: ``node_id, node_addendum, node_text_list (array<string>),
    node_text (string), n_paragraphs``.
    """
    grouped = (
        derived.filter(F.col("node_id").isNull())
        .groupBy("current_node")
        .agg(
            last_addendum().alias("a"),
            F.array_sort(
                F.collect_list(F.struct(F.col("ord"), F.col("clean_text")))
            ).alias("parts"),
        )
    )
    body = F.filter("parts", lambda s: ~s["ord"].eqNullSafe(F.col("a.ord")))
    texts = F.transform("body", lambda s: s["clean_text"])
    has_text = F.size("body") > 0
    return grouped.select("current_node", "a", body.alias("body")).select(
        F.col("current_node").alias("node_id"),
        F.col("a.text").alias("node_addendum"),
        F.when(has_text, texts).alias("node_text_list"),
        F.when(has_text, F.concat_ws("\n", texts)).alias("node_text"),
        F.when(has_text, F.size("body")).alias("n_paragraphs"),
    )


def _explode_extractions(derived: DataFrame, field: str) -> DataFrame:
    """One row per ``extractions.<field>`` entry of the non-node turns:
    ``conv_id, turn_idx, current_node`` plus the entry's struct fields."""
    return derived.filter(F.col("node_id").isNull()).select(
        "conv_id",
        "turn_idx",
        "current_node",
        F.inline(f"extractions.{field}"),
    )


def extract_mentions(derived: DataFrame) -> DataFrame:
    """Explode citation/URL mentions from non-node turns.

    One row per mention: ``conv_id, turn_idx, current_node, mention_text,
    corpus, raw_key, k2, k3, start`` (reference Reference rows,
    pydanticModels.py:169-189); ``k2``, ``k3`` are the linking rungs.
    """
    return _explode_extractions(derived, "mentions")


def extract_definitions(derived: DataFrame) -> DataFrame:
    """Explode definitions from non-node turns.

    One row per definition: ``conv_id, turn_idx, current_node, term,
    definition, kind, incorporated_from, parent_term, incorporated_key,
    incorporated_k2, incorporated_k3, term_id``.
    """
    return _explode_extractions(derived, "defs").withColumn(
        "term_id", F.concat(F.col("current_node"), F.lit("/term="), F.col("term"))
    )

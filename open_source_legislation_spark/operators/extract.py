"""Extraction kernels + hierarchy derivation — the heart of the DAG.

Re-expresses the reference's per-document imperative parse loop
(``scrapeCA.py:150-221`` parent resolution, ``scrapeECFR.py:530-837``
definition state machine, ``scrapeECFR.py:1112-1172`` mention extraction)
as one derive engine, :func:`derive_nodes_stream`:

- a stateless **Arrow-batched payload UDF** (``turn_payload_udf``) runs
  every regex kernel BEFORE the ``conv_id`` shuffle — shared with the
  oracle via ``rules.py`` (no drift), balanced across scan partitions and
  immune to hot-conversation skew;
- a vectorized ``mapInArrow`` state pass over the ``hash(conv_id)``-
  partitioned, sorted turns does dedup/ordinals/parent-stack/scope fills
  at ~µs/row (:func:`derive_nodes_sharded` splits a pathologically long
  conversation across tasks with stitched boundary state).

The pure-Python oracle (``oracle.py``) is the independent reference the
engine is tested against (tests/test_engines_equivalent.py).

At 10^12 turns per-conv state is O(stack depth) per partition, so hot
conversations cost time, not memory; the per-node text reassembly is
chunk-salted separately (:func:`node_text_agg`).
"""

from __future__ import annotations

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
        ]
    )
)


def _def_tuple(d: dict) -> tuple:
    return (
        d["term"],
        d["definition"],
        d["kind"],
        d["incorporated_from"],
        d["parent_term"],
    )


_EXTRACTIONS_TYPE = T.StructType(
    [
        T.StructField("mentions", _MENTIONS_TYPE),
        T.StructField("defs", _DEFS_TYPE),
    ]
)


@pandas_udf(_MENTIONS_TYPE)
def mentions_udf(texts: pd.Series) -> pd.Series:
    """Mention extraction (reference scrapeECFR.py:1112-1172) per batch."""
    return texts.map(
        lambda t: [
            (m["mention_text"], m["corpus"], m["raw_key"], m["start"])
            for m in rules.extract_mentions(t)
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
                (m["mention_text"], m["corpus"], m["raw_key"], m["start"])
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


_SHARD_STATE = "__SHARD_STATE__"


def _prepped_payload(transcripts: DataFrame, num_partitions: int | None) -> DataFrame:
    """Shared prologue of the streaming engines: ``payload UDF (pre-shuffle,
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


def _make_state_kernel(
    entry_states: dict | None = None, emit_exit_state: bool = False
):
    """Build the sorted-partition state kernel (see
    :func:`derive_nodes_stream` for semantics).

    ``entry_states`` seeds a conversation's boundary state at its first row
    in the partition — the conv-sharding stitch: ``{conv_id: {"turn", "ord",
    "current", "defs", "stack", "counts"}}`` carried from the previous
    ``(conv_id, turn_range)`` shard. ``emit_exit_state`` appends one
    sentinel row per conversation (``node_id == _SHARD_STATE``, state JSON
    in ``clean_text``) so the driver loop can collect the exit states that
    seed the next shard.
    """
    import json
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa

    entry_states = entry_states or {}

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
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
        # exit-state bookkeeping (sharded mode only)
        exit_meta: dict[str, dict] = {}
        stack_snap: dict[str, tuple[list, dict]] = {}
        ext_type = None

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ext_type = batch.schema.field("extractions").type
            names = batch.schema.names
            col = {n: batch.column(i) for i, n in enumerate(names)}
            conv = np.asarray(col["conv_id"].to_pylist(), dtype=object)
            turn = col["turn_idx"].to_numpy(zero_copy_only=False)
            # first-writer-wins dedup: equal-turn runs keep only the first
            # (a duplicated turn never straddles shards: equal turn_idx →
            # equal turn-range bucket)
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
            # stable ordinal: restart at conv starts, else continue carry;
            # a seeded conv's ordinals continue from the previous shard
            last_start = np.maximum.accumulate(np.where(start, pos, -1))
            base = np.zeros(m, dtype=np.int64)
            if entry_states:
                for i in np.flatnonzero(start):
                    e = entry_states.get(conv[i])
                    if e is not None:
                        base[i] = e["ord"]
            safe_ls = np.maximum(last_start, 0)
            ords = np.where(
                last_start >= 0,
                pos - safe_ls + 1 + base[safe_ls],
                pos + carry_ord + 1,
            )

            cls = np.asarray(col["classifier"].to_pylist(), dtype=object)
            num = np.asarray(col["number"].to_pylist(), dtype=object)
            nam = np.asarray(col["name"].to_pylist(), dtype=object)
            hier_mask = cls != None  # noqa: E711

            node_id = np.full(m, None, dtype=object)
            raw_id = np.full(m, None, dtype=object)
            parent = np.full(m, None, dtype=object)
            status = np.full(m, None, dtype=object)
            current = np.full(m, None, dtype=object)
            defs_v = np.full(m, None, dtype=object)

            # sequential stack walk over hierarchy rows only
            for i in np.flatnonzero(hier_mask):
                c = conv[i]
                if c != stack_conv:
                    if emit_exit_state and stack_conv is not None:
                        stack_snap[stack_conv] = (list(stack), dict(id_counts))
                    seed = entry_states.get(c)
                    if seed is not None:
                        stack = [(int(r_), s_) for r_, s_ in seed["stack"]]
                        id_counts = dict(seed["counts"])
                    else:
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
                current[i] = nid

            # definitions scope: headers open it, hierarchy nodes close it,
            # conv starts reset it (or continue the previous shard's scope)
            defs_v[hier_mask] = False
            hdr = col["defs_header"].to_numpy(zero_copy_only=False).astype(bool)
            defs_v[hdr & ~hier_mask] = True
            for i in np.flatnonzero(start & (defs_v == None)):  # noqa: E711
                e = entry_states.get(conv[i])
                defs_v[i] = bool(e["defs"]) if e is not None else False
            # current-node scope: conv starts seed the root id (or the
            # previous shard's open node)
            for i in np.flatnonzero(start & (current == None)):  # noqa: E711
                e = entry_states.get(conv[i])
                current[i] = (
                    e["current"] if e is not None else "conv=" + conv[i]
                )
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

            if emit_exit_state:
                # one run end per conversation per batch — few rows
                end_mask = np.append(start[1:], True)
                for j in np.flatnonzero(end_mask):
                    exit_meta[conv[j]] = {
                        "turn": int(turn[j]),
                        "ord": int(ords[j]),
                        "current": current[j],
                        "defs": bool(defs_filled[j]),
                    }

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
                    pa.array(current, type=pa.string()),
                    pa.array(defs_filled, type=pa.bool_()),
                    col["extractions"],
                ],
                names=[f.name for f in _DERIVED_SCHEMA.fields],
            )

        if emit_exit_state and exit_meta:
            if stack_conv is not None:
                stack_snap[stack_conv] = (list(stack), dict(id_counts))
            cids, payloads = [], []
            for c, meta in exit_meta.items():
                snap = stack_snap.get(c)
                if snap is None:
                    e = entry_states.get(c)
                    snap = (e["stack"], e["counts"]) if e is not None else ([], {})
                payloads.append(
                    json.dumps({**meta, "stack": snap[0], "counts": snap[1]})
                )
                cids.append(c)
            n = len(cids)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cids, type=pa.string()),
                    pa.array([-1] * n, type=pa.int32()),
                    pa.array([-1] * n, type=pa.int32()),
                    pa.array(payloads, type=pa.string()),
                    pa.nulls(n, pa.string()),
                    pa.nulls(n, pa.string()),
                    pa.array([_SHARD_STATE] * n, type=pa.string()),
                    pa.nulls(n, pa.string()),
                    pa.nulls(n, pa.string()),
                    pa.nulls(n, pa.string()),
                    pa.nulls(n, pa.string()),
                    pa.nulls(n, pa.bool_()),
                    pa.nulls(n, ext_type),
                ],
                names=[f.name for f in _DERIVED_SCHEMA.fields],
            )

    return kernel


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
    sortWithinPartitions(conv_id, turn_idx, ts, md5(text)) → mapInPandas(state
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
    hot skew, dirty text) is a test invariant. For a conversation too long
    even for the ~µs/row sequential pass in one task,
    :func:`derive_nodes_sharded` splits it across tasks on turn ranges with
    stitched boundary state.
    """
    df = _prepped_payload(transcripts, num_partitions)
    out = df.mapInArrow(_make_state_kernel(), schema=_DERIVED_SCHEMA)
    return _emphasized_fixup(out)


def derive_nodes_sharded(
    transcripts: DataFrame,
    shard_turns: int = 1_000_000,
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Skew escape hatch: :func:`derive_nodes_stream`, but a conversation
    whose turn index reaches ``shard_turns`` is split into ``(conv_id,
    turn_range)`` shards processed by DIFFERENT tasks, with the boundary
    state (parent stack, id version counts, open node, defs scope, last
    turn/ordinal) stitched across shards.

    The per-turn state recurrence is inherently sequential, so the shards
    of one conversation run in successive ROUNDS: round *s* derives every
    oversized conversation's turns in ``[s·B, (s+1)·B)`` in parallel,
    seeded with round *s−1*'s exit states (collected via ``_SHARD_STATE``
    sentinel rows); normal-sized conversations take the single-pass kernel
    untouched. Driver state is tiny per conversation — stack ≤ hierarchy
    depth, id counts ≤ distinct hierarchy ids seen (hierarchy rows ≪
    turns) — and only PATHOLOGICAL conversations (>10⁹ turns at the
    default knob; here lowered only in tests) ever enter the loop, so the
    round count stays single-digit. Output is bit-identical to the
    unsharded engine (pinned by tests/test_engines_equivalent.py).

    A duplicated turn_idx never straddles shards (equal index → equal
    bucket), so first-writer-wins dedup is shard-local.

    Returns ``(derived, round_caches)``: each round is persisted DISK_ONLY
    (its exit-state collect and the final union must see the SAME pass —
    ids depend on walk state), and those caches back ``derived``'s plan.
    The caller owns them: unpersist each once ``derived`` is materialized
    elsewhere (``run_pipeline`` does so right after its parquet spill).
    The list is empty when no conversation reaches ``shard_turns``.
    """
    import json

    from ._cache import persist_disk

    # ONE aggregation pass decides everything driver-side: which
    # conversations are oversized AND how many rounds their longest needs.
    # (Re-deriving the groupBy for the broadcast frames / round count
    # would re-scan the full input up to four times — the collected rows
    # are already on the driver, so the join sides are built from them.)
    mx = transcripts.groupBy("conv_id").agg(F.max("turn_idx").alias("_mx"))
    big_rows = mx.filter(F.col("_mx") >= shard_turns).collect()
    big_ids = [r.conv_id for r in big_rows]
    if not big_ids:
        return derive_nodes_stream(transcripts, num_partitions), []

    big = transcripts.sparkSession.createDataFrame(
        [(c,) for c in big_ids], schema="conv_id string"
    )
    small = transcripts.join(F.broadcast(big), "conv_id", "left_anti")
    bigt = transcripts.join(F.broadcast(big), "conv_id", "inner")
    parts = [derive_nodes_stream(small, num_partitions)]
    round_caches = []

    n_rounds = max(int(r._mx) for r in big_rows) // shard_turns + 1
    entry: dict[str, dict] = {}
    for s in range(n_rounds):
        shard = bigt.filter(
            (F.col("turn_idx") >= s * shard_turns)
            & (F.col("turn_idx") < (s + 1) * shard_turns)
        )
        raw = _prepped_payload(shard, num_partitions).mapInArrow(
            _make_state_kernel(entry, emit_exit_state=True),
            schema=_DERIVED_SCHEMA,
        )
        round_caches.append(persist_disk(raw))
        exits = {
            r["conv_id"]: json.loads(r["clean_text"])
            for r in raw.filter(F.col("node_id") == _SHARD_STATE)
            .select("conv_id", "clean_text")
            .collect()
        }
        # a conv absent from this turn range keeps its prior entry state
        entry = {**entry, **exits}
        parts.append(
            _emphasized_fixup(
                raw.filter(
                    F.col("node_id").isNull() | (F.col("node_id") != _SHARD_STATE)
                )
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, round_caches


def conv_root_col(conv_id: Column) -> Column:
    """Column form of rules.conv_root_id."""
    return F.concat(F.lit("conv="), conv_id)


_RANKED_LEVELS = sorted(rules.LEVEL_RANKS, key=rules.LEVEL_RANKS.get)


def citation_expr(node_id_col) -> "F.Column":
    """Column twin of :func:`rules.node_citation` (reference
    create_citation_from_level_classifier, scrapeECFR.py:1174-1210):
    a pure ``regexp_extract``/``format`` chain — whole-stage codegen, no
    UDF. Levels appear in the id path in rank order (the parent stack is
    rank-monotone), so assembling in ``_RANKED_LEVELS`` order matches the
    path order the Python rule walks."""
    pieces = []
    for lvl in _RANKED_LEVELS:
        label = rules.CITATION_LABELS[lvl]
        num = F.regexp_extract(
            node_id_col, rf"/{lvl}=([0-9]+(?:\.[0-9]+)?[A-Za-z]?)", 1
        )
        pieces.append(F.when(num != "", F.concat(F.lit(label + " "), num)))
    return F.nullif(F.concat_ws(", ", *pieces), F.lit(""))


def nodes_table(derived: DataFrame) -> DataFrame:
    """Materialize the nodes table (reference CLAUDE.md:514-536 shape),
    including one root node per conversation and the bluebook-style
    ``citation`` derived from the id path (reference node_citation,
    scrapeECFR.py:1174-1210)."""
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
        citation_expr(F.col("node_id")).alias("citation"),
    )
    roots = (
        derived.select("conv_id").distinct().select(
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


def node_text_agg(
    derived: DataFrame,
    addenda: DataFrame | None = None,
    chunk_size: int = 1024,
    sep: str = "\n",
) -> DataFrame:
    """Per-node ordered document text (reference ``NodeText`` — the ordered
    array of ALL paragraphs under a section, pydanticModels.py:203-366,
    serialized via ``to_list_text()`` :290-296).

    Content turns (``node_id IS NULL``) group under ``current_node``; the
    turn peeled as the node's addendum is EXCLUDED (the reference removes
    the trailing source paragraph from the node body before storing it,
    extract_addendum scrapeECFR.py:867-992). Two-phase chunk-salted
    aggregation (phase 1 on ``(node, ord div chunk_size)``, phase 2
    stitches the ordered chunks — SURVEY §7.4.1) bounds per-reduce-task
    state on hot nodes at 10^12-turn scale; ``ord`` is
    unique within a node's conversation, so chunk ranges align with text
    order. ``addenda`` (one row per node, ≪ turns) rides a broadcast
    anti-join.

    Output: ``node_id, node_text_list (array<string>), node_text (string),
    n_paragraphs``.
    """
    content = derived.filter(F.col("node_id").isNull()).select(
        "current_node", "ord", "turn_idx", "clean_text"
    )
    if addenda is not None:
        # (current_node, turn_idx) identifies the peeled turn: node ids are
        # conv-prefixed and deduped turns have unique turn_idx per conv
        peel = addenda.select(
            F.col("current_node").alias("_an"), F.col("turn_idx").alias("_at")
        )
        content = content.join(
            F.broadcast(peel),
            (F.col("current_node") == F.col("_an"))
            & (F.col("turn_idx") == F.col("_at")),
            "left_anti",
        )
    content = content.select("current_node", "ord", "clean_text")
    chunked = (
        content.withColumn("chunk", (F.col("ord") / F.lit(chunk_size)).cast("long"))
        .groupBy("current_node", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ord"), F.col("clean_text")))
            ).alias("arr")
        )
    )
    stitched = chunked.groupBy("current_node").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk", "arr"))),
                lambda s: s["arr"],
            )
        ).alias("parts")
    )
    texts = F.transform("parts", lambda s: s["clean_text"])
    return stitched.select(
        F.col("current_node").alias("node_id"),
        texts.alias("node_text_list"),
        F.concat_ws(sep, texts).alias("node_text"),
        F.size("parts").alias("n_paragraphs"),
    )


def extract_mentions(derived: DataFrame) -> DataFrame:
    """Explode citation/URL mentions from non-node turns.

    One row per mention: ``conv_id, turn_idx, current_node, mention_text,
    corpus, raw_key`` (reference Reference rows, pydanticModels.py:169-189).
    """
    return (
        derived.filter(F.col("node_id").isNull())
        .select(
            "conv_id",
            "turn_idx",
            "current_node",
            F.explode("extractions.mentions").alias("m"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "current_node",
            F.col("m.mention_text").alias("mention_text"),
            F.col("m.corpus").alias("corpus"),
            F.col("m.raw_key").alias("raw_key"),
            F.col("m.start").alias("start"),
        )
    )


def extract_definitions(derived: DataFrame) -> DataFrame:
    """Explode definitions from non-node turns.

    One row per definition: ``conv_id, turn_idx, current_node, term,
    definition, kind, incorporated_from, term_id``.
    """
    return (
        derived.filter(F.col("node_id").isNull())
        .select(
            "conv_id",
            "turn_idx",
            "current_node",
            F.explode("extractions.defs").alias("d"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "current_node",
            F.col("d.term").alias("term"),
            F.col("d.definition").alias("definition"),
            F.col("d.kind").alias("kind"),
            F.col("d.incorporated_from").alias("incorporated_from"),
            F.col("d.parent_term").alias("parent_term"),
            F.concat(F.col("current_node"), F.lit("/term="), F.col("d.term")).alias(
                "term_id"
            ),
        )
    )

"""Driver-contract query registry.

One entry per implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators), each as a ``(spark, sf_dir) -> DataFrame``
callable with a matching DuckDB oracle SQL string over the same parquet
tables. Column names/aliases match exactly on both sides (the driver's
compare hashes values after sorting columns by name).

Doubles are rounded on both sides; hashes use the portable
``md5-hex→bigint`` scheme so values agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import (
    canonicalize,
    dedup,
    defscope,
    enrich,
    extract,
    graph,
    linking,
    multimodal,
    rangejoin,
    sampling,
    similarity,
    text_analysis,
)


def _run_tmpdir(prefix: str) -> str:
    """Per-run scratch dir (concurrent contract runs must not clobber each
    other), removed at interpreter exit. Eager removal is impossible: the
    returned DataFrame reads the dir lazily AFTER the query callable
    returns — its caller collects it — so the dir joins the pipeline's
    spill-dir registry, whose one exit callback removes it."""
    import tempfile

    from .plans.pipeline import _register_spill_dir

    d = tempfile.mkdtemp(prefix=prefix)
    _register_spill_dir(d)
    return d


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scaled_bigint(col, scale: int = 100):
    """Float-free hashed payload: nearest integer of ``col × scale`` as
    BIGINT. Every aggregate that would otherwise put a raw double into a
    driver-hashed result goes through this (window_session sat red two
    rounds on driver-side float normalization; integers survive any
    normalization). The DuckDB oracle mirror is
    ``CAST(round(expr * scale, 0) AS BIGINT)``; sums feed a
    ``DECIMAL(18,6)`` cast first so accumulation is order-exact."""
    return F.round(col * scale, 0).cast("bigint")


# ---------------------------------------------------------------------------
# SURVEY §2 operators over the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_agg_count_by_level(spark, sf_dir):
    """SURVEY §2.5 agg_count_by_level (validation group-by, CLAUDE.md:438) —
    graph.counts_by_level over lineitem, whose level classifier is
    ``<l_returnflag>/<l_linestatus>``: a Q1-shaped hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    level = F.concat("l_returnflag", F.lit("/"), "l_linestatus")
    return graph.counts_by_level(li.select(level.alias("level_classifier")))


def q_join_orphan_anti(spark, sf_dir):
    """SURVEY §2.3 join_orphan_anti — left-anti orphan check
    (CLAUDE.md:448-452), graph.orphan_nodes over customers and orders as
    nodes: customers with ``c_custkey % 4 != 0`` are the roots
    ``c<custkey>``, every order ``o<orderkey>`` hangs under
    ``c<o_custkey>``, so the orders of the other customers are orphans."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 != 0)
    o = _t(spark, sf_dir, "orders")
    roots = c.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node_id"),
        F.lit(None).cast("string").alias("parent"),
    )
    orders = o.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("node_id"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("parent"),
    )
    return graph.orphan_nodes(roots.unionByName(orders))


def q_join_entity_link(spark, sf_dir):
    """SURVEY §2.3 join_entity_link — broadcast equi-join of a fact stream
    against a small dimension (the canonical-dictionary shape)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def q_join_entity_link_ladder(spark, sf_dir):
    """The REAL linking path of the KG build: extract.turn_payload_udf makes
    each mention's raw key and its candidate rungs (rules.candidate_keys,
    reference analyze_partial_link pydanticModels.py:555-636: exact →
    zero-padded → popped-level backoff), then linking.link_mentions joins
    them, one left equi-join per rung whose strategy Spark's join selection
    picks (the nation-sized dictionary broadcasts). Each order is one
    minted turn ``<o_orderkey % 50> U.S.C. § <o_custkey % 30>``, linked
    against a nation-derived alias dictionary whose aliases hit each rung;
    misses stay as null rows. The oracle replicates the ladder with string
    ops + three left joins + priority coalesce."""
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    text = F.concat(
        (F.col("o_orderkey") % 50).cast("string"),
        F.lit(" U.S.C. § "),
        (F.col("o_custkey") % 30).cast("string"),
    )
    mentions = o.select(
        "o_orderkey", extract.turn_payload_udf(text).alias("feat")
    ).select("o_orderkey", F.inline("feat.extractions.mentions"))
    nk = F.col("n_nationkey")
    ed = n.select(
        F.concat(F.lit("ent/"), F.col("n_name")).alias("entity_id"),
        F.array(
            F.concat(
                F.lit("usc/title="), (nk * 2).cast("string"),
                F.lit("/section="), nk.cast("string"),
            ),
            F.concat(
                F.lit("usc/title="), (nk * 2 + 1).cast("string"),
                F.lit("/section="), F.lpad(nk.cast("string"), 3, "0"),
            ),
            F.concat(F.lit("usc/title="), (nk + 25).cast("string")),
        ).alias("aliases"),
    )
    out = linking.link_mentions(mentions, ed)
    return out.select("o_orderkey", "raw_key", "entity_id", "link_priority")


def q_join_hierarchy_rank(spark, sf_dir):
    """SURVEY §2.3 join_hierarchy_rank — as-of resolution: each event's most
    recent preceding signup by the same user (nearest-preceding-row window,
    the parent-resolution shape of scrapeCA.py:180-215)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return e.select(
        "event_id",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("event_id")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_signup_id"),
    )


def q_dedup_version(spark, sf_dir):
    """SURVEY §2.6 dedup_version — deterministic -v_n suffixes by arrival
    rank (scrapingHelpers.py:61-115): lineitem rows versioned per order."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    rn = F.row_number().over(w)
    return li.select(
        F.when(rn == 1, F.col("l_orderkey").cast("string"))
        .otherwise(F.concat_ws("-v_", F.col("l_orderkey").cast("string"), rn.cast("string")))
        .alias("versioned_id"),
        "l_orderkey",
        "l_linenumber",
    )


def _order_nodes(spark, sf_dir):
    """orders as graph nodes: each order a child of its customer, with
    ``turn_idx = o_orderkey % 7`` so that child order differs from id order."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("node_id"),
        F.col("o_custkey").cast("string").alias("parent"),
        (F.col("o_orderkey") % 7).alias("turn_idx"),
    )


def q_agg_children_collect(spark, sf_dir):
    """SURVEY §2.5 agg_children_collect — order-sensitive child list per
    parent (direct_children derivation, CLAUDE.md:172-174):
    graph.children_agg over the orders as nodes, so each customer lists its
    orders in ``(turn_idx, id)`` order."""
    children = graph.children_agg(_order_nodes(spark, sf_dir))
    return children.select(
        "node_id", F.concat_ws(",", "direct_children").alias("children")
    )


def q_agg_text_concat(spark, sf_dir):
    """SURVEY §2.5 agg_text_concat — the turn-reassembly aggregate: ordered
    per-key concat (to_list_text analog, pydanticModels.py:290-296)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("event_seq")
    )


def q_sort_topk(spark, sf_dir):
    """SURVEY §2.7 sort/limit — TakeOrderedAndProject top-k, no full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.desc("price"), "o_orderkey")
        .limit(10)
    )


def q_set_except(spark, sf_dir):
    """SURVEY §2.8 set_except — id-set difference: the orders that no
    line item references."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey").distinct()
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_anti").orderBy(
        "o_orderkey"
    )


def q_prj_text_clean(spark, sf_dir):
    """SURVEY §2.2 prj_text_clean — the normalization chain
    (scrapingHelpers.py:196-220) as native expressions (codegen'd)."""
    d = _t(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.col("text"), "—– ", "--  "),
                r"<[^<>]*>",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select("doc_id", clean.alias("clean_text"))


def q_flt_status_classify(spark, sf_dir):
    """SURVEY §2.2 flt_reserved — keyword status classification
    (scrapeCA.py:57, CLAUDE.md:556-561) over document text."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.col("text").rlike(r"\bslow\b"), "flag_slow")
        .when(F.col("text").rlike(r"\berror\b"), "flag_error")
        .otherwise("valid")
        .alias("status"),
    )


def q_id_algebra(spark, sf_dir):
    """SURVEY §2.4 NodeID algebra — add/pop/current-level as string ops
    (pydanticModels.py:16-135) on ids minted from lineitem keys."""
    li = _t(spark, sf_dir, "lineitem")
    node_id = F.concat(
        F.lit("order="),
        F.col("l_orderkey").cast("string"),
        F.lit("/line="),
        F.col("l_linenumber").cast("string"),
    )
    return li.select(
        node_id.alias("node_id"),
        F.expr(
            "array_join(slice(split(concat('order=', cast(l_orderkey as string), "
            "'/line=', cast(l_linenumber as string)),'/'),1,1),'/')"
        ).alias("parent_id"),
        F.element_at(F.split(node_id, "/"), -1).alias("current_level"),
    )


def q_window_running(spark, sf_dir):
    """SURVEY §2.10 stable ordinal — row_number over (user, ts): the
    node_order SERIAL analog."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select("event_id", "user_id", F.row_number().over(w).alias("ord"))


def q_agg_cube_level_status(spark, sf_dir):
    """SURVEY §2.5 grouping-sets note — the per-level × per-status
    validation cube (``cube(level_classifier, status)`` over the nodes
    table), here over orders by status × priority."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


def q_join_semi(spark, sf_dir):
    """SURVEY §2.3 join_semi_hubsrc — semi-join classification: brands that
    actually ship (≥1 lineitem)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li.select("l_partkey"), p["p_partkey"] == li["l_partkey"], "left_semi")
        .select("p_brand")
        .distinct()
        .orderBy("p_brand")
    )


def q_window_tumbling(spark, sf_dir):
    """SURVEY §2.11 streaming-window analog — tumbling 1-day event-time
    aggregation (F.window in streaming; date-aligned here)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_flt_unprocessed(spark, sf_dir):
    """SURVEY §2.2 flt_unprocessed — the pending-work predicate
    (processingHelpers.py:59-65): events lacking a props key, count/type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(
            F.get_json_object("props", "$.k").isNotNull()
            & (F.get_json_object("props", "$.k").cast("int") > 50)
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_pending"))
    )


def q_cc_alias(spark, sf_dir):
    """SURVEY §2.6 cc_alias — the real iterative min-label-propagation CC
    loop (canonicalize.connected_components) over a deterministic alias
    graph: user→event star edges plus user→group bridge edges, so
    components merge across users (diameter 4, a few loop rounds)."""
    e = _t(spark, sf_dir, "events")
    uid = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    star = e.select(
        uid.alias("src"), F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("dst")
    )
    bridge = e.select(
        uid.alias("src"),
        F.concat(F.lit("g"), (F.col("user_id") % 7).cast("string")).alias("dst"),
    ).distinct()
    labels = canonicalize.connected_components(star.unionByName(bridge))
    return labels.select("member", "canonical")


def q_join_defs_scope(spark, sf_dir):
    """SURVEY §2.3 join_defs_scope — prefix-hierarchy join
    (fetch_definitions ancestor walk, pydanticModels.py:654-757): explode
    each node id's ancestor prefixes, join against a hubs table."""
    li = _t(spark, sf_dir, "lineitem")
    node_id = F.concat(
        F.lit("order="),
        F.col("l_orderkey").cast("string"),
        F.lit("/line="),
        F.col("l_linenumber").cast("string"),
    )
    # hubs exist at every 10th order level
    hubs = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.concat(F.lit("order="), F.col("o_orderkey").cast("string")).alias(
                "hub_scope"
            )
        )
    )
    parts = F.split(node_id, "/")
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, 1, i), "/"),
    )
    exploded = li.select(
        node_id.alias("node_id"), F.explode(prefixes).alias("prefix")
    )
    return (
        exploded.join(F.broadcast(hubs), exploded["prefix"] == hubs["hub_scope"])
        .select("node_id", "hub_scope")
    )


def q_join_incoming_refs(spark, sf_dir):
    """SURVEY §2.3 join_incoming_refs — reverse-edge aggregate
    (incoming_references, pydanticModels.py:442): graph.incoming_references
    over the events as edges user → event type, where an error is a
    ``child_of`` edge the operator skips and every other event a ``cites``
    edge. Per target, the sorted distinct set of citing users."""
    e = _t(spark, sf_dir, "events")
    edges = e.select(
        F.col("user_id").cast("string").alias("src"),
        F.col("event_type").alias("dst"),
        F.when(F.col("event_type") == "error", "child_of").otherwise("cites").alias("rel"),
    )
    return graph.incoming_references(edges).select(
        "node_id", F.concat_ws(",", "incoming_references").alias("incoming_refs")
    )


def q_agg_siblings(spark, sf_dir):
    """SURVEY §2.5 agg_siblings — nodes sharing a parent, self removed
    (CLAUDE.md:535): graph.siblings_agg over graph.children_agg of the
    orders as nodes, so each order lists the other orders of its customer in
    ``(turn_idx, id)`` order, '' for an only child."""
    children = graph.children_agg(_order_nodes(spark, sf_dir))
    return graph.siblings_agg(children).select(
        "node_id", F.concat_ws(",", "siblings").alias("siblings")
    )


def q_prj_citation(spark, sf_dir):
    """SURVEY §2.2 prj_citation — bluebook-style citation formatting keyed
    by classifier (create_citation_from_level_classifier,
    scrapeECFR.py:1174-1210)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.format_string("%d U.S.C. § %d", F.col("user_id"), F.col("event_id")),
        )
        .when(
            F.col("event_type") == "view",
            F.format_string("%d CFR Part %d", F.col("user_id"), F.col("event_id")),
        )
        .otherwise(
            F.format_string("id %d, note %d", F.col("user_id"), F.col("event_id"))
        )
        .alias("citation"),
    )


def q_prj_number_extract(spark, sf_dir):
    """SURVEY §2.2 prj_number_extract — first-number extraction + trailing
    punctuation strip (scrapeCA.py:260-271)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_number"),
        F.regexp_replace(F.trim("text"), r"[.,;:]+$", "").alias("no_trailing_punct"),
    )


def q_set_intersect(spark, sf_dir):
    """SURVEY §2.8 set_intersect — nations with both suppliers and
    customers."""
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    n = _t(spark, sf_dir, "nation")
    both = s.intersect(c)
    return (
        both.join(n, both["nk"] == n["n_nationkey"]).select("n_name").orderBy("n_name")
    )


def q_set_union_hubs(spark, sf_dir):
    """SURVEY §2.8 set_union_hubs — precedence-ranked union-dedup
    (ReferenceHub.combine, pydanticModels.py:184-189): customer wins over
    supplier on nation-key conflicts (lexicographic-min origin)."""
    s = (
        _t(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
        .withColumn("origin", F.lit("supplier"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
        .withColumn("origin", F.lit("customer"))
    )
    w = Window.partitionBy("nk").orderBy("origin")  # customer < supplier
    return (
        s.unionByName(c)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("nk", F.col("origin").alias("winner"))
    )


def q_dedup_skip(spark, sf_dir):
    """SURVEY §2.6 dedup_skip — first-writer-wins
    (insert_node_skip_duplicate, scrapeECFR.py:1264-1277): keep the
    min-linenumber row per order."""
    li = _t(spark, sf_dir, "lineitem")
    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    # the order key includes every projected column — ties become harmless
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


def q_sort_pop_last(spark, sf_dir):
    """SURVEY §2.7 sort_pop_last — peel the max-index element per group
    (NodeText.pop addendum peel, pydanticModels.py:265-280)."""
    li = _t(spark, sf_dir, "lineitem")
    # composite scalar key: deterministic pick under duplicate linenumbers
    key = F.col("l_linenumber").cast("long") * 10000000 + F.col("l_partkey")
    return li.groupBy("l_orderkey").agg(
        F.max_by("l_partkey", key).alias("popped_partkey"),
        F.max("l_linenumber").alias("popped_index"),
        (F.count("*") - 1).alias("n_remaining"),
    )


def q_agg_distinct_sources(spark, sf_dir):
    """SURVEY §2.5 agg_distinct_sources — distinct scope-id set build
    (scrapeECFR.py:1476-1502)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("source").distinct().orderBy("source")


def q_agg_usage_cost(spark, sf_dir):
    """SURVEY §2.5 agg_usage_cost — cost-accounting aggregate (token ×
    price, pydanticModels.py:527-546): per-type value × unit price."""
    from decimal import Decimal

    e = _t(spark, sf_dir, "events")
    # decimal value × decimal price: exact, order-independent sum (the
    # double-sum variant was flagged as a latent hash-flake in round 1)
    price = (
        F.when(F.col("event_type") == "purchase", F.lit(Decimal("0.0300")))
        .when(F.col("event_type") == "view", F.lit(Decimal("0.0010")))
        .otherwise(F.lit(Decimal("0.0001")))
    )
    return e.groupBy("event_type").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)") * price), 3)
        .cast("double")
        .alias("cost"),
        F.count("*").alias("n_calls"),
    )


def q_topk_per_group(spark, sf_dir):
    """SURVEY §2.7 windowed top-k — top-3 orders per segment by price (rank
    window, partial TakeOrdered per group)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("price"), "o_orderkey")
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "o_orderkey", "price", "rk")
    )


def q_src_json_parse(spark, sf_dir):
    """SURVEY §2.1 src_json / §2.9 JSON scalars — schema-enforced parse of
    the embedded JSON column (from_json with explicit StructType, never
    inference; reference readAZ.py:16-40 JSON source +
    utilityFunctions.py:429-431 json round-trip)."""
    from pyspark.sql import types as T

    e = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return e.select(
        "event_id",
        F.from_json("props", schema).getField("k").alias("k"),
        F.to_json(F.struct(F.col("event_type").alias("t"))).alias("packed"),
    )


def q_window_session(spark, sf_dir):
    """SURVEY §2.11 session windows — sessionization by inactivity gap
    (> 1 hour), the batch shape of F.session_window: per user, lag-gap flag
    → running cumsum session id → per-session aggregates."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "session_no",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    # Integer-cents payload; the three-round driver red on this query was
    # NOT the payload — it was the oracle's uncast windowed sum(new_sess)
    # (DuckDB HUGEINT → float64 under the driver's pandas conversion).
    # test_no_oracle_output_column_is_hugeint now guards every oracle
    # against that.
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")) * 100, 0)
        .cast("long")
        .alias("session_cents"),
    )


def q_mm_metadata(spark, sf_dir):
    """Multimodal plumbing — binary payloads + typed header parse via
    mapInPandas (operators/multimodal.py)."""
    media = multimodal.synth_media_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.extract_metadata(media)


def q_mm_resize(spark, sf_dir):
    """Multimodal resize bookkeeping — scale factors + output dims as pure
    column math over the parsed media headers (operators/multimodal.py
    resize_plan); the oracle recomputes width/height from the deterministic
    FAKE-codec formulas."""
    media = multimodal.synth_media_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.resize_plan(multimodal.extract_metadata(media), target=16)


def q_mm_frame_sample(spark, sf_dir):
    """Multimodal frame sampling — strided byte-frame extraction from the
    video payloads, JVM-side slicing (operators/multimodal.py)."""
    media = multimodal.synth_media_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.frame_sample(media, stride=64, frame_len=8)


def q_mm_decode_real(spark, sf_dir):
    """REAL-codec decode: genuine 24-bit BMPs / PCM16 WAVs are synthesized
    per document and decoded by the real parsers (BGR→RGB swap, bottom-up
    row flip, 4-byte row padding, RIFF chunk walk —
    operators/multimodal.py decode_media_real). Pixel/sample values are
    closed-form in (doc_id, index), so the oracle asserts every decoded
    value from the formula without parsing a byte."""
    media = multimodal.synth_real_media(_t(spark, sf_dir, "documents"))
    dec = multimodal.decode_media_real(media)
    return dec.select(
        "doc_id",
        "kind",
        "sample_rate",
        "width",
        "height",
        F.posexplode("values").alias("idx", "value"),
    )


def q_mm_resize_real(spark, sf_dir):
    """Nearest-neighbor resize over GENUINELY decoded pixels (not header
    bookkeeping): decode the real BMPs, resize to 2×2 with pure JVM array
    arithmetic (multimodal.resize_decoded), explode the resized values;
    the oracle replicates the source-index math over the pixel formula."""
    media = multimodal.synth_real_media(_t(spark, sf_dir, "documents"))
    dec = multimodal.decode_media_real(media)
    rs = multimodal.resize_decoded(dec, tw=2, th=2)
    return rs.select("doc_id", F.posexplode("values").alias("idx", "value"))


# ---------------------------------------------------------------------------
# Training-data-pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.8)


def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, num_perm=16, bands=4, threshold=0.5
    )


def q_dedup_cluster_keep(spark, sf_dir):
    """Near-dup clustering + canonical keep/drop (dedup.near_dup_clusters):
    LSH pairs → pointer-jumped connected components → keep min doc_id per
    cluster. The oracle reproduces the clusters with a recursive
    transitive-closure CTE over the same verified pair set."""
    return dedup.near_dup_clusters(
        _t(spark, sf_dir, "documents"), n=3, num_perm=16, bands=4, threshold=0.5
    )


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"))


def q_dedup_embedding_cosine(spark, sf_dir):
    """Exact cosine near-dup via blocked matmul (no row-level crossJoin in
    the plan; block=128 exercises multi-chunk pairing at sf0.01)."""
    return dedup.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, block=128
    )


def q_sim_ann_lsh(spark, sf_dir):
    """Sub-quadratic ANN near-dup: sign-LSH bucket join + exact-cosine
    verification (semantics = bucket-colliding pairs ≥ threshold; the
    oracle reproduces the deterministic planes as literals)."""
    return similarity.ann_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), n_planes=4, dim=64, threshold=0.30
    )


def q_sim_topk_cosine(spark, sf_dir):
    return similarity.topk_cosine(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def q_sim_topk_ivf(spark, sf_dir):
    return similarity.topk_cosine_ivf(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10
    )


def q_ta_tokens(spark, sf_dir):
    return text_analysis.token_counts(_t(spark, sf_dir, "documents"))


def q_ta_tokens_bpe(spark, sf_dir):
    return text_analysis.token_counts_bpe(_t(spark, sf_dir, "documents"))


def q_enrich_hash_embed(spark, sf_dir):
    """Phase-3 embedding enrichment (operators/enrich.py): deterministic
    feature-hashed embedding as a codegen'd expression; exposed as a
    comma-joined string for portable value comparison."""
    d = _t(spark, sf_dir, "documents")
    emb = enrich.hash_embed_expr(F.col("text"), dim=8)
    return d.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(emb, lambda x: F.format_number(x, 4))
        ).alias("emb"),
    )


def q_enrich_multi_embed(spark, sf_dir):
    """Multi-vector retrieval payload (reference carries text/name/summary
    vectors per node, scrapeMI.py:79-83) — the FUSED enrich kernel
    (operators/enrich.py node_enrich_udf) over the documents table: one
    Arrow pass yields the token count, the text embedding, the
    name-column embedding (``source`` stands in for the node name), and
    the deterministic extractive summary stand-in."""
    d = _t(spark, sf_dir, "documents")
    fmt = lambda v: F.concat_ws(  # noqa: E731
        ",", F.transform(v, lambda x: F.format_number(x, 4))
    )
    out = d.withColumn("_e", enrich.node_enrich_udf(dim=8)("text", "source"))
    return out.select(
        "doc_id",
        F.col("_e.n_tokens").alias("n_tokens"),
        fmt(F.col("_e.embedding")).alias("emb"),
        fmt(F.col("_e.name_embedding")).alias("name_emb"),
        F.col("_e.summary").alias("summary"),
    )


def q_ta_c4_clean(spark, sf_dir):
    """C4-style line cleaning (text_analysis.c4_line_clean, the public C4
    heuristics): terminal-punctuation + min-words + javascript line
    filters, boilerplate document flag — pure codegen. The synthetic
    documents are single-line, so the query builds a 5-line document per
    row with known keep/drop structure (two text-dependent lines)."""
    d = _t(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("The first line looks good."),
            F.concat(F.col("text"), F.lit(".")),  # kept, row-specific
            F.col("text"),  # no terminal punctuation -> dropped
            F.lit("tiny."),  # too few words -> dropped
            F.lit("This line uses javascript sadly."),  # dropped
        ).alias("text"),
    )
    return text_analysis.c4_line_clean(built)


def q_ta_boilerplate(spark, sf_dir):
    """Cross-document boilerplate line removal
    (text_analysis.boilerplate_strip — the RefinedWeb/CCNet line-wise
    dedup step). The synthetic documents are single-line, so the query
    builds 3-line documents with known shared structure: a corpus-wide
    footer (stripped everywhere), the source name (shared by every doc of
    that source → stripped), and the original text (kept unless the
    corpus duplicates it ≥ 3 times)."""
    d = _t(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat_ws(
            "\n", "text", F.lit("SHARED FOOTER"), "source"
        ).alias("text"),
    )
    return text_analysis.boilerplate_strip(built, min_docs=3)


def q_smp_stratified(spark, sf_dir):
    """Per-stratum deterministic downsampling (sampling.stratified_sample):
    keep 100% of en, 25% of de, 5% of everything else — md5-bucket keep
    decision, reproducible across engines and cluster sizes."""
    return sampling.stratified_sample(
        _t(spark, sf_dir, "documents"),
        "lang",
        {"en": 10000, "de": 2500},
        default_bps=500,
    ).select("doc_id", "lang", "source")


def q_join_range_bucketed(spark, sf_dir):
    """Interval-containment join WITHOUT a cross product
    (operators/rangejoin.py): part-derived integer intervals
    ``[p_partkey*5, p_partkey*5+12)`` joined to order-derived points
    ``o_orderkey % 100000`` via bucket-exploded equi-join + exact
    re-check; aggregated to matches per interval. The oracle writes the
    range predicate directly (DuckDB plans the small case natively)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") * 5).alias("lo"),
        (F.col("p_partkey") * 5 + 12).alias("hi"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 100000).alias("x")
    )
    joined = rangejoin.range_join_points(p, o, max_interval_width=64)
    return joined.groupBy("p_partkey").agg(
        F.count("*").alias("n_points"),
        F.min("o_orderkey").alias("min_order"),
        F.max("o_orderkey").alias("max_order"),
    )


def q_graph_pagerank(spark, sf_dir):
    """Node importance over a deterministic lineitem-derived edge set —
    fixed-iteration PageRank in EXACT integer micro-units
    (operators/graph.py pagerank_int): int64 sums and integer division
    only, so the oracle (the same recurrence unrolled as SQL CTEs) is
    bit-identical regardless of aggregation order. Graph-analytics
    completion of the nodes/edges materialization (the reference stores
    the graph; ranking its hubs is the first query a consumer runs)."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 300).alias("src"),
        (F.col("l_partkey") % 300).alias("dst"),
    )
    return graph.pagerank_int(edges, iters=3)


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle counts over a lineitem-derived undirected graph
    (operators/graph.py triangle_counts): each degree-ordered edge x→y
    finds its triangles as out(x) ∩ out(y) — no wedge rows, no cache. The
    oracle enumerates triangles directly over the canonical u<v edge set
    (each triangle once as a<b<c)."""
    li = _t(spark, sf_dir, "lineitem")
    # the % 4 thinning keeps the derived graph sparse enough that the
    # triangle count grows ~linearly with sf instead of saturating the
    # 1000-node clique (an unthinned sf0.1 graph is ~70% complete and
    # holds ~1e8 triangles)
    edges = li.filter((F.col("l_orderkey") + F.col("l_partkey")) % 4 == 0).select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_partkey") % 1000).alias("dst"),
    )
    return graph.triangle_counts(edges)


def q_join_interval_overlap(spark, sf_dir):
    """Interval-x-interval overlap join (operators/rangejoin.py
    interval_overlap_join): both sides bucket-exploded, hash-joined on the
    bucket, each overlapping pair emitted exactly once from its canonical
    bucket (the one holding max(lo_a, lo_b)) — a pure filter instead of a
    dedup shuffle. Aggregated per left interval. The oracle writes the
    theta condition directly."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") * 5).alias("llo"),
        (F.col("p_partkey") * 5 + 12).alias("lhi"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 100000).alias("rlo"),
        (F.col("o_orderkey") % 100000 + 8).alias("rhi"),
    )
    joined = rangejoin.interval_overlap_join(p, o, "llo", "lhi", "rlo", "rhi")
    return joined.groupBy("p_partkey").agg(
        F.count("*").alias("n_overlaps"),
        F.min("o_orderkey").alias("min_order"),
        F.max("o_orderkey").alias("max_order"),
    )


def q_graph_label_prop(spark, sf_dir):
    """Deterministic synchronous label propagation (operators/graph.py
    label_propagation): 2 iterations of adopt-the-most-frequent-neighbor-
    label with smallest-label tie-break — the reproducible (oracle-
    checkable) variant of LPA community detection, completing the graph
    analytics trio with PageRank and triangle counting. Same thinned
    lineitem-derived graph as graph_triangles; the oracle unrolls both
    iterations as CTEs with a row_number argmax (an independent
    formulation of the same pick)."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter((F.col("l_orderkey") + F.col("l_partkey")) % 4 == 0).select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_partkey") % 1000).alias("dst"),
    )
    return graph.label_propagation(edges, iters=2)


def q_graph_bfs_khop(spark, sf_dir):
    """Directed k-hop reachability from a seed set (operators/graph.py
    bfs_distances): level-synchronous frontier BFS — min hop distance <= 3,
    work per hop O(frontier x outdeg), each node settled once. The oracle
    unrolls the three frontier expansions as CTEs with NOT-IN settlement
    checks. Same thinned lineitem-derived directed graph as
    graph_triangles."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter((F.col("l_orderkey") + F.col("l_partkey")) % 4 == 0).select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_partkey") % 1000).alias("dst"),
    )
    seeds = spark.createDataFrame([(i,) for i in range(5)], "node long")
    return graph.bfs_distances(edges, seeds, max_hops=3)


def q_join_asof(spark, sf_dir):
    """As-of join (operators/rangejoin.py asof_join_backward): each event
    picks the latest order-derived quote at-or-before its timestamp in
    the same key group — union + window composition (ONE exchange),
    never an inequality join. The quote side is deduped to unique
    (key, ts) with max-orderkey so both engines' tie semantics coincide;
    the oracle formulates it independently as a lateral latest-row pick
    (row_number over the inequality join, which DuckDB plans natively
    at gate scale)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 20).alias("key"), "ts"
    )
    quotes = (
        _t(spark, sf_dir, "orders")
        .select(
            (F.col("o_custkey") % 20).alias("key"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("quote"),
        )
        .groupBy("key", "ts")
        .agg(F.max("quote").alias("quote"))
    )
    joined = rangejoin.asof_join_backward(
        ev, quotes, on="key", left_ts="ts", right_ts="ts", payload=["quote"]
    )
    return joined.select("event_id", "key", "quote")


def q_ta_tfidf_topk(spark, sf_dir):
    """Integer-exact TF-IDF relevance scoring against a fixed query
    vocabulary (operators/text_analysis.py tfidf_score_int) — the
    training-data relevance-filter shape. Top 20 documents by
    (score desc, doc_id): idf is fixed-point 1/df (no log, no floats),
    so the ranking is bit-identical across engines."""
    d = _t(spark, sf_dir, "documents")
    scored = text_analysis.tfidf_score_int(d, ["dup", "hash", "join", "vector"])
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(20)


def q_ta_quality(spark, sf_dir):
    return text_analysis.quality_scores(_t(spark, sf_dir, "documents"))


def q_ta_langid(spark, sf_dir):
    return text_analysis.language_id(_t(spark, sf_dir, "documents"))


def q_ta_fingerprint(spark, sf_dir):
    return text_analysis.fingerprints(_t(spark, sf_dir, "documents"))


def q_ta_vocab_topk(spark, sf_dir):
    """Document-frequency vocabulary top-k (operators/text_analysis.py
    vocab_topk): per-row distinct tokens → JVM explode → partial-aggregated
    count → TakeOrderedAndProject; ties broken by token text so the top-k
    SET is engine-identical."""
    return text_analysis.vocab_topk(_t(spark, sf_dir, "documents"), k=20)


def q_ta_repetition(spark, sf_dir):
    """Gopher-style repetition signal (operators/text_analysis.py
    repetition_scores): most-frequent-bigram share of all bigram
    occurrences, floor permille — float-free payload."""
    return text_analysis.repetition_scores(_t(spark, sf_dir, "documents"), n=2)


def q_ta_redact(spark, sf_dir):
    """PII redaction (operators/text_analysis.py redact_pii): e-mails →
    ``[EMAIL]`` in one codegen'd regexp pass + a match count. The corpus
    has no e-mails, so the query splices deterministic synthetic addresses
    into each row first (same build-then-process shape as the src_xml /
    src_html queries); the oracle replicates splice and redaction."""
    d = _t(spark, sf_dir, "documents")
    with_pii = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" cc admin.ops@example.org ")
            ).otherwise(F.lit(" ")),
            F.lit("end"),
        ).alias("text"),
    )
    return text_analysis.redact_pii(with_pii)


def q_enrich_quantize(spark, sf_dir):
    """int8 embedding quantization (operators/enrich.py
    quantize_embeddings) — the ANN-index compression step, exposed as a
    comma-joined lane string plus a floor-micro scale so the hashed payload
    is float-free."""
    e = _t(spark, sf_dir, "embeddings")
    out = enrich.quantize_embeddings(e)
    return out.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("q8"), lambda v: v.cast("string"))
        ).alias("q8"),
        F.floor(F.col("scale") * 1000000).cast("bigint").alias("scale_micro"),
    )


def q_smp_decontaminate(spark, sf_dir):
    """Eval-set decontamination (operators/sampling.py decontaminate):
    per eval document, the count of its distinct 3-gram shingles that also
    occur anywhere in the train split — composition of the deterministic
    md5 split and the dedup family's shingle space."""
    return sampling.decontaminate(_t(spark, sf_dir, "documents"), n=3)


def q_smp_split_hash(spark, sf_dir):
    """Deterministic train/eval split (operators/sampling.py split_assign):
    md5-hex-prefix comparison on the stable doc key — partitioning-, seed-,
    and engine-independent, unlike Bernoulli df.sample()."""
    return sampling.split_assign(_t(spark, sf_dir, "documents"))


def q_smp_pack_budget(spark, sf_dir):
    """Token-budget sequence packing (operators/sampling.py
    pack_token_budget): per-source exclusive running token offset →
    pack_id = floor(offset/512). Windows are partitioned by source — no
    global ordering anywhere in the plan."""
    return sampling.pack_token_budget(_t(spark, sf_dir, "documents"), budget=512)


def q_smp_pack_budget_sharded(spark, sf_dir):
    """The TWO-PHASE parallel-prefix-sum packing mode (pack_token_budget
    ``chunks=7``: range-partitioned contiguous runs, local offsets, tiny
    per-run base-offset frame broadcast back) — output-identical to the
    window mode by construction, so it shares smp_pack_budget's oracle
    SQL verbatim and the driver hash-checks the chunking-invariance
    claim itself."""
    return sampling.pack_token_budget(
        _t(spark, sf_dir, "documents"), budget=512, chunks=7
    )


def q_join_parent_exists(spark, sf_dir):
    """SURVEY §2.3 join_parent_exists — null-parent invariant
    (CLAUDE.md:443-446): rows with a null parent key must be zero."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_custkey").isNull()).agg(
        F.count("*").alias("n_null_parent")
    )


def q_flt_class_allow(spark, sf_dir):
    """SURVEY §2.2 flt_class_allow — allowlist `isin` filter
    (scrapeECFR.py:149,156-160): only allowed classes are descended."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_cust"))
    )


def q_flt_disallowed_class(spark, sf_dir):
    """SURVEY §2.2 flt_disallowed_class — disallowed-classification filter
    (scrapeECFR.py:546-565): rows matching the denylist are kept opaque,
    not descended."""
    p = _t(spark, sf_dir, "part")
    deny = F.col("p_type").contains("BRASS") | F.col("p_type").contains("COPPER")
    return (
        p.filter(~deny)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"), F.round(F.sum("p_retailprice"), 2).alias("sum_price"))
    )


def q_prj_br_strip(spark, sf_dir):
    """SURVEY §2.2 prj_br_strip — `<br>` unwrap + tag-residue strip + ws
    collapse (2_scrape_regular.py:179-194, scrapingHelpers.py:218),
    as a pure regexp_replace chain (whole-stage codegen, no UDF)."""
    d = _t(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"(?i)<br\s*/?>", " "),
                r"<[^>]+>",
                "",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select("doc_id", cleaned.alias("cleaned"))


def q_agg_refhub_merge(spark, sf_dir):
    """SURVEY §2.5 agg_refhub_merge — ReferenceHub.combine dict-union
    (pydanticModels.py:184-189): per-group key→count map merged into a
    canonical sorted string for portable comparison."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    return per_type.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(F.concat_ws(":", "event_type", F.col("n").cast("string")))
            ),
        ).alias("hub")
    )


def q_dedup_paragraph(spark, sf_dir):
    """SURVEY §2.6 dedup_paragraph — merge-adjacent-same-id semantics
    (pydanticModels.py:210-263): consecutive rows with the same class
    collapse into one run; per group report run count and longest run."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    change = F.when(
        F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), F.lit(0)
    ).otherwise(F.lit(1))
    runs = e.select(
        "user_id",
        "event_type",
        F.sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_id"),
    )
    per_run = runs.groupBy("user_id", "run_id").agg(F.count("*").alias("run_len"))
    return per_run.groupBy("user_id").agg(
        F.count("*").alias("n_runs"), F.max("run_len").alias("max_run")
    )


def q_sort_paragraph_index(spark, sf_dir):
    """SURVEY §2.7 sort_paragraph_index — in-node paragraph sort + first/last
    by index (pydanticModels.py:287,294 / NodeText.pop :265-280) as
    min_by/max_by ordered aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    # linenumbers can tie within an order in the synthetic data; lexicographic
    # struct min/max keeps first/last deterministic on both engines.
    # Quantities are hashed as integer cents so the driver compare never
    # sees a raw double (the window_session normalization-failure class).
    return li.groupBy("l_orderkey").agg(
        _scaled_bigint(
            F.min(F.struct("l_linenumber", "l_quantity")).getField("l_quantity")
        ).alias("first_qty"),
        _scaled_bigint(
            F.max(F.struct("l_linenumber", "l_quantity")).getField("l_quantity")
        ).alias("last_qty"),
        F.count("*").alias("n_lines"),
    )


def q_agg_rollup_region_nation(spark, sf_dir):
    """SURVEY §2.5 grouping-sets family — ROLLUP(region, nation) customer
    counts (the per-level × per-status validation-count shape,
    CLAUDE.md:438-441); complements agg_cube_level_status."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_cust",
        )
    )


def q_window_lead(spark, sf_dir):
    """SURVEY §2.10 ordered analytics — `lead` over the stable per-group
    ordering (next row at same level; sibling navigation, CLAUDE.md:535)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select("event_id", F.lead("event_id").over(w).alias("next_event_id"))


def q_agg_total_rows(spark, sf_dir):
    """SURVEY §2.5 agg_total_rows — per-batch counters + running total
    (TOTAL_ROWS_READ loop, 3_process.py:19-35) as batch agg + cumulative
    window."""
    o = _t(spark, sf_dir, "orders")
    # decimal-summed integer cents: float-free hashed payload (the
    # window_session normalization-failure class)
    per_batch = o.groupBy((F.col("o_orderkey") % 8).alias("batch")).agg(
        F.count("*").alias("n_rows"),
        _scaled_bigint(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        ).alias("sum_price"),
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return per_batch.select(
        "batch", "n_rows", "sum_price", F.sum("n_rows").over(w).alias("cum_rows")
    )


def q_src_toc_file(spark, sf_dir):
    """SURVEY §2.1 src_toc_file — line-oriented text-file source: write the
    documents as ``doc_id|text`` lines, scan them back via ``read.text``
    (sources/io.py read_toc_lines) and parse declaratively. The oracle
    derives the same values straight from the documents view (the
    round-trip is lossless for single-line text)."""

    from .sources import io as src_io

    d = _t(spark, sf_dir, "documents")
    # per-run dir: concurrent contract runs must not clobber each other
    out = _run_tmpdir("oslspark_toc_src_")
    # newlines fold to spaces (length-preserving, so n_body_chars still
    # equals length(text)) and null text becomes '' — without these a
    # multi-line or null document would break the one-row-per-line contract
    body = F.coalesce(F.regexp_replace(F.col("text"), r"[\r\n]", " "), F.lit(""))
    d.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("|"), body).alias("value")
    ).write.mode("overwrite").text(out)
    lines = src_io.read_toc_lines(spark, out)
    id_str = F.substring_index(F.col("value"), "|", 1)
    return lines.select(
        id_str.cast("long").alias("doc_id"),
        (F.length("value") - F.length(id_str) - 1).alias("n_body_chars"),
    )


def q_prj_date_math(spark, sf_dir):
    """SURVEY §2.9 date/time scalar family — truncation, component
    extraction, day arithmetic (the reference's created_at/processed
    timestamps, utilityFunctions.py date handling)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.date_trunc("month", F.col("ts")).alias("month_start"),
        F.datediff(F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")).alias(
            "days_since"
        ),
    )


def q_agg_percentile(spark, sf_dir):
    """SURVEY §2.5 ordered-set aggregate — EXACT continuous percentiles
    (linear interpolation; Spark `percentile` == DuckDB `quantile_cont`)
    per event type."""
    e = _t(spark, sf_dir, "events")
    # events.value is 2-dp and the interpolation fraction has one decimal
    # digit, so every exact percentile is a 3-dp decimal; scaling by 1e4
    # and rounding to a bigint makes the hashed payload float-free (the
    # window_session normalization-failure class) without losing precision.
    return e.groupBy("event_type").agg(
        _scaled_bigint(F.expr("percentile(value, 0.5)"), 10000).alias("p50"),
        _scaled_bigint(F.expr("percentile(value, 0.9)"), 10000).alias("p90"),
        F.count("*").alias("n"),
    )


def q_agg_grouping_sets(spark, sf_dir):
    """SURVEY §2.5 grouping-sets family — explicit GROUPING SETS
    ((region, nation), (region), ()) supplier counts; complements
    cube/rollup."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    joined.createOrReplaceTempView("_gs_supplier")
    return spark.sql(
        """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               count(*) AS n_supp
        FROM _gs_supplier
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


_EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _events_stream(spark, sf_dir, prefix: str, n_copies: int = 1):
    """Per-run file-source stream of the events table (replicated
    ``n_copies`` times to simulate an at-least-once feed) and its run
    root. Per-run temp root: two concurrent contract/bench runs on the
    same host must not clobber each other's inputs, checkpoints, or
    sink tables (round-2 advice)."""
    import os
    import shutil

    run_root = _run_tmpdir(prefix)
    src_dir = f"{run_root}/events"
    os.makedirs(src_dir)
    for i in range(n_copies):
        shutil.copy(f"{sf_dir}/events.parquet", f"{src_dir}/copy_{i}.parquet")
    return spark.readStream.schema(_EVENTS_STREAM_SCHEMA).parquet(src_dir), run_root


def _run_to_memory_sink(spark, df, prefix: str, run_root: str, timeout_s=300):
    """Run a streaming frame to completion (``Trigger.AvailableNow``,
    append mode) into a uniquely-named memory sink; return the batch
    table. The ONE streaming-harness definition shared by every
    stream_* contract query."""
    import uuid

    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", f"{run_root}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{prefix}: AvailableNow run exceeded {timeout_s} s")
    return spark.table(sink)


def q_stream_sessionize(spark, sf_dir):
    """SURVEY §2.11 custom stateful streaming — applyInPandasWithState
    sessionization (streaming/stateful.py) run to completion with
    ``Trigger.AvailableNow`` over the events table, returned as a batch
    frame. AvailableNow runs a final timeout batch with the watermark at
    the global max event time, so every session whose end + gap falls
    strictly before that watermark emits (in-data-closed or timed out);
    the oracle reproduces exactly that cutoff."""
    from .streaming.stateful import sessionize_stream

    stream, run_root = _events_stream(spark, sf_dir, "oslspark_stream_")
    stream = stream.withColumn("user_id", F.col("user_id").cast("string"))
    sessions = sessionize_stream(stream, gap_seconds=3600)
    out = _run_to_memory_sink(spark, sessions, "oslspark_sessions", run_root)
    # float-free hashed payload (same driver-normalization fix as
    # window_session): the sequential float64 state sum on 2-dp inputs is
    # within ~1e-9 of the exact cents integer, so nearest-integer rounding
    # of value×100 lands exactly — emitted as BIGINT on both sides
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        _scaled_bigint(F.col("session_value")).alias("session_cents"),
    )


def q_stream_window_agg(spark, sf_dir):
    """SURVEY §2.11 built-in streaming windowed aggregation — watermarked
    event-time tumbling windows (streaming/incremental.py
    tumbling_window_agg) run to completion via ``Trigger.AvailableNow`` in
    append mode. Append emits exactly the windows whose END the final
    watermark (max event ts − 1 hour) has passed; the oracle reproduces
    that cutoff. Sums are decimal integer cents — float-free payload."""
    from .streaming.incremental import tumbling_window_agg

    stream, run_root = _events_stream(spark, sf_dir, "oslspark_twagg_")
    agg = tumbling_window_agg(stream, window="1 day", watermark="1 hour")
    return _run_to_memory_sink(spark, agg, "oslspark_twagg", run_root)


def q_stream_dedup(spark, sf_dir):
    """SURVEY §2.11 — watermarked STREAMING dedup: exactly-once landing
    of an at-least-once feed (the ingestion-side analog of the batch
    dedup family). The source directory carries the events table THREE
    times; ``dropDuplicates`` over all columns under a 1-hour watermark
    collapses the replays with bounded state (closed-watermark state is
    evicted — dropping a late copy IS the dedup), run to completion via
    ``Trigger.AvailableNow``. Duplicate rows are byte-identical, so the
    kept row is deterministic and the oracle is the per-type aggregate
    of SELECT DISTINCT. A failed dedup is unmissable: every count
    triples."""
    from .streaming.incremental import dedup_stream

    stream, run_root = _events_stream(spark, sf_dir, "oslspark_sdedup_", n_copies=3)
    deduped = dedup_stream(stream, watermark="1 hour")
    return (
        _run_to_memory_sink(spark, deduped, "oslspark_sdedup", run_root)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")) * 100, 0)
            .cast("long")
            .alias("cents"),
        )
    )


def q_sim_ivf_build(spark, sf_dir):
    """IVF index BUILD (deterministic Lloyd k-means, similarity.ivf_build)
    — cell-size histogram of the built index. The oracle replicates the
    deterministic Lloyd loop in numpy at registration time and embeds the
    final centroids as SQL literals (``_ivf_oracle_sql``); the Spark-vs-
    numpy training equivalence is pinned by tests/test_ivf.py."""
    assigned, _ = similarity.ivf_build(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2
    )
    return assigned.groupBy("cell").agg(F.count("*").alias("n_vecs")).orderBy("cell")


def _fetch_fixture_dir(sf_dir: str, digest: str) -> str:
    """Deterministic on-disk fixture location for ``src_fetch_retry``,
    keyed by sf name AND a content digest of the source slice: the path
    is a pure function of the corpus contents, so a regenerated parquet
    lands in a fresh directory (stale dirs just linger — one per corpus
    version, a few hundred small files) and concurrent creators write
    identical bytes into the same digest-dir — a benign race with no
    delete anywhere. Shared between the Spark query and the DuckDB
    oracle — both must see the same files, so this is a stable path,
    not a per-run tmpdir."""
    import os

    name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(
        repo, "BENCH", "data", f"fetch_fixture_{name}_{digest[:12]}"
    )


def ensure_fetch_fixture(sf_dir: str) -> str:
    """Materialize the fetch work-list files: one text file per WORK-LIST
    document (``doc_id % 20 < 5`` with non-null text) EXCEPT those with
    ``doc_id % 3 == 0`` — deliberately missing so the retry/tag path has
    deterministic failures. File bytes are exactly the document's text
    (UTF-8), so the oracle can assert content straight from the parquet
    without reading files.

    The fixture DIRECTORY is keyed by a content digest of the source
    parquet's work-list slice (see :func:`_fetch_fixture_dir`): a
    regenerated documents.parquet resolves to a fresh directory instead
    of silently serving a stale corpus that would red-flag the fetch
    operator. Publication is ATOMIC: each creator builds under its own
    temp sibling and ``os.rename``-s the whole directory into place —
    never a truncate-rewrite of a file a concurrent run's executors may
    already be reading; the creator that loses the rename race discards
    its temp build, and any other rename failure is raised. The parquet
    read is one 2-column scan of the gate table — cheap at contract
    scale."""
    import hashlib
    import os
    import shutil
    import uuid

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = [
        (doc_id, text)
        for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        if text is not None and doc_id % 20 < 5
    ]
    h = hashlib.md5()
    for doc_id, text in rows:
        h.update(f"{doc_id}\x1f".encode())
        h.update(text.encode("utf-8"))
        h.update(b"\x1e")
    d = _fetch_fixture_dir(sf_dir, h.hexdigest())
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    tmp = f"{d}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    for doc_id, text in rows:
        if doc_id % 3 == 0:
            continue
        with open(os.path.join(tmp, f"doc_{doc_id}.txt"), "wb") as f:
            f.write(text.encode("utf-8"))
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    try:
        os.rename(tmp, d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        # only a rival's completed publish is a lost race (theirs is ours);
        # any other failure (EXDEV, EACCES, ...) must surface here
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            raise
    return d


def q_src_fetch_retry(spark, sf_dir):
    """SURVEY §2.1 src_html_http — the distributed retry-fetch acquisition
    source (sources/fetch.py, reference scrapingHelpers.py:118-164) made
    driver-verifiable WITHOUT network: the work list is ``file://`` URLs
    over fixture files carrying each document's exact text, with the
    ``doc_id % 3 == 0`` slice deliberately absent. Fetch runs through the
    same urllib path as https; present files yield ``(ok, 1 attempt,
    content)``, missing ones are a permanent failure, TAGGED ``(failed,
    1, NULL)`` without a retry — one output row per input row, never a
    drop. ``backoff_s=0`` pins determinism (and wall time)."""
    from .sources.fetch import fetch_with_retry

    d = ensure_fetch_fixture(sf_dir)
    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 20 < 5))
        .select(
            F.concat(
                F.lit(f"file://{d}/doc_"),
                F.col("doc_id").cast("string"),
                F.lit(".txt"),
            ).alias("url")
        )
    )
    out = fetch_with_retry(refs, max_retries=3, backoff_s=0.0)
    return out.select("url", "status", "attempts", "content")


def q_snk_parquet_roundtrip(spark, sf_dir):
    """SURVEY §2.1 snk_insert/snk_file — append sink + re-scan: write the
    joined dimension to parquet (the Iceberg-append stand-in,
    utilityFunctions.py:411-454), read it back, aggregate."""

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # per-run dir: concurrent contract runs must not clobber each other
    out = _run_tmpdir("oslspark_snk_roundtrip_")
    n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_name", "r_name"
    ).write.mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out).groupBy("r_name").agg(F.count("*").alias("n_nations"))
    )


def q_snk_snapshot_travel(spark, sf_dir):
    """SURVEY §2.1 sink family — snapshot versioning + time travel
    (Iceberg ``VERSION AS OF`` analog, sources/io.py write_snapshot /
    read_snapshot; the reference mutates one Postgres table in place and
    has no history). Seed v1 from customer, commit a modified v2, then
    time-travel-read BOTH versions and aggregate — v1 must still show the
    pre-update world."""

    from .sources import io as osl_io

    c = _t(spark, sf_dir, "customer")
    base = c.select("c_custkey", F.col("c_mktsegment").alias("seg"))
    out = _run_tmpdir("oslspark_snap_")
    v1 = osl_io.write_snapshot(base, out, "cust")
    updated = base.withColumn(
        "seg",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("MOVED")).otherwise(
            F.col("seg")
        ),
    )
    osl_io.write_snapshot(updated, out, "cust")
    s1 = (
        osl_io.read_snapshot(spark, out, "cust", version=v1)
        .groupBy("seg")
        .agg(F.count("*").alias("n"))
        .withColumn("version", F.lit(1))
    )
    s2 = (
        osl_io.read_snapshot(spark, out, "cust")  # latest == v2
        .groupBy("seg")
        .agg(F.count("*").alias("n"))
        .withColumn("version", F.lit(2))
    )
    return s1.unionByName(s2)


def q_src_xml_parse(spark, sf_dir):
    """SURVEY §2.1 src_xml — XML source parsing (reference reads USC titles
    from ``usc{NN}.xml`` with bs4, scrapeUSC.py:38-42). Spark-first: the
    landed XML strings are parsed with the JVM ``xpath``/``xpath_string``
    expression family — no Python worker, whole-stage-codegen friendly,
    and the parse runs distributed per row. The query builds one XML
    document per region from nation rows (element text + an attribute),
    then round-trips the fields back out through xpath; the oracle is the
    pre-serialization relation, so any parse infidelity breaks the hash."""
    n = _t(spark, sf_dir, "nation")
    docs = n.groupBy("n_regionkey").agg(
        F.concat(
            F.lit("<r>"),
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lit('<n k="'),
                            F.col("n_nationkey").cast("string"),
                            F.lit('">'),
                            F.col("n_name"),
                            F.lit("</n>"),
                        )
                    )
                ),
            ),
            F.lit("</r>"),
        ).alias("xml")
    )
    parsed = docs.select(
        F.col("n_regionkey").cast("bigint").alias("regionkey"),
        F.expr("xpath(xml, '/r/n/text()')").alias("names"),
        F.expr("xpath(xml, '/r/n/@k')").alias("keys"),
    )
    return parsed.select(
        "regionkey", F.explode(F.arrays_zip("names", "keys")).alias("z")
    ).select(
        "regionkey",
        F.col("z.names").alias("n_name"),
        F.col("z.keys").cast("bigint").alias("n_nationkey"),
    )


def q_src_html_parse(spark, sf_dir):
    """SURVEY §2.1 src_html_cached — cached-HTML source, parse layer
    (reference reads pre-downloaded ``data/title-N.html`` and walks the TOC
    div/anchor tree with BeautifulSoup, scrapeECFR.py:110-112,1212-1228).
    Acquisition stays out of scope per SURVEY; this exercises the parsing
    Spark-first: build one well-formed XHTML TOC document per nation from
    supplier rows (anchor list inside a classed div — the reference's TOC
    shape), then recover structured rows with the JVM ``xpath`` expression
    family plus an href ``regexp_extract`` — distributed per row, no
    Python worker, whole-stage-codegen friendly. The oracle is the
    pre-serialization relation, so any parse infidelity breaks the hash."""
    s = _t(spark, sf_dir, "supplier")
    docs = s.groupBy("s_nationkey").agg(
        F.concat(
            F.lit('<html><body><div class="toc">'),
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lit('<a href="/title/'),
                            F.col("s_suppkey").cast("string"),
                            F.lit('">'),
                            F.col("s_name"),
                            F.lit("</a>"),
                        )
                    )
                ),
            ),
            F.lit("</div></body></html>"),
        ).alias("html")
    )
    parsed = docs.select(
        F.col("s_nationkey").cast("bigint").alias("nationkey"),
        F.expr("xpath(html, '//div[@class=\"toc\"]/a/text()')").alias("names"),
        F.expr("xpath(html, '//div[@class=\"toc\"]/a/@href')").alias("hrefs"),
    )
    return parsed.select(
        "nationkey", F.explode(F.arrays_zip("names", "hrefs")).alias("z")
    ).select(
        "nationkey",
        F.col("z.names").alias("s_name"),
        F.regexp_extract(F.col("z.hrefs"), r"/title/(\d+)$", 1)
        .cast("bigint")
        .alias("s_suppkey"),
    )


def q_snk_upsert_merge(spark, sf_dir):
    """SURVEY §2.1 snk_update/snk_upsert — keyed MERGE sink (reference
    pydantic_upsert try-insert-on-conflict-update, utilityFunctions.py:
    582-612): seed a table from customer, upsert a modified subset through
    ``sources.io.upsert_table`` (anti-join + union — the parquet stand-in
    for Iceberg MERGE INTO), re-scan the committed files and aggregate.
    Balance sums are emitted as integer cents (decimal sum, then bigint) so
    the hashed payload survives any float normalization."""

    from .sources import io as osl_io

    c = _t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    out_dir = _run_tmpdir("oslspark_upsert_")
    osl_io.write_table(base, out_dir, "cust")
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("seg"),
        (F.col("c_acctbal") + 100).alias("bal"),
    )
    osl_io.upsert_table(spark, updates, out_dir, "cust", key="c_custkey")
    merged = spark.read.parquet(f"{out_dir}/cust")
    return merged.groupBy("seg").agg(
        F.count("*").alias("n_rows"),
        _scaled_bigint(
            F.sum(F.col("bal").cast("decimal(18,6)"))
        ).alias("bal_cents"),
    )


def q_agg_node_text(spark, sf_dir):
    """Per-node document text from the pipeline op ``extract.node_text_agg``
    (reference NodeText.to_list_text, pydanticModels.py:290-296), with
    ``events`` mapped onto its derived-turn columns: a user's events in
    ``(ts, event_id)`` order are one conversation, a signup is a node row
    (``node_id`` set) that opens the scope ``<user_id>/<event_id>`` (events
    before a user's first signup fall under ``<user_id>/-1``), every other
    event is a content turn, and an error event reads as a ``Note:`` trailer,
    so the last one under a node is peeled off as its addendum."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scope = F.last(
        F.when(F.col("event_type") == "signup", F.col("event_id")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    node = F.concat_ws(
        "/", F.col("user_id").cast("string"), F.coalesce(scope, F.lit(-1)).cast("string")
    )
    derived = e.select(
        node.alias("current_node"),
        F.when(F.col("event_type") == "signup", node).alias("node_id"),
        F.row_number().over(w).alias("ord"),
        F.when(
            F.col("event_type") == "error",
            F.concat(F.lit("Note: error "), F.col("event_id").cast("string")),
        )
        .otherwise(F.col("event_type"))
        .alias("clean_text"),
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
    )
    return extract.node_text_agg(derived).select(
        "node_id", "node_addendum", "node_text", "n_paragraphs"
    )


def q_prj_citation_node(spark, sf_dir):
    """Citation from the node-id PATH (reference
    create_citation_from_level_classifier, scrapeECFR.py:1174-1210) as the
    KG build makes it: extract.derive_nodes_stream mints the ids and stamps
    each with rules.node_citation, and extract.nodes_table reads it. One
    minted conversation per order: a ``Title <o % 5 + 1>`` turn (repeated
    on every line item, so the derive's turn dedup keeps one), a
    ``Section <line>`` turn per line item, and a repeated ``Section`` turn
    on even lines, where the derive mints a ``-v_2`` id (the citation
    strips the tag); the conversation root has no citation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber").distinct()
    ln = F.col("l_linenumber").cast("int")
    title = F.concat(F.lit("Title "), (F.col("l_orderkey") % 5 + 1).cast("string"))
    section = F.concat(F.lit("Section "), ln.cast("string"))
    turns = F.array(
        *(
            F.struct(idx.alias("turn_idx"), text.alias("text"))
            for idx, text in ((F.lit(0), title), (ln * 2 - 1, section), (ln * 2, section))
        )
    )
    transcripts = li.select(
        F.col("l_orderkey").cast("string").alias("conv_id"),
        F.inline(F.when(ln % 2 == 0, turns).otherwise(F.slice(turns, 1, 2))),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    derived = extract.derive_nodes_stream(transcripts)
    return extract.nodes_table(derived).select("node_id", "citation")


def q_join_defs_closure(spark, sf_dir):
    """Definition-scope closure through the REAL pipeline operator
    (defscope.applicable_definitions — reference fetch_definitions ancestor
    walk, pydanticModels.py:654-757): nodes minted from lineitem keys,
    order-level definitions on every 10th order, line-level overrides on
    odd lines; the closest scope must win per term. Plan: bounded prefix
    explode + broadcast dictionary join + one argmax exchange."""
    li = _t(spark, sf_dir, "lineitem")
    nodes = li.select(
        F.concat(
            F.lit("order="),
            F.col("l_orderkey").cast("string"),
            F.lit("/line="),
            F.col("l_linenumber").cast("string"),
        ).alias("node_id")
    )
    defs_order = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.concat(F.lit("order="), F.col("o_orderkey").cast("string")).alias(
                "current_node"
            ),
            F.lit("status").alias("term"),
            F.col("o_orderstatus").alias("definition"),
            F.lit("quoted").alias("kind"),
            F.lit(0).alias("turn_idx"),
        )
    )
    defs_line = li.filter(F.col("l_linenumber") % 2 == 1).select(
        F.concat(
            F.lit("order="),
            F.col("l_orderkey").cast("string"),
            F.lit("/line="),
            F.col("l_linenumber").cast("string"),
        ).alias("current_node"),
        F.lit("status").alias("term"),
        F.col("l_linestatus").alias("definition"),
        F.lit("quoted").alias("kind"),
        F.lit(0).alias("turn_idx"),
    )
    out = defscope.applicable_definitions(
        nodes, defs_order.unionByName(defs_line)
    )
    return out.select("node_id", "term", "definition", "def_scope")


# Queries with NO SQL oracle by design (the driver records a rows-only
# check): genuinely non-SQL-expressible ops. Everything else MUST have an
# ORACLE_SQL entry — pinned by tests/test_contract_registry.py.
ROWS_ONLY: set[str] = set()

# The driver's correctness gate checks exactly this many leading dict
# entries per round.
DRIVER_WINDOW = 50

# Keys that still lack a green driver CORRECTNESS row (red or never
# checked) — these MUST sit inside the first DRIVER_WINDOW positions.
# Maintained per round from the latest CORRECTNESS_r*.json. After r4 the
# board is fully green; the only entry is this round's new query.
NEVER_DRIVER_VERIFIED: list[str] = [
    "src_fetch_retry",  # new in r5: file://-based retry-fetch contract row
    "mm_decode_real",  # new in r5: real BMP/WAV decode vs formula oracle
    "mm_resize_real",  # new in r5: resize over genuinely decoded pixels
    "ta_boilerplate",  # new in r5: cross-doc boilerplate line removal
    "smp_pack_budget_sharded",  # new in r5: two-phase packing vs same oracle
    "stream_dedup",  # new in r5: watermarked streaming dedup (3x replay)
]

# Dict ORDER is part of the driver contract: the driver's correctness gate
# checks exactly the FIRST 50 entries per round. Ordering policy (pinned by
# tests/test_contract_registry.py):
#   1. PRIORITY block — queries with no green driver row yet come first;
#   2. STALEST-GREEN blocks — queries whose latest green driver row is
#      oldest (r1/r2, then r3) fill the window, so most-recent
#      verification ages stay bounded. Exception: a stale-green query may
#      yield its refresh slot to a brand-new contract row when its
#      semantics are trivial and pytest-pinned (set_except did, for
#      stream_dedup — its r1/r2 greens + the EXCEPT pytest stand);
#   3. TOUCHED block — r4-green queries whose operators changed in round 5
#      (the sampling rewrite) re-earn a fresh row;
#   4. ROTATED block (position >50) — queries whose standing driver rows
#      (r4 for most, r1/r2 for the noted exception) are their history.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- priority: no green driver row yet (driver checks first 50 only) ---
    "src_fetch_retry": q_src_fetch_retry,
    "mm_decode_real": q_mm_decode_real,
    "mm_resize_real": q_mm_resize_real,
    "ta_boilerplate": q_ta_boilerplate,
    "stream_dedup": q_stream_dedup,
    # -- stalest green first (latest row r1/r2): refresh before history ----
    # -- ages past two rounds ----------------------------------------------
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_simhash": q_dedup_simhash,
    "sim_topk_cosine": q_sim_topk_cosine,
    "sim_topk_ivf": q_sim_topk_ivf,
    "enrich_hash_embed": q_enrich_hash_embed,
    "ta_quality": q_ta_quality,
    "ta_langid": q_ta_langid,
    "ta_fingerprint": q_ta_fingerprint,
    "ta_tokens": q_ta_tokens,
    "window_running": q_window_running,
    "ta_tokens_bpe": q_ta_tokens_bpe,
    "window_tumbling": q_window_tumbling,
    "agg_count_by_level": q_agg_count_by_level,
    "agg_children_collect": q_agg_children_collect,
    "agg_text_concat": q_agg_text_concat,
    "sort_topk": q_sort_topk,
    "prj_text_clean": q_prj_text_clean,
    "flt_status_classify": q_flt_status_classify,
    "id_algebra": q_id_algebra,
    "agg_cube_level_status": q_agg_cube_level_status,
    "join_semi": q_join_semi,
    "flt_unprocessed": q_flt_unprocessed,
    "join_defs_scope": q_join_defs_scope,
    # -- latest green r3 ---------------------------------------------------
    "flt_class_allow": q_flt_class_allow,
    "flt_disallowed_class": q_flt_disallowed_class,
    "join_incoming_refs": q_join_incoming_refs,
    "agg_siblings": q_agg_siblings,
    "prj_citation": q_prj_citation,
    "prj_number_extract": q_prj_number_extract,
    "set_intersect": q_set_intersect,
    "set_union_hubs": q_set_union_hubs,
    "dedup_skip": q_dedup_skip,
    "sort_pop_last": q_sort_pop_last,
    "agg_distinct_sources": q_agg_distinct_sources,
    "agg_usage_cost": q_agg_usage_cost,
    "topk_per_group": q_topk_per_group,
    "src_json_parse": q_src_json_parse,
    "mm_metadata": q_mm_metadata,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_resize": q_mm_resize,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    # -- r4-green queries whose operators round 5 touched (sampling) -------
    "smp_stratified": q_smp_stratified,
    "smp_pack_budget_sharded": q_smp_pack_budget_sharded,
    # -- rotated (position >50): r4-green driver rows stand as history -----
    # (set_except yields its refresh slot to the new stream_dedup row; its
    # r1/r2 greens + the EXCEPT pytest stand.)
    "set_except": q_set_except,
    "smp_pack_budget": q_smp_pack_budget,
    "graph_pagerank": q_graph_pagerank,
    "graph_label_prop": q_graph_label_prop,
    "graph_bfs_khop": q_graph_bfs_khop,
    "window_session": q_window_session,
    "agg_total_rows": q_agg_total_rows,
    "sim_ivf_build": q_sim_ivf_build,
    "enrich_multi_embed": q_enrich_multi_embed,
    "join_entity_link_ladder": q_join_entity_link_ladder,
    "dedup_cluster_keep": q_dedup_cluster_keep,
    "ta_c4_clean": q_ta_c4_clean,
    "join_range_bucketed": q_join_range_bucketed,
    "graph_triangles": q_graph_triangles,
    "join_interval_overlap": q_join_interval_overlap,
    "join_asof": q_join_asof,
    "ta_tfidf_topk": q_ta_tfidf_topk,
    "prj_br_strip": q_prj_br_strip,
    "agg_refhub_merge": q_agg_refhub_merge,
    "dedup_paragraph": q_dedup_paragraph,
    "sort_paragraph_index": q_sort_paragraph_index,
    "agg_rollup_region_nation": q_agg_rollup_region_nation,
    "window_lead": q_window_lead,
    "snk_parquet_roundtrip": q_snk_parquet_roundtrip,
    "snk_upsert_merge": q_snk_upsert_merge,
    "src_xml_parse": q_src_xml_parse,
    "src_html_parse": q_src_html_parse,
    "ta_vocab_topk": q_ta_vocab_topk,
    "smp_split_hash": q_smp_split_hash,
    "stream_window_agg": q_stream_window_agg,
    "snk_snapshot_travel": q_snk_snapshot_travel,
    "ta_repetition": q_ta_repetition,
    "ta_redact": q_ta_redact,
    "smp_decontaminate": q_smp_decontaminate,
    "enrich_quantize": q_enrich_quantize,
    "src_toc_file": q_src_toc_file,
    "stream_sessionize": q_stream_sessionize,
    "prj_date_math": q_prj_date_math,
    "agg_percentile": q_agg_percentile,
    "agg_grouping_sets": q_agg_grouping_sets,
    "agg_node_text": q_agg_node_text,
    "prj_citation_node": q_prj_citation_node,
    "join_defs_closure": q_join_defs_closure,
    "sim_ann_lsh": q_sim_ann_lsh,
    "join_entity_link": q_join_entity_link,
    "join_hierarchy_rank": q_join_hierarchy_rank,
    "join_orphan_anti": q_join_orphan_anti,
    "join_parent_exists": q_join_parent_exists,
    "cc_alias": q_cc_alias,
    "dedup_version": q_dedup_version,
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same column names; doubles rounded identically)
# ---------------------------------------------------------------------------

# the definition of ngram_jaccard_pairs: the rounded shingle Jaccard of
# every pair that shares a shingle (a pair sharing none has Jaccard 0);
# _minhash_sql verifies its LSH candidates against the same jac
_JACCARD_CTE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
    [array_to_string(w[i:i+2], ' ') FOR i IN range(1, greatest(len(w)-1, 2))],
    s -> length(s) > 0
  ))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b,
         round(inter * 1.0 / (sa.sz + sb.sz - inter), 3) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
"""


# Sentinel value in ORACLE_SQL for oracles that must be trained on the
# gate-scale data at CALL time (not import time) — resolved by
# resolve_oracle_sql(). Keeping the sentinel in the static dict keeps the
# registry-shape tests (query<->oracle set equality) on plain dict
# semantics.
_LAZY_IVF_ORACLE = "__lazy__:sim_ivf_build"
_LAZY_FETCH_ORACLE = "__lazy__:src_fetch_retry"

# Materialized lazy oracles, keyed by (name, sf_dir).
_LAZY_ORACLE_CACHE: dict[tuple[str, str], str] = {}


def resolve_oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """The ORACLE_SQL registry with data-DEPENDENT oracles materialized.

    ``sim_ivf_build``'s oracle embeds a k-means model trained on the gate
    data, and ``src_fetch_retry``'s embeds the fixture-file directory it
    materializes, so neither can be a static string: resolving at import
    time would (a) make ``import queries`` fail on any host without the
    gate parquet and (b) freeze the oracle to one dataset while the Spark
    side follows the runtime ``sf_dir``. This resolves them lazily
    against ``sf_dir`` (default: ``$SPARK_GRAFT_ORACLE_SF_DIR`` or the
    driver's gate scale sf0.01), cached per directory."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    out = dict(ORACLE_SQL)
    lazy = {
        "sim_ivf_build": (_LAZY_IVF_ORACLE, _ivf_oracle_sql),
        "src_fetch_retry": (_LAZY_FETCH_ORACLE, _fetch_oracle_sql),
    }
    for name, (sentinel, build) in lazy.items():
        if out.get(name) == sentinel:
            key = (name, sf_dir)
            if key not in _LAZY_ORACLE_CACHE:
                _LAZY_ORACLE_CACHE[key] = build(sf_dir)
            out[name] = _LAZY_ORACLE_CACHE[key]
    return out


def _fetch_oracle_sql(sf_dir: str) -> str:
    """DuckDB oracle for ``src_fetch_retry``: the expected fetch result is
    a pure function of the documents table and the fixture rule — present
    files (written by ``ensure_fetch_fixture`` with the document's exact
    UTF-8 text) fetch ok on the first attempt with that text as content;
    the deliberately-missing ``doc_id % 3 == 0`` slice is a permanent
    failure, tagged after its first attempt with NULL content.
    Asserting content from the PARQUET (not by re-reading the files)
    makes this a genuine cross-check of the urllib read path: a fixture
    writer bug would surface as a Spark-vs-oracle content mismatch."""
    d = ensure_fetch_fixture(sf_dir)
    return f"""
        SELECT 'file://{d}/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS url,
               CASE WHEN doc_id % 3 = 0 THEN 'failed' ELSE 'ok' END AS status,
               CAST(1 AS INTEGER) AS attempts,
               CASE WHEN doc_id % 3 = 0 THEN NULL ELSE text END AS content
        FROM documents
        WHERE text IS NOT NULL AND doc_id % 20 < 5
    """


def _ivf_oracle_sql(sf_dir: str, k: int = 8, iters: int = 2) -> str:
    """DuckDB oracle for ``sim_ivf_build``, the `_ann_lsh_sql` pattern
    extended to a data-DEPENDENT model: replicate the deterministic Lloyd
    loop (init = k smallest vec_id, expanded-form L2 argmin assignment,
    per-cell mean update, empty cells keep their centroid) in numpy over
    ``sf_dir``'s parquet at resolve time, then embed the FINAL centroids
    as SQL literals so the oracle itself computes each vector's
    argmin-distance cell and aggregates the histogram.

    The centroids are a trained model, so the oracle is only valid against
    the same ``sf_dir`` the Spark side reads — resolve_oracle_sql() keeps
    the two in lock-step (training at import time would also break every
    import on a host without the gate parquet). The Spark-vs-numpy
    training equivalence is separately pinned by tests/test_ivf.py; argmin
    ties break to the first (lowest) cell on both sides (np.argmin /
    list_indexof-of-min).
    """
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.array(tbl["vec_id"].to_pylist())
    V_all = tbl["embedding"].to_pylist()
    keep = np.array([v is not None for v in V_all])
    ids = ids[keep]
    V = np.array([v for v in V_all if v is not None], dtype=np.float64)
    order = np.argsort(ids)
    kk = min(k, len(ids))
    C = V[order[:kk]].copy()

    def _d2(V, C):
        return (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]

    for _ in range(iters):
        cell = np.argmin(_d2(V, C), axis=1)
        for j in range(kk):
            if (cell == j).any():
                C[j] = V[cell == j].mean(axis=0)

    def _dot(c):
        lits = ", ".join(repr(float(x)) for x in c)
        return (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )

    d2_exprs = ",\n               ".join(
        f"vv - 2.0 * {_dot(c)} + {float((c * c).sum())!r}" for c in C
    )
    return f"""
        WITH base AS (
          SELECT vec_id, embedding,
                 list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS vv
          FROM embeddings WHERE embedding IS NOT NULL
        ), d AS (
          SELECT vec_id,
               [{d2_exprs}] AS d2
          FROM base
        )
        SELECT CAST(list_indexof(d2, list_min(d2)) - 1 AS INTEGER) AS cell,
               count(*) AS n_vecs
        FROM d GROUP BY 1
    """


def _ann_lsh_sql(n_planes: int = 4, dim: int = 64, threshold: float = 0.30) -> str:
    def dot_plane(p):
        lits = ", ".join(repr(x) for x in p)
        return (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )

    bucket = " || ".join(
        f"(CASE WHEN {dot_plane(p)} > 0 THEN '1' ELSE '0' END)"
        for p in similarity.lsh_planes(n_planes, dim)
    )
    return f"""
        WITH bk AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {{cos}} AS cos
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {{cos}} >= {threshold}
    """

def _minhash_sql(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    params = [(2 * i + 1, 7919 * (i + 1) % 2147483647) for i in range(num_perm)]
    mins = ", ".join(
        f"min(({a} * h + {b}) % 2147483647) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    rpb = num_perm // bands
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            bi=bi,
            cols=", ".join(f"CAST(mh{bi * rpb + r} AS VARCHAR)" for r in range(rpb)),
        )
        for bi in range(bands)
    )
    return _JACCARD_CTE + f""", hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h FROM sh
), sig AS (
  SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
), banded AS (
  {band_selects}
), cands AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)
SELECT c.doc_a, c.doc_b, j.jaccard
FROM cands c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
WHERE j.jaccard >= {threshold}
"""


_COS_EXPR = """
round(
  list_sum(list_transform(list_zip(a.embedding, b.embedding),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  3)
"""

ORACLE_SQL: dict[str, str] = {
    "agg_count_by_level": """
        SELECT l_returnflag || '/' || l_linestatus AS level_classifier,
               count(*) AS n
        FROM lineitem GROUP BY 1
    """,
    "join_orphan_anti": """
        SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS node_id,
               'c' || CAST(o_custkey AS VARCHAR) AS parent
        FROM orders
        WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 4 != 0)
    """,
    "join_entity_link": """
        SELECT p_brand, count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "join_hierarchy_rank": """
        SELECT event_id,
               last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup_id
        FROM events
    """,
    "dedup_version": """
        SELECT CASE WHEN rn = 1 THEN CAST(l_orderkey AS VARCHAR)
                    ELSE CAST(l_orderkey AS VARCHAR) || '-v_' || CAST(rn AS VARCHAR)
               END AS versioned_id, l_orderkey, l_linenumber
        FROM (SELECT l_orderkey, l_linenumber,
                     row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
              FROM lineitem)
    """,
    "agg_children_collect": """
        SELECT CAST(o_custkey AS VARCHAR) AS node_id,
               string_agg(CAST(o_orderkey AS VARCHAR), ','
                          ORDER BY o_orderkey % 7, CAST(o_orderkey AS VARCHAR))
                 AS children
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
    """,
    "agg_text_concat": """
        SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq
        FROM events GROUP BY user_id
    """,
    "sort_topk": """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders ORDER BY price DESC, o_orderkey LIMIT 10
    """,
    "set_except": """
        SELECT o_orderkey FROM orders
        EXCEPT
        SELECT l_orderkey FROM lineitem
        ORDER BY o_orderkey
    """,
    "prj_text_clean": """
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(
                 replace(replace(replace(text, chr(8212), '-'), chr(8211), '-'), chr(160), ' '),
                 '<[^<>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS clean_text
        FROM documents
    """,
    "flt_status_classify": """
        SELECT doc_id,
               CASE WHEN regexp_matches(text, '\\bslow\\b') THEN 'flag_slow'
                    WHEN regexp_matches(text, '\\berror\\b') THEN 'flag_error'
                    ELSE 'valid' END AS status
        FROM documents
    """,
    "id_algebra": """
        SELECT concat('order=', CAST(l_orderkey AS VARCHAR), '/line=',
                      CAST(l_linenumber AS VARCHAR)) AS node_id,
               concat('order=', CAST(l_orderkey AS VARCHAR)) AS parent_id,
               concat('line=', CAST(l_linenumber AS VARCHAR)) AS current_level
        FROM lineitem
    """,
    "window_running": """
        SELECT event_id, user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ord
        FROM events
    """,
    "agg_cube_level_status": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "join_semi": """
        SELECT DISTINCT p_brand FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
        ORDER BY p_brand
    """,
    "window_tumbling": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "flt_unprocessed": """
        SELECT event_type, count(*) AS n_pending
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
        GROUP BY event_type
    """,
    "cc_alias": """
        WITH verts AS (
          SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS member,
                 user_id % 7 AS grp FROM events
          UNION
          SELECT DISTINCT 'e' || CAST(event_id AS VARCHAR), user_id % 7 FROM events
          UNION
          SELECT DISTINCT 'g' || CAST(user_id % 7 AS VARCHAR), user_id % 7 FROM events
        ), canon AS (SELECT grp, min(member) AS canonical FROM verts GROUP BY grp)
        SELECT v.member, c.canonical FROM verts v JOIN canon c USING (grp)
    """,
    "join_defs_scope": """
        SELECT concat('order=', CAST(l_orderkey AS VARCHAR), '/line=',
                      CAST(l_linenumber AS VARCHAR)) AS node_id,
               concat('order=', CAST(l_orderkey AS VARCHAR)) AS hub_scope
        FROM lineitem WHERE l_orderkey % 10 = 0
    """,
    "join_incoming_refs": """
        SELECT event_type AS node_id,
               string_agg(DISTINCT CAST(user_id AS VARCHAR), ','
                          ORDER BY CAST(user_id AS VARCHAR)) AS incoming_refs
        FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY event_type
    """,
    "agg_siblings": """
        SELECT CAST(a.o_orderkey AS VARCHAR) AS node_id,
               coalesce(string_agg(CAST(b.o_orderkey AS VARCHAR), ','
                                   ORDER BY b.o_orderkey % 7,
                                            CAST(b.o_orderkey AS VARCHAR)), '')
                 AS siblings
        FROM orders a LEFT JOIN orders b
          ON a.o_custkey = b.o_custkey AND a.o_orderkey != b.o_orderkey
        WHERE a.o_custkey IS NOT NULL
        GROUP BY a.o_orderkey
    """,
    "prj_citation": """
        SELECT event_id,
               CASE WHEN event_type = 'purchase'
                    THEN printf('%d U.S.C. § %d', user_id, event_id)
                    WHEN event_type = 'view'
                    THEN printf('%d CFR Part %d', user_id, event_id)
                    ELSE printf('id %d, note %d', user_id, event_id)
               END AS citation
        FROM events
    """,
    "prj_number_extract": """
        SELECT doc_id,
               coalesce(regexp_extract(text, '([0-9]+)', 1), '') AS first_number,
               regexp_replace(trim(text), '[.,;:]+$', '') AS no_trailing_punct
        FROM documents
    """,
    "set_intersect": """
        SELECT n_name FROM nation
        WHERE n_nationkey IN (SELECT s_nationkey FROM supplier
                              INTERSECT SELECT c_nationkey FROM customer)
        ORDER BY n_name
    """,
    "set_union_hubs": """
        SELECT nk, min(origin) AS winner FROM (
          SELECT DISTINCT s_nationkey AS nk, 'supplier' AS origin FROM supplier
          UNION ALL
          SELECT DISTINCT c_nationkey, 'customer' FROM customer
        ) GROUP BY nk
    """,
    "dedup_skip": """
        SELECT l_orderkey, l_linenumber, l_partkey
        FROM (SELECT l_orderkey, l_linenumber, l_partkey,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber, l_partkey) AS rn
              FROM lineitem)
        WHERE rn = 1
    """,
    "sort_pop_last": """
        SELECT l_orderkey,
               max_by(l_partkey, l_linenumber * 10000000 + l_partkey)
                 AS popped_partkey,
               max(l_linenumber) AS popped_index,
               count(*) - 1 AS n_remaining
        FROM lineitem GROUP BY l_orderkey
    """,
    "agg_distinct_sources": """
        SELECT DISTINCT source FROM documents ORDER BY source
    """,
    "agg_usage_cost": """
        SELECT event_type,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))
                              * CASE WHEN event_type = 'purchase'
                                       THEN CAST(0.0300 AS DECIMAL(6,4))
                                     WHEN event_type = 'view'
                                       THEN CAST(0.0010 AS DECIMAL(6,4))
                                     ELSE CAST(0.0001 AS DECIMAL(6,4)) END),
                          3) AS DOUBLE) AS cost,
               count(*) AS n_calls
        FROM events GROUP BY event_type
    """,
    "topk_per_group": """
        SELECT c_mktsegment, o_orderkey, price, rk FROM (
          SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS price,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY round(o_totalprice, 2) DESC,
                                             o_orderkey) AS rk
          FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rk <= 3
    """,
    "src_json_parse": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               json_object('t', event_type) AS packed
        FROM events
    """,
    "window_session": """
        WITH flagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          -- CAST is load-bearing: DuckDB sum(int) is HUGEINT, which the
          -- driver's pandas conversion renders as float64 ("3.000000" vs
          -- Spark's "3") — the sole cause of three rounds of hash-red here
          SELECT user_id, value,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
          FROM flagged
        )
        SELECT user_id, session_no, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
                 AS session_cents
        FROM sess GROUP BY user_id, session_no
    """,
    "mm_metadata": """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
               16 + octet_length(encode(text)) AS n_bytes,
               'fake' AS codec,
               CAST(n_chars % 64 + 1 AS INT) AS width,
               CAST(doc_id % 32 + 1 AS INT) AS height
        FROM documents
    """,
    "mm_resize": """
        WITH meta AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'image'
                      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
                 CAST(n_chars % 64 + 1 AS INT) AS width,
                 CAST(doc_id % 32 + 1 AS INT) AS height
          FROM documents
        ), scaled AS (
          SELECT doc_id, width, height,
                 least(16.0 / width, 16.0 / height) AS s
          FROM meta WHERE media_type = 'image'
        )
        SELECT doc_id, width, height,
               round(s, 4) AS scale,
               CAST(greatest(floor(width * s), 1) AS INT) AS out_w,
               CAST(greatest(floor(height * s), 1) AS INT) AS out_h
        FROM scaled
    """,
    "mm_frame_sample": """
        WITH vids AS (
          SELECT doc_id, text, octet_length(encode(text)) AS body_len
          FROM documents WHERE doc_id % 3 = 2
        ), offs AS (
          SELECT doc_id, text, unnest(range(0, greatest(body_len - 8, 0) + 1, 64))
                   AS band_offset
          FROM vids
        )
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY band_offset) - 1
                    AS INT) AS frame_idx,
               -- byte-accurate slice (hex->substr->unhex): the Spark side
               -- slices the binary column byte-wise, and character-based
               -- substring(text, ...) would diverge on non-ASCII text
               base64(unhex(substr(hex(encode(text)),
                                   CAST(band_offset AS INT) * 2 + 1, 16)))
                 AS frame_b64
        FROM offs
    """,
    # Real-codec decode: every decoded pixel/sample equals the closed-form
    # synthesis rule (multimodal._bmp_bytes/_wav_bytes docstrings) — the
    # oracle derives the expected values from doc_id alone, so any error in
    # the byte-level encode→decode roundtrip (BGR order, row flip, padding,
    # chunk walk) shows up as a value mismatch.
    "mm_decode_real": """
        WITH img AS (
          SELECT doc_id, CAST(doc_id % 5 + 1 AS INT) AS width,
                 CAST(doc_id % 3 + 1 AS INT) AS height
          FROM documents WHERE doc_id % 2 = 0
        ), ipix0 AS (
          SELECT doc_id, width, height,
                 unnest(range(0, CAST(width * height AS BIGINT))) AS i
          FROM img
        ), ipix AS (
          SELECT doc_id, 'image' AS kind, CAST(NULL AS INT) AS sample_rate,
                 width, height,
                 CAST(i * 3 + ch.c AS INT) AS idx,
                 CAST(CASE ch.c
                      WHEN 0 THEN (doc_id * 7 + i * 3) % 256
                      WHEN 1 THEN (doc_id * 11 + i * 5) % 256
                      ELSE (doc_id * 13 + i * 7) % 256 END AS BIGINT) AS value
          FROM ipix0 CROSS JOIN (VALUES (0), (1), (2)) ch(c)
        ), aud0 AS (
          SELECT doc_id, unnest(range(0, CAST(doc_id % 9 + 4 AS BIGINT))) AS i
          FROM documents WHERE doc_id % 2 = 1
        ), asamp AS (
          SELECT doc_id, 'audio' AS kind, CAST(8000 AS INT) AS sample_rate,
                 CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
                 CAST(i AS INT) AS idx,
                 CAST((doc_id * 31 + i * 17) % 65536 - 32768 AS BIGINT) AS value
          FROM aud0
        )
        SELECT * FROM ipix UNION ALL SELECT * FROM asamp
    """,
    "mm_resize_real": """
        WITH img AS (
          SELECT doc_id, doc_id % 5 + 1 AS w, doc_id % 3 + 1 AS h
          FROM documents WHERE doc_id % 2 = 0
        ), jj AS (
          SELECT doc_id, w, h, unnest(range(0, 12)) AS j FROM img
        ), m AS (
          SELECT doc_id, CAST(j AS INT) AS idx, j % 3 AS c,
                 -- nearest-neighbor source pixel of out (x, y) in a 2x2 grid
                 (((j // 3) // 2) * h // 2) * w + (((j // 3) % 2) * w // 2) AS i,
                 w, h
          FROM jj
        )
        SELECT doc_id, idx,
               CAST(CASE c
                    WHEN 0 THEN (doc_id * 7 + i * 3) % 256
                    WHEN 1 THEN (doc_id * 11 + i * 5) % 256
                    ELSE (doc_id * 13 + i * 7) % 256 END AS BIGINT) AS value
        FROM m
    """,
    "dedup_exact": """
        SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_ngram_jaccard": _JACCARD_CTE
    + "SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.8",
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_cluster_keep": f"""
        WITH RECURSIVE pairs AS ({_minhash_sql()}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        lab AS (
          SELECT a AS doc_id, least(a, min(b)) AS canonical
          FROM reach GROUP BY a
        )
        SELECT d.doc_id,
               coalesce(l.canonical, d.doc_id) AS canonical_id,
               coalesce(l.canonical, d.doc_id) = d.doc_id AS is_kept
        FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
    """,
    "dedup_simhash": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM documents
        ), hashed AS (
          SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
          FROM toks WHERE length(tok) > 0
        ), votes AS (
          SELECT doc_id, bit,
                 sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM hashed, (SELECT unnest(range(0, 32)) AS bit)
          GROUP BY doc_id, bit
        )
        SELECT doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
        FROM votes GROUP BY doc_id
    """,
    "dedup_embedding_cosine": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_EXPR} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_EXPR} >= 0.35
    """,
    "sim_topk_cosine": f"""
        SELECT b.vec_id, {_COS_EXPR} AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id = 0) a
        JOIN embeddings b ON b.vec_id != 0
        ORDER BY cos DESC, b.vec_id LIMIT 10
    """,
    "sim_topk_ivf": f"""
        SELECT b.vec_id, {_COS_EXPR} AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id = 0) a
        JOIN embeddings b ON b.vec_id != 0 AND b.label = a.label
        ORDER BY cos DESC, b.vec_id LIMIT 10
    """,
    "sim_ann_lsh": _ann_lsh_sql().format(cos=_COS_EXPR),
    "sim_ivf_build": _LAZY_IVF_ORACLE,
    "src_fetch_retry": _LAZY_FETCH_ORACLE,
    "ta_c4_clean": """
        WITH built AS (
          SELECT doc_id,
                 -- concat_ws, NOT ||: both engines must SKIP null lines
                 -- (Spark's concat_ws drops null elements; || would
                 -- nullify the whole document on a null text row)
                 concat_ws(chr(10),
                   'The first line looks good.',
                   text || '.',
                   text,
                   'tiny.',
                   'This line uses javascript sadly.') AS t
          FROM documents
        ), ln AS (
          SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM built
        ), k AS (
          SELECT doc_id, t, lines,
                 list_filter(lines, l ->
                   regexp_matches(l, '[.!?"'']\\s*$')
                   AND len(string_split_regex(trim(l), '\\s+')) >= 3
                   AND NOT contains(lower(l), 'javascript')) AS kept
          FROM ln
        )
        SELECT doc_id,
               array_to_string(kept, chr(10)) AS clean_text,
               CAST(len(kept) AS INTEGER) AS n_lines_kept,
               CAST(len(lines) AS INTEGER) AS n_lines_total,
               (contains(lower(t), 'lorem ipsum') OR contains(lower(t), '{'))
                 AS doc_flagged
        FROM k
    """,
    "ta_boilerplate": """
        WITH built AS (
          SELECT doc_id,
                 concat_ws(chr(10), text, 'SHARED FOOTER', source) AS t
          FROM documents
        ), ln AS (
          SELECT doc_id,
                 unnest(range(len(string_split(t, chr(10))))) AS line_idx,
                 unnest(string_split(t, chr(10))) AS line
          FROM built
        ), boiler AS (
          SELECT line FROM ln WHERE trim(line) <> ''
          GROUP BY line HAVING count(DISTINCT doc_id) >= 3
        ), tagged AS (
          SELECT ln.doc_id, ln.line_idx, ln.line,
                 (b.line IS NOT NULL) AS is_boiler
          FROM ln LEFT JOIN boiler b USING (line)
        ), kept AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY line_idx) AS clean_text,
                 count(*) AS n_kept
          FROM tagged WHERE NOT is_boiler GROUP BY doc_id
        ), removed AS (
          SELECT doc_id, count(*) AS n_removed
          FROM tagged WHERE is_boiler GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(k.clean_text, '') AS clean_text,
               CAST(coalesce(k.n_kept, 0) AS INTEGER) AS n_lines_kept,
               CAST(coalesce(r.n_removed, 0) AS INTEGER) AS n_lines_removed
        FROM documents d
        LEFT JOIN kept k USING (doc_id)
        LEFT JOIN removed r USING (doc_id)
    """,
    "join_range_bucketed": """
        WITH iv AS (
          SELECT p_partkey, p_partkey * 5 AS lo, p_partkey * 5 + 12 AS hi
          FROM part
        ), pt AS (
          SELECT o_orderkey, o_orderkey % 100000 AS x FROM orders
        )
        SELECT iv.p_partkey,
               count(*) AS n_points,
               min(pt.o_orderkey) AS min_order,
               max(pt.o_orderkey) AS max_order
        FROM iv JOIN pt ON iv.lo <= pt.x AND pt.x < iv.hi
        GROUP BY iv.p_partkey
    """,
    "graph_pagerank": """
        WITH e AS (
          SELECT DISTINCT l_orderkey % 300 AS src, l_partkey % 300 AS dst
          FROM lineitem WHERE l_orderkey % 300 != l_partkey % 300
        ), nodes AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ), outdeg AS (
          SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src
        ), r0 AS (
          SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
        ), r1 AS (
          SELECT n.node,
                 CAST(150000 + (850000 * coalesce(i.incoming, 0)) // 1000000
                      AS BIGINT) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // o.outdeg) AS incoming
            FROM e JOIN r0 r ON r.node = e.src JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
          ) i ON i.node = n.node
        ), r2 AS (
          SELECT n.node,
                 CAST(150000 + (850000 * coalesce(i.incoming, 0)) // 1000000
                      AS BIGINT) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // o.outdeg) AS incoming
            FROM e JOIN r1 r ON r.node = e.src JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
          ) i ON i.node = n.node
        ), r3 AS (
          SELECT n.node,
                 CAST(150000 + (850000 * coalesce(i.incoming, 0)) // 1000000
                      AS BIGINT) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // o.outdeg) AS incoming
            FROM e JOIN r2 r ON r.node = e.src JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
          ) i ON i.node = n.node
        )
        SELECT node, rank FROM r3
    """,
    "graph_triangles": """
        WITH re AS (
          SELECT l_orderkey % 1000 AS s, l_partkey % 1000 AS d
          FROM lineitem
          WHERE l_orderkey % 1000 != l_partkey % 1000
            AND (l_orderkey + l_partkey) % 4 = 0
        ), und AS (
          SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM re
        ), nodes AS (
          SELECT u AS node FROM und UNION SELECT v FROM und
        ), tri AS (
          -- each triangle exactly once as a<b<c over the canonical edges
          SELECT ab.u AS a, ab.v AS b, bc.v AS c
          FROM und ab
          JOIN und bc ON bc.u = ab.v
          JOIN und ac ON ac.u = ab.u AND ac.v = bc.v
        ), corners AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        ), cnt AS (
          SELECT node, count(*) AS n FROM corners GROUP BY node
        )
        SELECT n.node, CAST(coalesce(c.n, 0) AS BIGINT) AS n_triangles
        FROM nodes n LEFT JOIN cnt c ON c.node = n.node
    """,
    "graph_label_prop": """
        WITH re AS (
          SELECT l_orderkey % 1000 AS s, l_partkey % 1000 AS d
          FROM lineitem
          WHERE l_orderkey % 1000 != l_partkey % 1000
            AND (l_orderkey + l_partkey) % 4 = 0
        ), e AS (
          SELECT DISTINCT s, d FROM re
        ), sym AS (
          SELECT s AS a, d AS b FROM e UNION SELECT d, s FROM e
        ), l0 AS (
          SELECT DISTINCT a AS node, a AS label FROM sym
        ), c1 AS (
          SELECT sym.a AS node, l.label, count(*) AS c
          FROM sym JOIN l0 l ON l.node = sym.b
          GROUP BY 1, 2
        ), l1 AS (
          SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                     PARTITION BY node ORDER BY c DESC, label ASC
                   ) AS rn
            FROM c1
          ) WHERE rn = 1
        ), c2 AS (
          SELECT sym.a AS node, l.label, count(*) AS c
          FROM sym JOIN l1 l ON l.node = sym.b
          GROUP BY 1, 2
        ), l2 AS (
          SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                     PARTITION BY node ORDER BY c DESC, label ASC
                   ) AS rn
            FROM c2
          ) WHERE rn = 1
        )
        SELECT node, CAST(label AS BIGINT) AS label FROM l2
    """,
    "join_interval_overlap": """
        WITH iv AS (
          SELECT p_partkey, p_partkey * 5 AS llo, p_partkey * 5 + 12 AS lhi
          FROM part
        ), ov AS (
          SELECT o_orderkey, o_orderkey % 100000 AS rlo,
                 o_orderkey % 100000 + 8 AS rhi
          FROM orders
        )
        SELECT iv.p_partkey,
               count(*) AS n_overlaps,
               min(ov.o_orderkey) AS min_order,
               max(ov.o_orderkey) AS max_order
        FROM iv JOIN ov ON iv.llo < ov.rhi AND ov.rlo < iv.lhi
                       -- empty intervals overlap nothing (operator
                       -- semantics; moot at these fixed widths but keeps
                       -- oracle and engine aligned on the edge case)
                       AND iv.lhi > iv.llo AND ov.rhi > ov.rlo
        GROUP BY iv.p_partkey
    """,
    "graph_bfs_khop": """
        WITH re AS (
          SELECT l_orderkey % 1000 AS s, l_partkey % 1000 AS d
          FROM lineitem
          WHERE l_orderkey % 1000 != l_partkey % 1000
            AND (l_orderkey + l_partkey) % 4 = 0
        ), e AS (
          SELECT DISTINCT s AS src, d AS dst FROM re
        ), d0 AS (
          SELECT unnest([0, 1, 2, 3, 4]) AS node
        ), f1 AS (
          SELECT DISTINCT e.dst AS node
          FROM d0 JOIN e ON e.src = d0.node
          WHERE e.dst NOT IN (SELECT node FROM d0)
        ), f2 AS (
          SELECT DISTINCT e.dst AS node
          FROM f1 JOIN e ON e.src = f1.node
          WHERE e.dst NOT IN (SELECT node FROM d0)
            AND e.dst NOT IN (SELECT node FROM f1)
        ), f3 AS (
          SELECT DISTINCT e.dst AS node
          FROM f2 JOIN e ON e.src = f2.node
          WHERE e.dst NOT IN (SELECT node FROM d0)
            AND e.dst NOT IN (SELECT node FROM f1)
            AND e.dst NOT IN (SELECT node FROM f2)
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(0 AS INTEGER) AS dist FROM d0
        UNION ALL SELECT node, 1 FROM f1
        UNION ALL SELECT node, 2 FROM f2
        UNION ALL SELECT node, 3 FROM f3
    """,
    "join_asof": """
        WITH ev AS (
          SELECT event_id, user_id % 20 AS key, ts FROM events
        ), q AS (
          SELECT o_custkey % 20 AS key, o_orderdate AS ts,
                 max(o_orderkey) AS quote
          FROM orders GROUP BY 1, 2
        ), j AS (
          SELECT ev.event_id, ev.key, q.quote,
                 row_number() OVER (
                   PARTITION BY ev.event_id
                   ORDER BY q.ts DESC, q.quote DESC
                 ) AS rn
          FROM ev LEFT JOIN q ON q.key = ev.key AND q.ts <= ev.ts
        )
        SELECT event_id, key, quote FROM j WHERE rn = 1
    """,
    "ta_tfidf_topk": """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM documents
        ), tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM toks
          WHERE tok IN ('dup', 'hash', 'join', 'vector')
          GROUP BY 1, 2
        ), dfc AS (
          SELECT tok, count(*) AS df FROM tf GROUP BY 1
        ), sc AS (
          SELECT tf.doc_id, sum(tf.tf * (1000000 // dfc.df)) AS score
          FROM tf JOIN dfc USING (tok) GROUP BY 1
        )
        SELECT d.doc_id, CAST(coalesce(sc.score, 0) AS BIGINT) AS score
        FROM documents d LEFT JOIN sc USING (doc_id)
        ORDER BY score DESC, d.doc_id
        LIMIT 20
    """,
    "smp_stratified": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 10000
              < CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 2500 ELSE 500 END
    """,
    "join_entity_link_ladder": """
        WITH m AS (
          SELECT o_orderkey,
                 'usc/title=' || CAST(o_orderkey % 50 AS VARCHAR) ||
                   '/section=' || CAST(o_custkey % 30 AS VARCHAR) AS raw_key,
                 'usc/title=' || CAST(o_orderkey % 50 AS VARCHAR) ||
                   '/section=' || lpad(CAST(o_custkey % 30 AS VARCHAR), 3, '0') AS k2,
                 'usc/title=' || CAST(o_orderkey % 50 AS VARCHAR) AS k3
          FROM orders
        ), al AS (
          -- alias_index: explode + first-writer-wins (min entity_id)
          SELECT alias_key, min(entity_id) AS entity_id FROM (
            SELECT 'usc/title=' || CAST(n_nationkey * 2 AS VARCHAR) ||
                     '/section=' || CAST(n_nationkey AS VARCHAR) AS alias_key,
                   'ent/' || n_name AS entity_id FROM nation
            UNION ALL
            SELECT 'usc/title=' || CAST(n_nationkey * 2 + 1 AS VARCHAR) ||
                     '/section=' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0'),
                   'ent/' || n_name FROM nation
            UNION ALL
            SELECT 'usc/title=' || CAST(n_nationkey + 25 AS VARCHAR),
                   'ent/' || n_name FROM nation
          ) GROUP BY 1
        )
        SELECT m.o_orderkey, m.raw_key,
               coalesce(a1.entity_id, a2.entity_id, a3.entity_id) AS entity_id,
               CASE WHEN a1.entity_id IS NOT NULL THEN 1
                    WHEN a2.entity_id IS NOT NULL THEN 2
                    WHEN a3.entity_id IS NOT NULL THEN 3 END AS link_priority
        FROM m
        LEFT JOIN al a1 ON a1.alias_key = m.raw_key
        LEFT JOIN al a2 ON a2.alias_key = m.k2
        LEFT JOIN al a3 ON a3.alias_key = m.k3
    """,
    "enrich_multi_embed": """
        WITH base AS (
          SELECT doc_id, text,
                 string_split_regex(trim(lower(text)), '\\s+') AS w_raw,
                 list_filter(
                   string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                   x -> length(x) > 0) AS toks,
                 list_filter(
                   string_split_regex(trim(lower(coalesce(source, ''))), '\\s+'),
                   x -> length(x) > 0) AS nw
          FROM documents
        ), cnt AS (
          SELECT doc_id, text, toks,
                 len(w_raw) AS n_tokens,
                 [CAST(len(list_filter(toks,
                    t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 8 = b))
                  AS DOUBLE) FOR b IN range(0, 8)] AS tc,
                 [CAST(len(list_filter(nw,
                    t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 8 = b))
                  AS DOUBLE) FOR b IN range(0, 8)] AS nc
          FROM base
        ), nrm AS (
          SELECT *,
                 sqrt(list_sum(list_transform(tc, c -> c * c))) AS tn,
                 sqrt(list_sum(list_transform(nc, c -> c * c))) AS nn
          FROM cnt
        )
        SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
               array_to_string(list_transform(tc, c -> printf('%.4f',
                 floor(c / (CASE WHEN tn > 0 THEN tn ELSE 1 END) * 10000)
                 / 10000)), ',') AS emb,
               array_to_string(list_transform(nc, c -> printf('%.4f',
                 floor(c / (CASE WHEN nn > 0 THEN nn ELSE 1 END) * 10000)
                 / 10000)), ',') AS name_emb,
               CASE WHEN text IS NULL THEN NULL
                    ELSE array_to_string(toks[1:30], ' ') END AS summary
        FROM nrm
    """,
    "ta_tokens": """
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
                 AS n_distinct_tokens
        FROM documents
    """,
    "ta_tokens_bpe": """
        SELECT doc_id,
               len(regexp_extract_all(lower(text),
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS n_tokens,
               len(list_distinct(regexp_extract_all(lower(text),
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))) AS n_distinct_tokens
        FROM documents
    """,
    "enrich_hash_embed": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8 AS b
          FROM toks WHERE length(tok) > 0
        ), counts AS (
          SELECT doc_id, b, count(*) AS c FROM h GROUP BY 1, 2
        ), grid AS (
          SELECT d.doc_id, g.b, coalesce(c.c, 0) AS c
          FROM (SELECT DISTINCT doc_id FROM documents) d
          CROSS JOIN (SELECT unnest(range(0, 8)) AS b) g
          LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.b = g.b
        ), nrm AS (
          SELECT doc_id, sqrt(sum(c * c)) AS n FROM grid GROUP BY doc_id
        )
        SELECT g.doc_id,
               string_agg(printf('%.4f',
                 floor(g.c / (CASE WHEN nrm.n > 0 THEN nrm.n ELSE 1 END) * 10000)
                 / 10000), ',' ORDER BY g.b) AS emb
        FROM grid g JOIN nrm USING (doc_id)
        GROUP BY g.doc_id
    """,
    "ta_quality": """
        WITH t AS (
          SELECT doc_id, n_chars,
                 string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM documents
        )
        SELECT doc_id,
               round(len(list_filter(w, x -> x IN ('the','a','of','and','in','to','is')))
                     * 1.0 / len(w), 3) AS stopword_ratio,
               round(len(list_distinct(w)) * 1.0 / len(w), 3) AS ttr,
               -- floor-truncated blend over double-forced arithmetic in the
               -- SAME operation order as the Spark expression: bit-identical
               -- doubles -> identical floor (exact .xxx5 blend values made
               -- round() diverge between the engines)
               floor((CAST(0.5 AS DOUBLE)
                        * least(CAST(n_chars AS DOUBLE) / CAST(400 AS DOUBLE),
                                CAST(1 AS DOUBLE))
                      + CAST(0.3 AS DOUBLE)
                        * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
                      + CAST(0.2 AS DOUBLE)
                        * (CAST(len(list_filter(w, x -> x IN
                             ('the','a','of','and','in','to','is'))) AS DOUBLE)
                           / len(w))) * 1000) / 1000 AS quality
        FROM t
    """,
    "ta_langid": """
        SELECT doc_id,
               CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                         x -> x IN ('the','a','of','and','in','to','is')))
                         * 1.0 / len(string_split_regex(trim(lower(text)), '\\s+')) >= 0.04
                    THEN 'en' ELSE 'und' END AS predicted_lang
        FROM documents
    """,
    "ta_fingerprint": """
        SELECT doc_id,
               substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
        FROM documents
    """,
    "join_parent_exists": """
        SELECT count(*) AS n_null_parent FROM orders WHERE o_custkey IS NULL
    """,
    "flt_class_allow": """
        SELECT n_name, count(*) AS n_cust
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
        GROUP BY n_name
    """,
    "flt_disallowed_class": """
        SELECT p_brand, count(*) AS n_parts,
               round(sum(p_retailprice), 2) AS sum_price
        FROM part
        WHERE NOT (p_type LIKE '%BRASS%' OR p_type LIKE '%COPPER%')
        GROUP BY p_brand
    """,
    "prj_br_strip": """
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '(?i)<br\\s*/?>', ' ', 'g'),
                       '<[^>]+>', '', 'g'),
                   '\\s+', ' ', 'g')) AS cleaned
        FROM documents
    """,
    "agg_refhub_merge": """
        SELECT user_id,
               string_agg(pair, ',' ORDER BY pair) AS hub
        FROM (
            SELECT user_id, event_type || ':' || CAST(count(*) AS VARCHAR) AS pair
            FROM events GROUP BY user_id, event_type
        )
        GROUP BY user_id
    """,
    "dedup_paragraph": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NOT DISTINCT FROM event_type
                        THEN 0 ELSE 1 END AS change
            FROM events
        ), runs AS (
            SELECT user_id,
                   sum(change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
            FROM flagged
        ), per_run AS (
            SELECT user_id, run_id, count(*) AS run_len FROM runs GROUP BY user_id, run_id
        )
        SELECT user_id, count(*) AS n_runs, max(run_len) AS max_run
        FROM per_run GROUP BY user_id
    """,
    "sort_paragraph_index": """
        WITH ext AS (
            SELECT l_orderkey, l_linenumber, l_quantity,
                   min(l_linenumber) OVER (PARTITION BY l_orderkey) AS mn,
                   max(l_linenumber) OVER (PARTITION BY l_orderkey) AS mx
            FROM lineitem
        )
        SELECT l_orderkey,
               CAST(round(min(CASE WHEN l_linenumber = mn THEN l_quantity END) * 100, 0)
                 AS BIGINT) AS first_qty,
               CAST(round(max(CASE WHEN l_linenumber = mx THEN l_quantity END) * 100, 0)
                 AS BIGINT) AS last_qty,
               count(*) AS n_lines
        FROM ext GROUP BY l_orderkey
    """,
    "agg_rollup_region_nation": """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               count(*) AS n_cust
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "window_lead": """
        SELECT event_id,
               lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS next_event_id
        FROM events
    """,
    "agg_total_rows": """
        WITH per_batch AS (
            SELECT o_orderkey % 8 AS batch, count(*) AS n_rows,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100, 0)
                     AS BIGINT) AS sum_price
            FROM orders GROUP BY o_orderkey % 8
        )
        SELECT batch, n_rows, sum_price,
               -- CAST is load-bearing: HUGEINT → float64 under the driver's
               -- pandas conversion (see window_session note)
               CAST(sum(n_rows) OVER (ORDER BY batch
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_rows
        FROM per_batch
    """,
    "src_toc_file": """
        SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS n_body_chars
        FROM documents
    """,
    "prj_date_math": """
        SELECT event_id,
               CAST(year(ts) AS INT) AS y,
               CAST(month(ts) AS INT) AS m,
               CAST(day(ts) AS INT) AS d,
               CAST(hour(ts) AS INT) AS h,
               CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
                 AS days_since
        FROM events
    """,
    "agg_percentile": """
        SELECT event_type,
               CAST(round(quantile_cont(value, 0.5) * 10000, 0) AS BIGINT) AS p50,
               CAST(round(quantile_cont(value, 0.9) * 10000, 0) AS BIGINT) AS p90,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    "agg_grouping_sets": """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               count(*) AS n_supp
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
    "stream_sessionize": """
        WITH flagged AS (
          SELECT CAST(user_id AS VARCHAR) AS user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, value,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_no
          FROM flagged
        ), agg AS (
          SELECT user_id, session_no,
                 min(ts) AS session_start, max(ts) AS session_end,
                 CAST(count(*) AS INT) AS n_events,
                 CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
                   AS session_cents
          FROM sess GROUP BY user_id, session_no
        )
        -- AvailableNow runs a final timeout batch with the watermark at the
        -- global max event time: every session whose (end + gap) timeout
        -- timestamp (ms) is strictly below that watermark has been emitted
        -- (in-data-closed sessions satisfy this a fortiori); only sessions
        -- within the last hour of the stream stay open in state
        SELECT user_id, session_start, session_end, n_events, session_cents
        FROM agg
        WHERE floor(epoch_us(session_end) / 1000) + 3600000
              < (SELECT floor(max(epoch_us(ts)) / 1000) FROM events)
    """,
    "snk_parquet_roundtrip": """
        SELECT r_name, count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "src_xml_parse": """
        SELECT CAST(n_regionkey AS BIGINT) AS regionkey, n_name,
               CAST(n_nationkey AS BIGINT) AS n_nationkey
        FROM nation
    """,
    "src_html_parse": """
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey, s_name,
               CAST(s_suppkey AS BIGINT) AS s_suppkey
        FROM supplier
    """,
    "ta_vocab_topk": """
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
                   AS token
          FROM documents
        )
        SELECT token, count(*) AS df
        FROM tok GROUP BY token
        ORDER BY df DESC, token ASC
        LIMIT 20
    """,
    "smp_split_hash": """
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'eval' ELSE 'train' END AS split
        FROM documents
    """,
    "ta_repetition": """
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 unnest([array_to_string(w[i:i+1], ' ')
                         FOR i IN range(1, greatest(len(w), 2))]) AS g
          FROM toks
        ), cnt AS (
          SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        )
        SELECT doc_id,
               CAST(floor(max(c) * 1000.0 / sum(c)) AS BIGINT) AS rep_permille
        FROM cnt GROUP BY doc_id
    """,
    "ta_redact": """
        WITH pii AS (
          SELECT doc_id,
                 substr(text, 1, 40) || ' contact user' ||
                 CAST(doc_id AS VARCHAR) || '@example.com' ||
                 CASE WHEN doc_id % 3 = 0 THEN ' cc admin.ops@example.org '
                      ELSE ' ' END || 'end' AS text
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                              '[EMAIL]', 'g') AS redacted,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INT) AS n_redacted
        FROM pii
    """,
    "enrich_quantize": """
        WITH t AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
          FROM embeddings
        ), s AS (
          SELECT vec_id, xd,
                 list_max(list_transform(xd, x -> abs(x))) AS scale
          FROM t
        )
        SELECT vec_id,
               array_to_string(list_transform(xd, x ->
                 CAST(CASE WHEN scale > 0 THEN floor(x / scale * 127)
                           ELSE 0 END AS INT)), ',') AS q8,
               CAST(floor(scale * 1000000) AS BIGINT) AS scale_micro
        FROM s
    """,
    "smp_decontaminate": """
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct(list_filter(
            [array_to_string(w[i:i+2], ' ')
             FOR i IN range(1, greatest(len(w)-1, 2))],
            s -> length(s) > 0
          ))) AS shingle
          FROM toks
        ), split AS (
          SELECT doc_id,
                 CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                      THEN 'eval' ELSE 'train' END AS split
          FROM documents
        ), train_sh AS (
          SELECT DISTINCT shingle
          FROM sh JOIN split USING (doc_id) WHERE split = 'train'
        ), hits AS (
          SELECT s.doc_id, count(*) AS n_contaminated
          FROM sh s
          JOIN split sp USING (doc_id)
          JOIN train_sh t ON s.shingle = t.shingle
          WHERE sp.split = 'eval'
          GROUP BY s.doc_id
        )
        SELECT sp.doc_id, coalesce(h.n_contaminated, 0) AS n_contaminated
        FROM split sp LEFT JOIN hits h USING (doc_id)
        WHERE sp.split = 'eval'
    """,
    "snk_snapshot_travel": """
        SELECT c_mktsegment AS seg, count(*) AS n, 1 AS version
        FROM customer GROUP BY c_mktsegment
        UNION ALL
        SELECT CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END
                 AS seg,
               count(*) AS n, 2 AS version
        FROM customer
        GROUP BY CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END
    """,
    "stream_window_agg": """
        WITH agg AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS wstart, event_type,
                 count(*) AS n_events,
                 CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2
        )
        SELECT wstart, event_type, n_events, cents
        FROM agg
        WHERE wstart + INTERVAL 1 DAY <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
    "stream_dedup": """
        WITH d AS (SELECT DISTINCT * FROM events)
        SELECT event_type, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
                 AS cents
        FROM d GROUP BY event_type
    """,
    "smp_pack_budget": """
        WITH t AS (
          SELECT doc_id, source,
                 len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
          FROM documents
        )
        SELECT doc_id, source, n_tokens,
               CAST(floor(coalesce(sum(n_tokens) OVER (
                      PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) / 512) AS BIGINT) AS pack_id
        FROM t
    """,
    "snk_upsert_merge": """
        WITH updates AS (
          SELECT c_custkey, 'UPDATED' AS seg, c_acctbal + 100 AS bal
          FROM customer WHERE c_custkey % 10 = 0
        ),
        merged AS (
          SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
          FROM customer
          WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
          UNION ALL
          SELECT * FROM updates
        )
        SELECT seg, count(*) AS n_rows,
               CAST(round(sum(CAST(bal AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
                 AS bal_cents
        FROM merged GROUP BY seg
    """,
    "agg_node_text": """
        -- extract.node_text_agg over events as derived turns: the last
        -- addendum-pattern turn of a node is its addendum and leaves the
        -- '\\n'-joined text; all text columns are NULL when nothing is left
        WITH turns AS (
          SELECT event_type,
                 CAST(user_id AS VARCHAR) || '/' || CAST(coalesce(
                   last_value(CASE WHEN event_type = 'signup' THEN event_id END
                              IGNORE NULLS) OVER w, -1) AS VARCHAR) AS node_id,
                 row_number() OVER w AS ord,
                 CASE WHEN event_type = 'error'
                      THEN 'Note: error ' || CAST(event_id AS VARCHAR)
                      ELSE event_type END AS clean_text
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), content AS (
          SELECT node_id, ord, clean_text,
                 max(CASE WHEN regexp_matches(
                            clean_text, '^(?:Source|History|Authority|Note)\\s*:')
                          THEN ord END) OVER (PARTITION BY node_id) AS a_ord
          FROM turns WHERE event_type IS DISTINCT FROM 'signup'
        )
        SELECT node_id,
               max(CASE WHEN ord = a_ord THEN clean_text END) AS node_addendum,
               string_agg(clean_text, chr(10) ORDER BY ord)
                 FILTER (WHERE ord IS DISTINCT FROM a_ord) AS node_text,
               nullif(count(*) FILTER (WHERE ord IS DISTINCT FROM a_ord), 0)
                 AS n_paragraphs
        FROM content GROUP BY node_id
    """,
    "prj_citation_node": """
        WITH k AS (SELECT DISTINCT 'conv=' || l_orderkey AS root,
                          '/title=' || (l_orderkey % 5 + 1) AS t,
                          'Tit. ' || (l_orderkey % 5 + 1) AS ct,
                          l_linenumber AS ln FROM lineitem)
        SELECT DISTINCT root AS node_id, NULL::VARCHAR AS citation FROM k
        UNION ALL SELECT DISTINCT root || t, ct FROM k
        UNION ALL SELECT root || t || '/section=' || ln || v, ct || ', § ' || ln
        FROM k, (VALUES (''), ('-v_2')) AS s(v) WHERE v = '' OR ln % 2 = 0
    """,
    "join_defs_closure": """
        -- the synthetic lineitem is NOT (orderkey, linenumber)-unique:
        -- mirror the operator's per-scope dict last-writer-wins (equal
        -- turn_idx -> max definition text) with grouped max() on both
        -- definition sources and DISTINCT node ids
        WITH n AS (SELECT DISTINCT l_orderkey AS k, l_linenumber AS ln
                   FROM lineitem),
        ld AS (SELECT l_orderkey AS k, l_linenumber AS ln,
                      max(l_linestatus) AS d
               FROM lineitem WHERE l_linenumber % 2 = 1 GROUP BY 1, 2),
        od AS (SELECT o_orderkey AS k, max(o_orderstatus) AS d
               FROM orders WHERE o_orderkey % 10 = 0 GROUP BY 1)
        SELECT concat('order=', CAST(n.k AS VARCHAR), '/line=',
                      CAST(n.ln AS VARCHAR)) AS node_id,
               'status' AS term,
               COALESCE(ld.d, od.d) AS definition,
               CASE WHEN ld.d IS NOT NULL
                    THEN concat('order=', CAST(n.k AS VARCHAR), '/line=',
                                CAST(n.ln AS VARCHAR))
                    ELSE concat('order=', CAST(n.k AS VARCHAR)) END
                 AS def_scope
        FROM n
        LEFT JOIN ld ON n.k = ld.k AND n.ln = ld.ln
        LEFT JOIN od ON n.k = od.k
        WHERE ld.d IS NOT NULL OR od.d IS NOT NULL
    """,
}

# The two-phase packing mode is output-identical to the window mode by
# construction — it shares the oracle verbatim, so the driver's hash check
# IS the chunking-invariance proof.
ORACLE_SQL["smp_pack_budget_sharded"] = ORACLE_SQL["smp_pack_budget"]

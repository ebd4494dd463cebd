"""Entity-linking candidate ladder (exact / zero-pad / popped-level) —
SURVEY §2.3 join_entity_link as ranked broadcast equi-joins."""

from pyspark.sql import functions as F

from open_source_legislation_spark import schemas
from open_source_legislation_spark.operators import linking

_MENTION_COLS = "conv_id string, turn_idx int, current_node string, raw_key string"


def _mentions(spark, keys):
    return spark.createDataFrame(
        [("c1", i, "conv=c1", k) for i, k in enumerate(keys)], _MENTION_COLS
    )


def test_ladder_priorities(spark, entity_dict_df):
    got = {
        r["raw_key"]: (r["entity_id"], r["link_priority"])
        for r in linking.link_mentions(
            _mentions(
                spark,
                [
                    "cfr/title=40/part=105",  # exact alias hit
                    "usc/title=5/section=7",  # only zero-padded form in dict
                    "cfr/title=40/part=999",  # part unknown → pops to title
                    "nonsense/key=1",  # total miss
                ],
            ),
            entity_dict_df,
        ).collect()
    }
    assert got["cfr/title=40/part=105"] == ("us/federal/ecfr/title=40/part=105", 1)
    assert got["usc/title=5/section=7"] == ("us/federal/usc/title=5/section=007", 2)
    assert got["cfr/title=40/part=999"] == ("us/federal/ecfr/title=40", 3)
    assert got["nonsense/key=1"] == (None, None)


def test_miss_rows_preserved_not_dropped(spark, entity_dict_df):
    linked = linking.link_mentions(
        _mentions(spark, ["nope/x=1", "cfr/title=2/part=100"]), entity_dict_df
    )
    assert linked.count() == 2
    assert linked.filter(F.col("entity_id").isNull()).count() == 1


def test_alias_index_first_writer_wins(spark):
    dup = spark.createDataFrame(
        [
            ("ent-b", "statute", None, ["k1"], None),
            ("ent-a", "statute", None, ["k1"], None),
        ],
        schemas.ENTITY_DICTIONARY,
    )
    idx = {r["alias_key"]: r["entity_id"] for r in linking.alias_index(dup).collect()}
    assert idx == {"k1": "ent-a"}


_LADDER_KEYS = [
    "cfr/title=40/part=105",  # exact alias hit
    "usc/title=5/section=7",  # only zero-padded form in dict
    "cfr/title=40/part=999",  # part unknown → pops to title
    "nonsense/key=1",  # total miss
]


def test_shuffle_fallback_matches_broadcast(spark, entity_dict_df):
    """The dictionary-outgrows-broadcast fallback (melted ladder + one
    shuffle hash join + best-priority regroup) must produce EXACTLY the
    broadcast ladder's output, misses included."""

    def rows(strategy):
        return sorted(
            map(
                tuple,
                linking.link_mentions(
                    _mentions(spark, _LADDER_KEYS),
                    entity_dict_df,
                    strategy=strategy,
                ).collect(),
            )
        )

    b, s = rows("broadcast"), rows("shuffle")
    assert b == s
    assert len(b) == len(_LADDER_KEYS)


def test_shuffle_fallback_plan_has_no_broadcast_of_index(spark, entity_dict_df):
    """With Spark's own auto-broadcast off (as it would be for a >threshold
    index at scale), the fallback plan must contain NO broadcast — the
    whole point is that the index never has to fit in executor memory."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        linked = linking.link_mentions(
            _mentions(spark, _LADDER_KEYS), entity_dict_df, strategy="shuffle"
        )
        plan = linked._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_auto_strategy_switches_on_size_estimate(
    spark, entity_dict_df, monkeypatch
):
    """An alias index estimated past the broadcast budget must route
    auto → the shuffle fallback, with identical output."""
    monkeypatch.setattr(
        linking, "_estimated_bytes", lambda df: linking._BROADCAST_MAX_BYTES + 1
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = linking.link_mentions(
            _mentions(spark, _LADDER_KEYS),
            entity_dict_df,
            strategy="auto",
        )
        plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got = {r["raw_key"]: (r["entity_id"], r["link_priority"]) for r in forced.collect()}
    assert got["cfr/title=40/part=105"] == ("us/federal/ecfr/title=40/part=105", 1)
    assert got["nonsense/key=1"] == (None, None)


def test_broadcast_join_in_plan(spark, entity_dict_df):
    """The dictionary side must be broadcast — no shuffle for the lookup
    (SURVEY §4 broadcast-join requirement)."""
    linked = linking.link_mentions(
        _mentions(spark, ["cfr/title=40/part=105"]), entity_dict_df
    )
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_auto_strategy_fails_safe_without_size_estimate(spark, entity_dict_df, monkeypatch):
    """When Catalyst's size estimate is unavailable (Spark Connect / API
    drift) auto must take the SHUFFLE path: an unestimatable oversized
    dictionary on the broadcast path is exactly the executor-OOM the
    fallback exists to avoid."""
    monkeypatch.setattr(linking, "_estimated_bytes", lambda df: None)
    chosen = {}
    real = linking._link_shuffle

    def spy(out, idx, orig):
        chosen["path"] = "shuffle"
        return real(out, idx, orig)

    monkeypatch.setattr(linking, "_link_shuffle", spy)
    got = {
        r["raw_key"]: (r["entity_id"], r["link_priority"])
        for r in linking.link_mentions(
            _mentions(spark, ["cfr/title=40/part=105", "nonsense/key=1"]),
            entity_dict_df,
            strategy="auto",
        ).collect()
    }
    assert chosen.get("path") == "shuffle"
    assert got["cfr/title=40/part=105"] == ("us/federal/ecfr/title=40/part=105", 1)
    assert got["nonsense/key=1"] == (None, None)

"""Entity-linking candidate ladder (exact / zero-pad / popped-level) —
SURVEY §2.3 join_entity_link as ranked equi-joins (broadcast while the
index fits Spark's auto-broadcast threshold)."""

import contextlib

from pyspark.sql import functions as F

from open_source_legislation_spark import schemas
from open_source_legislation_spark.operators import extract, linking

_MENTION_COLS = (
    "conv_id string, turn_idx int, current_node string, raw_key string, "
    "k2 string, k3 string"
)


def _mentions(spark, keys):
    """Mentions as the payload kernel emits them: each raw key with its
    ladder rungs."""
    return spark.createDataFrame(
        [("c1", i, "conv=c1", k, *extract.ladder_rungs(k)) for i, k in enumerate(keys)],
        _MENTION_COLS,
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


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Spark's auto-broadcast off, as for an alias index estimated past
    ``spark.sql.autoBroadcastJoinThreshold``."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_shuffle_fallback_matches_broadcast(spark, entity_dict_df):
    """With auto-broadcast off, Spark's join selection sort-merges the
    rungs; the output must equal the broadcast ladder's EXACTLY, misses
    included."""

    def rows():
        return sorted(
            map(
                tuple,
                linking.link_mentions(
                    _mentions(spark, _LADDER_KEYS), entity_dict_df
                ).collect(),
            )
        )

    b = rows()
    with _no_auto_broadcast(spark):
        s = rows()
    assert b == s
    assert len(b) == len(_LADDER_KEYS)


def test_shuffle_fallback_plan_has_no_broadcast_of_index(spark, entity_dict_df):
    """With Spark's own auto-broadcast off (as it would be for a >threshold
    index at scale), the plan must contain NO broadcast — the whole point
    is that the index never has to fit in executor memory."""
    with _no_auto_broadcast(spark):
        linked = linking.link_mentions(
            _mentions(spark, _LADDER_KEYS), entity_dict_df
        )
        linked.collect()
        plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in plan


def test_broadcast_join_in_plan(spark, entity_dict_df):
    """The dictionary side must be broadcast — no shuffle for the lookup
    (SURVEY §4 broadcast-join requirement)."""
    linked = linking.link_mentions(
        _mentions(spark, ["cfr/title=40/part=105"]), entity_dict_df
    )
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

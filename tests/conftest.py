"""Shared fixtures: one local SparkSession + seeded synthetic tables."""

from __future__ import annotations

import pytest

from open_source_legislation_spark import schemas, synth
from open_source_legislation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="osl-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()


@pytest.fixture
def dataset_caches(spark):
    """Returns a probe for the ids of the persistent RDDs that are not
    locally checkpointed: the caches a result would leave its caller to
    release (Spark's ContextCleaner frees local checkpoints on its own)."""

    def ids():
        return {
            k
            for k, rdd in spark.sparkContext._jsc.getPersistentRDDs().items()
            if not rdd.rdd().isLocallyCheckpointed()
        }

    return ids


@pytest.fixture(scope="session")
def transcripts_pd():
    return synth.make_transcripts(seed=42, n_turns_target=1200)


@pytest.fixture(scope="session")
def entity_dict_pd():
    return synth.make_entity_dictionary()


@pytest.fixture(scope="session")
def alias_edges_pd():
    return synth.make_alias_edges()


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pd):
    return spark.createDataFrame(transcripts_pd, schema=schemas.TRANSCRIPTS)


@pytest.fixture(scope="session")
def entity_dict_df(spark, entity_dict_pd):
    return spark.createDataFrame(entity_dict_pd, schema=schemas.ENTITY_DICTIONARY)


@pytest.fixture(scope="session")
def alias_edges_df(spark, alias_edges_pd):
    return spark.createDataFrame(alias_edges_pd, schema=schemas.ALIAS_EDGES)

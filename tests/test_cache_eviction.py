"""clear_session_caches(): eviction semantics for the single session
cache store in sources.tables (DataFrames, table scans and the
embedding broadcast alike)."""

from __future__ import annotations

import os

from pyspark import Broadcast

from simple_map_reduce_ruuner_spark.sources import tables
from simple_map_reduce_ruuner_spark.sources.tables import (
    clear_session_caches,
    load_table,
    session_cache,
)

FAMILY = "test_eviction"


def _family_dirs(family: str) -> set[str]:
    return {k[2] for k in tables._STORE if k[0] == family}


def test_clear_session_caches_by_dataset_and_global(spark, sf_dir, tmp_path):
    here, other = os.path.realpath(sf_dir), os.path.realpath(tmp_path)
    df = spark.range(3)
    session_cache(FAMILY, spark, sf_dir, lambda: df, checkpoint=False)
    session_cache(FAMILY, spark, str(tmp_path), lambda: df, checkpoint=False)
    load_table(spark, sf_dir, "region")
    assert _family_dirs(FAMILY) == {here, other}
    assert here in _family_dirs("table:region")

    # dataset-scoped eviction drops only that sf_dir's keys, table scans
    # included
    n = clear_session_caches(sf_dir)
    assert n >= 2
    assert _family_dirs(FAMILY) == {other}
    assert here not in _family_dirs("table:region")
    assert not any(k[2] == here for k in tables._STORE)

    # a later call rebuilds the evicted entry
    rebuilt = []
    session_cache(
        FAMILY, spark, sf_dir, lambda: rebuilt.append(1) or df, checkpoint=False
    )
    assert rebuilt == [1]
    assert _family_dirs(FAMILY) == {here, other}

    # global clear empties the store
    clear_session_caches()
    assert not tables._STORE


def test_emb_broadcast_is_stored_and_cleared_by_dataset(spark, sf_dir):
    """neardup_embedding keeps its build-side Broadcast in the store;
    a dataset-scoped clear drops (and unpersists) it."""
    from simple_map_reduce_ruuner_spark.operators import dedup

    dedup.neardup_embedding(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    key = (
        "emb_broadcast",
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
    )
    assert isinstance(tables._STORE.get(key), Broadcast)
    clear_session_caches(sf_dir)
    assert key not in tables._STORE

"""The driver contract (``__spark_entry__``) and the table-handle cache
behind ``catalog.load_testdata``."""

from __future__ import annotations

import os
import shutil

import __spark_entry__ as entrymod
from childhoodcancerdatainitiative_prefect_pipeline_spark import catalog
from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY


def test_queries_in_registry_order():
    assert list(entrymod.queries()) == list(REGISTRY)
    assert set(entrymod.oracle_sql()) == {
        n for n, q in REGISTRY.items() if q.oracle
    }


def _handles(spark, sf_dir, tables):
    cat = catalog.load_testdata(spark, sf_dir, tables, register_views=False)
    return [cat[t] for t in tables]


def test_second_load_reuses_handles(spark, sf_dir):
    tables = ("region", "nation", "orders")
    first = _handles(spark, sf_dir, tables)
    second = _handles(spark, sf_dir, tables)
    assert all(a is b for a, b in zip(first, second))


def test_rewritten_table_gets_fresh_handle(spark, sf_dir, tmp_path):
    shutil.copyfile(
        os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet"
    )
    (old,) = _handles(spark, str(tmp_path), ("region",))
    assert _handles(spark, str(tmp_path), ("region",))[0] is old
    st = os.stat(tmp_path / "region.parquet")
    os.utime(tmp_path / "region.parquet", (st.st_atime, st.st_mtime + 60))
    (new,) = _handles(spark, str(tmp_path), ("region",))
    assert new is not old
    assert new.count() == old.count()


def test_new_application_drops_old_entries(spark, sf_dir):
    app_id = spark.sparkContext.applicationId
    _handles(spark, sf_dir, ("region",))
    assert list(catalog._TABLE_CACHE) == [app_id]
    # a later session's applicationId: the old session's handles go
    catalog._read_table(spark, app_id + "-next", sf_dir, "region")
    assert list(catalog._TABLE_CACHE) == [app_id + "-next"]
    assert len(catalog._TABLE_CACHE[app_id + "-next"]) == 1
    # and the current session starts over with fresh handles
    (region,) = _handles(spark, sf_dir, ("region",))
    assert list(catalog._TABLE_CACHE) == [app_id]
    assert region.count() == 5


def test_concurrent_first_loads_share_handles(spark, sf_dir):
    """Threads loading at once in a session the cache has not seen yet
    all get the same handles, kept under one applicationId entry."""
    import threading

    tables = ("region", "nation", "orders")
    n = 6
    barrier = threading.Barrier(n)
    got: list[list] = [None] * n

    def load(i):
        barrier.wait()
        got[i] = _handles(spark, sf_dir, tables)

    catalog._TABLE_CACHE.clear()
    threads = [threading.Thread(target=load, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert list(catalog._TABLE_CACHE) == [spark.sparkContext.applicationId]
    assert all(a is b for hs in got[1:] for a, b in zip(got[0], hs))
    again = _handles(spark, sf_dir, tables)
    assert all(a is b for a, b in zip(got[0], again))

"""Table-load cache contracts (``sources.tables.read_parquet_cached``).

A resolved ``spark.read.parquet`` plan is reused for any fixture directory
while its input is unchanged, and re-resolved once a file is replaced in
place; the published partitioned layout of ``scan_tenant_prune`` is read
once per session and still scopes each tenant to its own rows.
"""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from hive_processor_spark.engine import TABLES
from hive_processor_spark.sources import tables
from hive_processor_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture()
def sf_copy(tmp_path):
    dst = tmp_path / "sf"
    shutil.copytree(SF_SMALL, dst)
    return str(dst)


def test_second_load_returns_identical_dataframe(spark, sf_copy):
    first = load_table(spark, sf_copy, "orders")
    assert load_table(spark, sf_copy, "orders") is first
    assert load_table(spark, sf_copy + "/", "orders") is first


def test_replaced_file_is_resolved_again(spark, sf_copy, tmp_path):
    path = os.path.join(sf_copy, "orders.parquet")
    old = load_table(spark, sf_copy, "orders")
    n_old = old.count()

    table = pq.read_table(path)
    keep = n_old // 2
    fresh = str(tmp_path / "orders.new.parquet")
    pq.write_table(table.slice(0, keep), fresh)
    os.replace(fresh, path)

    new = load_table(spark, sf_copy, "orders")
    assert new is not old
    assert new.count() == keep
    # the stale plan is evicted, not kept beside the new one
    stale = [k for k in tables._TABLE_CACHE if k[1] == os.path.normpath(path)]
    assert len(stale) == 1


def test_insert_evicts_other_applications(spark, sf_copy):
    ghost = ("app-stopped", "/nowhere/orders.parquet", ())
    tables._TABLE_CACHE[ghost] = None
    load_table(spark, sf_copy, "nation")
    assert ghost not in tables._TABLE_CACHE
    app_id = spark.sparkContext.applicationId
    assert all(k[0] == app_id for k in tables._TABLE_CACHE)


def test_concurrent_loads_cache_each_table_once(spark, sf_copy):
    """Serving threads load tables concurrently: no load may fail while
    another thread evicts or inserts, and each table ends up cached once."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [
                pool.submit(load_table, spark, sf_copy, name)
                for name in TABLES * 3
            ]
            dfs = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert len(dfs) == 3 * len(TABLES)
    for name in TABLES:
        path = os.path.normpath(os.path.join(sf_copy, f"{name}.parquet"))
        assert [k[1] for k in tables._TABLE_CACHE].count(path) == 1, name
        cached = load_table(spark, sf_copy, name)
        assert any(df is cached for df in dfs), name


def test_tenant_layout_read_once_and_tenants_isolated(
    spark, sf_copy, monkeypatch
):
    from hive_processor_spark import queries

    reads = []
    real_parquet = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    fn = queries()["scan_tenant_prune"]

    def rows(domain):
        df = fn(spark, sf_copy, ctx={"domain": domain})
        return sorted(tuple(r) for r in df.collect())

    a1, a2 = rows("src3"), rows("src3")
    layout_reads = [p for p in reads if "tenant-docs-" in p]
    assert len(layout_reads) == 1, reads
    assert a1 == a2

    docs = load_table(spark, sf_copy, "documents")

    def expected(domain):
        df = (
            docs.filter(F.col("source") == domain)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint"),
                F.sum("n_chars").cast("bigint"),
            )
        )
        return sorted(tuple(r) for r in df.collect())

    b = rows("src11")
    assert a1 == expected("src3")
    assert b == expected("src11")
    assert a1 != b

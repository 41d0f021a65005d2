"""Source/sink round-trips (SURVEY.md §2.2-A): CSV, JSON-lines, Parquet,
partitioned Parquet.

Each query materializes a fixture table through the format under test into a
scratch directory, reads it back, and returns the re-read result; the oracle
is the original table, so any loss in the round-trip (types, precision,
partition pruning) breaks the hash.

Scale note: writes use the table's natural partitioning; `sink_partitioned`
lays data out by a low-cardinality column — the layout that makes dynamic
partition pruning possible on the read side of a 100 TB table.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import PINNED_SF_DIR, register
from hive_processor_spark.sources.tables import load_table, read_parquet_cached

_SCRATCH_ROOT = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/hive_spark_scratch")


def _scratch(tag: str) -> str:
    os.makedirs(_SCRATCH_ROOT, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=_SCRATCH_ROOT)


def _prepare_partitioned(
    spark: SparkSession, sf_dir: str, table: str, part_col: str, tag: str
) -> str:
    """Prepare-once partitioned layout with an ATOMIC publish (ADVICE r5
    #3): the cache key folds in the source fixture's mtime+size
    fingerprint (a regenerated fixture gets a fresh layout instead of a
    stale hit), and the write lands in a unique temp dir that is RENAMED
    into place — two concurrent first requests each build their own temp
    and exactly one rename wins; the loser discards its copy and reads
    the winner's. No reader can ever observe a half-written layout.

    SESSION-scoped (r12, same discipline as ``ivf_prepare``): the digest
    folds in the applicationId, so every fresh process rebuilds its
    layouts from the parquet inputs — no intermediate keyed only on the
    fixture dir survives across runs."""
    import hashlib
    import shutil
    import uuid

    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_mtime_ns}-{st.st_size}"
    except OSError:
        fp = "0"
    app_id = spark.sparkContext.applicationId
    digest = hashlib.md5(f"{app_id}:{sf_dir}:{fp}".encode()).hexdigest()[:12]
    path = os.path.join(_SCRATCH_ROOT, f"{tag}-{digest}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(_SCRATCH_ROOT, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        load_table(spark, sf_dir, table).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # a concurrent racer won
    return path


@register("scan_csv_roundtrip", "SELECT * FROM nation")
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "nation")
    path = _scratch("csv")
    src.write.mode("overwrite").option("header", "true").csv(path)
    # Read back with the source schema (CSV carries no types; inference
    # would widen int32 → int and break schema parity).
    return spark.read.option("header", "true").schema(src.schema).csv(path)


@register("scan_json_roundtrip", "SELECT * FROM supplier")
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "supplier")
    path = _scratch("json")
    src.write.mode("overwrite").json(path)
    return spark.read.schema(src.schema).json(path)


@register(
    "sink_parquet_roundtrip",
    "SELECT * FROM orders WHERE o_totalprice > 400000.0",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    path = _scratch("parquet")
    src.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register("scan_orc_roundtrip", "SELECT * FROM part")
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink — the other columnar format Spark reads natively
    (vectorized, predicate pushdown), so a reference user with ORC data
    switches without a conversion pass."""
    src = load_table(spark, sf_dir, "part")
    path = _scratch("orc")
    src.write.mode("overwrite").orc(path)
    return spark.read.schema(src.schema).orc(path)


@register(
    "sink_bucketed",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 450000.0
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables + co-located join — the shuffle-avoidance layout.

    Both sides are written ``bucketBy`` the join key into the session
    warehouse; Spark then plans the join with zero Exchange on either side
    (asserted in tests/test_plans.py). At 100 TB this is the difference
    between a full network shuffle of the fact table on every join and a
    local merge per bucket — the layout cost is paid once at write time.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000.0
    )
    cust = load_table(spark, sf_dir, "customer")
    spark.sql("CREATE DATABASE IF NOT EXISTS hs_bucketed")
    orders.write.mode("overwrite").option("path", _scratch("bkt_o")).bucketBy(
        8, "o_custkey"
    ).sortBy("o_custkey").saveAsTable("hs_bucketed.orders_b")
    cust.write.mode("overwrite").option("path", _scratch("bkt_c")).bucketBy(
        8, "c_custkey"
    ).sortBy("c_custkey").saveAsTable("hs_bucketed.customer_b")
    ob = spark.table("hs_bucketed.orders_b")
    cb = spark.table("hs_bucketed.customer_b")
    # merge hint: without it the small side broadcasts at test scale and the
    # bucketed layout is never exercised; with buckets + sort files the SMJ
    # plans with no Exchange on either side.
    return (
        ob.hint("merge")
        .join(cb, ob.o_custkey == cb.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name")
    )


@register(
    "sink_partitioned",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write, re-read, count per partition. The
    re-read count runs off directory metadata + partition column only —
    the same layout that gives static/dynamic partition pruning at scale."""
    src = load_table(spark, sf_dir, "orders")
    path = _scratch("part")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("o_orderstatus").cast("string").alias("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "scan_merge_schema",
    """
    SELECT n_nationkey, n_name, NULL AS n_extra FROM nation WHERE n_nationkey < 10
    UNION ALL
    SELECT n_nationkey, n_name, CAST(n_regionkey AS INT) AS n_extra
    FROM nation WHERE n_nationkey >= 10
    """,
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written at different
    'schema versions' (the second adds a column), unified by ``mergeSchema``
    — old files surface the new column as NULL. This is the append-only
    evolution path a long-lived 100 TB table actually takes; merge cost is
    footer-only (per-file metadata), not data."""
    nation = load_table(spark, sf_dir, "nation")
    path = _scratch("evolve")
    nation.filter(F.col("n_nationkey") < 10).select(
        "n_nationkey", "n_name"
    ).write.mode("overwrite").parquet(f"{path}/v1")
    nation.filter(F.col("n_nationkey") >= 10).select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_extra"),
    ).write.mode("overwrite").parquet(f"{path}/v2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{path}/v1", f"{path}/v2")
        .select("n_nationkey", "n_name", "n_extra")
    )


@register(
    "sink_merge_upsert",
    """
    WITH changes AS (
        SELECT o_orderkey,
               o_totalprice * 1.1 AS o_totalprice,
               'U' AS op
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT 10000000 + n_nationkey AS o_orderkey,
               1000.0 + n_nationkey AS o_totalprice,
               'I' AS op
        FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN src = 'merged' THEN 1 END) AS BIGINT) AS n_updated,
           CAST(COUNT(CASE WHEN src = 'inserted' THEN 1 END) AS BIGINT) AS n_inserted,
           CAST(FLOOR(SUM(CAST(FLOOR(o_totalprice * 100.0) AS DECIMAL(28,0)))) AS VARCHAR)
               AS qsum_price
    FROM (
        SELECT o.o_orderkey,
               COALESCE(c.o_totalprice, o.o_totalprice) AS o_totalprice,
               CASE WHEN c.o_orderkey IS NOT NULL THEN 'merged' ELSE 'kept' END AS src
        FROM orders o LEFT JOIN changes c ON o.o_orderkey = c.o_orderkey
        UNION ALL
        SELECT c.o_orderkey, c.o_totalprice, 'inserted' AS src
        FROM changes c LEFT JOIN orders o ON o.o_orderkey = c.o_orderkey
        WHERE o.o_orderkey IS NULL
    ) merged
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (no table format): a change
    set (updates for existing keys + inserts for new keys) is applied to
    the base table as matched-update / not-matched-insert, the merged
    result is WRITTEN to a parquet sink and read back, and the returned
    row is an audit summary (counts + quantized total) over the sink —
    proving the persisted result, not just the plan.

    At 100 TB this exact shape runs partition-wise (join on the upsert
    key, write only affected partitions); table formats (Delta/Iceberg)
    add transactionality around the same join-and-rewrite core."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    nation = load_table(spark, sf_dir, "nation")
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 1.1).alias("c_price")
    )
    inserts = nation.select(
        (F.lit(10000000) + F.col("n_nationkey")).alias("o_orderkey"),
        (F.lit(1000.0) + F.col("n_nationkey")).alias("c_price"),
    )
    changes = updates.unionByName(inserts)
    matched = (
        orders.join(changes, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("c_price"), F.col("o_totalprice")).alias("o_totalprice"),
            F.when(F.col("c_price").isNotNull(), F.lit("merged"))
            .otherwise(F.lit("kept"))
            .alias("src"),
        )
    )
    new_rows = (
        changes.join(orders, "o_orderkey", "left_anti")
        .select(
            "o_orderkey",
            F.col("c_price").alias("o_totalprice"),
            F.lit("inserted").alias("src"),
        )
    )
    path = _scratch("merge")
    matched.unionByName(new_rows).write.mode("overwrite").parquet(path)
    sink = spark.read.parquet(path)
    return sink.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("src") == "merged", 1)).alias("n_updated"),
        F.count(F.when(F.col("src") == "inserted", 1)).alias("n_inserted"),
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("decimal(28,0)"))
        )
        .cast("string")
        .alias("qsum_price"),
    )


@register(
    "sink_incremental_agg",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS DECIMAL(28,0))) AS VARCHAR)
               AS qsum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation: persist PARTIAL aggregates (count +
    quantized sum per group) for the 'historical' slice, aggregate only
    the 'new' slice, and merge the two partial states — the answer must
    equal a from-scratch aggregation over everything, which is exactly
    what the oracle computes. This is how a 100 TB nightly rollup avoids
    rescanning history: partial states are reusable because count and
    quantized-decimal sum are commutative monoids (doubles summed in
    arbitrary order are not — the reason the quantize-first discipline
    exists)."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.to_timestamp(F.lit("1997-01-01"))
    qsum = F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("decimal(28,0)"))
    hist = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), qsum.alias("qs"))
    )
    path = _scratch("incr")
    hist.write.mode("overwrite").parquet(path)  # the persisted partial state
    new = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), qsum.alias("qs"))
    )
    merged = spark.read.parquet(path).unionByName(new)
    return merged.groupBy("o_orderstatus").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("qs").cast("decimal(28,0)").cast("string").alias("qsum"),
    )


@register(
    "scan_partition_prune",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 400000.0
    """,
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: orders laid out partitionBy(status), read
    back with a literal partition predicate — the scan must touch only the
    'F' directory (PartitionFilters in the plan, asserted in tests), with
    the price predicate pushed separately into the surviving files' row
    groups. Partition-column pruning is THE first-order I/O lever on a
    100 TB date/tenant-partitioned table. Layout build is prepare-once
    (keyed marker, same discipline as ivf_prepare); the published layout
    is immutable, so its read is resolved once per session."""
    path = _prepare_partitioned(
        spark, sf_dir, "orders", "o_orderstatus", "part-orders"
    )
    return (
        read_parquet_cached(spark, path)
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 400000.0))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "scan_tenant_prune",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE source = 'src7'
    GROUP BY lang
    ORDER BY lang
    """,
)
def scan_tenant_prune(
    spark: SparkSession, sf_dir: str, ctx: dict | None = None
) -> DataFrame:
    """Tenant-scoped scan with partition pruning — the reference's
    multi-tenant request context made physical. The reference's RPC
    envelope carries ``ctx: {domain, ip, uid}`` (``src/processor.ts:98-106``)
    and SURVEY §1.2 maps ``ctx.domain`` to a partition-column filter; here
    the documents corpus is laid out ``partitionBy(source)`` (prepare-once)
    and the request's domain becomes a literal partition predicate, so the
    scan touches exactly one tenant directory (PartitionFilters asserted in
    tests/test_processor.py). This is THE tenant-isolation shape at 100 TB:
    per-tenant directories mean a tenant's query never reads — or pays
    for — another tenant's bytes. The registry default domain is pinned
    ('src7', matching the oracle); the serving layer passes the caller's
    ``ctx`` through (serving.py), which is how a remote tenant scopes the
    same registered query to its own partition. The layout's read is
    resolved once per session and shared by every tenant's request."""
    path = _prepare_partitioned(
        spark, sf_dir, "documents", "source", "tenant-docs"
    )
    domain = (ctx or {}).get("domain", "src7")
    return (
        read_parquet_cached(spark, path)
        .filter(F.col("source") == F.lit(domain))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@register(
    "scan_text_roundtrip",
    """
    SELECT CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM documents
    GROUP BY LENGTH(text)
    ORDER BY n_chars
    """,
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source: write one document per line, read back with the
    line-oriented text reader (the raw-corpus ingestion format), aggregate
    a line-length histogram. The fixture text is newline-free so the
    round-trip is lossless; the oracle aggregates the original column. At
    scale text splits by line blocks — the same scan parallelism as any
    splittable format (when compressed, prefer zstd-seekable or chunked
    files: a single gzip text file is one task)."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch("text")
    docs.select("text").write.mode("overwrite").text(path)
    lines = spark.read.text(path)  # column: value
    return (
        lines.groupBy(F.length("value").cast("bigint").alias("n_chars"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("n_chars")
    )


def _zvalue_spark(bx, by):
    """16-bit × 16-bit Morton interleave as a codegen integer expression."""
    z = F.lit(0).cast("long")
    for j in range(16):
        z = (
            z
            + F.shiftleft(F.shiftright(bx, j).bitwiseAND(F.lit(1)), 2 * j)
            + F.shiftleft(F.shiftright(by, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
    return z


def _zvalue_sql(bx: str, by: str) -> str:
    terms = []
    for j in range(16):
        terms.append(f"((({bx} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({by} >> {j}) & 1) << {2 * j + 1})")
    return "(" + " + ".join(terms) + ")"


_ZORDER_SQL_BUCKETS = """
    WITH ext AS (
        SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
               MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx
        FROM lineitem
    ), b AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               CAST(((l_partkey - pmn) * 65536) // (pmx - pmn + 1) AS BIGINT) AS bx,
               CAST(((l_suppkey - smn) * 65536) // (smx - smn + 1) AS BIGINT) AS by
        FROM lineitem, ext
    )
"""


@register(
    "sink_zorder",
    _ZORDER_SQL_BUCKETS
    + f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           {_zvalue_sql('bx', 'by')} AS zvalue
    FROM b
    ORDER BY zvalue, l_orderkey, l_linenumber
    LIMIT 50
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey): each
    dimension is linearly bucketed to 16 bits from its min/max (integer
    math, engine-identical), then bit-interleaved — the multi-dimensional
    sort key that lets a range-partitioned Parquet layout serve *both*
    "partkey BETWEEN" and "suppkey BETWEEN" scans with file skipping, where
    a single-column sort only serves one. The layout effect (a box query
    touches a fraction of z-sorted files vs all natural-layout files) is
    asserted in tests/test_plans.py; this query pins the key computation.
    At 100 TB the write is `repartitionByRange(zvalue)` + sortWithinPartitions
    — one range exchange, amortized over every scan thereafter."""
    li = load_table(spark, sf_dir, "lineitem")
    ext = li.agg(
        F.min("l_partkey").alias("pmn"),
        F.max("l_partkey").alias("pmx"),
        F.min("l_suppkey").alias("smn"),
        F.max("l_suppkey").alias("smx"),
    )
    b = li.crossJoin(F.broadcast(ext)).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.expr("((l_partkey - pmn) * 65536L) div (pmx - pmn + 1)").alias("bx"),
        F.expr("((l_suppkey - smn) * 65536L) div (smx - smn + 1)").alias("by"),
    )
    return (
        b.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            _zvalue_spark(F.col("bx"), F.col("by")).alias("zvalue"),
        )
        .orderBy("zvalue", "l_orderkey", "l_linenumber")
        .limit(50)
    )


@register(
    "scan_csv_malformed",
    """
    SELECT CAST(1 AS BIGINT) AS id, 'alpha' AS name, 10 AS qty
    UNION ALL SELECT 2, 'beta', 20
    UNION ALL SELECT 4, 'delta', 40
    ORDER BY id
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness: a CSV with rows that cannot satisfy the
    schema (non-numeric qty, wrong arity) read under DROPMALFORMED — the
    engine keeps the parseable rows and drops the rest, instead of failing
    the job or nulling silently. The oracle enumerates the survivors. At
    100 TB this is the difference between one bad crawl file killing a
    pipeline and a metric counting what was dropped (PERMISSIVE +
    `_corrupt_record` when you need the quarantine instead)."""
    path = _scratch("badcsv")
    with open(os.path.join(path, "part-0.csv"), "w", encoding="utf-8") as f:
        f.write(
            "id,name,qty\n"
            "1,alpha,10\n"
            "2,beta,20\n"
            "3,gamma,notanumber\n"  # type violation -> dropped
            "4,delta,40\n"
            "5,epsilon\n"  # missing column -> dropped
        )
    return (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("id bigint, name string, qty int")
        .csv(path)
        .orderBy("id")
    )


@register(
    "scan_json_malformed",
    """
    SELECT CAST(1 AS BIGINT) AS id, 'alpha' AS name, CAST(1.5 AS DOUBLE) AS score
    UNION ALL SELECT 3, 'gamma', 3.5
    ORDER BY id
    """,
)
def scan_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSON robustness, the sibling of ``scan_csv_malformed``:
    a JSONL file containing syntax errors and schema-violating rows read
    under DROPMALFORMED keeps only the rows that parse AND satisfy the
    schema. Web-crawl sidecar metadata is overwhelmingly JSONL, and at
    100 TB a per-file failure mode is operationally unacceptable — the
    oracle enumerates the survivors so the drop behavior itself is part of
    the differential contract."""
    path = _scratch("badjson")
    with open(os.path.join(path, "part-0.json"), "w", encoding="utf-8") as f:
        f.write(
            '{"id": 1, "name": "alpha", "score": 1.5}\n'
            '{"id": 2, "name": "beta", "score": }\n'  # syntax error -> dropped
            '{"id": 3, "name": "gamma", "score": 3.5}\n'
            'not json at all\n'  # -> dropped
            '{"id": "five", "name": "epsilon", "score": 5.5}\n'  # type violation -> dropped
        )
    return (
        spark.read.option("mode", "DROPMALFORMED")
        .schema("id bigint, name string, score double")
        .json(path)
        .orderBy("id")
    )


# Tier R: file counts are an engine-side artifact the SQL oracle cannot
# see; row preservation and the compaction guarantee are asserted in
# tests/test_properties.py::test_compaction_preserves_rows.
@register("sink_compact_small_files")
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every long-lived
    lake table needs: a fragmented write (64 tiny files here, standing in
    for months of streaming micro-batch commits) is rewritten into
    size-targeted files, and the operator reports both layouts.

    The compacted file count comes from the actual bytes on disk over a
    128 MiB target (floored at 1), not a guess — the same sizing rule a
    real OPTIMIZE job applies per partition. Compaction is a pure rewrite:
    a coalesce() with no shuffle; at 100 TB it runs per-partition so
    parallelism is preserved across partitions while files within one
    partition merge."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    frag_path = _scratch("fragmented")
    src.repartition(64).write.mode("overwrite").parquet(frag_path)

    def _stats(path: str):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        return len(files), sum(os.path.getsize(f) for f in files)

    n_before, bytes_before = _stats(frag_path)
    target = 128 * 1024 * 1024
    n_target = max(1, (bytes_before + target - 1) // target)
    compact_path = _scratch("compacted")
    frag = spark.read.parquet(frag_path)
    frag.coalesce(int(n_target)).write.mode("overwrite").parquet(compact_path)
    n_after, _ = _stats(compact_path)
    rows_before = frag.count()
    rows_after = spark.read.parquet(compact_path).count()
    return spark.createDataFrame(
        [
            ("before", n_before, rows_before),
            ("after", n_after, rows_after),
        ],
        "phase string, n_files int, n_rows bigint",
    ).orderBy("phase")


@register("scan_corrupt_files", "SELECT * FROM nation")
def scan_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-input resilience: a directory containing one garbage
    ``.parquet`` file among good ones is read with
    ``ignoreCorruptFiles`` — the posture a 100 TB ingest needs when a
    writer died mid-file or an object store returned a truncated body.
    The oracle is the intact table: resilience must mean "skip the bad
    file", never "perturb the good rows". (The flag is per-read here, not
    session-wide, so strict pipelines still fail fast by default.)"""
    src = load_table(spark, sf_dir, "nation")
    path = _scratch("corrupt")
    src.coalesce(1).write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "part-junk.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet footer")
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema(src.schema)
        .parquet(path)
    )


@register(
    "scan_multi_format_union",
    """
    SELECT n_nationkey, n_name, n_regionkey, fmt
    FROM (
        SELECT *, 'csv' AS fmt FROM nation
        UNION ALL SELECT *, 'json' AS fmt FROM nation
        UNION ALL SELECT *, 'parquet' AS fmt FROM nation
    )
    ORDER BY n_nationkey, fmt
    """,
)
def scan_multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated-format ingestion: the same table written to CSV, JSON and
    Parquet, read back through three different readers, and unioned with a
    provenance column — the "merge the legacy feeds" shape. The oracle pins
    that all three format round-trips are lossless for this schema; at
    scale each leg scans in parallel and the union is plan-level (no
    shuffle)."""
    src = load_table(spark, sf_dir, "nation")
    base = _scratch("multifmt")
    csv_p, json_p, pq_p = f"{base}/c", f"{base}/j", f"{base}/p"
    src.write.mode("overwrite").option("header", "true").csv(csv_p)
    src.write.mode("overwrite").json(json_p)
    src.write.mode("overwrite").parquet(pq_p)
    legs = [
        spark.read.option("header", "true").schema(src.schema).csv(csv_p)
        .withColumn("fmt", F.lit("csv")),
        spark.read.schema(src.schema).json(json_p).withColumn(
            "fmt", F.lit("json")
        ),
        spark.read.parquet(pq_p).withColumn("fmt", F.lit("parquet")),
    ]
    out = legs[0].unionByName(legs[1]).unionByName(legs[2])
    return out.orderBy("n_nationkey", "fmt")


@register(
    "scan_insert_overwrite_partition",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rewritten
    FROM orders
    WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_orderpriority
    UNION ALL
    SELECT '1-URGENT' AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_rewritten
    FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderpriority
    """,
)
def scan_insert_overwrite_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: a partitioned table has exactly ONE
    partition rewritten in place (negated keys mark the rewrite) while
    every other partition's bytes are untouched — INSERT OVERWRITE
    semantics with ``partitionOverwriteMode=dynamic``, the idempotent
    backfill primitive of every partitioned lake table. The oracle states
    the contract: untouched partitions keep original rows, the rewritten
    partition is fully replaced. The overwrite writes only the one
    partition's data (no table-wide rewrite)."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = _scratch("dynoverwrite")
    src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    rewritten = (
        src.filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("o_orderkey", -F.col("o_orderkey"))
    )
    (
        rewritten.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("o_orderkey") < 0).cast("int")).cast("long").alias(
                "n_rewritten"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scan_csv_quotes",
    """
    SELECT n_nationkey,
           n_name || ',' || CHR(10) || '"' || n_name || '"' AS gnarly,
           CAST(LENGTH(n_name || ',' || CHR(10) || '"' || n_name || '"')
                AS INTEGER) AS n_chars
    FROM nation
    ORDER BY n_nationkey
    """,
)
def scan_csv_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture: values containing the delimiter, embedded
    newlines, AND double quotes are written to CSV and must survive the
    round-trip byte-for-byte (RFC 4180 quoting + escaping + multiLine
    read). The oracle recomputes the gnarly value from the source table,
    so any quoting loss — the classic silent CSV corruption — breaks the
    hash."""
    nation = load_table(spark, sf_dir, "nation")
    gnarly = F.concat(
        F.col("n_name"), F.lit(",\n\""), F.col("n_name"), F.lit("\"")
    )
    src = nation.select(
        "n_nationkey",
        gnarly.alias("gnarly"),
        F.length(gnarly).alias("n_chars"),
    )
    path = _scratch("csvquotes")
    src.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(path)
    return (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema(src.schema)
        .csv(path)
        .orderBy("n_nationkey")
    )

@register("scan_xml_roundtrip", "SELECT * FROM supplier")
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink (Spark 4 native, no external package): write the
    supplier table as row-tagged XML, read it back with the source schema
    (XML carries no types; inference would widen) — the ingest path for
    the XML feeds enterprise pipelines still receive. Reads are
    distributed per-file like every other file source; at scale the
    practical layout is many medium files, which this write produces
    (one per task)."""
    src = load_table(spark, sf_dir, "supplier")
    path = _scratch("xml")
    src.write.mode("overwrite").format("xml").option("rowTag", "supplier").save(
        path
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(src.schema)
        .load(path)
    )


@register(
    "scan_binary_files",
    f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           md5(base64(content)) AS digest
    FROM read_blob('{PINNED_SF_DIR}/*.parquet')
    ORDER BY fname
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — whole files as (path, length, content)
    rows, the ingestion surface for opaque multimodal payloads (images,
    audio, archives) that no record format parses. Emits name + size +
    content digest per file. Digest discipline: md5 over the
    newline-stripped base64 text, because that is the bytes→text mapping
    both engines spell identically (Spark's ``base64`` is MIME-chunked;
    DuckDB cannot hash raw blobs). BOTH sides pin ``PINNED_SF_DIR`` (the
    oracle is a static string baked at import time, so it cannot follow
    ``sf_dir``; pinning the Spark side to the same env-derived constant
    keeps the differential meaningful at every sweep SF and on checkouts
    where fixtures live elsewhere — which directory gets digested is
    incidental to the binaryFile surface being proven).

    At 100 TB: binaryFile splits per file across executors and prunes
    with ``pathGlobFilter``/``modifiedAfter``; pair it with the
    ``mm_shard_manifest`` operator for WebDataset-style sharding."""
    b64 = F.regexp_replace(F.base64("content"), "[\r\n]", "")
    return (
        spark.read.format("binaryFile")
        .load(f"{PINNED_SF_DIR}/*.parquet")
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(b64).alias("digest"),
        )
        .orderBy("fname")
    )

@register("scan_csv_gzip_roundtrip", "SELECT * FROM customer")
def scan_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text ingestion: write the customer table as gzip CSV,
    read it back with the source schema. Gzip text files are
    NON-SPLITTABLE — one file = one task regardless of size — so the
    write-side file count (here: the write parallelism) IS the read-side
    parallelism; at scale keep compressed text shards ≤ ~256 MB or use a
    splittable codec. The round-trip hash proves no loss through the
    codec + CSV serialization."""
    src = load_table(spark, sf_dir, "customer")
    path = _scratch("csvgz")
    src.write.mode("overwrite").option("header", "true").option(
        "compression", "gzip"
    ).csv(path)
    return spark.read.option("header", "true").schema(src.schema).csv(path)

@register(
    "scan_file_lineage",
    """
    SELECT o_orderstatus AS part_value,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM orders GROUP BY o_orderstatus ORDER BY part_value
    """,
)
def scan_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level lineage via ``input_file_name()``: write orders
    partitioned by status (repartitioned so each partition is exactly one
    file), read back, and account every row to its physical file — the
    primitive behind incremental reprocessing ("which files fed this
    result?") and per-file audit counts. The oracle states the invariant
    the layout guarantees: per-partition-value counts with one file each.
    At scale the same groupBy(input_file_name) audits million-file tables
    without any metadata service."""
    src = load_table(spark, sf_dir, "orders")
    path = _scratch("lineage")
    src.repartition("o_orderstatus").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    back = spark.read.parquet(path)
    per_file = back.groupBy(
        F.col("o_orderstatus").cast("string").alias("part_value"),
        F.input_file_name().alias("file"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_file.groupBy("part_value")
        .agg(
            F.sum("n").alias("n_rows"),
            F.countDistinct("file").alias("n_files"),
        )
        .orderBy("part_value")
    )

@register(
    "join_dpp_runtime",
    """
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100.0) AS DECIMAL(28,0))) AS DOUBLE)
               / 100.0 AS total_value
    FROM events e
    JOIN (VALUES ('click', 1), ('view', 0), ('purchase', 1),
                 ('signup', 0), ('error', 0))
         AS dim(event_type, wanted)
      ON dim.event_type = e.event_type
    WHERE dim.wanted = 1
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def join_dpp_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by event_type; the dim side's filter (wanted = true) is only known at
    plan time through the join, so Spark injects a runtime subquery that
    prunes fact PARTITIONS before the scan — at 100 TB the scan reads 2/5
    of the directory tree instead of all of it, without the query author
    naming the partitions. (Static pruning is `scan_partition_prune`;
    this is its join-driven twin, plan-asserted in tests/test_plans.py.)
    The oracle states the equivalent explicit filter join."""
    ev = load_table(spark, sf_dir, "events")
    path = _scratch("dpp")
    ev.repartition("event_type").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    fact = spark.read.parquet(path)
    # the dim must be a FILE source: a local relation's filter constant-
    # folds away before the DPP rule looks for a selective predicate
    dim_path = _scratch("dpp_dim")
    spark.createDataFrame(
        [
            ("click", 1),
            ("view", 0),
            ("purchase", 1),
            ("signup", 0),
            ("error", 0),
        ],
        "event_type string, wanted int",
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    return (
        # an INT flag compared with =, not a boolean column: Catalyst's
        # BooleanSimplification folds `bool = true` back to the bare
        # attribute, which the DPP rule's isLikelySelective() rejects
        fact.join(F.broadcast(dim.filter(F.col("wanted") == 1)), "event_type")
        .groupBy(F.col("event_type").cast("string").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100.0).cast("decimal(28,0)")).cast(
                    "double"
                )
                / 100.0
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "sink_partition_stats_manifest",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS DECIMAL(28,0)))
                AS DOUBLE) / 100.0 AS sum_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sink_partition_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse manifest statistics: write the fact table partitioned,
    re-read it, and derive per-partition min/max/count/sum — the zone-map
    stats a table format (Iceberg/Delta manifest) records so scans can
    prune partitions and row groups without opening them. The oracle
    computes the same stats straight off the source table, proving the
    partitioned write→read roundtrip is lossless AND the manifest numbers
    are exactly the data's. At 100 TB this per-partition aggregation runs
    partition-local (no shuffle before the final ~3-row collect)."""
    li = load_table(spark, sf_dir, "lineitem")
    path = _scratch("manifest")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("l_returnflag").cast("string").alias("l_returnflag"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100.0).cast("decimal(28,0)")
                ).cast("double")
                / 100.0
            ).alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scan_manifest_prune",
    """
    WITH tagged AS (
        SELECT STRFTIME(l_shipdate, '%Y-%m') AS file_time,
               CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS file_value,
               l_extendedprice AS price
        FROM lineitem
    ),
    layouts AS (
        SELECT 'time-partitioned' AS layout, file_time AS file_id, price
        FROM tagged
        UNION ALL
        SELECT 'value-clustered', CAST(file_value AS VARCHAR), price
        FROM tagged
    ),
    files AS (
        SELECT layout, file_id,
               MIN(price) AS mn, MAX(price) AS mx,
               CAST(COUNT(*) AS BIGINT) AS rows_in_file,
               CAST(COUNT(*) FILTER (WHERE price BETWEEN 30000 AND 33000)
                    AS BIGINT) AS hit_rows
        FROM layouts GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(COUNT(*) FILTER (WHERE mn <= 33000 AND mx >= 30000)
                AS BIGINT) AS files_scanned,
           CAST(COUNT(*) FILTER (WHERE hit_rows > 0) AS BIGINT)
               AS files_fruitful,
           CAST(COALESCE(SUM(rows_in_file)
                    FILTER (WHERE mn <= 33000 AND mx >= 30000), 0) AS BIGINT)
               AS rows_scanned,
           CAST(COALESCE(SUM(hit_rows), 0) AS BIGINT) AS rows_hit,
           ROUND(CAST(COALESCE(SUM(hit_rows), 0) AS DOUBLE)
                 / COALESCE(SUM(rows_in_file)
                       FILTER (WHERE mn <= 33000 AND mx >= 30000), 1), 6)
               AS scan_efficiency
    FROM files
    GROUP BY layout
    ORDER BY layout
    """,
)
def scan_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning simulation: how many "files" must a scan open for
    ``price BETWEEN 30000 AND 33000`` under two physical layouts — the
    natural time-partitioned one (every month's file spans the whole
    price domain, so min/max zone maps prune NOTHING) versus a
    value-clustered one (the post-``sink_zorder`` layout, where the
    predicate touches ~1 bucket). files_scanned counts files whose
    [min,max] overlaps the predicate — exactly the decision an
    Iceberg/Delta manifest or a Parquet row-group footer drives — and
    scan_efficiency is the fraction of fetched rows that qualify. The
    whole audit is two grouped aggregates over the fact table; at 100 TB
    it runs off the real manifest instead, but the arithmetic — and the
    lesson that clustering, not partitioning, makes zone maps bite on
    value predicates — is this query."""
    li = load_table(spark, sf_dir, "lineitem")
    tagged = li.select(
        F.date_format("l_shipdate", "yyyy-MM").alias("file_time"),
        F.floor(F.col("l_extendedprice") / 5000.0)
        .cast("bigint")
        .alias("file_value"),
        F.col("l_extendedprice").alias("price"),
    )
    layouts = tagged.select(
        F.lit("time-partitioned").alias("layout"),
        F.col("file_time").alias("file_id"),
        "price",
    ).unionAll(
        tagged.select(
            F.lit("value-clustered").alias("layout"),
            F.col("file_value").cast("string").alias("file_id"),
            "price",
        )
    )
    in_range = F.col("price").between(30000, 33000)
    files = layouts.groupBy("layout", "file_id").agg(
        F.min("price").alias("mn"),
        F.max("price").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("rows_in_file"),
        F.count_if(in_range).cast("bigint").alias("hit_rows"),
    )
    scanned = (F.col("mn") <= 33000) & (F.col("mx") >= 30000)
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("files_total"),
            F.count_if(scanned).cast("bigint").alias("files_scanned"),
            F.count_if(F.col("hit_rows") > 0)
            .cast("bigint")
            .alias("files_fruitful"),
            F.coalesce(F.sum(F.when(scanned, F.col("rows_in_file"))), F.lit(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.coalesce(F.sum("hit_rows"), F.lit(0))
            .cast("bigint")
            .alias("rows_hit"),
            F.round(
                F.coalesce(F.sum("hit_rows"), F.lit(0)).cast("double")
                / F.coalesce(
                    F.sum(F.when(scanned, F.col("rows_in_file"))), F.lit(1)
                ),
                6,
            ).alias("scan_efficiency"),
        )
        .orderBy("layout")
    )


@register(
    "sink_incremental_stats",
    """
    WITH base AS (
        SELECT * FROM events WHERE EXTRACT(DAY FROM ts) <= 20
    ), delta AS (
        SELECT * FROM events WHERE EXTRACT(DAY FROM ts) > 20
    ), sb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(MIN(FLOOR(value * 100.0)) AS BIGINT) AS mn,
               CAST(MAX(FLOOR(value * 100.0)) AS BIGINT) AS mx,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        FROM base
    ), sd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(MIN(FLOOR(value * 100.0)) AS BIGINT) AS mn,
               CAST(MAX(FLOOR(value * 100.0)) AS BIGINT) AS mx,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        FROM delta
    ), sf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(MIN(FLOOR(value * 100.0)) AS BIGINT) AS mn,
               CAST(MAX(FLOOR(value * 100.0)) AS BIGINT) AS mx,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        FROM events
    )
    SELECT sb.n AS base_n, sd.n AS delta_n, sf.n AS full_n,
           CAST(sb.n + sd.n = sf.n AS INT) AS count_merges,
           CAST(sb.cents + sd.cents = sf.cents AS INT) AS sum_merges,
           CAST(LEAST(sb.mn, sd.mn) = sf.mn
                AND GREATEST(sb.mx, sd.mx) = sf.mx AS INT) AS minmax_merges,
           CAST(sb.users + sd.users >= sf.users AS INT)
               AS ndv_upper_bound_holds,
           CAST(sb.users + sd.users - sf.users AS BIGINT) AS ndv_overlap
    FROM sb CROSS JOIN sd CROSS JOIN sf
    """,
)
def sink_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental statistics maintenance audit: compute catalog stats
    (count, sum, min/max, distinct users) for a base partition (days
    ≤ 20) and a delta partition (days > 20) separately, merge them, and
    verify against a full recompute — proving IN-ENGINE which stats are
    mergeable (count/sum/min/max: exactly; NDV: only an upper bound —
    the overlap column quantifies why real systems keep HLL sketches,
    not scalar NDVs, in their manifests). This is the maintenance
    contract behind zone maps, ANALYZE deltas, and incremental
    materialized aggregates. All exact integers; three aggregation
    passes here, but the point is that at 100 TB the FULL pass never
    runs — base stats persist and only the delta is scanned."""
    ev = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    cents = F.floor(F.col("value") * 100.0)

    def stats(df):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents.cast("long")).cast("bigint").alias("cents"),
            F.min(cents).cast("bigint").alias("mn"),
            F.max(cents).cast("bigint").alias("mx"),
            F.countDistinct("user_id").cast("bigint").alias("users"),
        )

    sb = stats(ev.filter(day <= 20)).select(
        *[F.col(c).alias(f"b_{c}") for c in ("n", "cents", "mn", "mx", "users")]
    )
    sd = stats(ev.filter(day > 20)).select(
        *[F.col(c).alias(f"d_{c}") for c in ("n", "cents", "mn", "mx", "users")]
    )
    sf_ = stats(ev).select(
        *[F.col(c).alias(f"f_{c}") for c in ("n", "cents", "mn", "mx", "users")]
    )
    j = sb.crossJoin(sd).crossJoin(sf_)
    return j.select(
        F.col("b_n").alias("base_n"),
        F.col("d_n").alias("delta_n"),
        F.col("f_n").alias("full_n"),
        (F.col("b_n") + F.col("d_n") == F.col("f_n"))
        .cast("int")
        .alias("count_merges"),
        (F.col("b_cents") + F.col("d_cents") == F.col("f_cents"))
        .cast("int")
        .alias("sum_merges"),
        (
            (F.least(F.col("b_mn"), F.col("d_mn")) == F.col("f_mn"))
            & (F.greatest(F.col("b_mx"), F.col("d_mx")) == F.col("f_mx"))
        )
        .cast("int")
        .alias("minmax_merges"),
        (F.col("b_users") + F.col("d_users") >= F.col("f_users"))
        .cast("int")
        .alias("ndv_upper_bound_holds"),
        (F.col("b_users") + F.col("d_users") - F.col("f_users"))
        .cast("bigint")
        .alias("ndv_overlap"),
    )


@register(
    "scan_nested_pruning",
    """
    SELECT n_name AS name,
           CAST(n_regionkey AS INT) AS regionkey,
           CAST(n_nationkey + 1000 AS BIGINT) AS geo_id
    FROM nation ORDER BY name
    """,
)
def scan_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema projection pushdown: write a parquet layout where
    the interesting leaves live INSIDE a struct column
    (geo: {nationkey, regionkey, padding}), then read back only two
    leaves plus a top-level column — Spark's nested-schema-pruning rule
    must shrink the Parquet ReadSchema to exactly the referenced leaf
    paths (test_plans asserts `geo.regionkey` appears WITHOUT
    `geo.padding` in the scan schema). At 100 TB structs hold the
    wide metadata (the multimodal pattern in this repo: payload +
    typed metadata struct), and leaf pruning is the difference between
    reading 2% and 100% of the bytes. The oracle recomputes the same
    values relationally — the contract is the ANSWER; the plan shape
    is pinned by the plan test."""
    nat = load_table(spark, sf_dir, "nation")
    path = _scratch("nested")
    nested = nat.select(
        F.col("n_name").alias("name"),
        F.struct(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_regionkey").alias("regionkey"),
            F.repeat(F.lit("x"), 1000).alias("padding"),
        ).alias("geo"),
    )
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.select(
        "name",
        F.col("geo.regionkey").cast("int").alias("regionkey"),
        (F.col("geo.nationkey") + 1000).cast("bigint").alias("geo_id"),
    ).orderBy("name")


@register(
    "scan_rle_audit",
    """
    WITH by_self AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS runs FROM (
            SELECT l_returnflag,
                   LAG(l_returnflag) OVER (
                       ORDER BY l_returnflag, l_orderkey, l_linenumber)
                       AS prev
            FROM lineitem
        ) t WHERE prev IS NULL OR prev <> l_returnflag
    ), by_date AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS runs FROM (
            SELECT l_returnflag,
                   LAG(l_returnflag) OVER (
                       ORDER BY l_shipdate, l_orderkey, l_linenumber)
                       AS prev
            FROM lineitem
        ) t WHERE prev IS NULL OR prev <> l_returnflag
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_ FROM lineitem)
    SELECT n.rows_ AS n_rows,
           by_self.runs AS runs_sorted_by_value,
           by_date.runs AS runs_sorted_by_shipdate,
           ROUND(CAST(n.rows_ AS DOUBLE) / by_self.runs, 1)
               AS rle_ratio_value_sorted,
           ROUND(CAST(n.rows_ AS DOUBLE) / by_date.runs, 4)
               AS rle_ratio_date_sorted
    FROM n CROSS JOIN by_self CROSS JOIN by_date
    """,
)
def scan_rle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding audit: count the value RUNS of
    ``l_returnflag`` under two physical sort orders — sorted by the
    column itself (3 runs: RLE collapses the column to nothing) vs
    sorted by ship date (≈ one run per row: RLE useless) — making the
    storage-layout lesson MEASURABLE: sort-key choice, not the codec,
    decides encoded size (the same decision zorder/clustering operators
    in this repo optimize). Runs are exact lag-compare counts with full
    tie-break chains so both engines see identical orders.

    Scale shape: a run count over a TOTAL order is computed WITHOUT a
    global single-task sort — the leading sort key doubles as a chunk
    key, runs are counted inside each chunk with a *partitioned* window
    (parallel, shuffle ∝ rows), and chunk boundaries are stitched on the
    per-chunk aggregate: ``total = Σ runs_per_chunk − #(adjacent chunks
    whose touching values are equal)``. The only unpartitioned window
    left runs over that aggregate — O(distinct leading-key values)
    rows (3 flags / ~2.4 k ship dates), bounded at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")

    def runs(chunk_col, order_cols):
        # Per-chunk run counts + the chunk's first/last value in order.
        wc = Window.partitionBy(chunk_col).orderBy(*order_cols)
        tie = F.struct(*order_cols)
        per_chunk = (
            li.select(
                chunk_col,
                "l_returnflag",
                *order_cols,
                F.lag("l_returnflag").over(wc).alias("prev"),
            )
            .groupBy(chunk_col)
            .agg(
                F.sum(
                    F.when(
                        F.col("prev").isNull()
                        | (F.col("prev") != F.col("l_returnflag")),
                        1,
                    ).otherwise(0)
                ).alias("runs_c"),
                F.min_by("l_returnflag", tie).alias("first_v"),
                F.max_by("l_returnflag", tie).alias("last_v"),
            )
        )
        # Boundary stitch over the tiny chunk aggregate (O(chunks) rows).
        wb = Window.orderBy(chunk_col)
        stitched = per_chunk.select(
            "runs_c",
            "first_v",
            F.lag("last_v").over(wb).alias("prev_last"),
        )
        return stitched.agg(
            (
                F.sum("runs_c")
                - F.sum(
                    F.when(F.col("prev_last") == F.col("first_v"), 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("runs")
        )

    by_self = runs("l_returnflag", ["l_orderkey", "l_linenumber"]).select(
        F.col("runs").alias("runs_self")
    )
    by_date = runs("l_shipdate", ["l_orderkey", "l_linenumber"]).select(
        F.col("runs").alias("runs_date")
    )
    n = li.agg(F.count(F.lit(1)).cast("bigint").alias("rows_"))
    j = n.crossJoin(F.broadcast(by_self)).crossJoin(F.broadcast(by_date))
    return j.select(
        F.col("rows_").alias("n_rows"),
        F.col("runs_self").alias("runs_sorted_by_value"),
        F.col("runs_date").alias("runs_sorted_by_shipdate"),
        F.round(
            F.col("rows_").cast("double") / F.col("runs_self"), 1
        ).alias("rle_ratio_value_sorted"),
        F.round(
            F.col("rows_").cast("double") / F.col("runs_date"), 4
        ).alias("rle_ratio_date_sorted"),
    )


@register(
    "scan_aggregate_pushdown",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def scan_aggregate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/COUNT answered from PARQUET FOOTER STATISTICS instead of
    row scans: with ``spark.sql.parquet.aggregatePushdown`` on, the V2
    reader folds these aggregates from row-group metadata, so the job
    reads a few KB of footers no matter how many TB of pages sit below
    — the plan shows ``PushedAggregation`` and tests/test_plans.py pins
    it. The conf is set per-operator (and restored) because pushdown
    requires the v2 DataSource path; results are bit-identical to a
    full scan, which is exactly what the oracle verifies.

    Scale: O(row groups) footer reads, zero data pages — the strongest
    possible pushdown posture for this query shape."""
    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_list = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("o_totalprice").alias("min_price"),
                F.max("o_totalprice").alias("max_price"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
        )
        # materialize the plan while the conf is active; the returned
        # frame is tiny and already computed
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        if prev_list is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", prev_list)
    return spark.createDataFrame(rows, df.schema)


@register("catalog_analyze_stats")
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE COMPUTE STATISTICS audit: persist nation as a
    managed table, collect table- and column-level statistics, then
    read them back from the catalog (DESCRIBE EXTENDED) and publish
    catalog rowCount / distinct-count beside the ACTUAL values from a
    scan — the CBO's food, and the freshness check a production
    metastore needs (stale stats mis-size broadcast joins; at 100 TB
    an 8-bytes-per-row error flips a plan). Tier R: catalog plumbing
    has no DuckDB twin, so the gate pins row count and the tests pin
    the stats-vs-actual equalities.

    Scale: stats collection is one pass; the audit reads catalog
    metadata only."""
    src = load_table(spark, sf_dir, "nation")
    spark.sql("DROP TABLE IF EXISTS _stats_audit_nation")
    # a previous session's managed-table directory may survive the DROP
    # (fresh catalog, stale warehouse) — remove it or saveAsTable raises
    # LOCATION_ALREADY_EXISTS
    import shutil

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(wh, "_stats_audit_nation"), ignore_errors=True)
    src.write.mode("overwrite").saveAsTable("_stats_audit_nation")
    spark.sql("ANALYZE TABLE _stats_audit_nation COMPUTE STATISTICS")
    spark.sql(
        "ANALYZE TABLE _stats_audit_nation COMPUTE STATISTICS FOR COLUMNS "
        "n_nationkey, n_name"
    )
    det = spark.sql("DESCRIBE TABLE EXTENDED _stats_audit_nation").collect()
    stats_line = next(
        (r["data_type"] for r in det if r["col_name"] == "Statistics"), ""
    )
    import re as _re

    m = _re.search(r"(\d+) rows", stats_line)
    catalog_rows = int(m.group(1)) if m else -1
    col = spark.sql(
        "DESCRIBE EXTENDED _stats_audit_nation n_nationkey"
    ).collect()
    cmap = {r["info_name"]: r["info_value"] for r in col}
    distinct_est = int(cmap.get("distinct_count", "-1"))
    actual = src.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("n_nationkey").cast("long").alias("d"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(actual["n"]),
                catalog_rows,
                int(actual["d"]),
                distinct_est,
                int(catalog_rows == actual["n"]),
            )
        ],
        "actual_rows bigint, catalog_rows bigint, actual_distinct bigint,"
        " catalog_distinct bigint, stats_fresh int",
    )


@register(
    "sink_max_records_per_file",
    """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_written FROM customer)
    SELECT rows_written,
           CAST(CEIL(CAST(rows_written AS DOUBLE) / 400) AS BIGINT)
               AS n_files,
           CAST(400 AS BIGINT) AS max_per_file,
           1 AS all_files_within_cap
    FROM n
    """,
)
def sink_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``maxRecordsPerFile`` sink contract: customers are written
    through a single task (repartition(1) — deterministic file count)
    with a 400-row cap, and the re-read audits the contract from
    ``input_file_name()``: exactly ⌈rows/400⌉ files, none above the
    cap — the small-file/size-targeting control every lake writer
    tunes (the per-file cap is what keeps row groups within memory
    budgets at 100 TB; contrast ``sink_compact_small_files``, which
    repairs the opposite failure). The oracle recomputes the ceiling
    arithmetic from the row count, so the file layout is hash-gated,
    not just eyeballed.

    Scale: the repartition(1) is for DETERMINISM of the audit at
    fixture scale; production writers keep natural parallelism and
    the cap bounds each task's files independently."""
    src = load_table(spark, sf_dir, "customer")
    path = _scratch("maxrec")
    (
        src.repartition(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 400)
        .parquet(path)
    )
    back = spark.read.parquet(path)
    per_file = back.groupBy(F.input_file_name().alias("f")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_file.agg(
        F.sum("c").cast("long").alias("rows_written"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.lit(400).cast("long").alias("max_per_file"),
        F.min(F.when(F.col("c") <= 400, 1).otherwise(0))
        .cast("int")
        .alias("all_files_within_cap"),
    )


@register(
    "scan_path_glob",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang LIKE 'e%'
    GROUP BY lang ORDER BY lang
    """,
)
def scan_path_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-name-convention pruning on a NON-partitioned lake layout:
    the corpus is exported as one named file per language
    (``docs_<lang>.parquet``, the date-stamped/source-stamped naming
    every landing zone actually uses), then read back with
    ``recursiveFileLookup`` + ``pathGlobFilter='docs_e*.parquet'`` so
    only the matching files are ever opened — listing-time pruning for
    layouts that never got Hive partition dirs (complements
    ``scan_partition_prune``, which needs them). The oracle computes
    the same answer from the source table with the equivalent
    predicate, so the gate proves glob pruning loses nothing.

    Scale: pruning happens at file-listing time — unmatched files cost
    a name comparison, no footer read, no task; the shape holds for a
    million-file landing zone where open-per-file dominates."""
    import glob as _glob
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    path = _scratch("nameglob")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    for lang in sorted(langs):
        tmp = os.path.join(path, f"_tmp_{lang}")
        docs.filter(F.col("lang") == lang).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(path, f"docs_{lang}.parquet"))
        shutil.rmtree(tmp)
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "docs_e*.parquet")
        .parquet(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )

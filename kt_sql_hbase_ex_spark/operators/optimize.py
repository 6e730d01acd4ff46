"""Scale techniques as first-class operators — skew salting, bucketed
co-located joins.

No reference analog: the reference's performance toolkit stopped at
storage-side filtering (``hbase/HBaseTable.kt:44-52`` design notes).
These two patterns are the ones that decide whether a 100 TB job
finishes: a skewed shuffle key serializes the whole stage on one task,
and a repeated fact⋈fact shuffle dominates any standing pipeline.

Both queries compute answers an ordinary formulation would also get —
the *plans* are the deliverable (pinned in tests/test_plans.py); the
DuckDB oracles check the rewrites didn't change semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark.functions.money import exact_sum, exact_sum_sql
from kt_sql_hbase_ex_spark.registry import query
from kt_sql_hbase_ex_spark.sources.catalog import fan_out, load_table, table_path

N_SALTS = 16


def _layout_slug(sf_dir: str, table: str) -> str:
    """Cache key for derived layouts (bucketed tables, partitioned/
    z-ordered rewrites): full resolved source path + file mtime/size.
    Keying on the basename alone would let two data roots sharing a
    basename — or a regenerated fixture — silently serve a stale
    layout; the fingerprint invalidates the cache whenever the source
    parquet changes."""
    import hashlib
    import os
    import re

    p = os.path.realpath(table_path(sf_dir, table))
    st = os.stat(p)
    fp = hashlib.sha256(
        f"{p}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    base = re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    return f"{base}_{fp}"


def _layout_cache_root(kind: str) -> str:
    """Per-user temp root for derived layouts (the shared /tmp must not
    let one user's cache shadow another's)."""
    import os
    import tempfile

    uid = getattr(os, "getuid", lambda: 0)()
    return os.path.join(tempfile.gettempdir(), f"kt_sql_{kind}_u{uid}")


def _prune_stale_layouts(root: str, slug: str) -> None:
    """Remove sibling layouts of the same base with a DIFFERENT
    fingerprint — each fixture regeneration mints a new slug, and
    without pruning the orphaned copies accumulate forever."""
    import os
    import shutil

    base_prefix = slug.rsplit("_", 1)[0] + "_"
    if not os.path.isdir(root):
        return
    for d in os.listdir(root):
        if d.startswith(base_prefix) and d != slug:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


@query(
    "opt01_salted_skew_agg",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total, ROUND(MAX(value), 2) AS mx
    FROM events GROUP BY event_type
    """,
)
def opt01_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a pathologically skewed key
    (event_type has ~5 values — at 100 TB that is 5 reducer tasks doing
    all the work). Phase 1 groups by (key, salt) spreading each hot key
    over {N_SALTS} tasks; phase 2 merges the partials per key. COUNT/SUM
    /MAX re-aggregate losslessly (the same algebraic-partial property
    map-side combine relies on). AQE's skew handling covers *joins*;
    salting is the aggregation-side equivalent, shown explicitly."""
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(N_SALTS)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum("value").alias("psum"),
        F.max("value").alias("pmax"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum"), 2).alias("total"),
        F.round(F.max("pmax"), 2).alias("mx"),
    )


@query(
    "opt02_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def opt02_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with ZERO shuffle: both tables bucketed by the join
    key at write time (``bucketBy``), so matching keys already live in
    matching buckets and the sort-merge join reads them co-located —
    the write-once-join-forever layout for a standing 100 TB pipeline
    (the analytics answer to the reference's rowkey-locality design,
    ``hbase/HBaseModifiableTable.kt:337-339``). The one-time bucketed
    write is the setup; every downstream run skips the shuffle
    (asserted by plan test: no Exchange above the scans)."""
    n_buckets = 8
    from kt_sql_hbase_ex_spark.operators.ddl import _reset_table

    # bucketed-table cache keyed by source path + fingerprint: a table
    # built from one sf_dir (or an older copy of it) must never serve
    # another's query
    tbls = {}
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        slug = _layout_slug(sf_dir, name)
        tbl = f"ktsql_bkt_{slug}_{name}"
        tbls[name] = tbl
        if not spark.catalog.tableExists(tbl):
            # drop stale same-base tables from earlier fixture versions
            # (different fingerprint), then clear any orphan files a
            # previous process left in the warehouse, or the write fails
            base_prefix = "ktsql_bkt_" + slug.rsplit("_", 1)[0] + "_"
            for t in spark.catalog.listTables():
                if t.name.startswith(base_prefix) and t.name.endswith(f"_{name}") and t.name != tbl:
                    spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            _reset_table(spark, tbl)
            (
                load_table(spark, sf_dir, name)
                .write.mode("overwrite")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
    o = spark.table(tbls["orders"])
    li = spark.table(tbls["lineitem"])
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "opt03_partition_pruned_layout",
    oracle="""
    SELECT CAST(strftime(ts, '%Y-%m-%d') AS VARCHAR) AS day,
           event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-06')
    GROUP BY 1, 2
    """,
)
def opt03_partition_pruned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: events written
    ``partitionBy(day)`` once, then a day-predicate query reads ONLY the
    matching directories (PartitionFilters in the scan, pinned by plan
    test) — the Spark analog of the reference's rowkey-range access path
    (``hbase/HBaseModifiableTable.kt:337-339``: PK predicates became
    rowkey ranges so region servers skipped everything else). At 100 TB
    this is the first-order design decision: time-partitioned facts make
    every time-bounded query touch days, not the archive."""
    import os

    from kt_sql_hbase_ex_spark.sources.catalog import load_table as _lt

    slug = _layout_slug(sf_dir, "events")
    path = os.path.join(_layout_cache_root("part_layout"), slug)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        _prune_stale_layouts(_layout_cache_root("part_layout"), slug)
        (
            _lt(spark, sf_dir, "events")
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )
    e = spark.read.parquet(path)
    return (
        e.filter(F.col("day").isin("2024-01-05", "2024-01-06"))
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "opt05_runtime_bloom_filter",
    oracle="""
    SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 5
    GROUP BY p.p_brand
    """,
)
def opt05_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective dimension filter
    (p_size <= 5) is turned into a bloom filter at runtime and pushed
    into the FACT side's scan stage, so most lineitem rows die at the
    map side instead of travelling through the shuffle
    (``BloomFilterMightContain`` wrapping the probe side — pinned in
    plan tests). This is Catalyst's answer to the reference's
    server-side ``SingleColumnValueFilter`` pushdown
    (``hbase/HBaseModifiableTable.kt:341-344``) for predicates that only
    exist AFTER a join is considered: at 100 TB the filter removes the
    shuffle of every non-matching fact row, which dwarfs the cost of
    building the ~MB filter. Spark injects it only for shuffle joins
    (broadcast joins already prune at the hash build), so the demo pins
    the shuffle-join shape; thresholds are session defaults on a real
    cluster — lowered here because the fixture scan is tiny."""
    confs = {
        # the demo must be a shuffle join: broadcast joins don't get
        # (or need) a bloom filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
        li = load_table(spark, sf_dir, "lineitem")
        out = (
            li.join(part, part.p_partkey == li.l_partkey)
            .groupBy("p_brand")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
        )
        # force physical planning NOW, while the demo confs are active —
        # the QueryExecution caches the plan, so the later action runs
        # it unchanged while the session confs are already restored
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@query(
    "opt04_cached_hot_table",
    oracle="""
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(AVG(s.s_acctbal), 2) AS avg_bal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
)
def opt04_cached_hot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE — the third leg of the reference's CREATE INDEX analog
    (SURVEY §2.4: cache / bucketing / stats; bucketing is opt02). A hot
    dimension cached once serves every subsequent query from the
    in-memory columnar store (``InMemoryTableScan`` replaces the file
    scan — asserted in plan tests). At scale: cache dimensions and hot
    aggregates, never raw facts (memory is the scarce resource; Parquet
    + OS page cache already serve cold scans well)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("opt04_supplier")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("opt04_nation")
    spark.sql("CACHE TABLE opt04_supplier")
    spark.sql("CACHE TABLE opt04_nation")
    return spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_suppliers,
               ROUND(AVG(s.s_acctbal), 2) AS avg_bal
        FROM opt04_supplier s JOIN opt04_nation n
          ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name
        """
    )


Z_BITS = 3  # bits per dimension → 2^(2*3) = 64 z-buckets
_BOX_PX = (2, 5)  # query box: px ∈ [2,5] × sy ∈ [3,4]
_BOX_SY = (3, 4)


def _z_interleave(x: int, y: int) -> int:
    """Morton/Z-order bit interleave (Python mirror of the write-side
    SQL expression; used driver-side to enumerate the covering bucket
    set for a box predicate — a 2^(2*Z_BITS)-element loop, O(1))."""
    z = 0
    for i in range(Z_BITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def _z_expr_sql(xcol: str, ycol: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"shiftleft(shiftright({xcol}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({ycol}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


@query(
    "opt06_zorder_clustered_layout",
    oracle=f"""
    SELECT l_partkey % 8 AS px, l_suppkey % 8 AS sy,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_partkey % 8 BETWEEN {_BOX_PX[0]} AND {_BOX_PX[1]}
      AND l_suppkey % 8 BETWEEN {_BOX_SY[0]} AND {_BOX_SY[1]}
    GROUP BY 1, 2
    """,
)
def opt06_zorder_clustered_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered layout: lineitem written once
    partitioned by the bit-interleaved z-bucket of two filter
    dimensions, so a 2-D *box* predicate prunes to the covering bucket
    set (PartitionFilters, pinned by plan test) — multi-dimensional
    locality that single-column partitioning (opt03) cannot give: either
    dimension alone would scan a full stripe of the other. The covering
    set is enumerated driver-side over the 64 bucket codes (O(1)); the
    residual exact box filter stays on the scan. At 100 TB this is the
    Delta/Iceberg Z-ORDER write pattern: one layout serves range
    predicates on *both* dimensions, at the cost of coarser per-dim
    clustering than a dedicated sort."""
    import os

    slug = _layout_slug(sf_dir, "lineitem")
    path = os.path.join(_layout_cache_root("zorder_layout"), slug)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        _prune_stale_layouts(_layout_cache_root("zorder_layout"), slug)
        (
            load_table(spark, sf_dir, "lineitem")
            .select(
                (F.col("l_partkey") % 8).alias("px"),
                (F.col("l_suppkey") % 8).alias("sy"),
                "l_quantity",
            )
            .withColumn("zbucket", F.expr(_z_expr_sql("px", "sy")))
            .write.mode("overwrite")
            .partitionBy("zbucket")
            .parquet(path)
        )
    covering = [
        _z_interleave(x, y)
        for x in range(_BOX_PX[0], _BOX_PX[1] + 1)
        for y in range(_BOX_SY[0], _BOX_SY[1] + 1)
    ]
    li = spark.read.parquet(path)
    return (
        li.filter(F.col("zbucket").isin(covering))
        .filter(
            F.col("px").between(*_BOX_PX) & F.col("sy").between(*_BOX_SY)
        )
        .groupBy("px", "sy")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


HOT_KEY = "purchase"
HOT_AMP = 12  # hot-key amplification: stands in for a production hot key


@query(
    "opt07_aqe_skew_join",
    oracle=f"""
    WITH amplified AS (
        SELECT e.event_type, e.value
        FROM events e,
             unnest(generate_series(1, CASE WHEN e.event_type = '{HOT_KEY}'
                                            THEN {HOT_AMP} ELSE 1 END)) AS t(i)
    ),
    means AS (
        SELECT event_type, AVG(value) AS mean_v FROM amplified GROUP BY event_type
    )
    SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_above
    FROM amplified a JOIN means m ON m.event_type = a.event_type
    WHERE a.value > m.mean_v
    GROUP BY a.event_type
    """,
)
def opt07_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join handling — the join-side complement of opt01's
    aggregation salting. One join key ({HOT_KEY}) is amplified
    {HOT_AMP}x (the fixture's types are uniform; production hot keys are
    not), so its shuffle partition dwarfs the median and would serialize
    the whole stage on one task. With AQE skew handling the runtime
    splits that partition across tasks by mapper range and duplicates
    the matching build rows — no salting rewrite, no code change, the
    optimizer re-plans from actual shuffle statistics. AQE measures
    compressed shuffle bytes, and the amplified copies of a row are
    byte-identical: written side by side by one map task, compression
    folds them, and the hot key ships ~1.7x another key's bytes, not
    {HOT_AMP}x. So the explode runs before fan_out, whose round-robin
    deals each row's copies to different map tasks. With a single map
    task (SPARK_GRAFT_CPUS=1) there is no mapper range to split, so the
    plan stays unsplit there. The plan pin
    (tests/test_plans.py) executes this query with the skew thresholds
    scaled to fixture bytes (production defaults are 256 MB-scale) and
    asserts the final adaptive plan marks the join skew=true.
    Correctness never depends on the skew path: this oracle-checked
    query runs green with or without it."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    amplified = fan_out(
        e.withColumn(
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.when(F.col("event_type") == HOT_KEY, HOT_AMP).otherwise(1),
                )
            ),
        ).drop("i")
    )
    # the repartition is a materialization boundary: without it the agg's
    # own hash partitioning satisfies the join requirement and the join
    # child is the agg itself — AQE's OptimizeSkewedJoin only rewrites
    # joins whose children are plain shuffle reads, so the boundary is
    # what lets the runtime split the skewed side (4 is arbitrary: the
    # ENSURE_REQUIREMENTS exchange above it re-partitions by key anyway)
    means = (
        amplified.groupBy(F.col("event_type").alias("m_type"))
        .agg(F.avg("value").alias("mean_v"))
        .repartition(4)
    )
    return (
        amplified.join(means, F.col("event_type") == F.col("m_type"))
        .filter(F.col("value") > F.col("mean_v"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_above"))
    )


@query(
    "opt08_dynamic_partition_overwrite",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {exact_sum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1 ELSE o_totalprice END")}
               AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def opt08_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the backfill idiom: rewrite exactly
    one partition of a status-partitioned table without touching its
    siblings. The base table is written ``partitionBy(o_orderstatus)``;
    the correction job (here: reprice 'P' orders by +10%) writes in
    ``overwrite`` mode with ``partitionOverwriteMode=dynamic``, which
    replaces ONLY the partitions present in the incoming frame — under
    the default *static* mode the same write would truncate the whole
    table, the classic backfill footgun. At 100 TB this is how daily
    re-statements land: job output ∝ corrected partition, untouched
    partitions are never read or rewritten, and readers see partition-
    level atomicity. The oracle replays the end state declaratively."""
    import os
    import shutil

    root = _layout_cache_root("dynoverwrite")
    slug = _layout_slug(sf_dir, "orders")
    path = os.path.join(root, slug)
    # rebuild the base each run: the overwrite-then-verify sequence IS
    # the operator under test, so start from the pristine state
    shutil.rmtree(path, ignore_errors=True)
    _prune_stale_layouts(root, slug)

    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)

    corrected = (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "P")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            exact_sum("o_totalprice").alias("total"),
        )
    )


@query(
    "opt09_small_file_compaction",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {exact_sum_sql("value")} AS total_value,
           TRUE AS compacted
    FROM events
    """,
)
def opt09_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance operator every streaming
    ingest needs: a landing directory fragmented into per-microbatch
    files (simulated: a size-derived 4x-finer-than-target split) is
    rewritten into size-targeted
    files (output file count = ceil(bytes / target), metadata-only
    planning), and the result is verified content-identical against the
    oracle's view of the source (count + exact value parity) with the
    file-count reduction asserted in-row. At 100 TB this runs per
    partition as a background job: input cost one scan of the fragment
    set, output ∝ data volume, and readers flip atomically at the
    directory swap (cf. opt08's partition-level atomicity)."""
    import glob
    import math
    import os
    import shutil

    root = _layout_cache_root("compaction")
    slug = _layout_slug(sf_dir, "events")
    small = os.path.join(root, slug, "small")
    big = os.path.join(root, slug, "compacted")
    # the fragment-then-compact sequence IS the operator under test:
    # rebuild from pristine state each run
    shutil.rmtree(os.path.join(root, slug), ignore_errors=True)
    _prune_stale_layouts(root, slug)

    # Fragment count scales WITH the data: a fixed 64-way split stops
    # being "fragmented" once the table outgrows 64 target-sized files
    # (the compacted flag would then be legitimately false and fail the
    # oracle's TRUE). Estimate the compacted file count from the source
    # bytes first and fragment 4x finer, so fragments are always
    # meaningfully smaller than the compaction target at ANY table size.
    target_bytes = 32 * 1024 * 1024  # the small side of a 128 MB split
    src = table_path(sf_dir, "events")
    src_bytes = (
        os.path.getsize(src)
        if os.path.isfile(src)
        else sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(src)
            for f in fs
        )
    )
    n_frag = max(64, 4 * max(1, math.ceil(src_bytes / target_bytes)))

    e = load_table(spark, sf_dir, "events")
    e.repartition(n_frag).write.parquet(small)

    files_small = glob.glob(os.path.join(small, "*.parquet"))
    total_bytes = sum(os.path.getsize(f) for f in files_small)
    n_out = max(1, math.ceil(total_bytes / target_bytes))
    spark.read.parquet(small).repartition(n_out).write.parquet(big)

    files_big = glob.glob(os.path.join(big, "*.parquet"))
    out = spark.read.parquet(big)
    return out.agg(
        F.count("*").alias("n_rows"),
        exact_sum("value").alias("total_value"),
    ).select(
        "n_rows",
        "total_value",
        F.lit(len(files_big) < len(files_small)).alias("compacted"),
    )


@query(
    "opt10_schema_merge_scan",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {exact_sum_sql("value")} AS total_value,
           CAST(COUNT(value_eur) AS BIGINT) AS n_with_eur,
           {exact_sum_sql("value_eur")} AS total_eur
    FROM (
        SELECT value, CASE WHEN event_id % 2 = 1 THEN value * 0.5 END
                   AS value_eur
        FROM events
    )
    """,
)
def opt10_schema_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the SCAN (the lake reality set08's union-level
    evolution sits above): a dataset whose newer files carry an added
    column (``value_eur``) is read as ONE table with
    ``mergeSchema=true`` — old files null-fill the new column, no
    rewrite of historical data. At 100 TB this is THE way columns are
    added (rewriting history is off the table); the footer-merge cost
    is driver-side metadata ∝ file count, which is why the option is
    off by default and enabled per-read here, and columnar projection
    still prunes (each file decodes only the columns it has). The
    oracle replays the evolved view declaratively."""
    import os

    root = _layout_cache_root("schemamerge")
    slug = _layout_slug(sf_dir, "events")
    path = os.path.join(root, slug)
    # completeness marker on the LAST generation written: a partial or
    # interrupted build rebuilds (mode=overwrite) instead of wedging the
    # cache forever behind a bare isdir() check (the opt03 discipline)
    marker = os.path.join(path, "gen=new", "_SUCCESS")
    if not os.path.exists(marker):
        _prune_stale_layouts(root, slug)
        e = load_table(spark, sf_dir, "events").select("event_id", "value")
        old = e.filter(F.col("event_id") % 2 == 0)
        # * 0.5 is an exact binary scale — no per-row rounding, so both
        # engines derive bit-identical values for the evolved column
        new = e.filter(F.col("event_id") % 2 == 1).withColumn(
            "value_eur", F.col("value") * 0.5
        )
        old.write.mode("overwrite").parquet(os.path.join(path, "gen=old"))
        new.write.mode("overwrite").parquet(os.path.join(path, "gen=new"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen=old"), os.path.join(path, "gen=new")
    )
    return merged.agg(
        F.count("*").alias("n_rows"),
        exact_sum("value").alias("total_value"),
        F.count("value_eur").alias("n_with_eur"),
        exact_sum("value_eur").alias("total_eur"),
    )

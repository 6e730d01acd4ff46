"""Mergeable sketch rollup stores — persisted approximate-aggregate state.

The datasketches/Druid ingest-time pre-aggregation pattern, the OLAP
answer to slice-and-dice distinct/frequency queries at 100 TB: each
ingest segment persists a constant-size sketch beside the data, and a
query MERGES sketches (registers max, counters add) instead of
rescanning raw rows — bytes read ∝ sketch size × segments, never corpus
size. The reference computes these queries by full Calcite-delegated
scans (``hbase/HBaseTable.kt:26-38``, no sketch machinery); this module
is what its users would need the day the raw scan stops fitting the
query SLA.

Four sketch families — distinct-count, frequency, quantile, and
set-operation (KMV bottom-k, see its section below) — all
persisted through the same pointer-published store discipline as the
PQ/IVF stores (``similarity.py``) and all EXACTLY replayable by the
DuckDB oracle — unlike ``a04``'s engine-specific HLL++, the
register/counter/bucket computation here is pure md5 + integer
arithmetic, identical in Spark and DuckDB, so the driver gate
hash-matches the sketch VALUES (registers, scaled harmonic sums,
counter minima, histogram quantile picks), not just a tolerance flag:

* **HLL register store** (sk01/sk02): Flajolet et al.'s HyperLogLog
  with p=8 (m=256 registers). For a value v: ``h = md5(v)``, register
  index j = first 2 hex chars (8 bits), rank rho = leading-zero count
  of the next 48 bits + 1 (via ``length(bin(w))`` — integer-exact in
  both engines). The store keeps ``(grp, seg, j, max_rho)`` rows
  partitioned by segment; a slice query max-merges registers across
  segments, which equals the registers of the union corpus — the
  mergeability identity max(reg(A), reg(B)) = reg(A ∪ B) is exactly
  what the oracle replays from raw rows. The estimate is the standard
  bias-corrected harmonic mean; the harmonic sum is computed as an
  EXACT BIGINT (Σ 2^(49-M_j), max m·2^48 < 2^63) so no float
  association order can split the engines.
* **count-min store** (sk03): Cormode-Muthukrishnan count-min with
  d=4 rows × w=1024 buckets. ``h_i(tok) = int(md5(i || ':' || tok)[:8
  hex]) mod w``; the store keeps (i, b, cnt) counters — 4096 rows
  regardless of corpus size. Frequency estimate = min_i cnt[i,
  h_i(tok)], never an underestimate. Counters are ADDITIVE-mergeable:
  the fixture build sums two segment builds, and the oracle replays
  the counters from the full corpus — additivity is the proof.
* **log-histogram quantile store** (sk04): p50/p90/p99 from an
  additive histogram whose buckets are PURE INTEGER (octave = bit
  length of the exact micro-unit value, 4-bit sub-bucket — ~3%
  worst-case relative error, HdrHistogram's discipline without libm
  log at bucket boundaries); rank selection by integer
  cross-multiplication, midpoint reconstruction by exact powers of
  two — so even the quantile ESTIMATES hash-match across engines.

Store layout (per store root)::

    layout.json            {"kind","gen","data","segments"} — atomic
                           pointer publishes, resolved ONCE per read
    <data>/seg=<s>/*.parquet   HLL registers (appends land as new
                               segment partitions; max-merge at read
                               makes re-appends IDEMPOTENT)
    <data>/*.parquet           CM counters (appends add counter rows;
                               sum-merge at read makes appends additive)

Compaction collapses accumulated segment/append rows into one merged
row set as a fresh generation dir behind the pointer (answers
unchanged — pinned in tests); the superseded dir survives one cycle
for in-flight readers (deferred GC). Pointer publishes, the writer
lock and build-once provisioning are the ``storage`` substrate's.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark import storage
from kt_sql_hbase_ex_spark.registry import query
from kt_sql_hbase_ex_spark.sources.catalog import (
    fan_out,
    load_table,
    table_path,
)

# --- HLL parameters (identical literals ride in both engines' SQL) ----

_HLL_P = 8                      #: register-index bits (2 hex chars)
_HLL_M = 256                    #: register count m = 2^p
_HLL_WHEX = 12                  #: rank-source hex chars (48 bits)
_HLL_RMAX = 49                  #: max rank = 48-bit zeros + 1
_HLL_POW = 2 ** _HLL_RMAX       #: harmonic-sum scale 2^49 (exact BIGINT)
#: alpha_256 as a literal EXPRESSION with every literal CAST to
#: DOUBLE: Spark parses a bare ``0.7213`` as DECIMAL and would evaluate
#: the whole chain in decimal arithmetic while DuckDB's ``/`` promotes
#: to DOUBLE — a ~4e-9 relative divergence that can flip ``round(est,
#: 2)`` at a half-cent boundary (round-13 review finding, verified
#: numerically). With the casts both engines run the identical IEEE
#: double operation sequence.
_ALPHA_SQL = (
    "cast(0.7213 as double)"
    " / (cast(1 as double) + cast(1.079 as double) / cast(256 as double))"
)
#: small-range (linear counting) threshold 2.5 * m
_HLL_SMALL = 640.0

# --- count-min parameters ---------------------------------------------

_CM_D = 4                       #: hash rows
_CM_W = 1024                    #: buckets per row
_CM_HEX = 8                     #: hashed hex chars (32 bits) before mod
_CM_TOPK = 20                   #: probe set size for sk03

#: sk02's segment split: base build takes ship years <= this, the
#: incremental batch appends the rest
_SK02_SPLIT_YEAR = 1994


# --- shared store plumbing --------------------------------------------


def sketch_root(sf_dir: str, table: str, variant: str) -> str:
    """Fingerprinted build-once location for one fixture's sketch store,
    keyed to the SOURCE table the sketch summarizes."""
    return storage.fingerprint_root(
        "sketch", table_path(sf_dir, table), f"sketch-v2|{variant}"
    )


#: the store's generation pointer, resolved ONCE per operation
_read_layout = storage.read_layout
_write_layout = storage.write_layout


def _data_dir(root: str, layout: dict) -> str:
    return os.path.join(root, layout["data"])


# --- HLL: register computation (Spark side) ---------------------------


def _hll_hash(col) -> "F.Column":
    return F.md5(col.cast("string"))


def _hll_registers(df: DataFrame, grp: str, val: str, seg) -> DataFrame:
    """(grp, seg, j, mrho) register rows for one corpus slice: md5 the
    value, take 8 bits of register index and 48 bits of rank source,
    keep each (grp, seg, j)'s max rank. All JVM builtins — the hash,
    conv, and bin run inside whole-stage codegen; the only shuffle is
    the register group-by (output ∝ groups × m, never rows)."""
    h = _hll_hash(F.col(val))
    j = F.conv(F.substring(h, 1, _HLL_P // 4), 16, 10).cast("int")
    w = F.conv(
        F.substring(h, _HLL_P // 4 + 1, _HLL_WHEX), 16, 10
    ).cast("bigint")
    rho = F.when(w == 0, F.lit(_HLL_RMAX)).otherwise(
        F.lit(_HLL_RMAX) - F.length(F.bin(w))
    )
    return (
        df.select(
            F.col(grp).alias("grp"),
            seg.alias("seg") if not isinstance(seg, str) else F.col(seg).alias("seg"),
            j.alias("j"),
            rho.alias("rho"),
        )
        .groupBy("grp", "seg", "j")
        .agg(F.max("rho").alias("mrho"))
    )


def write_hll_store(
    spark: SparkSession, root: str, df: DataFrame, grp: str, val: str, seg
) -> None:
    """Materialize a fresh HLL register store at ``root`` from one
    corpus slice: registers land partitioned by segment (the append
    unit), the layout pointer publishes last."""
    os.makedirs(root, exist_ok=True)
    data = f"regs.{uuid.uuid4().hex[:12]}"
    (
        _hll_registers(df, grp, val, seg)
        .repartition("seg")
        .write.partitionBy("seg")
        .parquet(os.path.join(root, data))
    )
    _write_layout(root, {"kind": "hll", "gen": 0, "data": data, "prev": []})


def append_hll_segments(
    spark: SparkSession, root: str, df: DataFrame, grp: str, val: str, seg
) -> None:
    """Admit one corpus slice's registers into the standing store —
    work ∝ slice, no existing file is touched, and because readers
    max-merge, re-appending the SAME slice is idempotent (at-least-once
    ingest needs no dedup ledger). The layout resolves once; files land
    inside the live generation's ``seg=`` partitions."""
    with storage.writer_lock(root):
        layout = _read_layout(root)
        (
            _hll_registers(df, grp, val, seg)
            .repartition("seg")
            .write.mode("append")
            .partitionBy("seg")
            .parquet(_data_dir(root, layout))
        )


def compact_hll_store(spark: SparkSession, root: str) -> dict:
    """Fold accumulated per-segment/per-append register rows into ONE
    merged register set (seg = -1) as a fresh generation behind the
    pointer — answers unchanged (max is associative/commutative/
    idempotent), bytes ∝ groups × m afterwards regardless of how many
    segments accreted. The superseded data dir is retained one cycle
    for in-flight readers, then swept (deferred GC)."""
    with storage.writer_lock(root):
        layout = _read_layout(root)
        merged = (
            spark.read.parquet(_data_dir(root, layout))
            .groupBy("grp", "j")
            .agg(F.max("mrho").alias("mrho"))
            .withColumn("seg", F.lit(-1))
        )
        data = f"regs.{uuid.uuid4().hex[:12]}"
        merged.repartition("seg").write.partitionBy("seg").parquet(
            os.path.join(root, data)
        )
        storage.drop_dirs(root, layout.get("prev", []))
        _write_layout(
            root,
            {
                "kind": "hll",
                "gen": layout["gen"] + 1,
                "data": data,
                "prev": [layout["data"]],
            },
        )
        return {"gen": layout["gen"] + 1, "data": data}


def maybe_compact_hll_store(
    spark: SparkSession, root: str, max_files: int = 64
) -> dict | None:
    """Size-TRIGGERED register compaction (the ``maybe_compact_*``
    discipline shared with the IVF/PQ/band stores): fold only when the
    live register set's accreted file count exceeds ``max_files``, so
    a standing ingest loop calls this after EVERY append and pays the
    rewrite only when accretion warrants it. Driver-side listing, no
    data read; under threshold not even the lock is taken."""
    import glob

    layout = _read_layout(root)
    n = len(
        glob.glob(
            os.path.join(_data_dir(root, layout), "**", "*.parquet"),
            recursive=True,
        )
    )
    if n <= max_files:
        return None
    return compact_hll_store(spark, root)


def read_hll_registers(spark: SparkSession, root: str) -> DataFrame:
    """The live generation's register rows (layout resolved once)."""
    return spark.read.parquet(_data_dir(root, _read_layout(root)))


def hll_estimates(registers: DataFrame) -> DataFrame:
    """(grp, est, s_scaled, zero_regs) from register rows: max-merge
    across segments, then the standard bias-corrected harmonic
    estimate. ``s_scaled`` is the EXACT integer Σ 2^(49-M_j) (absent
    registers count 2^49 each), so the relation's integer columns are
    a complete functional of the merged registers — the oracle's
    hash-match over them IS register-level equality."""
    merged = registers.groupBy("grp", "j").agg(F.max("mrho").alias("mr"))
    per = merged.groupBy("grp").agg(
        (
            F.sum(F.expr(f"cast(power(2, {_HLL_RMAX} - mr) as bigint)"))
            + (F.lit(_HLL_M) - F.count("*")) * F.lit(_HLL_POW)
        ).cast("long").alias("s_scaled"),
        (F.lit(_HLL_M) - F.count("*")).cast("long").alias("zero_regs"),
    )
    return per.select(
        "grp",
        F.expr(
            f"round(case when (({_ALPHA_SQL})"
            f" * cast({_HLL_M * _HLL_M} as double))"
            f" * cast({_HLL_POW} as double) / cast(s_scaled as double)"
            f" <= cast(640 as double) and zero_regs > 0"
            f" then cast({_HLL_M} as double)"
            f" * ln(cast({_HLL_M} as double) / cast(zero_regs as double))"
            f" else (({_ALPHA_SQL}) * cast({_HLL_M * _HLL_M} as double))"
            f" * cast({_HLL_POW} as double) / cast(s_scaled as double)"
            f" end, 2)"
        ).alias("est"),
        "s_scaled",
        "zero_regs",
    )


# --- HLL: oracle-side SQL (identical arithmetic, DuckDB spelling) -----


def _hll_oracle(val_sql: str, grp_sql: str, source_sql: str) -> str:
    """The register + estimate computation in DuckDB SQL over raw rows.
    Max-merge over segments = registers over the union, so the oracle
    needs no segment model — replaying from the unsegmented corpus IS
    the mergeability proof."""
    h = f"md5(CAST({val_sql} AS VARCHAR))"
    j = f"('0x' || substr({h}, 1, {_HLL_P // 4}))::BIGINT"
    w = f"('0x' || substr({h}, {_HLL_P // 4 + 1}, {_HLL_WHEX}))::BIGINT"
    e_raw = (
        f"(({_ALPHA_SQL}) * cast({_HLL_M * _HLL_M} as double))"
        f" * cast({_HLL_POW} as double) / CAST(s_scaled AS DOUBLE)"
    )
    return f"""
    WITH reg AS (
        SELECT {grp_sql} AS grp, {j} AS j,
               CASE WHEN {w} = 0 THEN {_HLL_RMAX}
                    ELSE {_HLL_RMAX} - length(bin({w})) END AS rho
        FROM {source_sql}
    ),
    m AS (SELECT grp, j, MAX(rho) AS mr FROM reg GROUP BY grp, j),
    s AS (SELECT grp,
                 CAST(SUM(CAST(pow(2, {_HLL_RMAX} - mr) AS BIGINT))
                      + ({_HLL_M} - COUNT(*)) * {_HLL_POW} AS BIGINT)
                     AS s_scaled,
                 CAST({_HLL_M} - COUNT(*) AS BIGINT) AS zero_regs
          FROM m GROUP BY grp)
    SELECT grp, s_scaled, zero_regs,
           ROUND(CASE WHEN {e_raw} <= cast(640 as double)
                           AND zero_regs > 0
                      THEN cast({_HLL_M} as double)
                           * ln(cast({_HLL_M} as double)
                                / CAST(zero_regs AS DOUBLE))
                      ELSE {e_raw} END, 2) AS est
    FROM s
    """


# --- HLL: fixture provisioning + registered queries -------------------


def _li_slice(spark: SparkSession, sf_dir: str):
    """lineitem projected to the store's (grp, val, seg) shape:
    distinct orders per return flag, segmented by ship year (the
    ingest-partition analog)."""
    return fan_out(load_table(spark, sf_dir, "lineitem")).select(
        "l_returnflag", "l_orderkey", F.year("l_shipdate").alias("ship_year")
    )


def ensure_hll_store(spark: SparkSession, sf_dir: str) -> str:
    """sk01's store: registers over the full fixture, one segment per
    ship year (1992..1998 at TPC-H dates) — the shape an ingest
    pipeline would leave behind."""
    def build(staging: str) -> None:
        write_hll_store(
            spark, staging, _li_slice(spark, sf_dir),
            "l_returnflag", "l_orderkey", "ship_year",
        )

    return storage.build_once(sketch_root(sf_dir, "lineitem", "hll-year"), build)


def ensure_hll_incremental_store(spark: SparkSession, sf_dir: str) -> str:
    """sk02's store: built through the full maintenance lifecycle —
    base build (ship years <= {split}), incremental append (later
    years), then compaction to one merged register set. The oracle
    stays blind to the lifecycle (it replays the union corpus), so a
    green sk02 proves base + append + compact ≡ one-shot build."""
    def build(staging: str) -> None:
        rows = _li_slice(spark, sf_dir)
        write_hll_store(
            spark, staging,
            rows.filter(F.col("ship_year") <= _SK02_SPLIT_YEAR),
            "l_returnflag", "l_orderkey", "ship_year",
        )
        append_hll_segments(
            spark, staging,
            rows.filter(F.col("ship_year") > _SK02_SPLIT_YEAR),
            "l_returnflag", "l_orderkey", "ship_year",
        )
        compact_hll_store(spark, staging)

    return storage.build_once(
        sketch_root(sf_dir, "lineitem", f"hll-incr{_SK02_SPLIT_YEAR}"),
        build,
    )


def _hll_query_relation(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Shared sk01/sk02 tail: estimates served from the persisted
    registers, exact COUNT(DISTINCT) joined beside them for grading
    (the a04 companion-column discipline — at 100 TB the exact side is
    precisely the scan the store exists to avoid; it rides here so the
    driver gate can grade estimate quality as data, not just shape)."""
    est = hll_estimates(read_hll_registers(spark, root))
    # NO fan_out here (measured): count-distinct dedups map-side before
    # its exchange, so the single-split scan already ships only the
    # distinct pairs — a repartition would add a full-data exchange
    exact = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").cast("long").alias("exact_orders"))
    )
    return est.join(
        exact, est.grp == exact.l_returnflag, "inner"
    ).select(
        F.col("l_returnflag"),
        F.col("est").alias("est_orders"),
        "exact_orders",
        "s_scaled",
        "zero_regs",
        (
            F.abs(F.col("est") - F.col("exact_orders"))
            <= 0.20 * F.col("exact_orders")
        ).alias("within_tolerance"),
    )


_HLL_ORACLE_TAIL = f"""
    SELECT x.grp AS l_returnflag,
           x.est AS est_orders,
           e.exact_orders,
           x.s_scaled,
           x.zero_regs,
           ABS(x.est - e.exact_orders) <= 0.20 * e.exact_orders
               AS within_tolerance
    FROM x JOIN (
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
        FROM lineitem GROUP BY l_returnflag
    ) e ON e.l_returnflag = x.grp
"""


@query(
    "sk01_hll_rollup",
    oracle=f"""
    WITH x AS ({_hll_oracle("l_orderkey", "l_returnflag", "lineitem")})
    {_HLL_ORACLE_TAIL}
    """,
)
def sk01_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted HLL rollup: distinct orders per return flag, answered by
    MAX-MERGING the store's per-ship-year register segments — the
    ingest-time sketch pattern (Druid/datasketches) where a 100 TB
    distinct-count slice reads m × groups × segments register rows
    (kilobytes) instead of the raw corpus. Registers are md5-derived
    integer state identical in both engines, so the oracle — which
    recomputes them from raw lineitem — hash-matches the estimate AND
    the exact scaled harmonic sum ``s_scaled``: a green row is
    register-level equality between the persisted-store merge and a
    from-scratch build, which is precisely HLL's mergeability identity
    reg(A) max reg(B) = reg(A ∪ B). The exact count and a ±20%
    tolerance flag ride beside the estimate (p=8 → 6.5% standard
    error) exactly as in a04."""
    return _hll_query_relation(
        spark, sf_dir, ensure_hll_store(spark, sf_dir)
    )


@query(
    "sk02_hll_incremental_merge",
    oracle=f"""
    WITH x AS ({_hll_oracle("l_orderkey", "l_returnflag", "lineitem")})
    {_HLL_ORACLE_TAIL}
    """,
)
def sk02_hll_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL store's full maintenance lifecycle, graded end to end:
    base build over ship years <= 1994, an INCREMENTAL APPEND of the
    later years (work ∝ batch; no existing file touched; re-appends
    idempotent under max-merge), then COMPACTION collapsing the
    accreted segments into one merged register set behind the atomic
    layout pointer (deferred GC keeps the superseded dir one cycle for
    in-flight readers). The oracle is the same unsegmented replay as
    sk01 — it never sees the lifecycle, so a green row proves
    build + append + compact ≡ one-shot registers over the union,
    the property that lets a 100 TB deployment sketch each ingest
    batch independently and still answer global distincts
    exactly-as-if-rebuilt."""
    return _hll_query_relation(
        spark, sf_dir, ensure_hll_incremental_store(spark, sf_dir)
    )


# --- count-min ---------------------------------------------------------


def _cm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok) — the t-family whitespace tokenization (identical
    ``split`` semantics in Spark and DuckDB ``string_split``)."""
    return (
        fan_out(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    )


def cm_counters(tokens: DataFrame) -> DataFrame:
    """(i, b, cnt) count-min counters for one token slice: every
    occurrence increments one bucket per hash row. The posexplode
    emits d rows per token inside codegen; the only shuffle is the
    (i, b) group-by whose output is d × w rows regardless of corpus
    size."""
    hashes = F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("tok"))),
                    1,
                    _CM_HEX,
                ),
                16,
                10,
            ).cast("bigint") % _CM_W
            for i in range(_CM_D)
        ]
    )
    return (
        tokens.select(F.posexplode(hashes).alias("i", "b"))
        .groupBy("i", "b")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _counter_write(
    spark: SparkSession, root: str, counters: DataFrame, keys: tuple,
    kind: str,
) -> None:
    """Generic ADDITIVE counter store (count-min counters, histogram
    buckets — anything whose merge is SUM over a key tuple)."""
    os.makedirs(root, exist_ok=True)
    data = f"counters.{uuid.uuid4().hex[:12]}"
    counters.coalesce(1).write.parquet(os.path.join(root, data))
    _write_layout(
        root, {"kind": kind, "gen": 0, "data": data, "prev": [], "keys": list(keys)}
    )


def _counter_append(
    spark: SparkSession, root: str, counters: DataFrame
) -> None:
    """Admit one slice's counters — counters are ADDITIVE, so appends
    just land counter rows and readers sum-merge; merging per-segment
    sketches equals the sketch of the union corpus (the linearity that
    makes these sketches shard-friendly: every ingest partition
    sketches independently, no coordination)."""
    with storage.writer_lock(root):
        layout = _read_layout(root)
        counters.coalesce(1).write.mode("append").parquet(
            _data_dir(root, layout)
        )


def _counter_compact(spark: SparkSession, root: str) -> dict:
    """Fold accumulated counter rows into one summed set per key tuple
    as a fresh generation — the fixed footprint a standing store
    returns to after any number of appends; deferred GC as everywhere."""
    with storage.writer_lock(root):
        layout = _read_layout(root)
        keys = layout["keys"]
        merged = (
            spark.read.parquet(_data_dir(root, layout))
            .groupBy(*keys)
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        data = f"counters.{uuid.uuid4().hex[:12]}"
        merged.coalesce(1).write.parquet(os.path.join(root, data))
        storage.drop_dirs(root, layout.get("prev", []))
        _write_layout(
            root,
            {
                "kind": layout["kind"],
                "gen": layout["gen"] + 1,
                "data": data,
                "prev": [layout["data"]],
                "keys": keys,
            },
        )
        return {"gen": layout["gen"] + 1, "data": data}


def _counter_read(spark: SparkSession, root: str) -> DataFrame:
    """The live counters, sum-merged across whatever append rows have
    accreted (so reads are correct between compactions)."""
    layout = _read_layout(root)
    return (
        spark.read.parquet(_data_dir(root, layout))
        .groupBy(*layout["keys"])
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def write_cm_store(spark: SparkSession, root: str, counters: DataFrame) -> None:
    _counter_write(spark, root, counters, ("i", "b"), "cm")


def append_cm_counters(
    spark: SparkSession, root: str, counters: DataFrame
) -> None:
    _counter_append(spark, root, counters)


def compact_cm_store(spark: SparkSession, root: str) -> dict:
    return _counter_compact(spark, root)


def read_cm_counters(spark: SparkSession, root: str) -> DataFrame:
    return _counter_read(spark, root)


def ensure_cm_store(spark: SparkSession, sf_dir: str) -> str:
    """sk03's store, built through the mergeable lifecycle: two
    doc_id-parity segment builds (each sketching HALF the corpus
    independently — the shard-local ingest shape), appended then
    compacted to the canonical d × w counter set. The oracle replays
    counters from the FULL corpus, so a green sk03 proves segment
    addition ≡ whole-corpus sketch (count-min's linearity)."""
    def build(staging: str) -> None:
        toks = _cm_tokens(spark, sf_dir)
        write_cm_store(
            spark, staging, cm_counters(toks.filter(F.col("doc_id") % 2 == 0))
        )
        append_cm_counters(
            spark, staging, cm_counters(toks.filter(F.col("doc_id") % 2 == 1))
        )
        compact_cm_store(spark, staging)

    return storage.build_once(sketch_root(sf_dir, "documents", "cm-parity"), build)


@query(
    "sk03_cm_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT {_CM_TOPK}),
    counters AS (
        SELECT ii.i AS i,
               ('0x' || substr(md5(ii.i || ':' || tok.t), 1, {_CM_HEX}))::BIGINT
                   % {_CM_W} AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok, (VALUES ('0'), ('1'), ('2'), ('3')) ii(i)
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT top.t, top.c, ii.i AS i,
               ('0x' || substr(md5(ii.i || ':' || top.t), 1, {_CM_HEX}))::BIGINT
                   % {_CM_W} AS b
        FROM top, (VALUES ('0'), ('1'), ('2'), ('3')) ii(i)
    )
    SELECT p.t AS token,
           CAST(MIN(c2.cnt) AS BIGINT) AS cm_est,
           CAST(MAX(p.c) AS BIGINT) AS exact_n,
           MIN(c2.cnt) >= MAX(p.c) AS never_underestimates
    FROM probes p JOIN counters c2 ON c2.i = p.i AND c2.b = p.b
    GROUP BY p.t
    """,
)
def sk03_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted count-min heavy-hitter readout: the top-20 corpus
    tokens' frequencies estimated from the 4 × 1024 counter store
    (min over the token's d buckets) beside their exact counts. The
    store was built as TWO independent half-corpus sketches summed —
    count-min's additive mergeability, replayed blind by the oracle's
    whole-corpus counters — and the estimate's one-sided error
    guarantee (never an underestimate) is emitted as a graded column.
    Scale: the counter table is d × w rows whatever the corpus; the
    probe joins are broadcast-sized; the exact-count companion is the
    full scan the sketch replaces, carried for grading exactly as in
    sk01/a04."""
    root = ensure_cm_store(spark, sf_dir)
    counters = read_cm_counters(spark, root)
    toks = _cm_tokens(spark, sf_dir)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_CM_TOPK)
    )
    probes = top.select(
        "tok",
        "c",
        F.posexplode(
            F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}:"), F.col("tok"))),
                            1,
                            _CM_HEX,
                        ),
                        16,
                        10,
                    ).cast("bigint") % _CM_W
                    for i in range(_CM_D)
                ]
            )
        ).alias("i", "b"),
    )
    return (
        probes.join(F.broadcast(counters).alias("ctr"), ["i", "b"], "inner")
        .groupBy("tok")
        .agg(
            F.min("cnt").cast("long").alias("cm_est"),
            F.max("c").cast("long").alias("exact_n"),
            (F.min("cnt") >= F.max("c")).alias("never_underestimates"),
        )
        .select(
            F.col("tok").alias("token"),
            "cm_est",
            "exact_n",
            "never_underestimates",
        )
    )


# --- log-histogram quantile sketch (sk04) ------------------------------
#
# The third classic mergeable sketch beside distinct-count (HLL) and
# frequency (count-min): APPROXIMATE QUANTILES from an additive
# log-scaled histogram — the fixed-size, shard-independent shape of
# production latency/price percentile pipelines (HdrHistogram's
# bucketing discipline). Floating-point log bucketing would let the
# engines disagree at bucket boundaries (libm ulps), so buckets are
# PURE INTEGER: the value's exact micro-unit integer m (the money
# discipline — Spark and DuckDB recover the identical BIGINT), octave =
# bit length of m, sub-bucket = the 4 bits after the leading 1. That is
# 16 sub-buckets per power of two => worst-case relative error ~3%
# (half a sub-bucket width), counts merge by addition, and every
# arithmetic step — bucketing, cumulative rank selection (c*2 >= n for
# p50 etc.), representative-value reconstruction — is exact integer
# math identical in both engines, so unlike t-digest/KLL the oracle
# hash-matches the ESTIMATES themselves.

#: sub-bucket resolution bits per octave
_QS_SUBBITS = 4


def _quantile_bucket_expr() -> "F.Column":
    """Bucket id of the exact positive micro-unit integer column ``m``
    (the name is part of the contract — the expression references it
    textually because Spark's Column API lacks a variable-amount
    integer shift, and a double-division reformulation could round
    across a bucket boundary): octave (bit length) * 16 + the 4 bits
    after the leading 1. Integer-only — ``length(bin(m))`` and
    floor-division by an exact power of two."""
    return F.expr(
        f"length(bin(m)) * {2 ** _QS_SUBBITS}"
        f" + (m div cast(power(2, length(bin(m)) - {_QS_SUBBITS + 1})"
        f" as bigint) - {2 ** _QS_SUBBITS})"
    )


def _qs_bucket_sql(m_sql: str) -> str:
    """DuckDB spelling of :func:`_quantile_bucket_expr` (``//`` is DuckDB's
    integer floor division; values are positive)."""
    nb = f"length(bin({m_sql}))"
    return (
        f"{nb} * {2 ** _QS_SUBBITS} + "
        f"(({m_sql}) // CAST(pow(2, {nb} - {_QS_SUBBITS + 1}) AS BIGINT)"
        f" - {2 ** _QS_SUBBITS})"
    )


#: representative value of bucket id B, in micros: the bucket's
#: midpoint (2*(16+sub)+1) * 2^(octave-6) — exact integer, emitted to
#: currency at 2dp through one deterministic double divide
_QS_REP_SQL = (
    f"cast(round((2 * (b % {2 ** _QS_SUBBITS} + {2 ** _QS_SUBBITS}) + 1)"
    f" * cast(power(2, b div {2 ** _QS_SUBBITS} - {_QS_SUBBITS + 2})"
    f" as double) / 1000000.0, 2) as double)"
)
_QS_REP_DUCK = (
    f"CAST(ROUND((2 * (b % {2 ** _QS_SUBBITS} + {2 ** _QS_SUBBITS}) + 1)"
    f" * pow(2, b // {2 ** _QS_SUBBITS} - {_QS_SUBBITS + 2})"
    f" / 1000000.0, 2) AS DOUBLE)"
)


def price_histogram(df: DataFrame, grp: str, val: str) -> DataFrame:
    """(grp, b, cnt) additive histogram rows for one corpus slice."""
    from kt_sql_hbase_ex_spark.functions.money import _micros

    return (
        df.select(
            F.col(grp).alias("grp"), _micros(F.col(val)).alias("m")
        )
        .select("grp", _quantile_bucket_expr().alias("b"))
        .groupBy("grp", "b")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def ensure_quantile_store(spark: SparkSession, sf_dir: str) -> str:
    """sk04's store over lineitem extended prices, built through the
    additive lifecycle: two ship-year halves sketched independently,
    appended, compacted — the oracle replays buckets from the full
    corpus, so green proves segment addition ≡ whole-corpus histogram
    (the same linearity proof as sk03's counters)."""
    def build(staging: str) -> None:
        li = fan_out(load_table(spark, sf_dir, "lineitem")).select(
            "l_returnflag",
            "l_extendedprice",
            F.year("l_shipdate").alias("y"),
        )
        _counter_write(
            spark,
            staging,
            price_histogram(
                li.filter(F.col("y") <= _SK02_SPLIT_YEAR),
                "l_returnflag",
                "l_extendedprice",
            ),
            ("grp", "b"),
            "qhist",
        )
        _counter_append(
            spark,
            staging,
            price_histogram(
                li.filter(F.col("y") > _SK02_SPLIT_YEAR),
                "l_returnflag",
                "l_extendedprice",
            ),
        )
        _counter_compact(spark, staging)

    return storage.build_once(
        sketch_root(sf_dir, "lineitem", "qhist-returnflag"), build
    )


def histogram_quantiles(buckets: DataFrame) -> DataFrame:
    """(grp, n_rows, p50_est, p90_est, p99_est) from histogram rows:
    cumulative counts in bucket order, pick the first bucket whose
    cumulative rank covers the target — the comparisons are integer
    cross-multiplications (c*2 >= n, c*10 >= 9n, c*100 >= 99n), no
    float rank ever computed."""
    from pyspark.sql import Window as W

    w = W.partitionBy("grp").orderBy("b")
    cum = buckets.withColumn("c", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(W.partitionBy("grp"))
    )
    rep = F.expr(_QS_REP_SQL)
    return cum.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.min(F.when(F.col("c") * 2 >= F.col("n"), rep)).alias("p50_est"),
        F.min(F.when(F.col("c") * 10 >= F.col("n") * 9, rep)).alias(
            "p90_est"
        ),
        F.min(F.when(F.col("c") * 100 >= F.col("n") * 99, rep)).alias(
            "p99_est"
        ),
    )


@query(
    "sk04_quantile_rollup",
    oracle=f"""
    WITH hist AS (
        SELECT l_returnflag AS grp,
               {_qs_bucket_sql("CAST(ROUND(l_extendedprice * 1000000) AS BIGINT)")}
                   AS b,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, b, cnt,
               SUM(cnt) OVER (PARTITION BY grp ORDER BY b) AS c,
               SUM(cnt) OVER (PARTITION BY grp) AS n
        FROM hist
    ),
    est AS (
        SELECT grp,
               CAST(MAX(n) AS BIGINT) AS n_rows,
               MIN(CASE WHEN c * 2 >= n THEN {_QS_REP_DUCK} END) AS p50_est,
               MIN(CASE WHEN c * 10 >= n * 9 THEN {_QS_REP_DUCK} END)
                   AS p90_est,
               MIN(CASE WHEN c * 100 >= n * 99 THEN {_QS_REP_DUCK} END)
                   AS p99_est
        FROM cum GROUP BY grp
    ),
    ex AS (
        SELECT l_returnflag AS grp,
               quantile_cont(l_extendedprice, 0.5) AS x50,
               quantile_cont(l_extendedprice, 0.9) AS x90
        FROM lineitem GROUP BY 1
    )
    SELECT e.grp AS l_returnflag, e.n_rows, e.p50_est, e.p90_est, e.p99_est,
           ABS(e.p50_est - ex.x50) <= 0.05 * ex.x50
               AND ABS(e.p90_est - ex.x90) <= 0.05 * ex.x90
               AS within_tolerance
    FROM est e JOIN ex ON ex.grp = e.grp
    """,
)
def sk04_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted mergeable QUANTILE sketch — p50/p90/p99 extended price
    per return flag served from the additive log-histogram store
    (octave + 4-bit sub-bucket over exact micro-unit integers, ~3%
    worst-case relative error), built as two independently-sketched
    ship-year halves summed. Every step is exact integer arithmetic
    identical in both engines — bucketing (bit length + floor division
    by a power of two), cumulative rank selection (integer
    cross-multiplication, no float rank), midpoint reconstruction — so
    the oracle, which replays the histogram from raw lineitem,
    hash-matches the ESTIMATES themselves (impossible with
    t-digest/KLL/approx_percentile, whose state is engine-specific).
    Each engine also checks the estimates against its own exact
    interpolated percentiles at ±5% (the bound the 16-sub-bucket
    resolution guarantees) — the a04 tolerance-flag discipline.
    Scale: the store is ≤ a few hundred bucket rows per group
    regardless of corpus size; segments sketch shard-locally and merge
    by addition; the percentile read never touches raw rows."""
    root = ensure_quantile_store(spark, sf_dir)
    est = histogram_quantiles(_counter_read(spark, root))
    # one percentile buffer for both cut points (array form): the
    # two-expression form sorted the same 600k-value buffer twice per
    # group — identical interpolation, identical doubles, half the
    # aggregate work (round-13 optimization)
    exact = (
        fan_out(load_table(spark, sf_dir, "lineitem"))
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.5D, 0.9D))"
            ).alias("xs")
        )
        .select(
            "l_returnflag",
            F.col("xs")[0].alias("x50"),
            F.col("xs")[1].alias("x90"),
        )
    )
    return est.join(
        exact, est.grp == exact.l_returnflag, "inner"
    ).select(
        "l_returnflag",
        "n_rows",
        "p50_est",
        "p90_est",
        "p99_est",
        (
            (F.abs(F.col("p50_est") - F.col("x50")) <= 0.05 * F.col("x50"))
            & (F.abs(F.col("p90_est") - F.col("x90")) <= 0.05 * F.col("x90"))
        ).alias("within_tolerance"),
    )


# --- KMV / bottom-k sketch (sk05): set-operation estimates ------------
#
# The fourth sketch family: K-minimum-values (Bar-Yossef et al. 2002;
# the datasketches "theta sketch" core) — the one that answers SET
# OPERATIONS between slices. HLL unions cleanly but intersects badly
# (inclusion-exclusion compounds error); a KMV sketch keeps the K
# smallest hash values of each slice's distinct members, so the union
# sketch is minK(minK(A) ∪ minK(B)) — EXACTLY the sketch of A ∪ B
# (the merge identity the oracle replays blind) — and the Jaccard
# estimate |unionK ∩ minK(A) ∩ minK(B)| / K rides on top to price
# intersections (audience overlap, retention cohorts, cross-slice
# dedup budgets). Hashes are the md5-derived 48-bit integers of the
# HLL store, minK selection is a distinct + rank (no ties possible on
# distinct integers), so the sketch CONTENT and the estimates
# hash-match across engines like every sketch in this module.

_KMV_K = 256                    #: sketch size
_KMV_HEX = 12                   #: hashed hex chars (48 bits)
_KMV_POW = 2 ** 48              #: hash-space size (exact double)


def kmv_hash(col) -> "F.Column":
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _KMV_HEX), 16, 10
    ).cast("bigint")


def kmv_minks(df: DataFrame, grp, val: str) -> DataFrame:
    """(grp, h) — each group's K smallest distinct member hashes for
    one corpus slice. Two bounded shuffles (distinct, per-group rank);
    output ∝ groups × K regardless of rows."""
    from pyspark.sql import Window as W

    g = F.col(grp) if isinstance(grp, str) else grp
    d = df.select(g.alias("grp"), kmv_hash(F.col(val)).alias("h")).distinct()
    r = F.row_number().over(W.partitionBy("grp").orderBy("h"))
    return d.withColumn("r", r).filter(F.col("r") <= _KMV_K).drop("r")


def write_kmv_store(
    spark: SparkSession, root: str, df: DataFrame, grp, val: str
) -> None:
    _counter_free_write(spark, root, kmv_minks(df, grp, val), "kmv")


def _counter_free_write(
    spark: SparkSession, root: str, rows: DataFrame, kind: str
) -> None:
    """Row-store write for the non-additive sketches (bottom-k rows):
    same pointer discipline, merge semantics live in the reader."""
    os.makedirs(root, exist_ok=True)
    data = f"rows.{uuid.uuid4().hex[:12]}"
    rows.coalesce(1).write.parquet(os.path.join(root, data))
    _write_layout(root, {"kind": kind, "gen": 0, "data": data, "prev": []})


def append_kmv_batch(
    spark: SparkSession, root: str, df: DataFrame, grp, val: str
) -> None:
    """Admit one slice's minK candidates — the merge identity
    minK(minK(A) ∪ minK(B)) = minK(A ∪ B) makes appends mergeable and
    (being distinct-based) idempotent: at-least-once ingest, no
    ledger, exactly the HLL register discipline for bottom-k state."""
    with storage.writer_lock(root):
        layout = _read_layout(root)
        kmv_minks(df, grp, val).coalesce(1).write.mode("append").parquet(
            _data_dir(root, layout)
        )


def compact_kmv_store(spark: SparkSession, root: str) -> dict:
    """Materialize the merged minK per group as a fresh generation —
    accreted candidate rows beyond K physically drop (they can never
    re-enter any minK)."""
    with storage.writer_lock(root):
        layout = _read_layout(root)
        merged = _kmv_merge(spark.read.parquet(_data_dir(root, layout)))
        data = f"rows.{uuid.uuid4().hex[:12]}"
        merged.coalesce(1).write.parquet(os.path.join(root, data))
        storage.drop_dirs(root, layout.get("prev", []))
        _write_layout(
            root,
            {
                "kind": layout["kind"],
                "gen": layout["gen"] + 1,
                "data": data,
                "prev": [layout["data"]],
            },
        )
        return {"gen": layout["gen"] + 1, "data": data}


def _kmv_merge(rows: DataFrame) -> DataFrame:
    from pyspark.sql import Window as W

    r = F.row_number().over(W.partitionBy("grp").orderBy("h"))
    return (
        rows.select("grp", "h")
        .distinct()
        .withColumn("r", r)
        .filter(F.col("r") <= _KMV_K)
        .drop("r")
    )


def read_kmv_minks(spark: SparkSession, root: str) -> DataFrame:
    """The live merged minK rows (correct between compactions)."""
    layout = _read_layout(root)
    return _kmv_merge(spark.read.parquet(_data_dir(root, layout)))


#: sk05's audience pairs: consecutive order years
_SK05_PAIRS = ((1995, 1996), (1996, 1997), (1997, 1998))
#: distinct-estimate expression over (count kc, max-hash th) — the KMV
#: estimator (K-1) * 2^48 / theta, exact-count branch below K; the
#: identical text rides in the oracle
#: (the 2^48 factor rides as CAST(int AS DOUBLE) — a bare ``x.0``
#: literal is DECIMAL in DuckDB and the decimal product overflows)
_KMV_EST = (
    f"case when {{kc}} < {_KMV_K} then cast({{kc}} as double)"
    f" else (cast({_KMV_K - 1} as double) * cast({_KMV_POW} as double))"
    f" / cast({{th}} as double) end"
)
_KMV_EST_DUCK = (
    f"CASE WHEN {{kc}} < {_KMV_K} THEN CAST({{kc}} AS DOUBLE)"
    f" ELSE (CAST({_KMV_K - 1} AS DOUBLE) * CAST({_KMV_POW} AS DOUBLE))"
    f" / CAST({{th}} AS DOUBLE) END"
)


def ensure_kmv_store(spark: SparkSession, sf_dir: str) -> str:
    """sk05's store over order-year audiences, built through the
    mergeable lifecycle: two orderkey-parity halves sketched
    independently, appended, compacted — the oracle replays minK from
    the full orders table, so green IS the merge identity."""
    def build(staging: str) -> None:
        o = fan_out(load_table(spark, sf_dir, "orders")).select(
            F.year("o_orderdate").alias("y"), "o_custkey", "o_orderkey"
        )
        write_kmv_store(
            spark, staging, o.filter(F.col("o_orderkey") % 2 == 0),
            "y", "o_custkey",
        )
        append_kmv_batch(
            spark, staging, o.filter(F.col("o_orderkey") % 2 == 1),
            "y", "o_custkey",
        )
        compact_kmv_store(spark, staging)

    return storage.build_once(sketch_root(sf_dir, "orders", "kmv-year"), build)


@query(
    "sk05_kmv_audience_overlap",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT year(o_orderdate) AS grp,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, {_KMV_HEX}))::BIGINT AS h
        FROM orders
    ),
    mk AS (
        SELECT grp, h FROM (
            SELECT grp, h,
                   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS r
            FROM d) t
        WHERE r <= {_KMV_K}
    ),
    pairs(ya, yb) AS (VALUES {", ".join(f"({a}, {b})" for a, b in _SK05_PAIRS)}),
    ystat AS (
        SELECT grp, COUNT(*) AS kc, MAX(h) AS th FROM mk GROUP BY grp
    ),
    ucand AS (
        SELECT DISTINCT p.ya, p.yb, mk.h
        FROM pairs p JOIN mk ON mk.grp IN (p.ya, p.yb)
    ),
    uk AS (
        SELECT ya, yb, h FROM (
            SELECT ya, yb, h,
                   ROW_NUMBER() OVER (PARTITION BY ya, yb ORDER BY h) AS r
            FROM ucand) t
        WHERE r <= {_KMV_K}
    ),
    ustat AS (
        SELECT ya, yb, COUNT(*) AS ku, MAX(h) AS thu FROM uk GROUP BY 1, 2
    ),
    common AS (
        SELECT uk.ya, uk.yb, COUNT(*) AS c
        FROM uk
        JOIN mk a ON a.grp = uk.ya AND a.h = uk.h
        JOIN mk b ON b.grp = uk.yb AND b.h = uk.h
        GROUP BY 1, 2
    ),
    ex AS (
        SELECT p.ya, p.yb, CAST(COUNT(*) AS BIGINT) AS exact_overlap
        FROM pairs p
        JOIN (SELECT DISTINCT year(o_orderdate) AS y, o_custkey FROM orders) a
             ON a.y = p.ya
        JOIN (SELECT DISTINCT year(o_orderdate) AS y, o_custkey FROM orders) b
             ON b.y = p.yb AND b.o_custkey = a.o_custkey
        GROUP BY 1, 2
    )
    SELECT CAST(u.ya AS BIGINT) AS year_a, CAST(u.yb AS BIGINT) AS year_b,
           ROUND({_KMV_EST_DUCK.format(kc="sa.kc", th="sa.th")}, 2) AS est_a,
           ROUND({_KMV_EST_DUCK.format(kc="sb.kc", th="sb.th")}, 2) AS est_b,
           ROUND({_KMV_EST_DUCK.format(kc="u.ku", th="u.thu")}, 2) AS est_union,
           ROUND(c.c * ({_KMV_EST_DUCK.format(kc="u.ku", th="u.thu")}) / u.ku, 2)
               AS est_overlap,
           ex.exact_overlap,
           ABS(c.c * ({_KMV_EST_DUCK.format(kc="u.ku", th="u.thu")}) / u.ku
               - ex.exact_overlap) <= 0.25 * ex.exact_overlap
               AS within_tolerance
    FROM ustat u
    JOIN ystat sa ON sa.grp = u.ya
    JOIN ystat sb ON sb.grp = u.yb
    JOIN common c ON c.ya = u.ya AND c.yb = u.yb
    JOIN ex ON ex.ya = u.ya AND ex.yb = u.yb
    """,
)
def sk05_kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV / theta) sketch store answering SET OPERATIONS —
    the per-year order audiences' union and INTERSECTION sizes
    (consecutive-year customer retention) estimated from each year's K
    smallest distinct member hashes: union sketch = minK of the two
    minKs (the merge identity minK(minK(A) ∪ minK(B)) = minK(A ∪ B),
    which the oracle — replaying minK from the raw orders table,
    blind to the store's two-half build + append + compaction —
    proves every round), overlap = the Jaccard fraction of union-K
    members present in BOTH input sketches scaled by the union
    estimate. This is the sketch family HLL cannot supply
    (inclusion-exclusion intersections compound error; KMV
    intersects natively) and, as everywhere in this module, hashes
    and rank selection are exact integers so the gate hash-matches
    the ESTIMATES, with the exact overlap + a ±25% flag beside them
    (K=256 ⇒ ~6% typical error at these Jaccards). Scale: the store
    is groups × K rows; estimates touch only sketch rows; the exact
    companion is the self-join the sketch replaces, carried for
    grading."""
    from pyspark.sql import Window as W

    root = ensure_kmv_store(spark, sf_dir)
    minks = read_kmv_minks(spark, root).localCheckpoint(eager=True)
    ystat = minks.groupBy("grp").agg(
        F.count("*").alias("kc"), F.max("h").alias("th")
    )
    pairs = spark.createDataFrame(
        list(_SK05_PAIRS), "ya long, yb long"
    )
    ucand = (
        pairs.join(
            minks,
            (minks.grp == F.col("ya")) | (minks.grp == F.col("yb")),
            "inner",
        )
        .select("ya", "yb", "h")
        .distinct()
    )
    uk = (
        ucand.withColumn(
            "r",
            F.row_number().over(W.partitionBy("ya", "yb").orderBy("h")),
        )
        .filter(F.col("r") <= _KMV_K)
        .drop("r")
        .localCheckpoint(eager=True)
    )
    ustat = uk.groupBy("ya", "yb").agg(
        F.count("*").alias("ku"), F.max("h").alias("thu")
    )
    a = minks.select(F.col("grp").alias("ga"), F.col("h").alias("h"))
    b = minks.select(F.col("grp").alias("gb"), F.col("h").alias("h"))
    common = (
        uk.join(a, (a.ga == uk.ya) & (a.h == uk.h), "inner")
        .join(b, (b.gb == uk.yb) & (b.h == uk.h), "inner")
        .groupBy("ya", "yb")
        .agg(F.count("*").alias("c"))
    )
    dy = (
        # no fan_out: distinct dedups map-side before its exchange
        # (measured — a repartition added a full-data exchange)
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("y"), "o_custkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ex = (
        pairs.join(dy.alias("xa"), F.col("xa.y") == F.col("ya"), "inner")
        .join(
            dy.alias("xb"),
            (F.col("xb.y") == F.col("yb"))
            & (F.col("xb.o_custkey") == F.col("xa.o_custkey")),
            "inner",
        )
        .groupBy("ya", "yb")
        .agg(F.count("*").cast("long").alias("exact_overlap"))
    )
    est_u = _KMV_EST.format(kc="ku", th="thu")
    out = (
        ustat.join(
            ystat.select(
                F.col("grp").alias("ya"),
                F.col("kc").alias("kca"),
                F.col("th").alias("tha"),
            ),
            "ya",
        )
        .join(
            ystat.select(
                F.col("grp").alias("yb"),
                F.col("kc").alias("kcb"),
                F.col("th").alias("thb"),
            ),
            "yb",
        )
        .join(common, ["ya", "yb"])
        .join(ex, ["ya", "yb"])
    )
    return out.select(
        F.col("ya").cast("long").alias("year_a"),
        F.col("yb").cast("long").alias("year_b"),
        F.expr(
            f"round({_KMV_EST.format(kc='kca', th='tha')}, 2)"
        ).alias("est_a"),
        F.expr(
            f"round({_KMV_EST.format(kc='kcb', th='thb')}, 2)"
        ).alias("est_b"),
        F.expr(f"round({est_u}, 2)").alias("est_union"),
        F.expr(f"round(c * ({est_u}) / ku, 2)").alias("est_overlap"),
        "exact_overlap",
        F.expr(
            f"abs(c * ({est_u}) / ku - exact_overlap)"
            f" <= 0.25 * exact_overlap"
        ).alias("within_tolerance"),
    )

"""The three workloads. Each drives the package only through its public
functions, from one client thread in a closed loop: the next operation
is sent when the previous one has returned.

A workload supplies:

* ``load_inputs()`` -- untimed; reads the generated input tables.
* ``setup(ctx)`` -- timed; repeated by the runner, only the last set-up
  is kept. It includes everything a user pays before the first useful
  operation: Spark session start, view registration, store
  provisioning, and the cold first scan or ack.
* ``model_setup()`` -- untimed; after the last set-up, sets the
  in-harness model to the freshly provisioned store.
* ``ops(rng)`` -- the seeded operation sequence (independent of any
  result, so a seed always gives the same sequence).
* ``execute(ctx, op)`` -- timed; returns what ``check`` needs.
* ``check(ctx, op, result)`` -- untimed; compares against the in-harness
  model and advances it. False or an exception counts as failed.
* ``finish(ctx)`` -- untimed end-of-run checks; returns failures.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from harness import dir_bytes


def zipf_index(rng, n: int, s: float = 1.1) -> int:
    """Index in [0, n) drawn with Zipf skew (rank 0 is the hottest)."""
    while True:
        k = int(rng.zipf(s)) - 1
        if k < n:
            return k


def write_base(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def lower(opts: dict) -> dict:
    """Options with lower-cased keys, the form the store's path helpers read."""
    return {k.lower(): v for k, v in opts.items()}


def rows_by_key(table: pa.Table, key: str) -> dict:
    return {r[key]: r for r in table.to_pylist()}


class Workload:
    name = ""
    #: input tables the workload reads (datagen names)
    tables: tuple[str, ...] = ()
    #: ops a run is sized for; fixes the tail percentile (harness.tail_percentile)
    nominal_ops = 100
    #: the loop stops only between whole units of this many ops
    loop_unit = 1
    #: and only after this many ops, however long they take
    min_ops = 1
    #: ops in one cycle of the mix (run.traced_op)
    period = 1
    #: set-ups per run; setup_s is their median (more where one is cheap)
    setups = 3

    def __init__(self, data: dict[str, str], trace) -> None:
        self.data = data
        self.trace = trace

    def load_inputs(self) -> None:
        pass

    def model_setup(self) -> None:
        pass

    def start_keys(self, n: int) -> None:
        """Key-space state the op generator reads: ``n`` provisioned
        keys ``0..n-1``; new keys are allocated from ``n`` up."""
        self.n = n
        self.next_key = n
        self.recent: list[int] = []

    def op_family(self, op) -> str:
        """Latency family of an op: get, put, delete, scan or ack
        (the ``<family>_p50_ms`` metrics)."""
        return op[0]

    def finish(self, ctx) -> int:
        return 0

    def close(self) -> None:
        pass

    def layer_metrics(self, ctx, metrics) -> None:
        pass


# -- kv_point -----------------------------------------------------------------


class KvPoint(Workload):
    """HBase-client traffic on a customer-shaped store that fits every
    program cache: Zipf-skewed multi-gets mixed with recently written
    keys, 64-row puts, 16-key deletes, a size-triggered fold after each
    commit. Driver-side store engine only; no Spark."""

    name = "kv_point"
    tables = ("customer",)
    setups = 25
    # a 15 s run does 1 000-1 400 ops on a 4-vCPU host
    nominal_ops = 1000
    min_ops = 300
    CYCLE = ("get", "put", "get", "get", "put", "get", "delete", "get", "put", "get")
    period = len(CYCLE)
    GET_KEYS, PUT_ROWS, DELETE_KEYS = 32, 64, 16
    REGION_ROWS = 512
    FOLD_ROWS = 1024

    def load_inputs(self) -> None:
        self.base = pq.read_table(self.data["customer"])

    def setup(self, ctx) -> None:
        from kt_sql_hbase_ex_spark.sources import kvstore

        root = ctx.fresh_dir("store")
        with self.trace.span("kvstore.provision"):
            path = write_base(self.base, os.path.join(root, "customer.parquet"))
            self.opts = {
                "path": path,
                "keyCol": "c_custkey",
                "columns": kvstore.CUSTOMER_KV_COLUMNS,
                "regionSize": str(self.REGION_ROWS),
                "storeRoot": os.path.join(root, "state"),
                "appId": ctx.app_id,
            }
            kvstore.compact_store(self.opts, major=True)  # first generation
            kvstore.get_store_rows(self.opts, [{"c_custkey": 0}])
        self.root = root

    def model_setup(self) -> None:
        self.model = rows_by_key(self.base, "c_custkey")
        self.start_keys(self.base.num_rows)
        self.stats = commit_stats()
        self.folds: list[dict] = []

    def _hot_key(self, rng) -> int:
        # rank -> key through a fixed stride, so hot keys spread over regions
        return (zipf_index(rng, self.n) * 7919) % self.n

    def ops(self, rng):
        i = 0
        while True:
            kind = self.CYCLE[i % len(self.CYCLE)]
            i += 1
            if kind == "get":
                keys = [self._hot_key(rng) for _ in range(self.GET_KEYS * 3 // 4)]
                pool = self.recent[-256:] or keys
                keys += [pool[int(rng.integers(len(pool)))] for _ in range(self.GET_KEYS - len(keys))]
                yield ("get", keys)
            elif kind == "put":
                rows = []
                for j in range(self.PUT_ROWS):
                    if j < self.PUT_ROWS // 4:
                        k, self.next_key = self.next_key, self.next_key + 1
                    else:
                        k = self._hot_key(rng)
                    rows.append({
                        "c_custkey": k,
                        "c_name": f"Customer#{k:09d}",
                        "c_nationkey": int(rng.integers(0, 25)),
                        "c_acctbal": int(rng.integers(-99999, 999999)) / 100.0,
                        "c_mktsegment": ("AUTOMOBILE", "BUILDING", "FURNITURE")[int(rng.integers(3))],
                    })
                self.recent.extend(r["c_custkey"] for r in rows)
                yield ("put", rows)
            else:
                keys = sorted({self._hot_key(rng) for _ in range(self.DELETE_KEYS)})
                self.recent.extend(keys)
                yield ("delete", keys)

    def _commit_tail(self) -> None:
        from kt_sql_hbase_ex_spark.sources import kvstore

        with self.trace.span("kvstore.fold") as c:
            out = kvstore.maybe_compact_store(self.opts, max_overlay_rows=self.FOLD_ROWS)
            c["folded"] = out is not None
        if out is not None:
            self.folds.append(out)

    def execute(self, ctx, op):
        from kt_sql_hbase_ex_spark.sources import kvstore

        kind, payload = op
        if kind == "get":
            with self.trace.span("kvstore.get") as c:
                out = kvstore.get_store_rows(self.opts, [{"c_custkey": k} for k in payload])
                if self.trace.enabled:
                    c.update(kvstore.last_multiget_stats())
            return out
        if kind == "put":
            with self.trace.span("kvstore.put"):
                kvstore.put_rows_to_store(self.opts, payload)
        else:
            with self.trace.span("kvstore.delete"):
                kvstore.delete_from_store(self.opts, payload)
        self._commit_tail()
        return None

    def check(self, ctx, op, result) -> bool:
        kind, payload = op
        if kind == "get":
            return result == [self.model.get(k) for k in payload]
        if kind == "put":
            for r in payload:
                self.model[r["c_custkey"]] = dict(r)
        else:
            for k in payload:
                self.model.pop(k, None)
        count_commit(self.stats, ctx, self.opts, kind, payload)
        return True

    def finish(self, ctx) -> int:
        from kt_sql_hbase_ex_spark.sources import kvstore

        keys = sorted(self.model) + [self.next_key + 1]  # one absent key
        got = kvstore.get_store_rows(self.opts, [{"c_custkey": k} for k in keys])
        bad = sum(g != self.model.get(k) for g, k in zip(got, keys))
        self.space_amp = store_space_amp(self.root, self.model.values())
        return bad

    def layer_metrics(self, ctx, m) -> None:
        from kt_sql_hbase_ex_spark.sources import kvstore

        spans = ctx.tracer.spans
        gets = [s["counters"] for s in spans if s["name"] == "kvstore.get"]
        if gets:
            routed = sum(g.get("regions_routed", 0) for g in gets)
            m.put("kvstore.get.files_read", sum(g.get("files_read", 0) for g in gets) / len(gets), "count")
            m.put("kvstore.get.regions_routed", routed / len(gets), "count")
            m.put("kvstore.get.bloom_skip_frac",
                  sum(g.get("regions_skipped_bloom", 0) for g in gets) / max(1, routed), "frac")
        commit_metrics(m, ctx, self.stats, self.opts)
        fold_metrics(m, self.folds)
        m.put("kvstore.space_amp", self.space_amp, "ratio")


def commit_stats() -> dict:
    return {"overlay_rows": 0, "commits": 0, "user_bytes": 0}


def count_commit(stats: dict, ctx, opts, kind: str, payload) -> None:
    """Write-path counters of one commit to the store of ``opts``: the
    user bytes of every commit of a traced run (the bytes written are
    counted over the whole loop), and the overlay's rows after each
    traced commit."""
    from kt_sql_hbase_ex_spark.sources import kvstore

    if ctx.traced_run:
        stats["user_bytes"] += (pa.Table.from_pylist(payload).nbytes if kind == "put"
                                else 8 * len(payload))
    if ctx.tracer.enabled:
        opath = kvstore.overlay_path(lower(opts))
        stats["overlay_rows"] += pq.ParquetFile(opath).metadata.num_rows if os.path.exists(opath) else 0
        stats["commits"] += 1


def commit_metrics(m, ctx, stats: dict, opts) -> None:
    """Overlay rows per traced commit, retained WAL entries, and the
    bytes this process wrote in the loop over the user bytes committed."""
    m.put("kvstore.put.overlay_rows", stats["overlay_rows"] / max(1, stats["commits"]), "rows")
    m.put("kvstore.wal_entries", wal_entries(opts), "count")
    m.put("kvstore.write_bytes_per_user_byte",
          ctx.window_write_bytes / max(1, stats["user_bytes"]), "ratio")


def fold_metrics(m, folds: list[dict]) -> None:
    """Fold count and mean regions rewritten / carried per fold, from
    the stats ``compact_store`` returns."""
    n = max(1, len(folds))
    m.put("kvstore.fold.count", len(folds), "count")
    m.put("kvstore.fold.regions_rewritten", sum(f.get("regions_rewritten", 0) for f in folds) / n, "count")
    m.put("kvstore.fold.regions_carried", sum(f.get("regions_carried", 0) for f in folds) / n, "count")


def wal_entries(opts) -> int:
    """Commit-log entries the store retains."""
    from kt_sql_hbase_ex_spark.sources import kvstore

    log = kvstore.changelog_dir(lower(opts))
    return sum(f.endswith(".parquet") for f in os.listdir(log)) if os.path.isdir(log) else 0


def store_space_amp(root: str, live_rows) -> float:
    """Store bytes on disk (base, generations, overlay, WAL) over the
    in-memory Arrow bytes of the live rows."""
    live = pa.Table.from_pylist(list(live_rows)).nbytes
    return dir_bytes(root) / max(1, live)


# -- kv_scan ------------------------------------------------------------------


class KvScan(Workload):
    """SQL range, qualifier-filter and grouped scans through the KV
    connector over an orders-shaped store, sent as ``KtSqlEngine.sql``
    statements over a ``register_kv_table`` view; a 64-row put commit
    lands before a fixed share of scans."""

    name = "kv_scan"
    # every table, because the engine registers the whole catalog
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
    # four of the eight ops are range scans on a warm store, so the
    # median falls between two of them rather than on a single sample
    CYCLE = ("range", "put", "qual", "range", "range", "put", "grouped", "range")
    # whole cycles: every run times the same mix, two or three of them
    # in a 15 s run
    loop_unit = min_ops = period = len(CYCLE)
    nominal_ops = 2 * len(CYCLE)
    STORE_ROWS = 49_152
    RANGE_KEYS, QUAL_KEYS, PUT_ROWS = 2048, 8192, 64
    REGION_ROWS = 512
    FOLD_ROWS = 128
    COLUMNS = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"
    VIEW = "orders_kv"
    SQL = {
        "range": "SELECT COUNT(*) AS n, SUM(o_totalprice) AS s FROM orders_kv"
                 " WHERE o_orderkey >= {lo} AND o_orderkey < {hi}",
        "qual": "SELECT COUNT(*) AS n, SUM(o_totalprice) AS s FROM orders_kv"
                " WHERE o_orderkey >= {lo} AND o_orderkey < {hi} AND o_orderstatus = '{status}'",
        "grouped": "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS s FROM orders_kv"
                   " WHERE o_orderkey >= {lo} AND o_orderkey < {hi} GROUP BY o_orderpriority",
    }

    def load_inputs(self) -> None:
        base = pq.read_table(self.data["orders"])
        self.base = base.slice(0, min(base.num_rows, self.STORE_ROWS))

    def setup(self, ctx) -> None:
        from kt_sql_hbase_ex_spark.engine import KtSqlEngine
        from kt_sql_hbase_ex_spark.sources import kvstore

        spark = ctx.start_session()
        with self.trace.span("catalog.register_views"):
            self.engine = KtSqlEngine(spark, ctx.data_dir)
        root = ctx.fresh_dir("store")
        with self.trace.span("kvstore.provision"):
            path = write_base(self.base, os.path.join(root, "orders.parquet"))
            self.opts = {
                "path": path,
                "keyCol": "o_orderkey",
                "columns": self.COLUMNS,
                "regionSize": str(self.REGION_ROWS),
                "storeRoot": os.path.join(root, "state"),
                "appId": ctx.app_id,
            }
            kvstore.compact_store(self.opts, major=True)
        with self.trace.span("kvstore.scan.cold"):
            self._scan("range", 0)
        self.root = root

    def model_setup(self) -> None:
        self.start_keys(self.base.num_rows)
        self.model = rows_by_key(self.base, "o_orderkey")
        self.after_commit = False
        self.folds: list[dict] = []
        self.rows_out: list[int] = []  # store rows each traced scan returned

    def ops(self, rng):
        i = 0
        while True:
            kind = self.CYCLE[i % len(self.CYCLE)]
            i += 1
            if kind == "range":
                yield ("range", int(rng.integers(0, self.n - self.RANGE_KEYS)))
            elif kind == "qual":
                lo = int(rng.integers(0, self.n - self.QUAL_KEYS))
                yield ("qual", (lo, ("F", "O", "P")[int(rng.integers(3))]))
            elif kind == "grouped":
                yield ("grouped", int(rng.integers(0, self.n - self.QUAL_KEYS)))
            else:
                rows = []
                for j in range(self.PUT_ROWS):
                    if j % 4 == 0:
                        k, self.next_key = self.next_key, self.next_key + 1
                    else:
                        k = int(rng.integers(0, self.n))
                    rows.append({
                        "o_orderkey": k,
                        "o_custkey": int(rng.integers(0, 15000)),
                        "o_orderstatus": ("F", "O", "P")[int(rng.integers(3))],
                        "o_totalprice": int(rng.integers(100000, 50000000)) / 100.0,
                        "o_orderdate": dt.datetime(1995, 1, 1)
                        + dt.timedelta(days=int(rng.integers(0, 2405))),
                        "o_orderpriority": ("1-URGENT", "2-HIGH", "3-MEDIUM")[int(rng.integers(3))],
                    })
                yield ("put", rows)

    def op_family(self, op) -> str:
        return "put" if op[0] == "put" else "scan"

    def _scan(self, kind, arg):
        # the view pins the store state it was registered at, so every
        # scan registers it again to see the latest commit
        with self.trace.span("kvstore.scan.load"):
            self.engine.register_kv_table(self.VIEW, **self.opts)
        if kind == "qual":
            lo, status = arg
            stmt = self.SQL[kind].format(lo=lo, hi=lo + self.QUAL_KEYS, status=status)
        else:
            keys = self.RANGE_KEYS if kind == "range" else self.QUAL_KEYS
            stmt = self.SQL[kind].format(lo=arg, hi=arg + keys)
        with self.trace.span("engine.sql_plan"):
            q = self.engine.sql(stmt)
        with self.trace.span("kvstore.scan.exec"):
            return [tuple(r) for r in q.collect()]

    def execute(self, ctx, op):
        from kt_sql_hbase_ex_spark.sources import kvstore

        kind, arg = op
        if kind == "put":
            with self.trace.span("kvstore.put"):
                kvstore.put_rows_to_store(self.opts, arg)
            with self.trace.span("kvstore.fold") as c:
                out = kvstore.maybe_compact_store(
                    self.opts, max_overlay_rows=self.FOLD_ROWS, spark=ctx.spark)
                c["folded"] = out is not None
            if out is not None:
                self.folds.append(out)
            return None
        label = "kvstore.scan.after_commit" if self.after_commit else "kvstore.scan.clean"
        with self.trace.span(label):
            return self._scan(kind, arg)

    def check(self, ctx, op, result) -> bool:
        kind, arg = op
        if kind == "put":
            for r in arg:
                self.model[r["o_orderkey"]] = dict(r)
            self.after_commit = True
            return True
        self.after_commit = False
        if kind == "range":
            want = _agg_rows(self.model.get(k) for k in range(arg, arg + self.RANGE_KEYS))
        elif kind == "qual":
            lo, status = arg
            want = _agg_rows(
                r for r in (self.model.get(k) for k in range(lo, lo + self.QUAL_KEYS))
                if r is not None and r["o_orderstatus"] == status)
        else:
            groups: dict = {}
            rows = (self.model.get(k) for k in range(arg, arg + self.QUAL_KEYS))
            for r in filter(None, rows):
                groups.setdefault(r["o_orderpriority"], []).append(r)
            want = {g: _agg_rows(rs)[0] for g, rs in groups.items()}
            self._count_rows(sum(n for n, _ in want.values()))
            got = {r[0]: (r[1], r[2]) for r in result}
            return set(got) == set(want) and all(_close(got[g], want[g]) for g in want)
        self._count_rows(want[0][0])
        return len(result) == 1 and _close(result[0], want[0])

    def _count_rows(self, n: int) -> None:
        if self.trace.enabled:
            self.rows_out.append(n)

    def finish(self, ctx) -> int:
        self.space_amp = store_space_amp(self.root, self.model.values())
        return 0

    def layer_metrics(self, ctx, m) -> None:
        fold_metrics(m, self.folds)
        m.put("kvstore.space_amp", self.space_amp, "ratio")
        m.put("kvstore.scan.rows_out", sum(self.rows_out) / max(1, len(self.rows_out)), "rows")


def _agg_rows(rows):
    n, s = 0, 0.0
    for r in rows:
        if r is not None:
            n += 1
            s += r["o_totalprice"]
    return [(n, s if n else None)]


def _close(got, want) -> bool:
    (gn, gs), (wn, ws) = got, want
    if gn != wn:
        return False
    if ws is None or gs is None:
        return gs is None and ws is None
    return math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-6)


# -- cdc_replica --------------------------------------------------------------


class CdcReplica(Workload):
    """The client commits put and delete batches to a source store and
    sends the next one only after a live ``ktsql_kv_changes`` drain has
    applied the last one to a replica through ``apply_cdc_batch``."""

    name = "cdc_replica"
    tables = ("customer",)
    # the later set-ups spread by a quarter from run to run; with five,
    # setup_s is the median of four of them rather than the slower of two
    setups = 5
    nominal_ops = 100  # a 15 s run acks 90-140 commits
    min_ops = 40  # ten beyond the p75 tail
    CYCLE = ("put", "put", "delete", "put")
    loop_unit = period = len(CYCLE)
    PUT_ROWS, DELETE_KEYS = 64, 16
    COLUMNS = "c_custkey,c_acctbal"
    ACK_TIMEOUT_S = 60.0
    COLD_ROW = {"c_custkey": 0, "c_acctbal": 0.5}  # the set-up's cold commit

    def setup(self, ctx) -> None:
        import threading

        from kt_sql_hbase_ex_spark.sources import kvstore
        from kt_sql_hbase_ex_spark.streaming import events

        self.stop_query()
        spark = ctx.start_session()
        base = self.base
        root = ctx.fresh_dir("store")
        with self.trace.span("kvstore.provision"):
            kvstore.register_kv_source(spark)
            stream = events.stream_session(spark)
            kvstore.register_kv_source(stream)
            self.src = self._store(ctx, base, os.path.join(root, "src"))
            self.dst = self._store(ctx, base, os.path.join(root, "dst"))
        self.root = root
        self.applied = 0
        self.apply_start: list[float] = []
        self.apply_ms: list[float] = []
        self.cv = threading.Condition()
        dst = self.dst

        def apply(batch_df, batch_id):
            t0 = time.perf_counter()
            with self.trace.span("streaming.apply"):
                changed = events.apply_cdc_batch(batch_df, dst)
            t1 = time.perf_counter()
            if changed:
                with self.cv:
                    self.apply_start.append(t0)
                    self.apply_ms.append((t1 - t0) * 1e3)
                    self.applied += 1
                    self.cv.notify_all()

        with self.trace.span("streaming.start"):
            feed = stream.readStream.format(kvstore.CHANGES_FORMAT_NAME).options(**self.src).load()
            self.query = (
                feed.writeStream.foreachBatch(apply)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .start()
            )
        # cold first ack: one commit through the live drain
        with self.trace.span("streaming.cold_ack"):
            self.commits = 0
            self.commit_ends: list[float] = []
            self.execute(ctx, ("put", [self.COLD_ROW]))

    def load_inputs(self) -> None:
        self.base = pq.read_table(self.data["customer"], columns=self.COLUMNS.split(","))

    def model_setup(self) -> None:
        self.model = rows_by_key(self.base, "c_custkey")
        self.model[0] = dict(self.COLD_ROW)
        self.start_keys(self.base.num_rows)
        self.stats = commit_stats()

    def _store(self, ctx, base, root) -> dict:
        from kt_sql_hbase_ex_spark.sources import kvstore

        opts = {
            "path": write_base(base, os.path.join(root, "accounts.parquet")),
            "keyCol": "c_custkey",
            "columns": self.COLUMNS,
            "regionSize": "512",
            "storeRoot": os.path.join(root, "state"),
            "appId": ctx.app_id,
        }
        kvstore.compact_store(opts, major=True)
        return opts

    def ops(self, rng):
        i = 0
        while True:
            kind = self.CYCLE[i % len(self.CYCLE)]
            i += 1
            if kind == "put":
                rows = []
                for j in range(self.PUT_ROWS):
                    if j % 4 == 0:
                        k, self.next_key = self.next_key, self.next_key + 1
                    else:
                        k = int(rng.integers(0, self.n))
                    rows.append({"c_custkey": k,
                                 "c_acctbal": int(rng.integers(-99999, 999999)) / 100.0})
                yield ("put", rows)
            else:
                yield ("delete", sorted({int(rng.integers(0, self.n)) for _ in range(self.DELETE_KEYS)}))

    def execute(self, ctx, op):
        from kt_sql_hbase_ex_spark.sources import kvstore

        kind, payload = op
        with self.trace.span("kvstore.put" if kind == "put" else "kvstore.delete"):
            if kind == "put":
                kvstore.put_rows_to_store(self.src, payload)
            else:
                kvstore.delete_from_store(self.src, payload)
        self.commits += 1
        self.commit_ends.append(time.perf_counter())
        with self.trace.span("streaming.await_ack"):
            with self.cv:
                ok = self.cv.wait_for(lambda: self.applied >= self.commits, self.ACK_TIMEOUT_S)
        if not ok:
            raise TimeoutError(f"replica did not ack commit {self.commits}")
        return None

    def check(self, ctx, op, result) -> bool:
        kind, payload = op
        if kind == "put":
            for r in payload:
                self.model[r["c_custkey"]] = dict(r)
        else:
            for k in payload:
                self.model.pop(k, None)
        count_commit(self.stats, ctx, self.src, kind, payload)
        return True

    def op_family(self, op) -> str:
        return "ack"

    def close(self) -> None:
        self.stop_query()

    def stop_query(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()
            self.query = None

    def finish(self, ctx) -> int:
        from kt_sql_hbase_ex_spark.sources import kvstore

        self.progress = list(self.query.recentProgress) if self.query else []
        self.stop_query()
        keys = sorted(self.model) + [self.next_key + 1]
        specs = [{"c_custkey": k} for k in keys]
        src = kvstore.get_store_rows(self.src, specs)
        dst = kvstore.get_store_rows(self.dst, specs)
        want = [self.model.get(k) for k in keys]
        bad = sum(a != w for a, w in zip(src, want)) + sum(b != w for b, w in zip(dst, want))
        self.space_amp = store_space_amp(os.path.join(self.root, "src"), self.model.values())
        return bad

    def layer_metrics(self, ctx, m) -> None:
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        allp = self.progress

        def dur(key):
            xs = [p.get("durationMs", {}).get(key, 0) for p in prog]
            return sum(xs) / len(xs) if xs else 0.0

        m.put("streaming.batches_per_commit", len(allp) / max(1, self.commits), "count")
        m.put("streaming.latest_offset_ms", dur("latestOffset"), "ms")
        m.put("streaming.add_batch_ms", dur("addBatch"), "ms")
        m.put("streaming.wal_commit_ms", dur("walCommit"), "ms")
        m.put("streaming.trigger_execution_ms", dur("triggerExecution"), "ms")
        if self.apply_ms:
            m.put("streaming.apply_ms", statistics.median(self.apply_ms), "ms")
            pickup = [a - c for a, c in zip(self.apply_start, self.commit_ends)]
            m.put("streaming.pickup_ms", statistics.median(pickup) * 1e3, "ms")
        # the source store's write path; the bytes written include the
        # replica applies, which run in this process too
        commit_metrics(m, ctx, self.stats, self.src)
        m.put("kvstore.space_amp", self.space_amp, "ratio")


WORKLOADS = {w.name: w for w in (KvPoint, KvScan, CdcReplica)}

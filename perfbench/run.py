#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kv_point --seed 1 --seconds 5 --trace 0

Runs one workload in this process against the package in the parent
directory and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A detail line before it carries the per-operation
breakdown and, when traced, each layer's self time. Every file the run
writes lives under ``perfbench/_work`` (removed at exit) and, for traced
runs, the span dump under ``perfbench/_out``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def layer_metric_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric a traced run reports (0
    where the workload never enters the layer), as BENCHMARK.json lists
    them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="input scale factor")
    return ap.parse_args(argv)


def hermetic_env(work: str) -> None:
    """Point every temp location of this process, the JVM and the
    Python workers inside ``work``; must run before Spark starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's included: no hsperfdata
    # files, temp files under the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    tempfile.tempdir = None  # re-read TMPDIR


class Ctx:
    """Run-wide state handed to the workload."""

    def __init__(self, work: str, data_dir: str, seed: int, tracer) -> None:
        self.work = work
        self.data_dir = data_dir
        self.app_id = f"perfbench-{seed}"
        self.tracer = tracer
        self.traced_run = tracer.enabled
        self.spark = None
        self.dirs: list[str] = []
        self.n_dirs = 0
        self.window_write_bytes = 0

    def fresh_dir(self, prefix: str) -> str:
        self.n_dirs += 1
        path = os.path.join(self.work, f"{prefix}-{self.n_dirs}")
        os.makedirs(path)
        self.dirs.append(path)
        return path

    def drop_old_dirs(self) -> None:
        for d in self.dirs[:-1]:
            shutil.rmtree(d, ignore_errors=True)
        del self.dirs[:-1]

    def start_session(self):
        """The run's Spark session: launched by the first set-up, reused
        (``getOrCreate``) by the later ones, as an application reuses
        its session when it provisions another store."""
        from kt_sql_hbase_ex_spark.session import get_session

        with self.tracer.span("session.start"):
            self.spark = get_session(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.streaming.numRecentProgressUpdates": "2000",
                },
            )
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM, and with it the Python
        workers, to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


class Loop:
    """The closed loop's record: latency per completed op, failures,
    and each op's wall-clock window for the Spark job attribution."""

    def __init__(self) -> None:
        self.attempted = 0
        self.latencies: list[tuple[str, float]] = []
        self.failures: list[str] = []
        self.windows: list[tuple[int, float, float]] = []  # (op id, start ms, end ms)
        self.py4j: dict[int, int] = {}
        self.traced: set[int] = set()  # ids of the ops recorded with spans
        self.busy_s = 0.0  # loop time up to the end of the last op
        self.ref_ms: list[float] = []  # harness.reference_ms after each op

    def run(self, w, ctx, ops, seconds: float, counter=None) -> None:
        """One op at a time until ``seconds`` have passed, the
        workload's current ``loop_unit`` of ops is complete and at least
        ``min_ops`` ops are done. A traced run does twice the ops and
        records spans for half of them (``traced_op``), so traced and
        untraced ops see the same store state and mix, and their medians
        give the overhead."""
        from harness import process_write_bytes, reference_ms

        wb0 = process_write_bytes()
        min_ops = w.min_ops * (2 if ctx.traced_run else 1)
        done = 0
        last_end = None
        t_start = time.perf_counter()
        t_end = t_start + seconds
        while time.perf_counter() < t_end or done % w.loop_unit or done < min_ops:
            op = next(ops)
            ctx.tracer.enabled = ctx.traced_run and traced_op(done, w.period)
            done += 1
            self.attempted += 1
            ctx.tracer.op_id = self.attempted
            if ctx.tracer.enabled:
                self.traced.add(self.attempted)
            calls0 = counter.calls if counter else 0
            e0, t0 = time.time(), time.perf_counter()
            try:
                with ctx.tracer.span("op"):
                    result = w.execute(ctx, op)
            except Exception as ex:  # counted and reported, never fatal
                self.failures.append(f"{op[0]}: {type(ex).__name__}: {ex}"[:300])
                continue
            last_end = time.perf_counter()
            ms = (last_end - t0) * 1e3
            if counter:
                self.py4j[self.attempted] = counter.calls - calls0
            self.windows.append((self.attempted, e0 * 1e3, e0 * 1e3 + ms))
            self.latencies.append((w.op_family(op), ms))
            try:
                ok = w.check(ctx, op, result)
            except Exception as ex:
                ok = False
                self.failures.append(f"check {op[0]}: {type(ex).__name__}: {ex}"[:300])
            if not ok:
                self.failures.append(f"mismatch on {op[0]}")
            self.ref_ms.append(reference_ms())
        ctx.tracer.enabled = False
        if last_end is not None:
            self.busy_s += last_end - t_start
        ctx.window_write_bytes += process_write_bytes() - wb0


def traced_op(index: int, period: int) -> bool:
    """Whether the loop's op ``index`` records spans: every other op,
    with the parity flipped each cycle of ``period`` ops, so two cycles
    trace each position of the mix once and leave it untraced once."""
    cycle, pos = divmod(index, period)
    return (pos + cycle) % 2 == 0


def op_stats(latencies, nominal: int) -> dict:
    """p50 and tail per op family and over all ops. The tail percentile
    is fixed by the family's share of the workload's nominal op count."""
    from harness import percentile, tail_percentile

    out = {}
    families = sorted({k for k, _ in latencies})
    for fam in ["all"] + families:
        xs = [ms for k, ms in latencies if fam == "all" or k == fam]
        if not xs:
            continue
        share = len(xs) / len(latencies)
        pct = tail_percentile(int(nominal * share))
        tail = percentile(xs, pct)
        out[fam] = {"n": len(xs), "p50_ms": statistics.median(xs), "tail_pct": pct,
                    "tail_ms": tail, "n_beyond_tail": sum(x > tail for x in xs)}
    return out


def layer_metrics(w, ctx, loop, setups, cpu, sampler):
    """Per-layer metrics of a traced run, from the spans of the traced
    ops, the Spark status store and /proc."""
    import harness

    tr = ctx.tracer
    m = harness.Metrics()
    units = layer_metric_units()
    for name, unit in units.items():
        m.put(name, 0.0, unit)

    def span_ms(name, pred=None):
        return [(s["end"] - s["start"]) * 1e3 for s in tr.spans
                if s["name"] == name and s["end"] is not None
                and s["op"] in loop.traced and (pred is None or pred(s))]

    def setup_median(name):
        xs = [sum((s["end"] - s["start"]) for s in tr.spans
                  if s["name"] == name and s["op"] == 0 and i0 <= s["start"] < i1)
              for i0, i1 in setups]
        return statistics.median(xs)

    m.put("session.start_s", sum(s["end"] - s["start"] for s in tr.spans
                                 if s["name"] == "session.start"), "s")
    m.put("catalog.register_views_s", setup_median("catalog.register_views"), "s")
    m.put("kvstore.provision_s", setup_median("kvstore.provision"), "s")
    m.put("setup.cold_op_s", setup_median("kvstore.scan.cold") + setup_median("streaming.cold_ack"), "s")

    pairs = list(zip(loop.latencies, loop.windows))
    traced = [lat for lat, (oid, _, _) in pairs if oid in loop.traced]
    untraced = [lat for lat, (oid, _, _) in pairs if oid not in loop.traced]
    stats = op_stats(traced, w.nominal_ops)
    m.put("ops_per_s", len(loop.latencies) / loop.busy_s, "1/s")
    m.put("ref_loop_ms", statistics.median(loop.ref_ms), "ms")
    for fam, st in stats.items():
        name = "op" if fam == "all" else fam
        if f"{name}_p50_ms" in units:
            m.put(f"{name}_p50_ms", st["p50_ms"], "ms")
        if f"{name}_tail_ms" in units:
            m.put(f"{name}_tail_ms", st["tail_ms"], "ms")

    for name in ("kvstore.get", "kvstore.put", "kvstore.delete", "kvstore.scan.load",
                 "kvstore.scan.exec", "kvstore.scan.after_commit", "kvstore.scan.clean",
                 "engine.sql_plan"):
        xs = span_ms(name)
        if xs:
            m.put(f"{name}_ms", statistics.median(xs), "ms")
    folds = span_ms("kvstore.fold", lambda s: s["counters"].get("folded"))
    if folds:
        m.put("kvstore.fold_ms", statistics.median(folds), "ms")
    w.layer_metrics(ctx, m)

    windows = [x for x in loop.windows if x[0] in loop.traced]
    n_ops = max(1, len(windows))
    if ctx.spark is not None and windows:
        time.sleep(0.5)  # let the listener bus post the last job's end
        jobs = harness.spark_jobs(ctx.spark)
        sums = dict.fromkeys(("jobs", "stages", "tasks", "executor_run_ms", "shuffle_read_bytes",
                              "shuffle_write_bytes", "input_bytes"), 0)
        driver_side = []
        for oid, a, b in windows:
            mine = [j for j in jobs if a <= j["start_ms"] <= b + 1]
            sums["jobs"] += len(mine)
            for j in mine:
                sums["stages"] += len(j["stages"])
                for st in j["stages"]:
                    for k in ("tasks", "executor_run_ms", "shuffle_read_bytes",
                              "shuffle_write_bytes", "input_bytes"):
                        sums[k] += st[k]
            busy = harness.union_ms(
                (j["start_ms"], min(b, j["end_ms"] or b)) for j in mine)
            driver_side.append(max(0.0, (b - a) - busy))
        for k, v in sums.items():
            m.put(f"spark.{k}", v / n_ops, units[f"spark.{k}"])
        m.put("spark.driver_side_ms", statistics.median(driver_side), "ms")
        calls = [loop.py4j[oid] for oid, _, _ in windows if oid in loop.py4j]
        m.put("py4j.calls", sum(calls) / max(1, len(calls)), "count")

    for kind in ("driver", "jvm", "worker"):
        m.put(f"proc.{kind}_cpu_s", cpu[1].get(kind, 0.0) - cpu[0].get(kind, 0.0), "s")
        m.put(f"proc.{kind}_rss_mb", sampler.peak_by_kind.get(kind, 0.0), "MB")
    m.put("proc.peak_rss_mb", sampler.peak_mb, "MB")

    # traced over untraced median: both halves hold the same positions
    # of the mix (traced_op), so their medians compare like for like
    if traced and untraced:
        m.put("trace.overhead_frac", statistics.median(ms for _, ms in traced)
              / statistics.median(ms for _, ms in untraced) - 1.0, "frac")
    self_ms = tr.self_times(ops={oid for oid, _, _ in windows})
    total = sum(ms for _, ms in traced)
    if total and "op" in self_ms:
        m.put("trace.unattributed_frac", self_ms["op"]["self_ms"] / total, "frac")
    per_op = {k: round(v["self_ms"] / n_ops, 4) for k, v in sorted(
        self_ms.items(), key=lambda kv: -kv[1]["self_ms"])}
    return m, per_op


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    hermetic_env(work)
    sys.path.insert(0, ROOT)
    try:
        import datagen
        import harness
        import numpy as np
        from workloads import WORKLOADS

        import kt_sql_hbase_ex_spark  # noqa: F401  (fail before any output)

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        data_dir = os.path.join(work, "data")
        data = datagen.generate(data_dir, args.sf, args.seed, WORKLOADS[args.workload].tables)
        os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
        tracer = harness.Tracer(bool(args.trace))
        ctx = Ctx(work, data_dir, args.seed, tracer)
        w = WORKLOADS[args.workload](data, tracer)
        result = measure(args, w, ctx, harness, np)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    detail, final = result
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps(final), flush=True)
    return 0


def measure(args, w, ctx, harness, np):
    # /proc sampling only in traced runs: its thread would compete with
    # the measured client for the interpreter lock
    sampler = harness.ProcSampler().start() if args.trace else None
    loop = Loop()
    try:
        setups: list[tuple[float, float]] = []
        w.load_inputs()
        for _ in range(w.setups):
            # start every set-up from the same state: no garbage from the
            # previous one, no writeback left by input generation or by it
            gc.collect()
            os.sync()
            t0 = time.perf_counter()
            with ctx.tracer.span("setup"):
                w.setup(ctx)
            setups.append((t0, time.perf_counter()))
            ctx.drop_old_dirs()
        w.model_setup()
        n_checks = 1  # the end-of-run check
        ops = w.ops(np.random.default_rng(args.seed))
        os.sync()
        cpu0 = sampler.cpu_by_kind() if sampler else None
        counter = harness.Py4jCounter().install() if args.trace and ctx.spark else None
        try:
            loop.run(w, ctx, ops, args.seconds, counter)
        finally:
            if counter:
                counter.uninstall()
        if sampler:
            sampler.sample()
            cpu1 = sampler.cpu_by_kind()
        final_bad = w.finish(ctx)
        if final_bad:
            loop.failures.append(f"end-of-run check: {final_bad} mismatching rows")
        stats = op_stats(loop.latencies, w.nominal_ops) if loop.latencies else {}
        if args.trace:
            metrics, per_op = layer_metrics(w, ctx, loop, setups, (cpu0, cpu1), sampler)
    finally:
        w.close()
        ctx.shutdown()
        if sampler:
            sampler.stop()
    setup_s = [b - a for a, b in setups]
    detail = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
              "setup_s": setup_s, "ref_loop_ms": statistics.median(loop.ref_ms),
              "ops": stats, "failures": loop.failures[:10]}
    if args.trace:
        ctx.tracer.dump(os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.json"))
        detail["self_ms_per_op"] = per_op
    else:
        metrics = harness.Metrics()
        metrics.put("setup_s", statistics.median(setup_s), "s")
        metrics.put("op_p50_per_ref", stats["all"]["p50_ms"] / detail["ref_loop_ms"], "ratio")
    n_failed = len(loop.failures)
    final = {
        "correct": n_failed == 0,
        "attempted": loop.attempted + n_checks,
        "failed": n_failed,
        "metrics": metrics.values,
    }
    return detail, final


if __name__ == "__main__":
    sys.exit(main())

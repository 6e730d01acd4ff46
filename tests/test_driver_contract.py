"""Driver-contract smoke: the three deliverables the round driver calls
(`entry`, `queries`/`oracle_sql`, `bench.py`) keep their shapes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod

from .conftest import SF_SMALL


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert [f.name for f in df.schema.fields] == [
        "r_name",
        "n_name",
        "revenue",
        "n_orders",
    ]
    # the all-regions grid keeps the smoke multi-row even at sf0.001
    assert len(rows) > 1


def test_queries_oracle_alignment():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle is non-empty SQL; every query callable
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    assert all(callable(fn) for fn in qs.values())
    # every registered query is oracle-checked — a rows-only addition
    # must be a deliberate decision, so this set staying empty is load-
    # bearing (a04 carries an exact-count tolerance flag, mm02 a
    # byte-arithmetic replay; both became hash-checkable in round 2)
    assert set(qs) - set(oracles) == set()


#: the bench-contract slice: the contract under test is the two-line
#: output FORMAT, not 62-entry coverage — the full-bench subprocess ran
#: 700+ s and timed out the driver's pytest budget (VERDICT r13 task
#: #2). Relational + lifecycle entries so both record shapes (plain
#: timing, build/serve/provision phases) are exercised.
_BENCH_SLICE = (
    "flagship_revenue_by_nation",
    "a01_pricing_summary",
    "src15_kv_increment",
    "t13_incremental_index_maintenance",
)


def test_bench_final_line_is_compact():
    """bench.py at sf0.001 prints a full detail line then a FINAL
    compact (<1 KB) headline JSON line — the driver keeps only the
    tail of stdout (~2.2 KB), so the last line must parse on its own
    (round-11's single ever-growing line arrived truncated and the
    official record was lost; VERDICT r11 task #1). Round 14: the
    final line's ``queries`` map carries every entry under its SHORT
    KEY (VERDICT r13 task #1 — the empty map left the driver
    per-query blind for two rounds). Run in a subprocess over the
     4-entry ``$SPARK_GRAFT_BENCH_ONLY`` slice: bench builds its own
    session; ~60 s."""
    import bench

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMALL,
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_ONLY=",".join(_BENCH_SLICE),
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 2, out.stdout
    # final line: valid JSON, < 1 KB, carries headline_total
    assert len(lines[-1].encode()) < 1024, len(lines[-1].encode())
    final = json.loads(lines[-1])
    assert final["metric"] == "headline_total"
    assert final["unit"] == "sec" and final["value"] > 0
    assert final["sf"] == 0.001
    assert final["queries_n"] == len(_BENCH_SLICE)
    assert final["sliced"] is True  # a slice never passes for a headline
    # the per-query map rides the FINAL line under short keys — one
    # entry per timed query, values matching the detail line to the
    # final line's rounding
    assert set(final["queries"]) == {bench.short_key(n) for n in _BENCH_SLICE}
    detail = json.loads(lines[0])
    assert detail["metric"] == "headline_detail"
    assert detail["sliced"] is True
    assert len(detail["queries"]) == final["queries_n"]
    assert abs(sum(detail["queries"].values()) - final["value"]) < 0.05
    for name, t in detail["queries"].items():
        assert abs(final["queries"][bench.short_key(name)] - t) <= 0.051, name
    # round-11: lifecycle entries split into build/serve phases whose
    # sum is the entry's recorded total (headline comparability);
    # round-12 adds the first-call provisioning cost separately.
    assert detail["phases"], "lifecycle phases missing"
    for name, ph in detail["phases"].items():
        assert set(ph) == {"build", "serve", "provision"}, name
        assert abs(ph["build"] + ph["serve"] - detail["queries"][name]) < 0.05, name
        assert ph["provision"] >= 0, name


def test_bench_short_keys_unique_and_final_line_fits():
    """Static pins for the full 62-entry HEADLINE (no Spark, no
    subprocess): every entry's short key is unique — a collision would
    silently merge two records in the driver's per_query — and a
    worst-case final line (every value three integer digits at 2 dp)
    stays under the 1 KB budget, so the RuntimeError guard in bench.py
    can only fire on a genuine contract break, not on a slow round."""
    import bench

    keys = [bench.short_key(n) for n in bench.HEADLINE]
    assert len(set(keys)) == len(keys), sorted(
        k for k in keys if keys.count(k) > 1
    )
    worst = json.dumps(
        {
            "metric": "headline_total",
            "value": 99999.999,
            "unit": "sec",
            "queries": {k: 999.99 for k in keys},
            "sf": 0.001,
            "queries_n": len(keys),
        },
        separators=(",", ":"),
    )
    assert len(worst.encode()) < 1024, len(worst.encode())


def test_bench_only_knob_rejects_unknown_names(monkeypatch):
    """The testing knob must fail loudly on a typo'd entry name, never
    silently time a different set than asked."""
    import bench

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMALL,
        SPARK_GRAFT_BENCH_ONLY="not_a_real_entry",
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode != 0
    assert "not_a_real_entry" in (out.stderr + out.stdout)
    # and unset, headline_names() is the full HEADLINE, bit-for-bit
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONLY", raising=False)
    assert bench.headline_names() == bench.HEADLINE


def test_coverage_doc_counts_match_registry():
    """COVERAGE.md and README.md state the registered-query count in
    prose; keep them honest against the actual registry so doc drift
    can't misreport the surface."""
    import os
    import re

    from kt_sql_hbase_ex_spark import registry

    n = len(registry.all_queries())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cov = open(os.path.join(root, "COVERAGE.md")).read()
    m = re.search(r"(\d+)\nregistered queries total", cov)
    assert m and int(m.group(1)) == n, (m and m.group(1), n)
    readme = open(os.path.join(root, "README.md")).read()
    m2 = re.search(r"`queries\(\)` → (\d+) named", readme)
    assert m2 and int(m2.group(1)) == n, (m2 and m2.group(1), n)

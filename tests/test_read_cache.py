"""The KV store's in-process read cache (``kvstore._READ_CACHE``): warm
point gets and scans answer from memory yet never serve a state older
than the one on disk, never hand out cached rows, share one set of
region entries, and stay correct under eviction; plus the overlay
publish token that makes that possible."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from kt_sql_hbase_ex_spark import storage
from kt_sql_hbase_ex_spark.sources import kvstore as kv

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _store(tmp_path, ns, n=100, region_size=16):
    base = os.path.join(str(tmp_path), f"base_{ns}.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "v": pa.array([float(i) for i in range(n)], pa.float64()),
            }
        ),
        base,
    )
    opts = {
        "path": base,
        "keycol": "k",
        "columns": "k,v",
        "regionsize": str(region_size),
        "appid": ns,
    }
    kv.truncate_overlay(opts)
    # the index catalog is keyed by base path, and pytest reuses tmp
    # paths across runs: drop what an earlier run left at this path
    for meta in kv.list_kv_indexes(opts):
        kv.drop_kv_index(meta["index_name"], opts)
    return opts


def _get(opts, keys):
    return kv.get_store_rows(opts, [{"k": k} for k in keys])


def test_same_size_republish_in_one_mtime_tick_is_not_stale(tmp_path):
    """Two overlays of the same size published within one mtime tick
    share the ``(st_mtime_ns, st_size)`` stat signature; the merged
    store cache must still serve the newer one (it is keyed by the
    publish token)."""
    opts = _store(tmp_path, "stale_scan")
    opath = kv.overlay_path(opts)
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    first = os.stat(opath)
    assert {r["k"]: r["v"] for r in kv._open_store(opts).rows}[1] == 10.0
    kv.put_rows_to_store(opts, [{"k": 1, "v": 20.0}])
    assert os.stat(opath).st_size == first.st_size
    os.utime(opath, ns=(first.st_atime_ns, first.st_mtime_ns))
    assert {r["k"]: r["v"] for r in kv._open_store(opts).rows}[1] == 20.0
    assert _get(opts, [1]) == [{"k": 1, "v": 20.0}]


def test_fold_publish_detects_a_same_size_commit(tmp_path):
    """The fold's publish-time check names the overlay by its token:
    a commit that raced the lock-free build is detected even when the
    new overlay has the old one's size and mtime."""
    opts = _store(tmp_path, "fold_tok")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    with kv._overlay_lock(opts):
        snap = kv._fold_snapshot(opts)
    built = kv._build_generation(opts, None, snap)
    opath = kv.overlay_path(opts)
    st = os.stat(opath)
    kv.put_rows_to_store(opts, [{"k": 1, "v": 20.0}])
    os.utime(opath, ns=(st.st_atime_ns, st.st_mtime_ns))
    with kv._overlay_lock(opts):
        out = kv._publish_generation(opts, snap, built, verify=True)
    assert out["compacted"] is False
    # the discarded build primed nothing
    assert kv._READ_CACHE.get(("starts", built["dir"])) is None
    assert kv._READ_CACHE.get(("route", built["dir"], 0)) is None
    held = [value for value, _ in kv._READ_CACHE._entries.values()]
    assert built["written"] and not any(
        getattr(e, "table", None) is t
        for t in built["written"].values() for e in held
    )
    assert _get(opts, [1]) == [{"k": 1, "v": 20.0}]


def test_index_built_across_a_same_size_commit_reads_stale(
    tmp_path, monkeypatch
):
    """An index records the base identity captured BEFORE its backfill.
    A commit that lands during the backfill, with the old overlay's size
    and mtime, must still leave the index reading as stale (the create's
    own read-back refuses it): the overlay part of that identity is the
    publish token, not a stat."""
    opts = _store(tmp_path, "idx_tok")
    opath = kv.overlay_path(opts)
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])

    def backfill_racing_a_commit(spark, root, index_name, base_options, on):
        st = os.stat(opath)
        kv.put_rows_to_store(opts, [{"k": 1, "v": 20.0}])
        assert os.stat(opath).st_size == st.st_size
        os.utime(opath, ns=(st.st_atime_ns, st.st_mtime_ns))
        data_dir = os.path.join(root, f"{index_name}.backfill")
        os.makedirs(data_dir)
        return data_dir

    monkeypatch.setattr(kv, "_build_index_version", backfill_racing_a_commit)
    with pytest.raises(kv.StaleIndexError):
        kv.create_kv_index(None, "by_v", opts, "v")
    (meta,) = kv.list_kv_indexes(opts)
    assert meta["INDEX_TYPE"] == "KEY_VALUE"
    assert meta["fresh"] is False


def test_multiget_stats_report_cache_hits(tmp_path):
    opts = _store(tmp_path, "stats")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    keys = [20, 40, 60, 80]
    kv._READ_CACHE.clear()
    cold = _get(opts, keys)
    s = kv.last_multiget_stats()
    assert s["files_cached"] == 0 and s["manifest_rows_cached"] == 0
    assert s["manifest_rows_loaded"] == s["regions_routed"] == 4
    assert s["overlay_cached"] is False
    assert _get(opts, keys) == cold == [{"k": k, "v": float(k)} for k in keys]
    s = kv.last_multiget_stats()
    assert s["files_read"] == s["files_cached"] == 4
    assert s["manifest_rows_loaded"] == 0 and s["manifest_rows_cached"] == 4
    # a commit primes the cache with the overlay it published
    kv.put_rows_to_store(opts, [{"k": 2, "v": 22.0}])
    assert _get(opts, [2, 20]) == [{"k": 2, "v": 22.0}, {"k": 20, "v": 20.0}]
    s = kv.last_multiget_stats()
    assert s["overlay_cached"] is True and s["files_read"] == 1


@pytest.mark.parametrize("fold", ["first", "minor", "major"])
def test_fold_writes_its_generation_through(tmp_path, fold):
    """A driver-side fold leaves the generation it published warm: the
    next get reads every file and manifest row from the cache (a minor
    fold's carries keep the entries the previous fold primed), and each
    primed region entry holds exactly the rows of its file."""
    opts = _store(tmp_path, f"through_{fold}")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    if fold != "first":
        kv.compact_store(opts)
        kv.put_rows_to_store(opts, [{"k": 50, "v": 5.0}])
    stats = kv.compact_store(opts, major=fold == "major")
    assert stats["compacted"] and not stats["distributed"]
    assert _get(opts, [1, 20, 50, 99])[0] == {"k": 1, "v": 10.0}
    s = kv.last_multiget_stats()
    assert s["files_cached"] == s["files_read"] == s["regions_routed"] == 4
    assert s["manifest_rows_loaded"] == 0
    gen = kv._resolve_generation(opts)
    for i in range(len(gen["regions"])):
        path, _, key = kv._READ_CACHE.get(("route", gen["dir"], i))
        assert kv._READ_CACHE.get(key).rows() == pq.read_table(path).to_pylist()


def test_scan_warms_point_gets(tmp_path):
    """A scan's base is the region entries point gets read: after a
    cold scan open, a get finds every file it reads in the cache."""
    opts = _store(tmp_path, "scan_warms")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    kv._READ_CACHE.clear()
    assert len(kv._open_store(opts).rows) == 100
    assert _get(opts, [1, 40, 80]) == [
        {"k": 1, "v": 10.0}, {"k": 40, "v": 40.0}, {"k": 80, "v": 80.0}
    ]
    s = kv.last_multiget_stats()
    assert s["files_cached"] == s["files_read"] > 0


def test_returned_rows_are_fresh(tmp_path):
    opts = _store(tmp_path, "fresh")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    kv.put_rows_to_store(opts, [{"k": 2, "v": 22.0}])
    want = _get(opts, [1, 2, 3])
    for r in _get(opts, [1, 2, 3]):
        r["v"] = -1.0
        r["extra"] = True
    assert _get(opts, [1, 2, 3]) == want
    rows = kv._read_overlay(opts)
    rows[0]["v"] = -1.0
    assert kv._read_overlay(opts)[0]["v"] == 22.0


def test_eviction_under_a_small_budget(tmp_path, monkeypatch):
    """Gets and scans (of the store and of an ``indexOn`` store over
    the same base) interleave under a budget far below the store's
    size: every answer matches the model and the budget holds."""
    opts = _store(tmp_path, "evict", n=200)
    idx_opts = {**opts, "indexon": "v"}
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    model = {k: float(k) for k in range(200)}
    model[1] = 10.0
    budget = 4 * kv._rows_bytes(pa.table({"k": [0] * 16, "v": [0.0] * 16}))
    cache = storage.LRUCache(budget)
    monkeypatch.setattr(kv, "_READ_CACHE", cache)

    def scans_match():
        assert {r["k"]: r["v"] for r in kv._open_store(opts).rows} == model
        assert sorted(
            r[kv.INDEX_KEY] for r in kv._open_store(idx_opts).rows
        ) == sorted(
            kv._index_rowkey(v, {"k": k}, ("k",)) for k, v in model.items()
        )
        assert cache.used <= budget

    for rnd in range(3):
        for lo in range(0, 200, 16):
            keys = [lo, lo + 3, min(lo + 15, 199)]
            assert _get(opts, keys) == [{"k": k, "v": model[k]} for k in keys]
            assert cache.used <= budget
            if lo % 64 == 0:
                scans_match()
        kv.put_rows_to_store(opts, [{"k": 5 + rnd, "v": -1.0}])
        model[5 + rnd] = -1.0
        assert _get(opts, [5 + rnd]) == [{"k": 5 + rnd, "v": -1.0}]
        scans_match()
    # the budget held far fewer entries than the 13 regions read
    assert 0 < len(cache) < 13


def test_lru_cache_bounds_and_recency():
    c = storage.LRUCache(100)
    c.put("a", 1, 40)
    c.put("b", 2, 40)
    assert c.get("a") == 1  # a is now the most recent
    c.put("c", 3, 40)  # evicts b, the least recent
    assert c.get("b") is None and c.get("a") == 1 and c.get("c") == 3
    assert c.used == 80
    c.put("huge", 4, 101)  # larger than the whole budget: not kept
    assert c.get("huge") is None and len(c) == 2
    c.pop("a")
    assert c.used == 40
    c.clear()
    assert len(c) == 0 and c.used == 0


def test_lru_cache_accounting_under_threads():
    """More threads than cores hammer one cache (commits also run on
    the streaming callback thread): the byte accounting must still
    equal the entries held, within the budget."""
    import threading

    c = storage.LRUCache(500)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(t):
            for i in range(3000):
                k = (t * 7 + i) % 40
                c.put(k, i, 1 + k % 13)
                c.get((k * 3) % 40)
                if i % 5 == 0:
                    c.pop((k + 1) % 40)

        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert c.used == sum(n for _, n in c._entries.values()) <= 500


_CHILD = """
import json, sys
from kt_sql_hbase_ex_spark.sources import kvstore as kv
opts = json.loads(sys.argv[1])
kv.put_rows_to_store(opts, [{"k": 5, "v": 555.0}])
kv.delete_from_store(opts, [7])
assert kv.compact_store(opts)["compacted"]
"""


def test_warm_cache_sees_another_process_commits_and_fold(tmp_path):
    """Another process puts, deletes and folds; this process's next
    get, from a warm cache, sees all three."""
    opts = _store(tmp_path, "xproc")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    kv.put_rows_to_store(opts, [{"k": 2, "v": 22.0}])
    keys = [1, 2, 5, 7, 50]
    for _ in range(2):  # warm: overlay, routing and region entries
        assert _get(opts, keys) == [
            {"k": 1, "v": 10.0}, {"k": 2, "v": 22.0}, {"k": 5, "v": 5.0},
            {"k": 7, "v": 7.0}, {"k": 50, "v": 50.0},
        ]
    assert kv.last_multiget_stats()["files_cached"] > 0
    env = dict(os.environ, PYTHONPATH=REPO)
    subprocess.run(
        [sys.executable, "-c", _CHILD, json.dumps(opts)],
        check=True, env=env, cwd=REPO, timeout=300,
    )
    assert _get(opts, keys) == [
        {"k": 1, "v": 10.0}, {"k": 2, "v": 22.0}, {"k": 5, "v": 555.0},
        None, {"k": 50, "v": 50.0},
    ]
    assert not os.path.exists(kv.overlay_path(opts))  # folded away


def test_put_batch_ceiling_points_to_bulk_load(tmp_path):
    """``put_rows_to_store`` is statement-sized: a batch above
    ``INCREMENTAL_MAX_OVERLAY_ROWS`` is refused before anything is
    logged or published."""
    assert kv.INCREMENTAL_MAX_OVERLAY_ROWS == 100_000
    opts = _store(tmp_path, "ceiling")
    row = {"k": 1, "v": 1.0}
    with pytest.raises(ValueError, match="bulk_load_store"):
        kv.put_rows_to_store(opts, [row] * (kv.INCREMENTAL_MAX_OVERLAY_ROWS + 1))
    assert kv._log_seqs(kv.changelog_dir(opts)) == []
    assert not os.path.exists(kv.overlay_path(opts))
    kv.put_rows_to_store(opts, [row] * kv.INCREMENTAL_MAX_OVERLAY_ROWS)
    assert _get(opts, [1]) == [row]


def test_parquet_column_max_from_footer_statistics(tmp_path):
    import datetime as dt

    from kt_sql_hbase_ex_spark.sources.catalog import table_path

    from .conftest import SF_SMALL

    events = table_path(SF_SMALL, "events")
    want = pc.max(pq.read_table(events, columns=["ts"]).column("ts")).as_py()
    assert kv._parquet_column_max(events, "ts") == want

    t0 = dt.datetime(2024, 1, 1)
    ts = pa.array(
        [t0 + dt.timedelta(hours=h) if h % 3 else None for h in range(30)]
        + [None] * 10,
        pa.timestamp("us"),
    )
    tbl = pa.table({"ts": ts})
    want = pc.max(ts).as_py()
    for stats in (True, False):  # without statistics: the column read
        path = os.path.join(str(tmp_path), f"ts_{stats}.parquet")
        pq.write_table(tbl, path, row_group_size=10, write_statistics=stats)
        got = kv._parquet_column_max(path, "ts")
        assert got == want and got.isoformat() == want.isoformat()


# --- pinned footers and pointers (storage.read_pinned) -------------------

_SAME_SIZE_CHILD = """
import json, os, sys
from kt_sql_hbase_ex_spark.sources import kvstore as kv
opts = json.loads(sys.argv[1])
opath = kv.overlay_path(opts)
st = os.stat(opath)
kv.put_rows_to_store(opts, [{"k": 1, "v": 20.0}])
assert os.stat(opath).st_size == st.st_size
os.utime(opath, ns=(st.st_atime_ns, st.st_mtime_ns))
# retention drops the entry, so no WAL replay can mask a stale footer
assert kv.prune_changelog(opts, kv._overlay_applied_seq(opath)) == 2
"""


def _fds_on(prefix: str) -> list:
    """This process's open descriptors whose target starts with
    ``prefix`` (a deleted file's target ends with ' (deleted)')."""
    out = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            target = os.readlink(f"/proc/self/fd/{fd}")
        except OSError:
            continue
        if target.startswith(prefix):
            out.append(target)
    return out


def test_another_process_same_size_republish_is_not_stale(tmp_path):
    """Another process republishes a same-size overlay, resets its
    mtime and prunes the WAL: the warm pinned footer must not serve
    the previous state (the held descriptor keeps the old inode number
    from being reused, so the new file always shows as a new inode)."""
    opts = _store(tmp_path, "pin_xproc")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    for _ in range(2):  # warm: footer pinned, overlay cached
        assert _get(opts, [1]) == [{"k": 1, "v": 10.0}]
    assert kv.last_multiget_stats()["overlay_cached"] is True
    env = dict(os.environ, PYTHONPATH=REPO)
    subprocess.run(
        [sys.executable, "-c", _SAME_SIZE_CHILD, json.dumps(opts)],
        check=True, env=env, cwd=REPO, timeout=300,
    )
    assert _get(opts, [1]) == [{"k": 1, "v": 20.0}]
    assert {r["k"]: r["v"] for r in kv._open_store(opts).rows}[1] == 20.0


def test_fold_drops_the_retired_overlay_pin(tmp_path):
    """A fold retires the overlay; the next read drops its pin, so no
    descriptor to the unlinked overlay outlives it."""
    opts = _store(tmp_path, "pin_fold")
    opath = kv.overlay_path(opts)
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    assert _get(opts, [1]) == [{"k": 1, "v": 10.0}]
    assert _fds_on(opath) == [opath]  # the write-through pin
    assert kv.compact_store(opts)["compacted"]
    assert not os.path.exists(opath)
    assert _get(opts, [1]) == [{"k": 1, "v": 10.0}]
    assert _fds_on(opath) == []
    assert opath not in storage._PINS


def test_pins_are_bounded_by_count(tmp_path):
    """Committing to twice as many stores as the pin bound leaves at
    most the bound of pinned descriptors open, and every store still
    reads back its own commit."""
    n = 2 * storage.PIN_LIMIT
    stores = []
    for i in range(n):
        base = os.path.join(str(tmp_path), f"b{i}.parquet")
        pq.write_table(pa.table({"k": pa.array([i], pa.int64()),
                                 "v": pa.array([0.0])}), base)
        opts = {"path": base, "keycol": "k", "columns": "k,v",
                "appid": "pin_bound"}
        kv.put_rows_to_store(opts, [{"k": i, "v": float(i)}])
        stores.append(opts)
    assert len(storage._PINS) <= storage.PIN_LIMIT
    state_root = os.path.dirname(kv.overlay_path(stores[0]))
    assert len(_fds_on(state_root)) <= storage.PIN_LIMIT
    for i in (0, n // 2, n - 1):
        assert _get(stores[i], [i]) == [{"k": i, "v": float(i)}]
    assert len(_fds_on(state_root)) <= storage.PIN_LIMIT
    for opts in stores:
        kv.truncate_overlay(opts)


def test_publish_losing_a_race_pins_nothing_wrong(tmp_path, monkeypatch):
    """A publisher whose rename is overtaken — another publish replaces
    the file, same size, same mtime, before this one pins — leaves a
    pin the next read finds stale: it serves the winner's content."""
    path = str(tmp_path / "POINTER")
    real_replace = os.replace

    def overtaken(src, dst):
        real_replace(src, dst)
        if dst == path:
            st = os.stat(path)
            rival = str(tmp_path / "rival")
            with open(rival, "w") as f:
                f.write(json.dumps({"gen": 9}))
            os.utime(rival, ns=(st.st_atime_ns, st.st_mtime_ns))
            real_replace(rival, dst)

    monkeypatch.setattr(os, "replace", overtaken)
    storage.write_pointer(path, {"gen": 1})
    monkeypatch.setattr(os, "replace", real_replace)
    assert os.stat(path).st_size == len(json.dumps({"gen": 1}))
    assert storage.read_pointer(path) == {"gen": 9}
    storage.write_pointer(path, {"gen": 2})  # an unraced publish
    assert storage.read_pointer(path) == {"gen": 2}


def test_read_pointer_hands_out_fresh_dicts(tmp_path):
    path = str(tmp_path / "layout.json")
    storage.write_pointer(path, {"gen": 1, "prev": ["a"]})
    ptr = storage.read_pointer(path)
    ptr["gen"] = 7
    ptr["prev"].append("b")
    assert storage.read_pointer(path) == {"gen": 1, "prev": ["a"]}


def test_malformed_generation_pointer_fails_loudly(tmp_path):
    """An unparsable ``POINTER`` raises instead of silently serving the
    pristine fixture base (a wrong answer with no error)."""
    opts = _store(tmp_path, "bad_ptr")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    ptr = os.path.join(kv._gen_root(opts), kv.GEN_POINTER)
    with storage.publish(ptr) as staging:
        with open(staging, "w") as f:
            f.write('{"dir": "gen.')
    with pytest.raises(ValueError):
        _get(opts, [1])
    with pytest.raises(ValueError):
        kv._open_store(opts)


class _MetadataReads:
    """Counts parquet footer reads (``pq.read_schema``) and opens of a
    generation ``POINTER``."""

    def __init__(self, monkeypatch):
        self.footers = self.pointers = 0
        real_schema, real_os_open = pq.read_schema, os.open
        real_open = open

        def read_schema(*a, **k):
            self.footers += 1
            return real_schema(*a, **k)

        def os_open(path, *a, **k):
            self.pointers += str(path).endswith(kv.GEN_POINTER)
            return real_os_open(path, *a, **k)

        def builtin_open(path, *a, **k):
            self.pointers += str(path).endswith(kv.GEN_POINTER)
            return real_open(path, *a, **k)

        monkeypatch.setattr(pq, "read_schema", read_schema)
        monkeypatch.setattr(os, "open", os_open)
        monkeypatch.setattr("builtins.open", builtin_open)

    def reset(self):
        self.footers = self.pointers = 0


def test_warm_gets_and_commits_read_no_metadata(tmp_path, monkeypatch):
    """A warm get opens no footer and no pointer; a crash-free put
    reads no overlay or base footer; the get after a commit or a fold
    is warm too (write-through)."""
    opts = _store(tmp_path, "meta_count")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    kv.put_rows_to_store(opts, [{"k": 2, "v": 22.0}])
    assert _get(opts, [1, 2, 50])  # warm
    reads = _MetadataReads(monkeypatch)
    assert _get(opts, [1, 2, 50]) == [
        {"k": 1, "v": 10.0}, {"k": 2, "v": 22.0}, {"k": 50, "v": 50.0}
    ]
    assert (reads.footers, reads.pointers) == (0, 0)
    kv.put_rows_to_store(opts, [{"k": 3, "v": 33.0}])
    kv.delete_from_store(opts, [50])
    assert reads.footers == 0
    assert _get(opts, [3, 50]) == [{"k": 3, "v": 33.0}, None]
    assert (reads.footers, reads.pointers) == (0, 0)
    assert kv.compact_store(opts)["compacted"]
    reads.reset()
    assert _get(opts, [1, 3, 50]) == [
        {"k": 1, "v": 10.0}, {"k": 3, "v": 33.0}, None
    ]
    assert (reads.footers, reads.pointers) == (0, 0)


@pytest.mark.parametrize("cold", [False, True])
def test_torn_commit_is_replayed_under_pins(tmp_path, cold):
    """A torn commit — a WAL entry at ``applied + 1`` whose overlay was
    never published — is replayed by the next get, from warm pins and
    caches and after ``_READ_CACHE.clear()``."""
    opts = _store(tmp_path, f"torn_{cold}")
    kv.put_rows_to_store(opts, [{"k": 1, "v": 10.0}])
    assert _get(opts, [1, 2]) == [{"k": 1, "v": 10.0}, {"k": 2, "v": 2.0}]
    applied = kv._overlay_applied_seq(kv.overlay_path(opts))
    seq = kv._append_changelog(
        opts, kv._mutation_table(opts, [{"k": 2, "v": 222.0}]), after=applied
    )
    assert seq == applied + 1
    if cold:
        kv._READ_CACHE.clear()
    assert _get(opts, [1, 2]) == [{"k": 1, "v": 10.0}, {"k": 2, "v": 222.0}]
    assert kv._overlay_applied_seq(kv.overlay_path(opts)) == seq

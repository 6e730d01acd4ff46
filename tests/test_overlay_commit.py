"""The KV store's one overlay commit path (``kvstore._commit_statement``
and ``kvstore._commit_overlay``), without Spark: every writer's
published overlay equals a dict model, is sorted by rowkey, is one
chunk per column and carries the base schema plus the tombstone flag;
a crash between the WAL append and the publish recovers to the same
overlay; a commit never decodes the whole overlay; an empty statement
commits nothing; values read the same before and after a fold; and a
minor fold keeps the carried regions' cache entries."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kt_sql_hbase_ex_spark.sources import kvstore as kv

_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

# the three store shapes: key columns, whether versioned
SHAPES = {
    "single": (("k",), False),
    "composite": (("a", "b"), False),
    "versioned": (("k",), True),
}


def _store(tmp_path, shape: str, n: int = 8, region_size: int = 4):
    key_cols, versioned = SHAPES[shape]
    tag = uuid.uuid4().hex[:10]
    base = os.path.join(str(tmp_path), f"base_{shape}_{tag}.parquet")
    cols = {c: pa.array(range(n), pa.int64()) for c in key_cols}
    cols["v"] = pa.array([float(i) for i in range(n)], pa.float64())
    cols["s"] = pa.array([f"s{i}" for i in range(n)], pa.string())
    pq.write_table(pa.table(cols), base)
    opts = {
        "path": base,
        "keycol": ",".join(key_cols),
        "columns": ",".join([*key_cols, "v", "s"]),
        "regionsize": str(region_size),
        "appid": tag,
        "storeroot": os.path.join(str(tmp_path), "state"),
    }
    if versioned:
        opts["versions"] = "3"
    return opts


def _key(shape: str, k: int) -> dict:
    return {"a": k, "b": k % 3} if shape == "composite" else {"k": k}


def _overlay_schema(shape: str) -> pa.Schema:
    key_cols, versioned = SHAPES[shape]
    return pa.schema(
        [pa.field(c, pa.int64()) for c in key_cols]
        + [pa.field("v", pa.float64()), pa.field("s", pa.string())]
        + ([pa.field(kv.VERSION_TS, pa.int64())] if versioned else [])
        + [pa.field(kv.TOMBSTONE, pa.bool_())]
    )


def _check_published(opts, shape: str, model: dict) -> None:
    """The overlay on disk and in the cache equals ``model`` (merge key
    -> row), is sorted by rowkey, is one chunk per column and carries
    the pinned schema."""
    key_cols, versioned = SHAPES[shape]
    opath = kv.overlay_path(opts)
    entry, _ = kv._overlay_entry(opath)
    if not model:
        assert entry is None
        return
    for tbl in (entry.table, pq.read_table(opath)):
        assert tbl.schema.remove_metadata() == _overlay_schema(shape)
        rows = tbl.to_pylist()
        mkeys = [
            kv._vkey(r, key_cols) if versioned else kv._rowkey_of(r, key_cols)
            for r in rows
        ]
        assert mkeys == sorted(set(mkeys))  # sorted, one row per key
        assert dict(zip(mkeys, rows)) == model
    assert all(c.num_chunks == 1 for c in entry.table.columns)


_ROW = st.tuples(
    st.integers(0, 11),
    st.one_of(st.integers(-5, 5), st.floats(-5, 5, allow_nan=False)),
)

_ops = st.lists(
    st.tuples(
        st.sampled_from(["put", "delete", "increment", "cas", "append"]),
        st.lists(_ROW, min_size=0, max_size=4),
        st.booleans(),  # crash between the WAL append and the publish
    ),
    min_size=1,
    max_size=8,
)


def _apply_unversioned(call, opts, shape, kind, arg, model, base):
    """Run one op through the store (``call``) and the model; both
    see the same current rows (overlay model over the base)."""
    key_cols, _ = SHAPES[shape]

    def current(rk):
        if rk in model:
            r = model[rk]
            return None if r[kv.TOMBSTONE] else dict(r)
        return dict(base[rk], **{kv.TOMBSTONE: False}) if rk in base else None

    def put(rk, row):
        model[rk] = {**row, kv.TOMBSTONE: False}

    if kind == "put":
        rows = [{**_key(shape, k), "v": v, "s": f"p{k}"} for k, v in arg]
        call(kv.put_rows_to_store, opts, rows)
        for r in rows:
            put(kv._rowkey_of(r, key_cols), r)
    elif kind == "delete":
        keys = [
            tuple(_key(shape, k)[c] for c in key_cols)
            if len(key_cols) > 1 else k
            for k, _ in arg
        ]
        call(kv.delete_from_store, opts, keys)
        for k, _ in arg:
            key = _key(shape, k)
            model[kv._rowkey_of(key, key_cols)] = {
                **{c: None for c in ("v", "s")}, **key, kv.TOMBSTONE: True,
            }
    elif kind == "increment":
        specs = [{**_key(shape, k), "v": d} for k, d in arg]
        call(kv.increment_store, opts, specs)
        for spec in specs:
            rk = kv._rowkey_of(spec, key_cols)
            row = current(rk) or {**_key_only(spec, key_cols), "s": None, "v": None}
            row["v"] = (row["v"] or 0) + spec["v"]
            put(rk, row)
    elif kind == "cas":
        # create-if-absent puts, then deletes of rows whose s is known
        specs = []
        for k, v in arg:
            key = _key(shape, k)
            if k % 2:
                specs.append({**key, "check": {"column": "s", "equals": None},
                              "put": {"v": v, "s": f"c{k}"}})
            else:
                specs.append({**key, "check": {"column": "s", "equals": f"s{k}"},
                              "delete": True})
        flags = call(kv.check_and_mutate_store, opts, specs)
        want = []
        for spec in specs:
            rk = kv._rowkey_of(spec, key_cols)
            row = current(rk)
            cell = None if row is None else row["s"]
            ok = cell == spec["check"]["equals"]
            want.append(ok)
            if ok and spec.get("delete"):
                model[rk] = {**{c: None for c in ("v", "s")},
                             **_key_only(spec, key_cols), kv.TOMBSTONE: True}
            elif ok:
                put(rk, {**(row or {"v": None, "s": None,
                                    **_key_only(spec, key_cols)}),
                         **spec["put"]})
        assert flags in (None, want)
    else:  # append
        specs = [{**_key(shape, k), "s": "+"} for k, _ in arg]
        call(kv.append_store, opts, specs)
        for spec in specs:
            rk = kv._rowkey_of(spec, key_cols)
            row = current(rk) or {**_key_only(spec, key_cols), "v": None, "s": None}
            row["s"] = (row["s"] or "") + "+"
            put(rk, row)


def _key_only(spec: dict, key_cols) -> dict:
    return {c: spec[c] for c in key_cols}


def _apply_versioned(call, opts, kind, arg, model):
    if kind == "delete":
        ts = 1 + len(arg)
        call(kv.delete_kv_versions, opts, [k for k, _ in arg], ts)
        for k, _ in arg:
            model[(k, ts)] = {"k": k, "v": None, "s": None,
                              kv.VERSION_TS: ts, kv.TOMBSTONE: True}
    else:
        rows = [{"k": k, "v": v, "s": f"p{k}", kv.VERSION_TS: k % 4}
                for k, v in arg]
        call(kv.put_kv_versions, opts, rows)
        for r in rows:
            model[(r["k"], r[kv.VERSION_TS])] = {**r, kv.TOMBSTONE: False}


class _Crash(Exception):
    """A commit torn between its WAL append and its publish."""


@pytest.mark.parametrize("shape", sorted(SHAPES))
@given(ops=_ops)
@_settings
def test_commit_path_matches_dict_model(tmp_path, monkeypatch, shape, ops):
    """After every put, delete, increment, check-and-mutate or append
    (versioned stores: versioned put and delete) the published overlay
    equals a dict model and is sorted, single-chunk and schema-pinned;
    an op that crashes between its WAL append and its publish is
    replayed by recovery into the same overlay (from the cache, or cold
    from disk)."""
    key_cols, versioned = SHAPES[shape]
    opts = _store(tmp_path, shape)
    base = {}
    for r in pq.read_table(opts["path"]).to_pylist():
        base[kv._rowkey_of(r, key_cols)] = r
    model: dict = {}

    def torn(*a, **k):
        raise _Crash()

    def call(fn, *args):
        try:
            return fn(*args)
        except _Crash:
            return None

    for i, (kind, arg, crash) in enumerate(ops):
        if crash:
            monkeypatch.setattr(kv, "_publish_overlay", torn)
        try:
            if versioned:
                _apply_versioned(call, opts, kind, arg, model)
            else:
                _apply_unversioned(call, opts, shape, kind, arg, model, base)
        finally:
            monkeypatch.undo()
        if crash:
            if i % 2:
                kv._READ_CACHE.clear()
            kv.recover_overlay(opts)
        _check_published(opts, shape, model)


def test_commits_never_decode_the_whole_overlay(tmp_path, monkeypatch):
    """On a 20k-row overlay no commit op — put, delete, increment,
    check-and-mutate, append, versioned put/delete, WAL replay — calls
    ``_TableEntry.rows()``: each reads only its own keys."""
    opts = _store(tmp_path, "single", n=64, region_size=16)
    n = 20_000
    kv.put_rows_to_store(
        opts, [{"k": 100 + i, "v": 1.0, "s": "x"} for i in range(n)]
    )

    def whole(self):
        raise AssertionError("a commit decoded the whole overlay")

    monkeypatch.setattr(kv._TableEntry, "rows", whole)
    kv.put_rows_to_store(opts, [{"k": 5, "v": 2.0, "s": "y"}])
    kv.delete_from_store(opts, [6, 100])
    assert kv.increment_store(opts, [{"k": 101, "v": 1}])[0]["v"] == 2.0
    assert kv.check_and_mutate_store(
        opts, [{"k": 102, "check": {"column": "s", "equals": "x"},
                "put": {"s": "z"}}]
    ) == [True]
    assert kv.append_store(opts, [{"k": 103, "s": "!"}])[0]["s"] == "x!"
    tbl = kv._mutation_table(opts, [{"k": 7, "v": 3.0, "s": "w"}])
    kv._append_changelog(opts, tbl)  # logged, never published
    assert kv.recover_overlay(opts) == 1
    assert kv.get_store_rows(opts, [{"k": 7}, {"k": 6}, {"k": 102}]) == [
        {"k": 7, "v": 3.0, "s": "w"}, None, {"k": 102, "v": 1.0, "s": "z"},
    ]
    assert kv._overlay_entry(kv.overlay_path(opts))[0].table.num_rows == n + 3

    vopts = _store(tmp_path, "versioned", n=64, region_size=16)
    kv.put_kv_versions(
        vopts,
        [{"k": 100 + i, "v": 1.0, "s": "x", kv.VERSION_TS: 1} for i in range(n)],
    )
    kv.put_kv_versions(vopts, [{"k": 5, "v": 2.0, "s": "y", kv.VERSION_TS: 2}])
    kv.delete_kv_versions(vopts, [100], ts=3)


def test_empty_statements_commit_nothing(tmp_path):
    """An empty put, delete, increment, append or all-failed
    check-and-mutate writes no WAL entry and publishes nothing: on a
    store without an overlay none appears (a zero-column one used to,
    and every get then failed), and an existing overlay keeps its
    publish token."""
    opts = _store(tmp_path, "single")
    opath = kv.overlay_path(opts)
    log = kv.changelog_dir(opts)

    def empty_ops():
        kv.put_rows_to_store(opts, [])
        kv.delete_from_store(opts, [])
        assert kv.increment_store(opts, []) == []
        assert kv.append_store(opts, []) == []
        assert kv.check_and_mutate_store(
            opts, [{"k": 1, "check": {"column": "s", "equals": "no"},
                    "delete": True}]
        ) == [False]

    empty_ops()
    assert not os.path.exists(opath)
    assert kv._log_seqs(log) == []
    assert kv.get_store_rows(opts, [{"k": 1}]) == [{"k": 1, "v": 1.0, "s": "s1"}]

    kv.put_rows_to_store(opts, [{"k": 2, "v": 9.0, "s": "n"}])
    token, seqs = kv._overlay_footer(opath)[1], kv._log_seqs(log)
    empty_ops()
    assert kv._overlay_footer(opath)[1] == token
    assert kv._log_seqs(log) == seqs
    assert kv.get_store_rows(opts, [{"k": 2}]) == [{"k": 2, "v": 9.0, "s": "n"}]


def _scan(opts) -> dict:
    return {r["k"]: r for r in kv._open_store(opts).rows}


def test_values_read_the_same_across_a_fold(tmp_path):
    """An int put into a double column reads as the same float through
    a get and a scan, before and after a fold; so does a delete-only
    overlay, whose columns keep the base's types."""
    opts = _store(tmp_path, "single")
    kv.delete_from_store(opts, [3])
    entry, _ = kv._overlay_entry(kv.overlay_path(opts))
    assert entry.table.schema.field("v").type == pa.float64()
    kv.put_rows_to_store(opts, [{"k": 1, "v": 5, "s": "i"}])

    def observed():
        got = kv.get_store_rows(opts, [{"k": 1}, {"k": 3}])
        scan = _scan(opts)
        assert got[1] is None and 3 not in scan
        assert got[0] == scan[1] == {"k": 1, "v": 5.0, "s": "i"}
        return type(got[0]["v"]), type(scan[1]["v"])

    before = observed()
    assert before == (float, float)
    assert kv.compact_store(opts)["compacted"]
    assert observed() == before


def test_minor_fold_keeps_carried_region_entries(tmp_path):
    """Region entries are keyed by file identity, so a minor fold's
    hardlinked carries hit the entries the previous generation's reads
    warmed: a get that touches only carried regions reads every file
    from the cache."""
    opts = _store(tmp_path, "single", n=64, region_size=16)
    kv.put_rows_to_store(opts, [{"k": 0, "v": -1.0, "s": "f"}])
    kv.compact_store(opts)
    every = [{"k": k} for k in range(64)]
    kv.get_store_rows(opts, every)  # warm all four regions
    kv.put_rows_to_store(opts, [{"k": 1, "v": -2.0, "s": "g"}])
    stats = kv.compact_store(opts)
    assert stats["regions_carried"] == 3 and stats["regions_rewritten"] == 1
    kv.get_store_rows(opts, [{"k": k} for k in range(16, 64)])
    got = kv.last_multiget_stats()
    assert got["files_read"] == 3
    assert got["files_cached"] == 3


def _count_listings(monkeypatch) -> dict:
    """Count calls of ``kvstore._log_seqs``, the only WAL listing."""
    calls = {"n": 0}
    real = kv._log_seqs

    def counting(log_dir):
        calls["n"] += 1
        return real(log_dir)

    monkeypatch.setattr(kv, "_log_seqs", counting)
    return calls


@pytest.mark.parametrize("n_entries", [20, 200])
def test_get_and_commit_never_list_the_wal(tmp_path, monkeypatch, n_entries):
    """A crash-free get or commit costs the same at 10x the WAL
    entries: none lists the log, before or after a fold. A torn commit
    is still replayed (warm, and cold after the cache is cleared), a
    number taken behind the writer's back is claimed past, and a
    truncate resumes numbering above the floor."""
    opts = _store(tmp_path, "single", n=64, region_size=16)
    for i in range(n_entries):
        kv.put_rows_to_store(opts, [{"k": i % 64, "v": float(i), "s": "w"}])
    log = kv.changelog_dir(opts)
    calls = _count_listings(monkeypatch)
    for fold in (False, True):
        if fold:
            kv.compact_store(opts)
        calls["n"] = 0
        kv.get_store_rows(opts, [{"k": 1}, {"k": 63}])
        kv.put_rows_to_store(opts, [{"k": 2, "v": -2.0, "s": "p"}])
        kv.delete_from_store(opts, [3])
        assert kv.get_store_rows(opts, [{"k": 2}, {"k": 3}]) == [
            {"k": 2, "v": -2.0, "s": "p"}, None,
        ]
        assert calls["n"] == 0

    head = n_entries + 4
    for cold in (False, True):  # torn: logged, never published
        head += 1
        tbl = kv._mutation_table(opts, [{"k": 7, "v": float(head), "s": "t"}])
        assert kv._append_changelog(opts, tbl) == head
        if cold:
            kv._READ_CACHE.clear()
        assert kv.get_store_rows(opts, [{"k": 7}]) == [
            {"k": 7, "v": float(head), "s": "t"}
        ]
        assert kv._overlay_footer(kv.overlay_path(opts))[0] == head

    real_recover = kv._recover_overlay_locked

    def another_writer_claims(o):
        out = real_recover(o)
        assert kv.storage.claim(kv._log_entry(log, out[0] + 1))
        return out

    monkeypatch.setattr(kv, "_recover_overlay_locked", another_writer_claims)
    kv.put_rows_to_store(opts, [{"k": 8, "v": 8.5, "s": "c"}])
    monkeypatch.setattr(kv, "_recover_overlay_locked", real_recover)
    assert os.path.getsize(kv._log_entry(log, head + 1)) == 0  # untouched
    assert kv._overlay_footer(kv.overlay_path(opts))[0] == head + 2

    kv.truncate_overlay(opts)
    assert kv.changelog_floor(opts) == head + 2
    calls["n"] = 0
    kv.put_rows_to_store(opts, [{"k": 9, "v": 9.5, "s": "r"}])
    assert calls["n"] == 0
    assert kv._log_seqs(log) == [head + 3]
    assert kv.get_store_rows(opts, [{"k": 9}, {"k": 8}]) == [
        {"k": 9, "v": 9.5, "s": "r"}, {"k": 8, "v": 8.0, "s": "s8"},
    ]


def test_caught_up_feed_poll_never_lists_the_wal(tmp_path, monkeypatch):
    """A change-feed drain that is caught up polls by one stat and one
    floor read, never a listing of the log; a consumer whose next
    commit was pruned still fails loudly, naming the earliest one
    left."""
    opts = _store(tmp_path, "single")
    for i in range(4):
        kv.put_rows_to_store(opts, [{"k": i, "v": -1.0, "s": "f"}])
    reader = kv.KVChangesStreamReader(opts)
    calls = _count_listings(monkeypatch)
    for _ in range(5):
        rows, off = reader.read({"seq": 4})
        assert off == {"seq": 4} and list(rows) == []
    assert calls["n"] == 0
    kv.prune_changelog(opts, 2)
    with pytest.raises(ValueError, match="pruned.*earliest still available is 3"):
        reader.read({"seq": 1})
    rows, off = reader.read({"seq": 2})
    assert off == {"seq": 3} and len(list(rows)) == 1

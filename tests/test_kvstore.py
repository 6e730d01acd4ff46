"""DSv2-style KV source: pushdown negotiation, region skipping, column
pruning. (End-to-end oracle parity for src02 is covered by
test_oracle_parity's auto-discovery; these pin the connector semantics
the reference's HBase adapter had — rowkey ranges, server-side filters,
residual handoff.)"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNull,
    LessThanOrEqual,
    StringContains,
)
from pyspark.sql.types import StructType

from kt_sql_hbase_ex_spark.sources.kvstore import (
    FORMAT_NAME,
    KVScanReader,
    customer_store,
    customer_store_options,
    truncate_overlay,
)

from .conftest import SF_SMALL


def _reader(store, drop=()):
    sub = StructType([f for f in store.schema.fields if f.name not in drop])
    return KVScanReader(store, sub)


def test_key_range_prunes_regions():
    store = customer_store(SF_SMALL, region_size=16)  # 150 rows -> ~10 regions
    rd = _reader(store)
    residual = list(
        rd.pushFilters(
            [GreaterThanOrEqual(("c_custkey",), 1), LessThanOrEqual(("c_custkey",), 32)]
        )
    )
    assert residual == []
    parts = rd.partitions()
    assert 0 < len(parts) < len(store.regions())
    keys = [t[0] for p in parts for t in p.tuples]
    assert keys == sorted(keys) and min(keys) >= 1 and max(keys) <= 32


def test_point_lookup_single_region():
    store = customer_store(SF_SMALL, region_size=16)
    rd = _reader(store)
    assert list(rd.pushFilters([EqualTo(("c_custkey",), 7)])) == []
    parts = rd.partitions()
    assert len(parts) == 1
    assert [t[0] for t in parts[0].tuples] == [7]


def test_open_bound_excludes_boundary_row():
    store = customer_store(SF_SMALL, region_size=16)
    rd = _reader(store)
    assert list(rd.pushFilters([GreaterThan(("c_custkey",), 10)])) == []
    keys = [t[0] for p in rd.partitions() for t in p.tuples]
    assert min(keys) == 11


def test_server_side_filter_and_residual_split():
    store = customer_store(SF_SMALL, region_size=64)
    rd = _reader(store)
    residual = list(
        rd.pushFilters(
            [
                EqualTo(("c_mktsegment",), "BUILDING"),
                In(("c_nationkey",), (1, 2, 3)),
                GreaterThan(("c_acctbal",), 0.0),  # non-key range: residual
                StringContains(("c_name",), "Customer"),  # unsupported: residual
                IsNull(("c_acctbal",)),  # unsupported: residual
            ]
        )
    )
    assert {type(f).__name__ for f in residual} == {
        "GreaterThan",
        "StringContains",
        "IsNull",
    }
    seg_i = [f.name for f in store.schema.fields].index("c_mktsegment")
    nat_i = [f.name for f in store.schema.fields].index("c_nationkey")
    rows = [t for p in rd.partitions() for t in p.tuples]
    assert rows and all(
        t[seg_i] == "BUILDING" and t[nat_i] in (1, 2, 3) for t in rows
    )


def test_read_schema_prunes_qualifiers():
    store = customer_store(SF_SMALL, region_size=64)
    rd = _reader(store, drop=("c_name", "c_acctbal"))
    rd.pushFilters([EqualTo(("c_custkey",), 3)])
    (part,) = rd.partitions()
    assert len(part.tuples[0]) == len(store.schema.fields) - 2


def test_scan_partitions_pack_above_cap():
    """Round-13 optimization: a scan over more regions than the packing
    cap groups CONTIGUOUS regions into at most ~cap partitions — same
    rows, same global key order, regions stay the pruning unit."""
    from kt_sql_hbase_ex_spark.session import default_parallelism

    cap = max(2 * default_parallelism(), 32)
    store = customer_store(SF_SMALL, region_size=1)  # 150 regions of 1 row
    assert len(store.regions()) > cap
    rd = _reader(store)
    parts = rd.partitions()
    assert len(parts) <= cap
    keys = [t[0] for p in parts for t in p.tuples]
    assert keys == sorted(keys) and len(keys) == len(store.rows)
    # pruning still shrinks the partition set before packing
    rd2 = _reader(store)
    rd2.pushFilters([LessThanOrEqual(("c_custkey",), 5)])
    got = [t[0] for p in rd2.partitions() for t in p.tuples]
    assert got == [k for k in keys if k <= 5]


def test_scan_partitions_pack_small_regions():
    """Row-aware pack (round-13): a store of many SMALL regions scans
    in ~ceil(rows / _PACK_MIN_ROWS) partitions, not one per region —
    the per-task fixed cost floor — while row set and global key order
    are unchanged and pruning still precedes the pack."""
    from kt_sql_hbase_ex_spark.sources.kvstore import _PACK_MIN_ROWS

    store = customer_store(SF_SMALL, region_size=16)
    assert len(store.regions()) > 8  # many small regions
    rd = _reader(store)
    parts = rd.partitions()
    want = max(1, -(-len(store.rows) // _PACK_MIN_ROWS))
    assert len(parts) <= min(want, len(store.regions()))
    keys = [t[0] for p in parts for t in p.tuples]
    assert keys == sorted(keys) and len(keys) == len(store.rows)


def test_scan_reader_pickles_without_store():
    """Round-13 optimization: executors call read(partition) only, so
    the pickled reader must NOT carry the store (every row of the
    table) — that payload rode into every task and dominated scan cost
    on many-region stores."""
    import pickle

    store = customer_store(SF_SMALL, region_size=16)
    rd = _reader(store)
    parts = rd.partitions()
    clone = pickle.loads(pickle.dumps(rd))
    assert clone._store is None
    assert len(pickle.dumps(rd)) < 4096
    # read() on the unpickled reader still serves every partition
    rows = [t for p in parts for t in clone.read(p)]
    assert len(rows) == len(store.rows)


def test_empty_range_yields_one_empty_partition():
    store = customer_store(SF_SMALL, region_size=16)
    rd = _reader(store)
    rd.pushFilters([GreaterThanOrEqual(("c_custkey",), 10**9)])
    parts = rd.partitions()
    assert len(parts) == 1 and parts[0].tuples == []


# ---------------------------------------------------------------------------
# Property: pushdown split correctness. For ANY conjunction of supported
# and unsupported filters, (rows surviving the store's pushed subset)
# ∧ (residual filters) must equal a naive full evaluation — i.e. the
# reader may move work, never change it. Pure Python, no session.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.datasource import GreaterThan as GT
from pyspark.sql.datasource import GreaterThanOrEqual as GTE
from pyspark.sql.datasource import LessThan as LT
from pyspark.sql.datasource import LessThanOrEqual as LTE
from pyspark.sql.types import IntegerType, LongType, StringType, StructField

from kt_sql_hbase_ex_spark.sources.kvstore import KVStore

_SEGS = ("A", "B", "C")


def _mk_store(rows):
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("seg", StringType()),
            StructField("v", IntegerType()),
        ]
    )
    dicts = [{"k": k, "seg": _SEGS[s % 3], "v": v} for k, s, v in rows]
    return KVStore("prop", schema, "k", dicts, region_size=4)


_KEY = st.integers(min_value=0, max_value=30)
_ROWS = st.lists(
    st.tuples(_KEY, st.integers(0, 2), st.integers(-5, 5)),
    min_size=0,
    max_size=25,
    unique_by=lambda r: r[0],
)


def _filter_strategy():
    key_cmp = st.builds(
        lambda cls, v: cls(("k",), v),
        st.sampled_from([EqualTo, GT, GTE, LT, LTE]),
        _KEY,
    )
    seg_eq = st.builds(lambda v: EqualTo(("seg",), v), st.sampled_from(_SEGS))
    seg_in = st.builds(lambda vs: In(("seg",), tuple(vs)),
                       st.lists(st.sampled_from(_SEGS), min_size=1, max_size=2))
    v_gt = st.builds(lambda v: GT(("v",), v), st.integers(-5, 5))  # residual
    return st.lists(st.one_of(key_cmp, seg_eq, seg_in, v_gt), max_size=5)


def _naive_eval(row, f):
    x = row[f.attribute[0]]
    if isinstance(f, EqualTo):
        return x == f.value
    if isinstance(f, In):
        return x in f.value
    if isinstance(f, GT):
        return x > f.value
    if isinstance(f, GTE):
        return x >= f.value
    if isinstance(f, LT):
        return x < f.value
    if isinstance(f, LTE):
        return x <= f.value
    raise AssertionError(f)


@given(rows=_ROWS, filters=_filter_strategy())
@settings(max_examples=200, deadline=None)
def test_pushdown_never_changes_semantics(rows, filters):
    store = _mk_store(rows)
    rd = KVScanReader(store, store.schema)
    residual = list(rd.pushFilters(list(filters)))
    cols = [f.name for f in store.schema.fields]
    got = sorted(
        dict(zip(cols, t))["k"]
        for p in rd.partitions()
        for t in p.tuples
        if all(_naive_eval(dict(zip(cols, t)), f) for f in residual)
    )
    want = sorted(
        r["k"] for r in store.rows if all(_naive_eval(r, f) for f in filters)
    )
    assert got == want


# ---------------------------------------------------------------------------
# Writer: two-phase commit into the overlay, merged by the reader.
# Driver-side only (no session): the writer's write/commit protocol is
# plain Python, and _open_store shows what a subsequent scan would see.
# ---------------------------------------------------------------------------

from pyspark.sql import Row

from kt_sql_hbase_ex_spark.sources.kvstore import (
    KVUpsertWriter,
    _open_store,
    customer_store_options,
    truncate_overlay,
)


def _opts():
    import os

    o = {k.lower(): v for k, v in customer_store_options(SF_SMALL).items()}
    # per-process overlay namespace: xdist workers must not race on a
    # shared overlay file (same isolation the src queries get via appId)
    o["appid"] = f"test-{os.getpid()}"
    return o


def _mk_row(k, seg="VIP", bal=999.99):
    return Row(
        c_custkey=k, c_name=f"X#{k}", c_nationkey=0, c_acctbal=bal, c_mktsegment=seg
    )


def test_write_commit_visible_and_upserts_accumulate():
    opts = _opts()
    truncate_overlay(opts)
    try:
        w = KVUpsertWriter(opts)
        m = w.write(iter([_mk_row(1), _mk_row(99001)]))
        w.commit([m])
        store = _open_store(opts)
        by_key = {r["c_custkey"]: r for r in store.rows}
        assert by_key[1]["c_mktsegment"] == "VIP"  # Put replaced
        assert by_key[99001]["c_name"] == "X#99001"  # Put inserted
        # a second statement accumulates (true upsert, not replace-all)
        w2 = KVUpsertWriter(opts)
        w2.commit([w2.write(iter([_mk_row(2, bal=1.0)]))])
        store2 = _open_store(opts)
        by_key2 = {r["c_custkey"]: r for r in store2.rows}
        assert by_key2[2]["c_acctbal"] == 1.0 and by_key2[99001] is not None
    finally:
        truncate_overlay(opts)


def test_uncommitted_write_never_visible():
    opts = _opts()
    truncate_overlay(opts)
    try:
        n_before = len(_open_store(opts).rows)
        w = KVUpsertWriter(opts)
        staged = w.write(iter([_mk_row(77001)]))  # staged, not committed
        w.abort([staged])
        assert len(_open_store(opts).rows) == n_before
    finally:
        truncate_overlay(opts)


def test_write_rejects_null_rowkey_and_missing_columns():
    import pytest as _pytest

    w = KVUpsertWriter(_opts())
    with _pytest.raises(ValueError, match="rowkey"):
        w.write(iter([_mk_row(None)]))
    with _pytest.raises(ValueError, match="missing store columns"):
        w.write(iter([Row(c_custkey=1, c_name="x")]))


def test_delete_tombstones_and_put_revives():
    from kt_sql_hbase_ex_spark.sources.kvstore import delete_from_store

    opts = _opts()
    truncate_overlay(opts)
    try:
        n_before = len(_open_store(opts).rows)
        delete_from_store(opts, [3, 5])
        store = _open_store(opts)
        assert len(store.rows) == n_before - 2
        assert 3 not in store.keys and 5 not in store.keys
        # a Put over a tombstone revives the key (HBase timeline order)
        w = KVUpsertWriter(opts)
        w.commit([w.write(iter([_mk_row(3)]))])
        store2 = _open_store(opts)
        assert 3 in store2.keys and 5 not in store2.keys
        assert len(store2.rows) == n_before - 1
    finally:
        truncate_overlay(opts)


def test_not_filter_goes_residual():
    """Spark wraps negations as Not(child) with no .attribute — the
    reader must hand them back as residual, never crash (regression:
    AttributeError on f.attribute)."""
    from pyspark.sql.datasource import Not

    store = customer_store(SF_SMALL, region_size=64)
    rd = _reader(store)
    residual = list(
        rd.pushFilters(
            [Not(EqualTo(("c_mktsegment",), "BUILDING")), EqualTo(("c_custkey",), 5)]
        )
    )
    assert len(residual) == 1 and isinstance(residual[0], Not)
    (part,) = rd.partitions()
    assert [t[0] for t in part.tuples] == [5]


def _idx_opts():
    o = _opts()
    o["columns"] = "c_custkey,c_mktsegment"
    o["indexon"] = "c_mktsegment"
    return o


def test_index_prefix_scan_prunes_regions():
    """src06's phase 1: the value-prefixed composite rowkey turns a
    segment predicate into a pushed index-rowkey range — only index
    regions inside the prefix produce partitions, and every hit's
    payload is a base rowkey from that segment."""
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        _open_store,
        index_prefix_bounds,
    )

    opts = _idx_opts()
    opts["regionsize"] = "16"
    store = _open_store(opts)
    base = _open_store(_opts())
    seg_of = {r["c_custkey"]: r["c_mktsegment"] for r in base.rows}

    rd = _reader(store)
    lo, hi = index_prefix_bounds("BUILDING")
    residual = list(
        rd.pushFilters(
            [GreaterThanOrEqual(("idx_key",), lo), LessThanOrEqual(("idx_key",), hi)]
        )
    )
    assert residual == []
    parts = rd.partitions()
    n_regions = len(store.regions())
    assert len(parts) < n_regions, (len(parts), n_regions)
    hits = [t for p in parts for t in p.tuples]
    keys = sorted(t[1] for t in hits)
    expected = sorted(k for k, s in seg_of.items() if s == "BUILDING")
    assert keys == expected


def test_index_reflects_committed_writes():
    """Index maintenance: the index derives from the overlay-merged
    base, so a committed Put that moves a key between indexed values —
    or a Delete — is visible through the index immediately (the
    consistency KVTransactionalIndexTable bought with transactions)."""
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        _open_store,
        delete_from_store,
        truncate_overlay,
    )

    base_opts = _opts()
    truncate_overlay(base_opts)
    try:
        idx = _open_store(_idx_opts())
        in_building = {r["c_custkey"] for r in idx.rows if r["idx_key"].startswith("BUILDING|")}
        victim = min(in_building)
        # move the victim out of BUILDING via a committed Put
        w = KVUpsertWriter(base_opts)
        row = _mk_row(victim)
        d = row.asDict()
        d["c_mktsegment"] = "MACHINERY"
        from pyspark.sql import Row

        w.commit([w.write(iter([Row(**d)]))])
        idx2 = _open_store(_idx_opts())
        now_building = {r["c_custkey"] for r in idx2.rows if r["idx_key"].startswith("BUILDING|")}
        now_machinery = {r["c_custkey"] for r in idx2.rows if r["idx_key"].startswith("MACHINERY|")}
        assert victim not in now_building and victim in now_machinery
        # and a Delete removes the index entry entirely
        delete_from_store(base_opts, [victim])
        idx3 = _open_store(_idx_opts())
        assert victim not in {r["c_custkey"] for r in idx3.rows}
    finally:
        truncate_overlay(base_opts)


# ---------------------------------------------------------------------------
# Composite (multi-column) primary key: the reference concatenates a
# multi-column PK into one rowkey (hbase/HBaseSchema.kt:127-136). These
# pin the (l_orderkey, l_linenumber)-shaped encode, leading-prefix range
# folding, and region skipping; the fixture-backed registered query is
# src07 over events (user_id, event_id) — see events_kv_store_options
# for why lineitem's declared composite PK cannot back a rowkey store.
# ---------------------------------------------------------------------------

from kt_sql_hbase_ex_spark.sources.kvstore import _pad_component, _rowkey_of


def _mk_composite_store(n_orders=40, lines_per=7, region_size=16):
    schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", IntegerType()),
        ]
    )
    rows = [
        {"l_orderkey": o, "l_linenumber": ln, "l_quantity": (o * 7 + ln) % 50}
        for o in range(n_orders)
        for ln in range(1, lines_per + 1)
    ]
    return KVStore(
        "li", schema, "l_orderkey,l_linenumber", rows, region_size=region_size
    )


def test_composite_rowkey_string_sort_equals_numeric_sort():
    keys = [(2, 10), (10, 2), (2, 2), (100, 1), (10, 10)]
    enc = [_rowkey_of({"a": a, "b": b}, ("a", "b")) for a, b in keys]
    assert [e for _, e in sorted(zip(keys, enc))] == sorted(enc)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-negative"):
        _pad_component(-1)
    with _pytest.raises(ValueError, match="non-negative"):
        _pad_component("x|y")


def test_composite_leading_range_prunes_regions():
    store = _mk_composite_store()  # 280 rows -> ~18 regions of 16
    rd = KVScanReader(store, store.schema)
    residual = list(
        rd.pushFilters(
            [GreaterThanOrEqual(("l_orderkey",), 5), LessThanOrEqual(("l_orderkey",), 9)]
        )
    )
    assert residual == []
    parts = rd.partitions()
    assert 0 < len(parts) < len(store.regions())
    rows = [t for p in parts for t in p.tuples]
    assert rows and all(5 <= t[0] <= 9 for t in rows)
    assert len(rows) == 5 * 7  # every line of every order in range


def test_composite_leading_eq_second_range_narrows_rowkey():
    store = _mk_composite_store()
    rd = KVScanReader(store, store.schema)
    residual = list(
        rd.pushFilters(
            [
                EqualTo(("l_orderkey",), 7),
                GreaterThanOrEqual(("l_linenumber",), 2),
                LessThanOrEqual(("l_linenumber",), 5),
            ]
        )
    )
    assert residual == []
    # leading equality fixes the prefix, the second component bounds the
    # rowkey range itself: [0...7|0...2, 0...7|0...5]
    assert rd._low == f"{_pad_component(7)}|{_pad_component(2)}"
    assert rd._high == f"{_pad_component(7)}|{_pad_component(5)}"
    parts = rd.partitions()
    assert len(parts) == 1  # one order's 4 lines: a single region
    assert sorted((t[0], t[1]) for t in parts[0].tuples) == [
        (7, ln) for ln in (2, 3, 4, 5)
    ]


def test_composite_later_component_bound_enforced_server_side():
    """When the leading component is RANGED, a second-component bound
    cannot narrow the rowkey range — it must still be enforced (it was
    reported as pushed), so it runs server-side."""
    store = _mk_composite_store()
    rd = KVScanReader(store, store.schema)
    residual = list(
        rd.pushFilters(
            [
                GreaterThanOrEqual(("l_orderkey",), 3),
                LessThanOrEqual(("l_orderkey",), 6),
                LessThanOrEqual(("l_linenumber",), 2),
            ]
        )
    )
    assert residual == []
    rows = [t for p in rd.partitions() for t in p.tuples]
    assert rows and all(3 <= t[0] <= 6 and t[1] <= 2 for t in rows)
    assert len(rows) == 4 * 2


def test_composite_strict_bounds():
    store = _mk_composite_store()
    rd = KVScanReader(store, store.schema)
    assert list(
        rd.pushFilters([GreaterThan(("l_orderkey",), 37), GreaterThan(("l_linenumber",), 6)])
    ) == []
    rows = [t for p in rd.partitions() for t in p.tuples]
    assert sorted((t[0], t[1]) for t in rows) == [(38, 7), (39, 7)]


def test_composite_unencodable_filter_value_goes_residual():
    store = _mk_composite_store()
    rd = KVScanReader(store, store.schema)
    residual = list(rd.pushFilters([GreaterThanOrEqual(("l_orderkey",), -5)]))
    assert len(residual) == 1  # negative can't encode: Spark keeps it
    # no pruning happened: the scan still covers every row (partition
    # COUNT may be smaller than the region count — the row-aware pack)
    n_rows = sum(len(p.tuples) for p in rd.partitions())
    assert n_rows == len(store.rows)  # full scan


_CKEY = st.integers(min_value=0, max_value=8)


def _mk_comp_prop_store(pairs):
    schema = StructType(
        [
            StructField("k1", LongType()),
            StructField("k2", IntegerType()),
            StructField("seg", StringType()),
        ]
    )
    dicts = [{"k1": a, "k2": b, "seg": _SEGS[(a + b) % 3]} for a, b in pairs]
    return KVStore("cprop", schema, "k1,k2", dicts, region_size=4)


_CPAIRS = st.lists(
    st.tuples(_CKEY, _CKEY), min_size=0, max_size=25, unique_by=lambda p: p
)


def _comp_filter_strategy():
    cmp1 = st.builds(
        lambda cls, v: cls(("k1",), v),
        st.sampled_from([EqualTo, GT, GTE, LT, LTE]),
        _CKEY,
    )
    cmp2 = st.builds(
        lambda cls, v: cls(("k2",), v),
        st.sampled_from([EqualTo, GT, GTE, LT, LTE]),
        _CKEY,
    )
    seg_eq = st.builds(lambda v: EqualTo(("seg",), v), st.sampled_from(_SEGS))
    return st.lists(st.one_of(cmp1, cmp2, seg_eq), max_size=6)


@given(pairs=_CPAIRS, filters=_comp_filter_strategy())
@settings(max_examples=200, deadline=None)
def test_composite_pushdown_never_changes_semantics(pairs, filters):
    """For ANY conjunction over both key components + a qualifier, the
    folded rowkey range + server-side filters + residuals must equal a
    naive full evaluation — the reader may move work, never change it."""
    store = _mk_comp_prop_store(pairs)
    rd = KVScanReader(store, store.schema)
    residual = list(rd.pushFilters(list(filters)))
    cols = [f.name for f in store.schema.fields]
    got = sorted(
        (dict(zip(cols, t))["k1"], dict(zip(cols, t))["k2"])
        for p in rd.partitions()
        for t in p.tuples
        if all(_naive_eval(dict(zip(cols, t)), f) for f in residual)
    )
    want = sorted(
        (r["k1"], r["k2"])
        for r in store.rows
        if all(_naive_eval(r, f) for f in filters)
    )
    assert got == want


def test_index_skips_null_indexed_values(tmp_path):
    """HBase-style secondary indexes skip null cells: a NULL indexed
    value must produce NO index entry (previously str(None) built a
    retrievable entry under the literal key 'None')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "base.parquet"
    pq.write_table(
        pa.table({"k": [1, 2, 3], "seg": ["A", None, "B"]}), str(p)
    )
    opts = {"path": str(p), "keycol": "k", "columns": "k,seg", "indexon": "seg"}
    idx = _open_store(opts)
    assert sorted(r["k"] for r in idx.rows) == [1, 3]
    assert not any(r["idx_key"].startswith("None|") for r in idx.rows)


def test_index_over_composite_pk_store(tmp_path):
    """Secondary index over a composite-PK base: the index rowkey suffix
    is the base's whole concatenated rowkey (the reference's model —
    every table has ONE rowkey, KVIndexTable appends it whole), the
    payload carries all PK columns, and prefix bounds sized to the PK
    width retrieve exactly the rows holding the indexed value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import index_prefix_bounds

    p = tmp_path / "base.parquet"
    rows = [(o, ln, ["A", "B"][(o + ln) % 2]) for o in range(6) for ln in range(1, 4)]
    pq.write_table(
        pa.table(
            {
                "k1": [r[0] for r in rows],
                "k2": [r[1] for r in rows],
                "seg": [r[2] for r in rows],
            }
        ),
        str(p),
    )
    opts = {
        "path": str(p),
        "keycol": "k1,k2",
        "columns": "k1,k2,seg",
        "indexon": "seg",
        "regionsize": "4",
    }
    idx = _open_store(opts)
    assert idx.key_col == "idx_key" and not idx.composite
    rd = KVScanReader(idx, idx.schema)
    lo, hi = index_prefix_bounds("A", n_key_cols=2)
    residual = list(
        rd.pushFilters([GTE(("idx_key",), lo), LTE(("idx_key",), hi)])
    )
    assert residual == []
    parts = rd.partitions()
    assert len(parts) < len(idx.regions())  # prefix range skips regions
    hits = sorted((t[1], t[2]) for p_ in parts for t in p_.tuples)
    expected = sorted((o, ln) for o, ln, s in rows if s == "A")
    assert hits == expected


def test_delete_rejects_wrong_arity_composite_key(tmp_path):
    """A delete key whose arity mismatches the PK width must raise, not
    silently tombstone the zipped-prefix row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import delete_from_store

    p = tmp_path / "base.parquet"
    pq.write_table(pa.table({"k1": [1, 2], "k2": [1, 2], "v": ["a", "b"]}), str(p))
    opts = {"path": str(p), "keycol": "k1,k2", "columns": "k1,k2,v"}
    with _pytest.raises(ValueError, match="arity"):
        delete_from_store(opts, [(1, 1, 99)])
    with _pytest.raises(ValueError, match="arity"):
        delete_from_store(opts, [7])  # scalar against a 2-wide PK


class TestPersistedIndexLifecycle:
    """CREATE/DROP INDEX (``hbase/HBaseSchema.kt:226-263,272-288``):
    backfill, attribute flips, reject-if-exists both ways, staleness
    detection after a committed write, compaction-style refresh."""

    def _opts(self, spark, sf_small):
        opts = customer_store_options(sf_small)
        opts["appId"] = spark.conf.get("spark.app.id", "shared") + "-idxlc"
        truncate_overlay({k.lower(): v for k, v in opts.items()})
        return opts

    def test_create_backfills_and_flips_attributes(self, spark, sf_small):
        from kt_sql_hbase_ex_spark.engine import KtSqlEngine
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            drop_kv_index,
            index_prefix_bounds,
        )

        eng = KtSqlEngine(spark, sf_small)
        opts = self._opts(spark, sf_small)
        try:
            idx_opts = eng.create_index("seg_t", "c_mktsegment", **opts)
            metas = eng.list_indexes(**opts)
            assert len(metas) == 1
            m = metas[0]
            # the table.sys attribute flips
            assert m["INDEX_TYPE"] == "KEY_VALUE"
            assert m["INDEX"] == "c_mktsegment"
            assert m["fresh"] is True
            # backfill correctness: index hit-count for one segment value
            # equals the base predicate count
            lo, hi = index_prefix_bounds("BUILDING")
            from pyspark.sql import functions as F

            hits = (
                spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .filter((F.col(INDEX_KEY) >= lo) & (F.col(INDEX_KEY) <= hi))
                .count()
            )
            base = (
                spark.read.format(FORMAT_NAME)
                .options(**opts)
                .schema("c_custkey bigint, c_mktsegment string")
                .load()
                .filter(F.col("c_mktsegment") == "BUILDING")
                .count()
            )
            assert hits == base > 0
        finally:
            drop_kv_index("seg_t", opts)

    def test_reject_if_exists_both_directions(self, spark, sf_small):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            IndexExistsError,
            create_kv_index,
            drop_kv_index,
        )

        opts = self._opts(spark, sf_small)
        create_kv_index(spark, "dup_t", opts, "c_mktsegment")
        try:
            with pytest.raises(IndexExistsError):
                create_kv_index(spark, "dup_t", opts, "c_mktsegment")
        finally:
            drop_kv_index("dup_t", opts)
        with pytest.raises(IndexExistsError):
            drop_kv_index("dup_t", opts)

    def test_staleness_after_write_and_refresh(self, spark, sf_small):
        from pyspark.sql import functions as F

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            create_kv_index,
            drop_kv_index,
            index_prefix_bounds,
            list_kv_indexes,
            refresh_kv_index,
        )

        opts = self._opts(spark, sf_small)
        create_kv_index(spark, "stale_t", opts, "c_mktsegment")
        try:
            # a committed Put changes the base signature -> index stale
            spark.createDataFrame(
                [(999999, 99, "ZZTESTSEG", 0.0)],
                "c_custkey bigint, c_nationkey int, c_mktsegment string, c_acctbal double",
            ).write.format(FORMAT_NAME).options(
                **{**opts, "columns": "c_custkey,c_nationkey,c_mktsegment,c_acctbal"}
            ).mode("append").save()
            assert list_kv_indexes(opts)[0]["fresh"] is False

            # compaction-style refresh re-derives from the merged base:
            # the new row's index entry becomes visible
            idx_opts = refresh_kv_index(spark, "stale_t", opts)
            assert list_kv_indexes(opts)[0]["fresh"] is True
            lo, hi = index_prefix_bounds("ZZTESTSEG")
            got = (
                spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .filter((F.col(INDEX_KEY) >= lo) & (F.col(INDEX_KEY) <= hi))
                .collect()
            )
            assert [r["c_custkey"] for r in got] == [999999]
        finally:
            drop_kv_index("stale_t", opts)
            truncate_overlay({k.lower(): v for k, v in opts.items()})

    def test_ensure_honors_changed_index_column(self, spark, sf_small):
        """ensure_kv_index with a DIFFERENT column for an existing stale
        index name must rebuild on the REQUESTED column, not refresh the
        old one (regression: refresh used meta['INDEX'])."""
        from pyspark.sql import functions as F

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            drop_kv_index,
            ensure_kv_index,
            index_prefix_bounds,
            list_kv_indexes,
        )

        opts = self._opts(spark, sf_small)
        ensure_kv_index(spark, "flex_t", opts, "c_mktsegment")
        try:
            idx_opts = ensure_kv_index(spark, "flex_t", opts, "c_nationkey")
            meta = list_kv_indexes(opts)[0]
            assert meta["INDEX"] == "c_nationkey"
            lo, hi = index_prefix_bounds(7)
            got = (
                spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .filter((F.col(INDEX_KEY) >= lo) & (F.col(INDEX_KEY) <= hi))
                .count()
            )
            exp = (
                spark.read.format(FORMAT_NAME)
                .options(**opts)
                .schema("c_custkey bigint, c_nationkey int")
                .load()
                .filter(F.col("c_nationkey") == 7)
                .count()
            )
            assert got == exp > 0
        finally:
            drop_kv_index("flex_t", opts)

    def test_committed_write_never_served_stale(self, spark, sf_small):
        """The round-6 freshness contract (reference:
        ``KVIndexTable.kt:91-119`` index-after-write consistency): a
        committed base write flips the persisted index's INDEX_TYPE to
        KEY_VALUE_STALE; a direct options resolve REFUSES, ensure
        transparently refreshes and serves the NEW row, and
        allow_stale=True is the explicit snapshot escape hatch."""
        import pytest
        from pyspark.sql import functions as F

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            StaleIndexError,
            create_kv_index,
            drop_kv_index,
            ensure_kv_index,
            index_prefix_bounds,
            list_kv_indexes,
            persisted_index_read_options,
        )

        opts = self._opts(spark, sf_small)
        create_kv_index(spark, "fresh_t", opts, "c_mktsegment")
        try:
            # commit a Put through the connector
            spark.createDataFrame(
                [(888888, 11, "ZZFRESHSEG", 1.0)],
                "c_custkey bigint, c_nationkey int, c_mktsegment string, c_acctbal double",
            ).write.format(FORMAT_NAME).options(
                **{**opts, "columns": "c_custkey,c_nationkey,c_mktsegment,c_acctbal"}
            ).mode("append").save()

            meta = list_kv_indexes(opts)[0]
            assert meta["INDEX_TYPE"] == "KEY_VALUE_STALE"
            assert meta["fresh"] is False
            with pytest.raises(StaleIndexError):
                persisted_index_read_options(opts, "fresh_t")
            # explicit snapshot read still possible
            assert persisted_index_read_options(opts, "fresh_t", allow_stale=True)

            # ensure refreshes and the lookup sees the committed row
            idx_opts = ensure_kv_index(spark, "fresh_t", opts, "c_mktsegment")
            assert list_kv_indexes(opts)[0]["INDEX_TYPE"] == "KEY_VALUE"
            lo, hi = index_prefix_bounds("ZZFRESHSEG")
            got = (
                spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .filter((F.col(INDEX_KEY) >= lo) & (F.col(INDEX_KEY) <= hi))
                .collect()
            )
            assert [r["c_custkey"] for r in got] == [888888]

            # a connector Delete flips it stale again
            from kt_sql_hbase_ex_spark.sources.kvstore import delete_from_store

            delete_from_store(
                {k.lower(): v for k, v in opts.items()}, [888888]
            )
            assert list_kv_indexes(opts)[0]["INDEX_TYPE"] == "KEY_VALUE_STALE"
        finally:
            drop_kv_index("fresh_t", opts)
            truncate_overlay({k.lower(): v for k, v in opts.items()})

    def test_incremental_refresh_applies_overlay_deltas(self, spark, sf_small):
        """Round-6 O(overlay) maintenance — the reference's dual-write
        (``KVIndexTable.kt:91-119``) as a batched delta: after committed
        Puts (value change + new key) and a Delete, ensure must take the
        INCREMENTAL path (same data_dir, meta says 'incremental') and
        the persisted index must equal the always-fresh derived index
        ENTRY FOR ENTRY; truncating the base overlay must restore the
        pristine snapshot; a snapshot that baked an overlay in must
        fall back to a full rebuild (new data_dir)."""
        import json

        from pyspark.sql import functions as F

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            _index_meta_path,
            create_kv_index,
            delete_from_store,
            drop_kv_index,
            ensure_kv_index,
        )

        opts = self._opts(spark, sf_small)
        lopts = {k.lower(): v for k, v in opts.items()}
        cols = "c_custkey,c_nationkey,c_mktsegment,c_acctbal"

        def meta():
            with open(_index_meta_path(opts, "inc_t")) as f:
                return json.load(f)

        def persisted_entries(idx_opts):
            return {
                (r[INDEX_KEY], r["c_custkey"])
                for r in spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .collect()
            }

        def derived_entries():
            d = dict(opts)
            d["columns"] = "c_custkey,c_mktsegment"
            d["indexOn"] = "c_mktsegment"
            return {
                (r[INDEX_KEY], r["c_custkey"])
                for r in spark.read.format(FORMAT_NAME)
                .options(**d)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .collect()
            }

        create_kv_index(spark, "inc_t", opts, "c_mktsegment")
        v1 = meta()["data_dir"]
        try:
            # committed deltas: segment change, brand-new key, delete
            spark.createDataFrame(
                [
                    (42, 1, "ZZINCSEG", 0.0),
                    (777777, 2, "ZZINCSEG", 1.0),
                ],
                "c_custkey bigint, c_nationkey int, c_mktsegment string, c_acctbal double",
            ).write.format(FORMAT_NAME).options(
                **{**opts, "columns": cols}
            ).mode("append").save()
            delete_from_store(lopts, [43])

            idx_opts = ensure_kv_index(spark, "inc_t", opts, "c_mktsegment")
            m = meta()
            # round 8: ensure prefers the feed-driven O(span) replay
            assert m["maintenance"] == "feed"
            assert m["data_dir"] == v1  # the O(base) version was NOT rebuilt
            assert persisted_entries(idx_opts) == derived_entries()

            # truncate → pristine snapshot again, still incremental
            truncate_overlay(lopts)
            idx_opts = ensure_kv_index(spark, "inc_t", opts, "c_mktsegment")
            assert meta()["data_dir"] == v1
            assert persisted_entries(idx_opts) == derived_entries()
        finally:
            drop_kv_index("inc_t", opts)
            truncate_overlay(lopts)

        # ineligible snapshot (created WITH an overlay baked in) → rebuild
        spark.createDataFrame(
            [(42, 1, "ZZREBUILD", 0.0)],
            "c_custkey bigint, c_nationkey int, c_mktsegment string, c_acctbal double",
        ).write.format(FORMAT_NAME).options(
            **{**opts, "columns": cols}
        ).mode("append").save()
        create_kv_index(spark, "inc_t", opts, "c_mktsegment")
        v1 = meta()["data_dir"]
        try:
            spark.createDataFrame(
                [(44, 1, "ZZREBUILD2", 0.0)],
                "c_custkey bigint, c_nationkey int, c_mktsegment string, c_acctbal double",
            ).write.format(FORMAT_NAME).options(
                **{**opts, "columns": cols}
            ).mode("append").save()
            idx_opts = ensure_kv_index(spark, "inc_t", opts, "c_mktsegment")
            m = meta()
            assert m["maintenance"] == "rebuild"
            assert m["data_dir"] != v1
            assert persisted_entries(idx_opts) == derived_entries()
        finally:
            drop_kv_index("inc_t", opts)
            truncate_overlay(lopts)

    def test_incremental_refresh_over_composite_pk_base(
        self, spark, sf_small, tmp_path
    ):
        """Incremental maintenance on a COMPOSITE-PK base: the delta
        derivation must tombstone/Put using the whole concatenated
        rowkey suffix (value|k1|k2), matching the derived index entry
        for entry after a value change, a new composite key, and a
        composite-key delete."""
        import json

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            _index_meta_path,
            create_kv_index,
            delete_from_store,
            drop_kv_index,
            ensure_kv_index,
        )

        p = tmp_path / "cbase.parquet"
        rows = [
            (o, ln, ["A", "B"][(o + ln) % 2], float(o))
            for o in range(6)
            for ln in range(1, 4)
        ]
        pq.write_table(
            pa.table(
                {
                    "k1": [r[0] for r in rows],
                    "k2": [r[1] for r in rows],
                    "seg": [r[2] for r in rows],
                    "val": [r[3] for r in rows],
                }
            ),
            str(p),
        )
        opts = {
            "path": str(p),
            "keyCol": "k1,k2",
            "columns": "k1,k2,seg,val",
            "regionSize": "4",
            "appId": spark.conf.get("spark.app.id", "shared") + "-cinc",
        }
        lopts = {k.lower(): v for k, v in opts.items()}
        truncate_overlay(lopts)

        def entries(o):
            return {
                (r[INDEX_KEY], r["k1"], r["k2"])
                for r in spark.read.format(FORMAT_NAME)
                .options(**o)
                .schema(f"{INDEX_KEY} string, k1 bigint, k2 bigint")
                .load()
                .collect()
            }

        def derived():
            d = dict(opts)
            d["columns"] = "k1,k2,seg"
            d["indexOn"] = "seg"
            return entries(d)

        create_kv_index(spark, "cseg", opts, "seg")
        with open(_index_meta_path(opts, "cseg")) as f:
            v1 = json.load(f)["data_dir"]
        try:
            # value change on (2,1), brand-new key (9,9), delete (3,2)
            spark.createDataFrame(
                [(2, 1, "Z", 0.0), (9, 9, "Z", 9.0)],
                "k1 bigint, k2 bigint, seg string, val double",
            ).write.format(FORMAT_NAME).options(**opts).mode("append").save()
            delete_from_store(lopts, [(3, 2)])

            idx_opts = ensure_kv_index(spark, "cseg", opts, "seg")
            with open(_index_meta_path(opts, "cseg")) as f:
                m = json.load(f)
            # round 8: ensure prefers the feed-driven O(span) replay
            assert m["maintenance"] == "feed" and m["data_dir"] == v1
            assert entries(idx_opts) == derived()
            # the changed key is findable under its NEW value prefix
            assert any(k.startswith("Z|") for k, _, _ in entries(idx_opts))
        finally:
            drop_kv_index("cseg", opts)
            truncate_overlay(lopts)

    def test_incremental_refresh_null_unchanged_and_ghost_deltas(
        self, spark, sf_small, tmp_path
    ):
        """Delta-derivation edges: a Put whose NEW indexed value is NULL
        drops the old entry and adds none (HBase skips null cells); a
        Put with an UNCHANGED indexed value keeps exactly one live
        entry (tombstone-then-revive); a Delete of a key absent from
        the base is a no-op. After all three the persisted index must
        still equal the derived index."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            create_kv_index,
            delete_from_store,
            drop_kv_index,
            ensure_kv_index,
        )

        p = tmp_path / "ebase.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": [1, 2, 3],
                    "seg": ["A", "B", "C"],
                    "val": [1.0, 2.0, 3.0],
                }
            ),
            str(p),
        )
        opts = {
            "path": str(p),
            "keyCol": "k",
            "columns": "k,seg,val",
            "regionSize": "2",
            "appId": spark.conf.get("spark.app.id", "shared") + "-einc",
        }
        lopts = {k.lower(): v for k, v in opts.items()}
        truncate_overlay(lopts)

        def entries(o):
            return {
                (r[INDEX_KEY], r["k"])
                for r in spark.read.format(FORMAT_NAME)
                .options(**o)
                .schema(f"{INDEX_KEY} string, k bigint")
                .load()
                .collect()
            }

        def derived():
            d = dict(opts)
            d["columns"] = "k,seg"
            d["indexOn"] = "seg"
            return entries(d)

        create_kv_index(spark, "eseg", opts, "seg")
        try:
            spark.createDataFrame(
                [(1, None, 1.0), (2, "B", 9.0)],  # null-out; unchanged value
                "k bigint, seg string, val double",
            ).write.format(FORMAT_NAME).options(**opts).mode("append").save()
            delete_from_store(lopts, [42])  # ghost delete

            got = entries(ensure_kv_index(spark, "eseg", opts, "seg"))
            assert got == derived()
            keys = {k for _, k in got}
            assert 1 not in keys  # nulled-out entry gone
            assert sum(1 for _, k in got if k == 2) == 1  # exactly one entry
        finally:
            drop_kv_index("eseg", opts)
            truncate_overlay(lopts)

    def test_oversized_overlay_routes_to_rebuild(self, spark, sf_small):
        """Round-7 size guard: the incremental path materializes the
        base overlay DRIVER-side, sound only for statement-sized
        deltas — above the row budget it must refuse (one parquet
        footer probe, no data read) and ensure must fall back to the
        distributed rebuild. Enforced, not assumed."""
        import json

        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            INDEX_KEY,
            IncrementalRefreshIneligible,
            _index_meta_path,
            create_kv_index,
            drop_kv_index,
            incremental_refresh_kv_index,
        )

        opts = self._opts(spark, sf_small)
        lopts = {k.lower(): v for k, v in opts.items()}
        create_kv_index(spark, "big_t", opts, "c_mktsegment")

        def meta():
            with open(_index_meta_path(opts, "big_t")) as f:
                return json.load(f)

        v1 = meta()["data_dir"]
        try:
            # a 3-row committed overlay, with the budget dialed to 2:
            # the 'bulk load' shape without bulk fixture cost
            spark.createDataFrame(
                [
                    (910001, 1, "ZZBULK", 0.0),
                    (910002, 2, "ZZBULK", 0.0),
                    (910003, 3, "ZZBULK", 0.0),
                ],
                "c_custkey bigint, c_nationkey int, c_mktsegment string, "
                "c_acctbal double",
            ).write.format(FORMAT_NAME).options(
                **{**opts, "columns": "c_custkey,c_nationkey,c_mktsegment,c_acctbal"}
            ).mode("append").save()

            with pytest.raises(IncrementalRefreshIneligible, match="rebuild"):
                incremental_refresh_kv_index(
                    spark, "big_t", opts, max_overlay_rows=2
                )
            # under the default budget the same overlay is a fine delta
            idx_opts = incremental_refresh_kv_index(spark, "big_t", opts)
            assert meta()["maintenance"] == "incremental"
            assert meta()["data_dir"] == v1
            got = {
                r["c_custkey"]
                for r in spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .filter(f"{INDEX_KEY} like 'ZZBULK|%'")
                .collect()
            }
            assert got == {910001, 910002, 910003}
        finally:
            drop_kv_index("big_t", opts)
            truncate_overlay(lopts)

    def test_refresh_unlinks_superseded_version_overlay(self, spark, sf_small):
        """Round-6 ADVICE: a full refresh repoints data_dir; the OLD
        version's incremental-maintenance overlay must be unlinked
        while its path can still be computed, or it leaks permanently
        once the dir is GC'd (drop already did this; refresh did not)."""
        import json
        import os

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _index_meta_path,
            create_kv_index,
            drop_kv_index,
            ensure_kv_index,
            overlay_path,
            refresh_kv_index,
        )

        opts = self._opts(spark, sf_small)
        lopts = {k.lower(): v for k, v in opts.items()}
        create_kv_index(spark, "leak_t", opts, "c_mktsegment")

        def meta():
            with open(_index_meta_path(opts, "leak_t")) as f:
                return json.load(f)

        v1 = meta()["data_dir"]
        try:
            # one committed Put + incremental refresh → the index now
            # carries its own overlay file next to version v1
            spark.createDataFrame(
                [(920001, 1, "ZZLEAK", 0.0)],
                "c_custkey bigint, c_nationkey int, c_mktsegment string, "
                "c_acctbal double",
            ).write.format(FORMAT_NAME).options(
                **{**opts, "columns": "c_custkey,c_nationkey,c_mktsegment,c_acctbal"}
            ).mode("append").save()
            ensure_kv_index(spark, "leak_t", opts, "c_mktsegment")
            iov = overlay_path(
                {"path": v1, **({"appid": lopts["appid"]} if "appid" in lopts else {})}
            )
            assert os.path.exists(iov)

            refresh_kv_index(spark, "leak_t", opts)
            assert meta()["data_dir"] != v1
            assert not os.path.exists(iov)  # no orphaned overlay parquet
        finally:
            drop_kv_index("leak_t", opts)
            truncate_overlay(lopts)

    def test_index_name_validation_rejects_dots(self, spark, sf_small):
        """Dotted / separator-bearing index names would alias version
        dirs across indexes (ADVICE round 5) — rejected at create."""
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import create_kv_index

        opts = self._opts(spark, sf_small)
        for bad in ("a.b", "a/b", "", "a b"):
            with pytest.raises(ValueError, match="illegal index name"):
                create_kv_index(spark, bad, opts, "c_mktsegment")

    def test_refresh_defers_old_version_gc(self, spark, sf_small):
        """The superseded version dir survives its own refresh (in-flight
        readers drain) and is GC'd by the NEXT refresh."""
        import glob
        import json
        import os

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _index_meta_path,
            _kv_index_root,
            create_kv_index,
            drop_kv_index,
            refresh_kv_index,
        )

        opts = self._opts(spark, sf_small)
        create_kv_index(spark, "gc_t", opts, "c_mktsegment")
        try:
            root = _kv_index_root(opts)
            with open(_index_meta_path(opts, "gc_t")) as f:
                v1 = json.load(f)["data_dir"]
            refresh_kv_index(spark, "gc_t", opts)
            assert os.path.exists(v1)  # deferred: old version still drains
            refresh_kv_index(spark, "gc_t", opts)
            assert not os.path.exists(v1)  # collected one cycle later
            # steady state: the live version + at most the one it
            # superseded (still draining until the next refresh)
            live = json.load(open(_index_meta_path(opts, "gc_t")))["data_dir"]
            vers = glob.glob(os.path.join(root, "idx.gc_t.*"))
            assert live in vers and len(vers) == 2
        finally:
            drop_kv_index("gc_t", opts)


def test_register_on_session_clone_after_parent(spark, tmp_path):
    """Registering the connector on a ``newSession()`` clone AFTER the
    parent registered must leave the CLONE's own registry populated.
    Spark's pre-register existence check resolves the name through the
    thread-active session (the parent), throws
    DATA_SOURCE_ALREADY_EXISTS, and — if that error were swallowed or
    unhandled — the clone's per-session registry would stay empty, so
    any plan on the clone (a streaming drain's foreachBatch write, the
    st10 shape) dies with ClassNotFoundException. register_kv_source
    must retry with the target session made active instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        register_kv_source,
    )

    register_kv_source(spark)  # parent owns the name first
    clone = spark.newSession()
    register_kv_source(clone)  # must not throw AND must really register

    jm = clone._jsparkSession.sessionState().dataSourceManager()
    assert jm.dataSourceExists(FORMAT_NAME)

    # the clone can actually PLAN with the connector (read an empty base)
    base = tmp_path / "clone_base.parquet"
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), "v": pa.array([10.0, 20.0])}),
        str(base),
    )
    opts = {"path": str(base), "keyCol": "k", "columns": "k,v", "regionSize": "64"}
    rows = {
        (r.k, r.v)
        for r in clone.read.format(FORMAT_NAME).options(**opts).load().collect()
    }
    assert rows == {(1, 10.0), (2, 20.0)}


class TestCompaction:
    """Overlay→base compaction (the HBase memstore-flush + major-compact
    analog, round-8): fold answers are read-identical, tombstones drop
    physically, cold regions carry by hardlink, the applied-seq
    watermark keeps WAL recovery and retention correct, dependent
    indexes stale-flip like a commit, and crash windows are idempotent."""

    def _store(self, tmp_path, ns, n=100, region_size=16):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import truncate_overlay

        base = os.path.join(str(tmp_path), "base.parquet")
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
        truncate_overlay(opts)
        return opts

    @staticmethod
    def _state(opts) -> dict:
        from kt_sql_hbase_ex_spark.sources.kvstore import _open_store

        return {r["k"]: r["v"] for r in _open_store(opts).rows}

    @staticmethod
    def _put(opts, rows) -> None:
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            KVUpsertWriter,
            KVWriteMessage,
        )

        KVUpsertWriter(opts).commit(
            [KVWriteMessage([{"k": k, "v": v} for k, v in rows])]
        )

    def test_fold_preserves_answers_and_drops_tombstones(self, tmp_path):
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
            delete_from_store,
            overlay_path,
        )

        opts = self._store(tmp_path, "fold1")
        self._put(opts, [(5, 555.0), (200, 2.0)])
        delete_from_store(opts, [10, 11, 12])
        before = self._state(opts)
        stats = compact_store(opts)
        assert stats["compacted"] and stats["tombstones_dropped"] == 3
        assert self._state(opts) == before  # fold ≡ read
        assert not os.path.exists(overlay_path(opts))  # overlay retired
        gen = _resolve_generation(opts)
        assert gen["gen"] == 1 and gen["applied_seq"] == stats["applied_seq"]
        # tombstoned keys are PHYSICALLY absent from the region files
        physical = set()
        for rg in gen["regions"]:
            physical |= {
                r["k"]
                for r in pq.read_table(
                    os.path.join(gen["dir"], rg["file"])
                ).to_pylist()
            }
        assert physical == set(before)
        assert {10, 11, 12}.isdisjoint(physical)
        # idempotence: a second fold with nothing to do is a no-op
        again = compact_store(opts)
        assert again["compacted"] is False
        assert _resolve_generation(opts)["dir"] == gen["dir"]

    def test_region_pruned_fold_hardlinks_cold_regions(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "fold2")
        self._put(opts, [(1, 10.0)])
        compact_store(opts)  # gen 1: 100 rows / 16 per region = 7 regions
        self._put(opts, [(50, 5050.0)])
        stats = compact_store(opts)
        # ONE region holds key 50; the other six carry without a copy
        assert stats["regions_rewritten"] == 1
        assert stats["regions_carried"] == 6
        gen = _resolve_generation(opts)
        nlinks = sorted(
            os.stat(os.path.join(gen["dir"], rg["file"])).st_nlink
            for rg in gen["regions"]
        )
        assert nlinks == [1, 2, 2, 2, 2, 2, 2]  # carried files share inodes
        state = self._state(opts)
        assert state[50] == 5050.0 and state[1] == 10.0 and len(state) == 100

    def test_insert_below_first_region_start_lands_in_region_zero(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import compact_store

        opts = self._store(tmp_path, "fold3")
        self._put(opts, [(2, 20.0)])
        compact_store(opts)
        self._put(opts, [(-1, -1.0)])  # below every region start
        stats = compact_store(opts)
        assert stats["regions_rewritten"] >= 1
        state = self._state(opts)
        assert state[-1] == -1.0 and len(state) == 101

    def test_crash_between_publish_and_overlay_unlink_is_idempotent(
        self, tmp_path
    ):
        import shutil

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            compact_store,
            overlay_path,
            recover_overlay,
        )

        opts = self._store(tmp_path, "fold4")
        self._put(opts, [(5, 555.0)])
        saved = os.path.join(str(tmp_path), "overlay.sav")
        shutil.copy(overlay_path(opts), saved)
        before = self._state(opts)
        compact_store(opts)
        # simulate the crash window: pointer published, overlay unlink
        # never happened — the folded overlay is still on disk
        shutil.copy(saved, overlay_path(opts))
        assert self._state(opts) == before  # re-apply is idempotent
        assert recover_overlay(opts) == 0  # watermark intact, no replay
        # the next fold retires it for good
        stats = compact_store(opts)
        assert stats["compacted"] is True
        assert not os.path.exists(overlay_path(opts))
        assert self._state(opts) == before

    def test_wal_recovery_after_fold_replays_only_new_commits(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _append_changelog,
            _mutation_table,
            compact_store,
            recover_overlay,
        )

        opts = self._store(tmp_path, "fold5")
        self._put(opts, [(5, 555.0)])
        compact_store(opts)
        assert recover_overlay(opts) == 0  # folded span never replays
        # a logged-but-unapplied commit (crash before overlay publish)
        _append_changelog(opts, _mutation_table(opts, [{"k": 7, "v": 777.0}]))
        assert recover_overlay(opts) == 1  # exactly the new commit
        state = self._state(opts)
        assert state[7] == 777.0 and state[5] == 555.0

    def test_fold_watermark_makes_retention_safe(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            KVChangesStreamReader,
            changelog_floor,
            compact_store,
            prune_changelog,
            recover_overlay,
        )

        opts = self._store(tmp_path, "fold6")
        self._put(opts, [(5, 555.0)])
        self._put(opts, [(6, 666.0)])
        stats = compact_store(opts)
        before = self._state(opts)
        assert prune_changelog(opts, stats["applied_seq"]) == 2
        assert recover_overlay(opts) == 0
        assert self._state(opts) == before  # nothing resurrected or lost
        # a NEW subscriber baselines at the floor, past the folded span
        assert KVChangesStreamReader(opts).initialOffset() == {
            "seq": changelog_floor(opts)
        }

    def test_fold_stale_flips_indexes_and_ensure_rebuilds(self, spark, sf_small):
        import pytest

        from pyspark.sql import functions as F

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            FORMAT_NAME,
            INDEX_KEY,
            StaleIndexError,
            compact_store,
            customer_store_options,
            drop_kv_index,
            ensure_kv_index,
            incremental_refresh_kv_index,
            IncrementalRefreshIneligible,
            index_prefix_bounds,
            persisted_index_read_options,
            truncate_overlay,
        )

        opts = customer_store_options(sf_small)
        opts["appId"] = spark.conf.get("spark.app.id", "shared") + "-foldidx"
        lopts = {k.lower(): v for k, v in opts.items()}
        truncate_overlay(lopts)
        try:
            ensure_kv_index(spark, "seg_fold", lopts, "c_mktsegment")
            # a committed write, then a fold: both flip staleness; the
            # fold also changes the generation, so the O(overlay)
            # incremental path must refuse (its reference point is gone)
            spark.createDataFrame(
                [(999901, "X", 0, 1.0, "BUILDING")],
                "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
            ).write.format(FORMAT_NAME).options(**opts).mode("append").save()
            assert compact_store(lopts)["compacted"]
            with pytest.raises(StaleIndexError):
                persisted_index_read_options(lopts, "seg_fold")
            with pytest.raises(IncrementalRefreshIneligible, match="generation"):
                incremental_refresh_kv_index(spark, "seg_fold", lopts)
            # ensure reroutes to rebuild and the index serves the
            # post-fold truth (the new row included)
            idx_opts = ensure_kv_index(spark, "seg_fold", lopts, "c_mktsegment")
            lo, hi = index_prefix_bounds("BUILDING")
            hits = (
                spark.read.format(FORMAT_NAME)
                .options(**idx_opts)
                .schema(f"{INDEX_KEY} string, c_custkey bigint")
                .load()
                .filter((F.col(INDEX_KEY) >= lo) & (F.col(INDEX_KEY) <= hi))
            )
            keys = {r.c_custkey for r in hits.collect()}
            assert 999901 in keys
            base_n = (
                spark.read.format(FORMAT_NAME)
                .options(**opts)
                .schema("c_custkey bigint, c_mktsegment string")
                .load()
                .filter(F.col("c_mktsegment") == "BUILDING")
                .count()
            )
            assert len(keys) == base_n
        finally:
            drop_kv_index("seg_fold", lopts)
            truncate_overlay(lopts)

    def test_fold_to_empty_store_and_refill(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            compact_store,
            delete_from_store,
        )

        opts = self._store(tmp_path, "fold7", n=10, region_size=4)
        delete_from_store(opts, list(range(10)))
        stats = compact_store(opts)
        assert stats["rows"] == 0 and stats["tombstones_dropped"] == 10
        assert self._state(opts) == {}
        # the emptied generation still accepts writes and a second fold
        self._put(opts, [(3, 33.0)])
        assert self._state(opts) == {3: 33.0}
        stats2 = compact_store(opts)
        assert stats2["rows"] == 1
        assert self._state(opts) == {3: 33.0}

    def test_truncate_after_fold_restores_pristine(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
            truncate_overlay,
        )

        opts = self._store(tmp_path, "fold8", n=20, region_size=8)
        self._put(opts, [(0, 999.0), (50, 1.0)])
        compact_store(opts)
        truncate_overlay(opts)
        assert _resolve_generation(opts) is None
        state = self._state(opts)
        assert len(state) == 20 and state[0] == 0.0 and 50 not in state

    def test_fold_over_composite_pk_store(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            KVUpsertWriter,
            KVWriteMessage,
            _open_store,
            compact_store,
            delete_from_store,
            truncate_overlay,
        )

        base = os.path.join(str(tmp_path), "events.parquet")
        pq.write_table(
            pa.table(
                {
                    "u": pa.array([i // 4 for i in range(40)], pa.int64()),
                    "e": pa.array([i % 4 for i in range(40)], pa.int64()),
                    "v": pa.array([float(i) for i in range(40)], pa.float64()),
                }
            ),
            base,
        )
        opts = {
            "path": base,
            "keycol": "u,e",
            "columns": "u,e,v",
            "regionsize": "8",
            "appid": "fold9",
        }
        truncate_overlay(opts)
        KVUpsertWriter(opts).commit(
            [KVWriteMessage([{"u": 2, "e": 1, "v": 900.0}])]
        )
        delete_from_store(opts, [(3, 0), (3, 1)])
        before = {(r["u"], r["e"]): r["v"] for r in _open_store(opts).rows}
        stats = compact_store(opts)
        assert stats["compacted"] and stats["tombstones_dropped"] == 2
        after = {(r["u"], r["e"]): r["v"] for r in _open_store(opts).rows}
        assert after == before
        assert after[(2, 1)] == 900.0 and (3, 0) not in after
        # second fold stays region-pruned on the composite encoding
        KVUpsertWriter(opts).commit(
            [KVWriteMessage([{"u": 0, "e": 0, "v": -1.0}])]
        )
        stats2 = compact_store(opts)
        assert stats2["regions_carried"] >= 1
        assert {(r["u"], r["e"]): r["v"] for r in _open_store(opts).rows}[
            (0, 0)
        ] == -1.0


class TestFeedDrivenRefresh:
    """Round-8 feed-driven index maintenance: the WAL already records
    each commit's per-key final mutations, so refresh replays exactly
    ``(index.applied_seq, store.applied_seq]`` — a mechanical resume
    point instead of the overlay-snapshot eligibility dance — and falls
    back to rebuild loudly when retention pruned the span."""

    def _store(self, tmp_path, ns):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import truncate_overlay

        base = os.path.join(str(tmp_path), "fbase.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(range(10), pa.int64()),
                    "seg": pa.array([f"S{i % 3}" for i in range(10)]),
                    "val": pa.array([float(i) for i in range(10)], pa.float64()),
                }
            ),
            base,
        )
        opts = {
            "path": base,
            "keyCol": "k",
            "columns": "k,seg,val",
            "appId": ns,
        }
        truncate_overlay({kk.lower(): vv for kk, vv in opts.items()})
        return opts

    @staticmethod
    def _put(spark, opts, rows):
        from kt_sql_hbase_ex_spark.sources.kvstore import FORMAT_NAME

        spark.createDataFrame(rows, "k bigint, seg string, val double").write.format(
            FORMAT_NAME
        ).options(**opts).mode("append").save()

    @staticmethod
    def _entries(spark, o):
        from kt_sql_hbase_ex_spark.sources.kvstore import FORMAT_NAME, INDEX_KEY

        return {
            (r[INDEX_KEY], r["k"])
            for r in spark.read.format(FORMAT_NAME)
            .options(**o)
            .schema(f"{INDEX_KEY} string, k bigint")
            .load()
            .collect()
        }

    def _derived(self, spark, opts):
        d = dict(opts)
        d["indexOn"] = "seg"
        d["columns"] = "k,seg"
        return self._entries(spark, d)

    def _meta(self, opts, name):
        import json

        from kt_sql_hbase_ex_spark.sources.kvstore import _index_meta_path

        with open(_index_meta_path(
            {k.lower(): v for k, v in opts.items()}, name
        )) as f:
            return json.load(f)

    def test_feed_refresh_resumes_from_watermark(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            create_kv_index,
            delete_from_store,
            drop_kv_index,
            feed_refresh_kv_index,
            register_kv_source,
        )

        register_kv_source(spark)
        opts = self._store(tmp_path, "feed1")
        lopts = {k.lower(): v for k, v in opts.items()}
        create_kv_index(spark, "fseg", lopts, "seg")
        m0 = self._meta(opts, "fseg")
        v1, seq0 = m0["data_dir"], m0["applied_seq"]
        try:
            # span 1: value change + new key + delete
            self._put(spark, opts, [(0, "ZX", 0.0), (55, "ZX", 5.0)])
            delete_from_store(lopts, [1])
            idx = feed_refresh_kv_index(spark, "fseg", lopts)
            m1 = self._meta(opts, "fseg")
            assert m1["maintenance"] == "feed" and m1["data_dir"] == v1
            assert m1["applied_seq"] == seq0 + 2  # two commits replayed
            assert self._entries(spark, idx) == self._derived(spark, opts)
            # span 2: the SAME key changes again — its old value must
            # come from the index overlay (span 1's put), not the base
            self._put(spark, opts, [(0, "ZY", 0.0)])
            idx = feed_refresh_kv_index(spark, "fseg", lopts)
            m2 = self._meta(opts, "fseg")
            assert m2["applied_seq"] == seq0 + 3 and m2["data_dir"] == v1
            got = self._entries(spark, idx)
            assert got == self._derived(spark, opts)
            assert any(k.startswith("ZY|") for k, _ in got)
            assert not any(k.startswith("ZX|") and b == 0 for k, b in got)
            # idempotence: an immediate re-refresh replays nothing and
            # changes nothing
            again = feed_refresh_kv_index(spark, "fseg", lopts)
            assert self._entries(spark, again) == got
            assert self._meta(opts, "fseg")["applied_seq"] == seq0 + 3
        finally:
            drop_kv_index("fseg", lopts)

    def test_pruned_span_fails_loudly_and_ensure_rebuilds(self, spark, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            IncrementalRefreshIneligible,
            _log_seqs,
            changelog_dir,
            create_kv_index,
            drop_kv_index,
            ensure_kv_index,
            feed_refresh_kv_index,
            prune_changelog,
            register_kv_source,
        )

        register_kv_source(spark)
        opts = self._store(tmp_path, "feed2")
        lopts = {k.lower(): v for k, v in opts.items()}
        create_kv_index(spark, "fseg2", lopts, "seg")
        v1 = self._meta(opts, "fseg2")["data_dir"]
        try:
            self._put(spark, opts, [(0, "ZP", 0.0)])
            # WAL retention prunes the span the index would replay
            prune_changelog(lopts, _log_seqs(changelog_dir(lopts))[-1])
            with pytest.raises(IncrementalRefreshIneligible, match="pruned"):
                feed_refresh_kv_index(spark, "fseg2", lopts)
            # ensure falls back: the overlay-snapshot path still serves
            # this shape (pristine snapshot + full overlay), so the
            # index stays DELTA-maintained and correct
            idx = ensure_kv_index(spark, "fseg2", lopts, "seg")
            assert self._entries(spark, idx) == self._derived(spark, opts)
            m = self._meta(opts, "fseg2")
            assert m["maintenance"] in ("incremental", "rebuild")
            # the resume point was re-recorded, so the NEXT span goes
            # back through the feed path
            self._put(spark, opts, [(2, "ZQ", 0.0)])
            idx = ensure_kv_index(spark, "fseg2", lopts, "seg")
            assert self._meta(opts, "fseg2")["maintenance"] == "feed"
            assert self._meta(opts, "fseg2")["data_dir"] == v1
            assert self._entries(spark, idx) == self._derived(spark, opts)
        finally:
            drop_kv_index("fseg2", lopts)

    def test_span_budget_routes_to_rebuild(self, spark, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            IncrementalRefreshIneligible,
            create_kv_index,
            drop_kv_index,
            feed_refresh_kv_index,
            register_kv_source,
        )

        register_kv_source(spark)
        opts = self._store(tmp_path, "feed3")
        lopts = {k.lower(): v for k, v in opts.items()}
        create_kv_index(spark, "fseg3", lopts, "seg")
        try:
            self._put(spark, opts, [(0, "ZA", 0.0), (1, "ZB", 1.0), (2, "ZC", 2.0)])
            with pytest.raises(IncrementalRefreshIneligible, match="budget"):
                feed_refresh_kv_index(spark, "fseg3", lopts, max_span_rows=2)
            # under the default budget the same span is a fine delta
            idx = feed_refresh_kv_index(spark, "fseg3", lopts)
            assert self._entries(spark, idx) == self._derived(spark, opts)
        finally:
            drop_kv_index("fseg3", lopts)

    def test_truncate_restores_pristine_snapshot(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            create_kv_index,
            drop_kv_index,
            feed_refresh_kv_index,
            register_kv_source,
            truncate_overlay,
        )

        register_kv_source(spark)
        opts = self._store(tmp_path, "feed4")
        lopts = {k.lower(): v for k, v in opts.items()}
        create_kv_index(spark, "fseg4", lopts, "seg")
        pristine = None
        try:
            self._put(spark, opts, [(0, "ZT", 0.0)])
            idx = feed_refresh_kv_index(spark, "fseg4", lopts)
            pristine = self._derived(spark, opts)  # post-write truth
            truncate_overlay(lopts)
            idx = feed_refresh_kv_index(spark, "fseg4", lopts)
            got = self._entries(spark, idx)
            assert got == self._derived(spark, opts)
            assert not any(k.startswith("ZT|") for k, _ in got)
        finally:
            drop_kv_index("fseg4", lopts)


def test_maybe_compact_store_trigger(tmp_path):
    """The size-triggered fold: under the row threshold nothing happens
    (no lock, no rewrite — the pointer stays absent); over it the fold
    runs and the overlay retires."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        _resolve_generation,
        maybe_compact_store,
        overlay_path,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "trig.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(20), pa.int64()),
                  "v": pa.array([float(i) for i in range(20)], pa.float64())}),
        base,
    )
    opts = {"path": base, "keycol": "k", "columns": "k,v", "appid": "trig"}
    truncate_overlay(opts)
    assert maybe_compact_store(opts) is None  # no overlay at all
    KVUpsertWriter(opts).commit(
        [KVWriteMessage([{"k": i, "v": -1.0} for i in range(3)])]
    )
    assert maybe_compact_store(opts, max_overlay_rows=10) is None
    assert _resolve_generation(opts) is None  # under threshold: untouched
    stats = maybe_compact_store(opts, max_overlay_rows=2)
    assert stats and stats["compacted"]
    assert not os.path.exists(overlay_path(opts))
    assert _resolve_generation(opts)["gen"] == 1
    truncate_overlay(opts)


def test_compacted_store_still_prunes_regions(tmp_path):
    """The pushdown invariant survives the fold: a compacted generation
    reopens as a normal sorted-rowkey store (regions rebuilt from the
    folded rows), so a pushed key range still skips regions and a point
    lookup still hits exactly one — the read path a 100 TB store serves
    AFTER its overlay retired must prune exactly like before."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        _open_store,
        _resolve_generation,
        compact_store,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "prune.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(160), pa.int64()),
                  "v": pa.array([float(i) for i in range(160)], pa.float64())}),
        base,
    )
    opts = {"path": base, "keycol": "k", "columns": "k,v",
            "regionsize": "16", "appid": "prune"}
    truncate_overlay(opts)
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 5, "v": -5.0}])])
    compact_store(opts)
    assert _resolve_generation(opts) is not None  # reading the fold

    store = _open_store(opts)
    assert len(store.regions()) == 10
    rd = _reader(store)
    assert list(rd.pushFilters(
        [GreaterThanOrEqual(("k",), 1), LessThanOrEqual(("k",), 32)]
    )) == []
    parts = rd.partitions()
    assert 0 < len(parts) < len(store.regions())
    keys = [t[0] for p in parts for t in p.tuples]
    assert keys == sorted(keys) and min(keys) >= 1 and max(keys) <= 32

    rd2 = _reader(store)
    assert list(rd2.pushFilters([EqualTo(("k",), 5)])) == []
    parts2 = rd2.partitions()
    assert len(parts2) == 1 and [t for t in parts2[0].tuples] == [(5, -5.0)]
    truncate_overlay(opts)


def test_overlay_lock_primitive_and_concurrent_fold(tmp_path):
    """The overlay writer lock itself: a held lock makes a second
    acquirer time out LOUDLY (OverlayWriterConflict), break_overlay_lock
    clears a crashed holder, and a commit racing a fold serializes —
    whichever order the lock grants, the final state contains both the
    folded history and the racing commit."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        OverlayWriterConflict,
        _open_store,
        _overlay_lock,
        break_overlay_lock,
        compact_store,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "lk.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(8), pa.int64()),
                  "v": pa.array([float(i) for i in range(8)], pa.float64())}),
        base,
    )
    opts = {"path": base, "keycol": "k", "columns": "k,v", "appid": "lk"}
    truncate_overlay(opts)

    with _overlay_lock(opts):
        with pytest.raises(OverlayWriterConflict, match="break_overlay_lock"):
            with _overlay_lock(opts, timeout_s=0.05):
                pass  # pragma: no cover
    # crashed holder: the lock file survives; the operator clears it
    fd_path = None
    with _overlay_lock(opts):
        import kt_sql_hbase_ex_spark.sources.kvstore as kv

        fd_path = kv.overlay_path(opts) + ".lock"
        # simulate the crash by re-creating the lock after release
    # a pid that can never be live (default pid_max is 4194304), so the
    # liveness guard sees a dead holder on any host
    open(fd_path, "w").write(str(2**22 + 1))
    with pytest.raises(OverlayWriterConflict):
        with _overlay_lock(opts, timeout_s=0.05):
            pass  # pragma: no cover
    break_overlay_lock(opts)
    with _overlay_lock(opts, timeout_s=0.05):
        pass  # acquirable again

    # fold racing a commit: serialized by the lock, both effects land
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 100, "v": 1.0}])])
    errs: list = []

    def fold():
        try:
            compact_store(opts)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    def commit():
        try:
            KVUpsertWriter(opts).commit(
                [KVWriteMessage([{"k": 200, "v": 2.0}])]
            )
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    ts = [threading.Thread(target=fold), threading.Thread(target=commit)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    state = {r["k"]: r["v"] for r in _open_store(opts).rows}
    assert state[100] == 1.0 and state[200] == 2.0 and len(state) == 10
    truncate_overlay(opts)


def test_regenerated_base_orphans_generation(tmp_path):
    """A REGENERATED base file must orphan the generation chain along
    with the overlay and the feed (round-8 review finding): after a
    fold, rewriting the base parquet gives readers the NEW base content
    — never the stale pre-regeneration generation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        _open_store,
        _resolve_generation,
        compact_store,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "regen.parquet")

    def write_base(keys):
        tmp = base + ".tmp"
        pq.write_table(
            pa.table({"k": pa.array(keys, pa.int64()),
                      "v": pa.array([float(k) for k in keys], pa.float64())}),
            tmp,
        )
        os.replace(tmp, base)

    write_base([1, 2])
    opts = {"path": base, "keycol": "k", "columns": "k,v", "appid": "regen"}
    truncate_overlay(opts)
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 3, "v": 30.0}])])
    compact_store(opts)
    assert _resolve_generation(opts) is not None
    # bulk reload: the base file is REGENERATED out-of-band
    write_base([100, 200, 300])
    assert _resolve_generation(opts) is None  # old chain orphaned
    state = {r["k"]: r["v"] for r in _open_store(opts).rows}
    assert state == {100: 100.0, 200: 200.0, 300: 300.0}


def test_break_overlay_lock_refuses_live_holder(tmp_path):
    """break_overlay_lock probes the recorded pid first (round-9):
    breaking while the holder process is ALIVE recreates exactly the
    lost-update race the lock closes, so it refuses loudly unless
    forced; a dead holder's lock clears without force."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        OverlayWriterConflict,
        break_overlay_lock,
        overlay_path,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "lk2.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), base)
    opts = {"path": base, "keycol": "k", "columns": "k", "appid": "lk2"}
    truncate_overlay(opts)
    lock = overlay_path(opts) + ".lock"

    # live holder (this very process): refuse without force
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(OverlayWriterConflict, match="still alive"):
        break_overlay_lock(opts)
    assert os.path.exists(lock)
    break_overlay_lock(opts, force=True)  # operator override
    assert not os.path.exists(lock)

    # dead holder: clears without force (pid max on Linux is < 2^22 by
    # default; 2**22 + 1 cannot be a live pid here)
    with open(lock, "w") as f:
        f.write(str(2**22 + 1))
    break_overlay_lock(opts)
    assert not os.path.exists(lock)
    # unparseable/garbage content never blocks the break
    with open(lock, "w") as f:
        f.write("not-a-pid")
    break_overlay_lock(opts)
    assert not os.path.exists(lock)


def test_truncate_defers_generation_gc_to_next_fold(tmp_path):
    """TRUNCATE unlinks the generation pointer but leaves the region
    dirs for the NEXT fold's deferred GC (round-9): an in-flight scan
    holding the just-live generation gets a full cycle to drain, the
    same retention rule compaction applies to superseded generations."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        _gen_root,
        _resolve_generation,
        compact_store,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "tg.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(4), pa.int64()),
                  "v": pa.array([float(i) for i in range(4)], pa.float64())}),
        base,
    )
    opts = {"path": base, "keycol": "k", "columns": "k,v", "appid": "tg"}
    truncate_overlay(opts)
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 9, "v": 9.0}])])
    compact_store(opts)
    gen_dir = _resolve_generation(opts)["dir"]

    truncate_overlay(opts)
    assert _resolve_generation(opts) is None  # pointer gone: pristine
    assert os.path.isdir(gen_dir)  # dir survives for in-flight readers

    # the next fold's opening GC sweeps the orphan
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 7, "v": 7.0}])])
    compact_store(opts)
    assert not os.path.isdir(gen_dir)
    live = _resolve_generation(opts)["dir"]
    assert set(glob.glob(os.path.join(_gen_root(opts), "gen.*"))) == {live}
    truncate_overlay(opts)


class TestDistributedFold:
    """Round-9: the fold's rewrite phase as a Spark job — one task per
    touched region for the incremental fold, a range-partitioned
    DataFrame job for the whole-base first fold — plus the lock-free
    build's conflict detection (the overlay writer lock is held only
    for snapshot + publish; a racing commit makes the publish verify
    fail and the fold retry from a fresh snapshot)."""

    def _store(self, tmp_path, ns, n=100, region_size=16, composite=False):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            drop_kv_index,
            list_kv_indexes,
            truncate_overlay,
        )

        base = os.path.join(str(tmp_path), f"base_{ns}.parquet")
        if composite:
            tbl = pa.table(
                {
                    "a": pa.array([i // 10 for i in range(n)], pa.int64()),
                    "b": pa.array([i % 10 for i in range(n)], pa.int64()),
                    "v": pa.array([float(i) for i in range(n)], pa.float64()),
                }
            )
            opts = {
                "path": base,
                "keycol": "a,b",
                "columns": "a,b,v",
                "regionsize": str(region_size),
                "appid": ns,
            }
        else:
            tbl = pa.table(
                {
                    "k": pa.array(range(n), pa.int64()),
                    "v": pa.array([float(i) for i in range(n)], pa.float64()),
                }
            )
            opts = {
                "path": base,
                "keycol": "k",
                "columns": "k,v",
                "regionsize": str(region_size),
                "appid": ns,
            }
        pq.write_table(tbl, base)
        truncate_overlay(opts)
        # the index catalog is keyed by base path, and pytest reuses tmp
        # paths across runs: drop what an earlier run left at this path
        for meta in list_kv_indexes(opts):
            drop_kv_index(meta["index_name"], opts)
        return opts

    @staticmethod
    def _state(opts) -> dict:
        from kt_sql_hbase_ex_spark.sources.kvstore import _open_store, _rowkey_of

        key_cols = tuple(opts["keycol"].split(","))
        return {
            _rowkey_of(r, key_cols): r["v"] for r in _open_store(opts).rows
        }

    @staticmethod
    def _put(opts, rows) -> None:
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            KVUpsertWriter,
            KVWriteMessage,
        )

        KVUpsertWriter(opts).commit([KVWriteMessage(rows)])

    def test_distributed_first_fold_matches_driver_fold(self, spark, tmp_path):
        """The whole-base rewrite as a DataFrame job produces the exact
        state the driver-side fold produces, with globally sorted,
        size-bounded regions the next (pruned) fold can bisect."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
            delete_from_store,
        )

        mut_puts = [{"k": 5, "v": 555.0}, {"k": 200, "v": 2.0}]
        mut_dels = [10, 11, 12]
        opts_d = self._store(tmp_path, "dff_driver")
        opts_s = self._store(tmp_path, "dff_spark")
        for opts in (opts_d, opts_s):
            self._put(opts, mut_puts)
            delete_from_store(opts, mut_dels)
        st_driver = compact_store(opts_d)
        st_spark = compact_store(opts_s, spark=spark, distribute_min_rows=0)
        assert st_driver["distributed"] is False
        assert st_spark["distributed"] is True
        assert st_spark["compacted"] and st_spark["tombstones_dropped"] == 3
        assert st_spark["rows"] == st_driver["rows"]
        assert self._state(opts_s) == self._state(opts_d)
        gen = _resolve_generation(opts_s)
        starts = [rg["start"] for rg in gen["regions"]]
        assert starts == sorted(starts)  # globally sorted regions
        assert all(rg["rows"] <= 16 for rg in gen["regions"])
        # the NEXT fold region-prunes against the distributed layout
        self._put(opts_s, [{"k": 50, "v": 5050.0}])
        st2 = compact_store(opts_s, spark=spark, distribute_min_rows=0)
        assert st2["regions_rewritten"] == 1
        assert st2["regions_carried"] == len(gen["regions"]) - 1
        assert self._state(opts_s)[50] == 5050.0

    def test_distributed_incremental_fold_one_task_per_region(
        self, spark, tmp_path
    ):
        """One task per touched region, mechanically pinned: rewritten
        chunk files carry their source region's task index; cold
        regions hardlink-carry with no Spark task at all."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "dif")
        self._put(opts, [{"k": 1, "v": 10.0}])
        compact_store(opts)  # gen 1: 100 rows / 16 = 7 regions
        # touch exactly two far-apart regions
        self._put(opts, [{"k": 3, "v": 33.0}, {"k": 90, "v": 909.0}])
        stats = compact_store(opts, spark=spark, distribute_min_rows=0)
        assert stats["distributed"] is True
        assert stats["regions_rewritten"] == 2
        assert stats["regions_carried"] == 5
        gen = _resolve_generation(opts)
        # executors wrote the regions: the driver primes no cache entry
        from kt_sql_hbase_ex_spark.sources.kvstore import _READ_CACHE

        assert _READ_CACHE.get(("starts", gen["dir"])) is None
        assert _READ_CACHE.get(("route", gen["dir"], 0)) is None
        task_ids = {
            rg["file"].split("-")[1]
            for rg in gen["regions"]
            if rg["file"].startswith("region-t")
        }
        assert len(task_ids) == 2  # exactly one task per rewritten region
        # carried files share inodes with the predecessor (no copy)
        carried = [
            rg["file"] for rg in gen["regions"] if rg["file"].startswith("region-c")
        ]
        assert len(carried) == 5
        assert all(
            os.stat(os.path.join(gen["dir"], f)).st_nlink == 2 for f in carried
        )
        state = self._state(opts)
        assert state[3] == 33.0 and state[90] == 909.0 and len(state) == 100

    def test_distributed_fold_composite_pk(self, spark, tmp_path):
        """Composite rowkeys distribute too: the padded-concat encoding
        runs as a codegen'd expression with the driver path's domain
        guard, and the fold's answers match the driver fold."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            compact_store,
            delete_from_store,
        )

        opts_d = self._store(tmp_path, "cmp_d", n=60, region_size=8, composite=True)
        opts_s = self._store(tmp_path, "cmp_s", n=60, region_size=8, composite=True)
        for opts in (opts_d, opts_s):
            self._put(opts, [{"a": 2, "b": 3, "v": 777.0}, {"a": 9, "b": 9, "v": 1.5}])
            delete_from_store(opts, [(0, 0), (5, 5)])
        st_d = compact_store(opts_d)
        st_s = compact_store(opts_s, spark=spark, distribute_min_rows=0)
        assert st_s["distributed"] and st_s["rows"] == st_d["rows"]
        assert self._state(opts_s) == self._state(opts_d)

    def test_lock_free_build_conflict_retries_and_lands_both(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit racing the lock-free rewrite: the publish-phase
        verify detects the changed overlay, the stale build dir is
        removed unseen, and the retry folds BOTH the original history
        and the racing commit — nothing lost, no stall, no garbage."""
        import glob

        import kt_sql_hbase_ex_spark.sources.kvstore as kv

        opts = self._store(tmp_path, "race")
        self._put(opts, [{"k": 7, "v": 70.0}])

        real_build = kv._build_generation
        raced = {"n": 0}

        def build_and_race(o, sp, snap, *a, **kw):
            built = real_build(o, sp, snap, *a, **kw)
            if raced["n"] == 0:  # inject exactly one racing commit
                raced["n"] += 1
                self._put(opts, [{"k": 500, "v": 5.0}])
            return built

        monkeypatch.setattr(kv, "_build_generation", build_and_race)
        stats = kv.compact_store(opts)
        assert stats["compacted"] is True
        monkeypatch.undo()

        state = self._state(opts)
        assert state[7] == 70.0 and state[500] == 5.0 and len(state) == 101
        # the conflicted attempt's build dir was removed: only the live
        # generation remains
        root = kv._gen_root(opts)
        live = kv._resolve_generation(opts)["dir"]
        assert set(glob.glob(os.path.join(root, "gen.*"))) == {live}
        # the racing commit survived the fold cycle in the WAL too
        assert kv._log_seqs(kv.changelog_dir(opts))[-1] >= 2

    def test_truncate_racing_lock_free_build_aborts_publish(
        self, tmp_path, monkeypatch
    ):
        """A TRUNCATE racing the rewrite must never be resurrected by
        the fold's publish: the verify phase sees the overlay gone and
        aborts; with the store re-truncated every attempt, the fold
        reports the no-op path, and the store stays pristine."""
        import kt_sql_hbase_ex_spark.sources.kvstore as kv

        opts = self._store(tmp_path, "trrace", n=20, region_size=8)
        self._put(opts, [{"k": 3, "v": 33.0}])

        real_build = kv._build_generation

        def build_then_truncate(o, sp, snap, *a, **kw):
            built = real_build(o, sp, snap, *a, **kw)
            kv.truncate_overlay(opts)
            return built

        monkeypatch.setattr(kv, "_build_generation", build_then_truncate)
        stats = kv.compact_store(opts)
        monkeypatch.undo()
        # every lock-free attempt conflicted; the locked fallback found
        # no overlay left to fold — the truncate WON, nothing resurrected
        assert stats["compacted"] is False
        assert self._state(opts)[3] == 3.0 and len(self._state(opts)) == 20

    def test_distributed_fold_to_empty_and_refill(self, spark, tmp_path):
        """Tombstoning every live row through the distributed path
        leaves a readable empty generation; a refill folds on top."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            compact_store,
            delete_from_store,
        )

        opts = self._store(tmp_path, "dempty", n=10, region_size=4)
        delete_from_store(opts, list(range(10)))
        stats = compact_store(opts, spark=spark, distribute_min_rows=0)
        assert stats["compacted"] and stats["rows"] == 0
        assert self._state(opts) == {}
        self._put(opts, [{"k": 2, "v": 22.0}])
        stats2 = compact_store(opts, spark=spark, distribute_min_rows=0)
        assert stats2["compacted"] and stats2["rows"] == 1
        assert self._state(opts) == {2: 22.0}


def test_fold_distribution_crossover(tmp_path, spark):
    """The size crossover: spark given but the fold estimate under
    DISTRIBUTE_MIN_ROWS stays driver-side (job overhead would dominate
    a small fold); zeroing the threshold forces the distributed path —
    same answers either way (TestDistributedFold proves equality)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        compact_store,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "xo.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(20), pa.int64()),
                  "v": pa.array([float(i) for i in range(20)], pa.float64())}),
        base,
    )
    opts = {"path": base, "keycol": "k", "columns": "k,v", "appid": "xo"}
    truncate_overlay(opts)
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 1, "v": 11.0}])])
    stats = compact_store(opts, spark=spark)  # default threshold
    assert stats["compacted"] and stats["distributed"] is False
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 2, "v": 22.0}])])
    stats2 = compact_store(opts, spark=spark, distribute_min_rows=0)
    assert stats2["compacted"] and stats2["distributed"] is True


def test_break_fold_lock_liveness_guard(tmp_path):
    """break_fold_lock mirrors break_overlay_lock's guard rail: refuse
    while the recorded holder pid is alive (unless forced), clear a
    dead holder's lock, and a cleared lock lets the next fold proceed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        OverlayWriterConflict,
        _gen_root,
        break_fold_lock,
        compact_store,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "flk.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()),
                             "v": pa.array([1.0, 2.0], pa.float64())}), base)
    opts = {"path": base, "keycol": "k", "columns": "k,v", "appid": "flk"}
    truncate_overlay(opts)
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 3, "v": 3.0}])])

    root = _gen_root(opts)
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, "fold.lock")

    # live holder: a racing fold times out loudly; break refuses
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(OverlayWriterConflict):
        compact_store({**opts}, lock_free_attempts=0, fold_timeout_s=0.05)
    with pytest.raises(OverlayWriterConflict, match="still alive"):
        break_fold_lock(opts)
    break_fold_lock(opts, force=True)

    # dead holder: clears without force, and the fold then lands
    with open(lock, "w") as f:
        f.write(str(2**22 + 1))
    break_fold_lock(opts)
    stats = compact_store(opts)
    assert stats["compacted"] and stats["applied_seq"] == 1
    truncate_overlay(opts)


class TestBulkLoad:
    """Round-10: BULK LOAD (the HBase LoadIncrementalHFiles analog) —
    a DataFrame of Puts lands straight in a new base generation,
    distributed end to end, bypassing the overlay AND the WAL behind a
    loud marker. Pins: bulk ≡ equivalent puts, bulk > overlay > base
    precedence (incl. tombstone revival), region-pruned hardlink
    carries, feed-consumer refusal + marker retirement, time-travel
    anchoring, validation, conflict retries, composite PKs."""

    _store = TestDistributedFold._store
    _state = staticmethod(TestDistributedFold._state)
    _put = staticmethod(TestDistributedFold._put)

    @staticmethod
    def _batch(spark, rows):
        return spark.createDataFrame(rows, "k long, v double")

    def test_bulk_equals_puts_both_paths(self, spark, tmp_path):
        """The bulk-loaded state is exactly the state the same rows
        produce as connector Puts + fold — on BOTH execution paths
        (driver crossover and distributed), over a store with pending
        overlay state."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_load_store,
            compact_store,
            delete_from_store,
        )

        rows = [{"k": 5, "v": 555.0}, {"k": 11, "v": 111.0},
                {"k": 200, "v": 2.0}, {"k": 201, "v": 2.5}]
        opts_ref = self._store(tmp_path, "blref")
        opts_drv = self._store(tmp_path, "bldrv")
        opts_dst = self._store(tmp_path, "bldst")
        for opts in (opts_ref, opts_drv, opts_dst):
            self._put(opts, [{"k": 3, "v": 33.0}])
            delete_from_store(opts, [10, 11, 12])  # 11 revived by bulk
        self._put(opts_ref, rows)
        compact_store(opts_ref)
        st_drv = bulk_load_store(
            opts_drv, self._batch(spark, rows), distribute_min_rows=10**9
        )
        st_dst = bulk_load_store(
            opts_dst, self._batch(spark, rows), distribute_min_rows=0
        )
        assert st_drv["published"] and st_drv["distributed"] is False
        assert st_dst["published"] and st_dst["distributed"] is True
        ref = self._state(opts_ref)
        assert self._state(opts_drv) == ref
        assert self._state(opts_dst) == ref
        assert ref[11] == 111.0 and 10 not in ref and 12 not in ref

    def test_region_pruned_bulk_merge_hardlinks_cold_regions(
        self, spark, tmp_path
    ):
        """Over an existing generation, a distributed bulk load
        rewrites ONLY the regions its keys (plus pending overlay keys)
        touch; every other region carries into the new generation by
        hardlink."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            bulk_load_store,
            compact_store,
        )

        opts = self._store(tmp_path, "blprune")  # 100 rows / 16 = 7 regions
        self._put(opts, [{"k": 1, "v": 10.0}])
        compact_store(opts)
        st = bulk_load_store(
            opts,
            self._batch(spark, [{"k": 50, "v": 5050.0}, {"k": 51, "v": 5151.0}]),
            distribute_min_rows=0,
        )
        assert st["published"] and st["distributed"]
        assert st["regions_rewritten"] == 1 and st["regions_carried"] == 6
        gen = _resolve_generation(opts)
        assert gen.get("bulk", {}).get("rows") == 2
        nlinks = sorted(
            os.stat(os.path.join(gen["dir"], rg["file"])).st_nlink
            for rg in gen["regions"]
        )
        assert nlinks == [1, 2, 2, 2, 2, 2, 2]
        state = self._state(opts)
        assert state[50] == 5050.0 and state[51] == 5151.0
        assert state[1] == 10.0 and len(state) == 100

    def test_bulk_marker_blocks_feed_consumers_until_pruned(
        self, spark, tmp_path
    ):
        """After a bulk load, every WAL consumer's span crossing the
        marker fails loudly toward re-baseline; pruning through the
        marker retires it and the feed serves again; allowBulkMarkers
        opts a forensic read out of the refusal."""
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            CHANGES_FORMAT_NAME,
            KVChangesStreamReader,
            bulk_load_store,
            bulk_marker_seqs,
            prune_changelog,
            register_kv_source,
        )

        register_kv_source(spark)
        opts = self._store(tmp_path, "blmark")
        self._put(opts, [{"k": 1, "v": 11.0}])  # seq 1: normal commit
        st = bulk_load_store(
            opts, self._batch(spark, [{"k": 2, "v": 22.0}]),
            distribute_min_rows=0,
        )
        assert st["seq"] == 2 and bulk_marker_seqs(opts) == [2]
        self._put(opts, [{"k": 3, "v": 33.0}])  # seq 3: feed resumes numbering

        # batch audit read: loud refusal naming the marker
        reader = (
            spark.read.format(CHANGES_FORMAT_NAME).options(**opts).load()
        )
        with pytest.raises(Exception, match="bulk-load marker"):
            reader.collect()
        # forensic opt-out serves the span (marker contributes 0 rows)
        rows = (
            spark.read.format(CHANGES_FORMAT_NAME)
            .options(**opts)
            .option("allowBulkMarkers", "true")
            .load()
            .collect()
        )
        assert sorted(r["__seq"] for r in rows) == [1, 3]

        # streaming subscriber: read() refuses at the marker, and a
        # recovery replay across it refuses too
        sr = KVChangesStreamReader(opts)
        it, off = sr.read({"seq": 0})
        assert off == {"seq": 1} and len(list(it)) == 1
        with pytest.raises(ValueError, match="bulk-load marker"):
            sr.read({"seq": 1})
        with pytest.raises(ValueError, match="bulk-load marker"):
            sr.readBetweenOffsets({"seq": 0}, {"seq": 3})

        # re-baseline: prune through the marker, feed serves again
        prune_changelog(opts, st["seq"])
        assert bulk_marker_seqs(opts) == []
        it, off = sr.read({"seq": 2})
        assert off == {"seq": 3} and len(list(it)) == 1
        assert self._state(opts) == {1: 11.0, 2: 22.0, 3: 33.0, **{
            k: float(k) for k in range(100) if k not in (1, 2, 3)
        }}

    def test_asof_anchors_at_bulk_and_preserves_prior_history(
        self, spark, tmp_path
    ):
        """Time travel across a bulk load: reads at-or-above the
        marker anchor at the bulk generation; reads below it replay
        the pristine prefix (no marker in the span); post-bulk commits
        replay on top of the bulk anchor."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_load_store,
            delete_from_store,
            read_store_asof,
        )

        opts = self._store(tmp_path, "blasof", n=20, region_size=8)
        self._put(opts, [{"k": 1, "v": 11.0}])          # seq 1
        self._put(opts, [{"k": 2, "v": 22.0}])          # seq 2
        bulk_load_store(
            opts, self._batch(spark, [{"k": 1, "v": 99.0}, {"k": 30, "v": 3.0}]),
            distribute_min_rows=0,
        )                                                # seq 3 (marker)
        delete_from_store(opts, [2])                     # seq 4

        def snap(seq):
            return {
                r["k"]: r["v"]
                for r in read_store_asof(spark, opts, seq).collect()
            }

        s2 = snap(2)   # pristine + commits 1..2 (below the marker)
        assert s2[1] == 11.0 and s2[2] == 22.0 and 30 not in s2
        s3 = snap(3)   # the bulk generation itself: zero replay
        assert s3[1] == 99.0 and s3[2] == 22.0 and s3[30] == 3.0
        s4 = snap(4)   # bulk anchor + the post-bulk delete
        assert s4[1] == 99.0 and 2 not in s4 and s4[30] == 3.0

    def test_bulk_validation_rejects_bad_batches(self, spark, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import bulk_load_store

        opts = self._store(tmp_path, "blval", n=20, region_size=8)
        with pytest.raises(ValueError, match="duplicate keys"):
            bulk_load_store(
                opts,
                self._batch(spark, [{"k": 1, "v": 1.0}, {"k": 1, "v": 2.0}]),
            )
        with pytest.raises(ValueError, match="NULL"):
            bulk_load_store(
                opts, self._batch(spark, [{"k": None, "v": 1.0}])
            )
        with pytest.raises(ValueError, match="columns"):
            bulk_load_store(opts, spark.createDataFrame([(1,)], "k long"))
        out = bulk_load_store(opts, self._batch(spark, []))
        assert out["published"] is False and out["loaded"] == 0
        assert self._state(opts) == {k: float(k) for k in range(20)}

    def test_commit_racing_bulk_build_retries_and_lands_both(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit racing the lock-free bulk rewrite: the publish
        verify detects the changed overlay, the stale build dir is
        removed, and the retry folds BOTH the racing commit and the
        batch — with bulk precedence still on top."""
        import glob

        import kt_sql_hbase_ex_spark.sources.kvstore as kv

        opts = self._store(tmp_path, "blrace", n=40, region_size=8)
        real_build = kv._build_bulk_generation
        raced = {"n": 0}

        def build_and_race(o, sp, snap, df, *a, **kw):
            built = real_build(o, sp, snap, df, *a, **kw)
            if raced["n"] == 0:
                raced["n"] += 1
                self._put(opts, [{"k": 7, "v": 70.0}, {"k": 9, "v": 90.0}])
            return built

        monkeypatch.setattr(kv, "_build_bulk_generation", build_and_race)
        st = kv.bulk_load_store(
            opts, self._batch(spark, [{"k": 9, "v": 99.0}]),
            distribute_min_rows=0,
        )
        monkeypatch.undo()
        assert st["published"]
        state = self._state(opts)
        # racing commit survived; bulk wins the contended key
        assert state[7] == 70.0 and state[9] == 99.0 and len(state) == 40
        root = kv._gen_root(opts)
        live = kv._resolve_generation(opts)["dir"]
        assert set(glob.glob(os.path.join(root, "gen.*"))) == {live}

    def test_composite_pk_bulk_distributed(self, spark, tmp_path):
        """Composite rowkeys route through the vectorized region
        assignment identically to the driver-side bisect: the
        distributed bulk state equals the puts+fold replay."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_load_store,
            compact_store,
        )

        rows = [{"a": 1, "b": 5, "v": 15.5}, {"a": 20, "b": 0, "v": 200.0}]
        opts_ref = self._store(tmp_path, "blcref", composite=True)
        opts_blk = self._store(tmp_path, "blcblk", composite=True)
        self._put(opts_ref, rows)
        compact_store(opts_ref)
        # pre-fold so the bulk exercises the region-pruned merge
        self._put(opts_blk, [{"a": 0, "b": 0, "v": 0.5}])
        compact_store(opts_blk)
        self._put(opts_ref, [{"a": 0, "b": 0, "v": 0.5}])
        compact_store(opts_ref)
        st = bulk_load_store(
            opts_blk,
            spark.createDataFrame(rows, "a long, b long, v double"),
            distribute_min_rows=0,
        )
        assert st["published"] and st["distributed"]
        assert self._state(opts_blk) == self._state(opts_ref)

    def test_index_stale_flips_on_bulk(self, spark, tmp_path):
        """A bulk load changes the base identity exactly like a fold:
        dependent persisted indexes flip stale and the ensure path
        rebuilds to a state that sees the loaded rows."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_load_store,
            create_kv_index,
            ensure_kv_index,
            list_kv_indexes,
        )

        opts = self._store(tmp_path, "blidx", n=30, region_size=8)
        create_kv_index(spark, "blidx_v", opts, "v")
        assert list_kv_indexes(opts)[0]["fresh"] is True
        bulk_load_store(
            opts, self._batch(spark, [{"k": 100, "v": 777.0}]),
            distribute_min_rows=0,
        )
        assert list_kv_indexes(opts)[0]["fresh"] is False
        ensure_kv_index(spark, "blidx_v", opts, "v")
        assert list_kv_indexes(opts)[0]["fresh"] is True


class TestTTL:
    """Round-10: TTL expiry (the HBase column-family TTL analog) —
    expired rows are invisible to reads (the source of truth), folds
    and bulk merges physically reclaim them from every region they
    rewrite, untouched regions keep their bytes until touched, NULL
    TTL values never expire, and indexes derive from the live view."""

    NOW = 1_000_000.0  # fixed epoch: expiry is a pure function of data

    def _store(self, tmp_path, ns, ttl_s=100.0, n=40, region_size=8):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import truncate_overlay

        base = os.path.join(str(tmp_path), f"ttl_{ns}.parquet")
        # rows 0..19 fresh (ts = NOW), rows 20..39 expired (NOW - 2*ttl)
        ts = [
            self.NOW if i < n // 2 else self.NOW - 2 * ttl_s
            for i in range(n)
        ]
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(range(n), pa.int64()),
                    "ts": pa.array(ts, pa.float64()),
                    "v": pa.array([float(i) for i in range(n)], pa.float64()),
                }
            ),
            base,
        )
        opts = {
            "path": base,
            "keycol": "k",
            "columns": "k,ts,v",
            "regionsize": str(region_size),
            "appid": ns,
            "ttlcolumn": "ts",
            "ttlseconds": str(ttl_s),
            "ttlnow": str(self.NOW),
        }
        truncate_overlay(opts)
        return opts

    @staticmethod
    def _put(opts, rows) -> None:
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            KVUpsertWriter,
            KVWriteMessage,
        )

        KVUpsertWriter(opts).commit([KVWriteMessage(rows)])

    @staticmethod
    def _keys(opts) -> set:
        from kt_sql_hbase_ex_spark.sources.kvstore import _open_store

        return {r["k"] for r in _open_store(opts).rows}

    def test_read_filter_and_revive_and_null_keeps(self, tmp_path):
        opts = self._store(tmp_path, "ttlread")
        assert self._keys(opts) == set(range(20))  # expired half invisible
        # a fresh Put revives an expired key; an expired Put hides a
        # fresh key; a NULL TTL value never expires
        self._put(opts, [
            {"k": 25, "ts": self.NOW, "v": 2525.0},           # revive
            {"k": 3, "ts": self.NOW - 1000.0, "v": 33.0},     # expire
            {"k": 100, "ts": None, "v": 100.5},               # immortal
        ])
        keys = self._keys(opts)
        assert 25 in keys and 3 not in keys and 100 in keys
        assert keys == (set(range(20)) - {3}) | {25, 100}

    def test_fold_reclaims_expired_from_rewritten_regions(self, tmp_path):
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "ttlfold")
        before = self._keys(opts)
        # the overlay touches EVERY region (keys 0 and 39 span the key
        # range -> whole-base first fold rewrites everything anyway)
        self._put(opts, [{"k": 0, "ts": self.NOW, "v": 0.5},
                         {"k": 39, "ts": self.NOW, "v": 39.5}])
        stats = compact_store(opts)
        assert stats["compacted"]
        gen = _resolve_generation(opts)
        physical = set()
        for rg in gen["regions"]:
            physical |= {
                r["k"]
                for r in pq.read_table(
                    os.path.join(gen["dir"], rg["file"])
                ).to_pylist()
            }
        # expired base rows (20..38) are PHYSICALLY gone; the revived
        # key 39 survives; the read equals pre-fold state + revives
        assert physical == set(range(20)) | {39}
        assert self._keys(opts) == before | {39}

    def test_fold_reclaim_distributed_matches_driver(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import compact_store

        opts_d = self._store(tmp_path, "ttldd")
        opts_s = self._store(tmp_path, "ttlds")
        for opts in (opts_d, opts_s):
            self._put(opts, [{"k": 5, "ts": self.NOW, "v": 55.0}])
        st_d = compact_store(opts_d)
        st_s = compact_store(opts_s, spark=spark, distribute_min_rows=0)
        assert st_d["distributed"] is False and st_s["distributed"] is True
        assert self._keys(opts_d) == self._keys(opts_s) == set(range(20)) | {5}

    def test_bulk_merge_reclaims_and_filters_expired_bulk_rows(
        self, spark, tmp_path
    ):
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            bulk_load_store,
            compact_store,
        )

        opts = self._store(tmp_path, "ttlbulk")
        self._put(opts, [{"k": 1, "ts": self.NOW, "v": 11.0}])
        compact_store(opts)  # generation with expired rows reclaimed? no:
        # first fold rewrites all -> 20..39 already gone; re-add one
        # expired row via a put so the BULK merge has something to drop
        self._put(opts, [{"k": 30, "ts": self.NOW - 500.0, "v": 30.0}])
        st = bulk_load_store(
            opts,
            spark.createDataFrame(
                [
                    {"k": 2, "ts": self.NOW, "v": 22.0},          # live
                    {"k": 31, "ts": self.NOW - 500.0, "v": 1.0},  # expired
                ],
                "k long, ts double, v double",
            ),
            distribute_min_rows=0,
        )
        assert st["published"] and st["distributed"]
        keys = self._keys(opts)
        assert 2 in keys and 30 not in keys and 31 not in keys
        gen = _resolve_generation(opts)
        physical = set()
        for rg in gen["regions"]:
            physical |= {
                r["k"]
                for r in pq.read_table(
                    os.path.join(gen["dir"], rg["file"])
                ).to_pylist()
            }
        assert 30 not in physical and 31 not in physical

    def test_index_derives_from_live_view(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import _open_store

        opts = self._store(tmp_path, "ttlidx")
        idx = _open_store({**opts, "indexon": "v"})
        # index rows exist only for live base rows (expired half absent)
        assert len(idx.rows) == 20


def test_store_root_relocates_all_mutable_state(spark, tmp_path):
    """Round-10: the ``storeRoot`` option points EVERY piece of the
    store's mutable state — overlay (+ WAL + locks), generation chain,
    index catalog — at one directory (shared storage at cluster scale,
    lifting the local-tempdir single-host bound); the default tempdir
    namespace holds nothing for such a store."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        _gen_root,
        _kv_index_root,
        _open_store,
        bulk_load_store,
        changelog_dir,
        compact_store,
        create_kv_index,
        list_kv_indexes,
        overlay_path,
        truncate_overlay,
    )

    base = os.path.join(str(tmp_path), "sr.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(30), pa.int64()),
                  "v": pa.array([float(i) for i in range(30)], pa.float64())}),
        base,
    )
    root = os.path.join(str(tmp_path), "shared_state")
    opts = {"path": base, "keycol": "k", "columns": "k,v",
            "regionsize": "8", "appid": "sr", "storeroot": root}
    truncate_overlay(opts)

    # every derived location sits under the custom root
    assert overlay_path(opts).startswith(os.path.join(root, "overlay"))
    assert changelog_dir(opts).startswith(os.path.join(root, "overlay"))
    assert _gen_root(opts).startswith(os.path.join(root, "gen"))
    assert _kv_index_root(opts).startswith(os.path.join(root, "index"))

    # the full lifecycle works in place: commit -> fold -> bulk -> index
    KVUpsertWriter(opts).commit([KVWriteMessage([{"k": 5, "v": 55.0}])])
    assert os.path.exists(overlay_path(opts))
    stats = compact_store(opts)
    assert stats["compacted"]
    st = bulk_load_store(
        opts,
        spark.createDataFrame([{"k": 100, "v": 1.0}], "k long, v double"),
        distribute_min_rows=0,
    )
    assert st["published"]
    create_kv_index(spark, "sr_v", opts, "v")
    assert list_kv_indexes(opts)[0]["INDEX"] == "v"
    state = {r["k"]: r["v"] for r in _open_store(opts).rows}
    assert state[5] == 55.0 and state[100] == 1.0 and len(state) == 31

    # nothing for this store leaked into the default tempdir namespace
    import tempfile

    uid = getattr(os, "getuid", lambda: 0)()
    for kind in ("overlay", "gen", "index"):
        d = os.path.join(tempfile.gettempdir(), f"kt_sql_kv_{kind}_u{uid}")
        hits = [p for p in glob.glob(os.path.join(d, "*"))
                if "sr.parquet" in p]
        assert not hits


class TestMajorCompaction:
    """Round-10: major compaction (HBase ``major_compact`` beside the
    default pruned/minor fold) — every region rewrites, no hardlink
    carries, the pass runs with an EMPTY overlay, and it physically
    reclaims TTL-expired rows from cold regions the minor fold's
    pruning never touches. Answers never change."""

    _store = TestCompaction._store
    _state = staticmethod(TestCompaction._state)
    _put = staticmethod(TestCompaction._put)

    def test_major_rewrites_every_region_no_carries(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "mj1")
        self._put(opts, [(1, 10.0)])
        compact_store(opts)  # gen1: 7 regions
        before = self._state(opts)
        self._put(opts, [(50, 5050.0)])
        stats = compact_store(opts, major=True)
        assert stats["compacted"]
        assert stats["regions_carried"] == 0
        assert stats["regions_rewritten"] == 7
        gen = _resolve_generation(opts)
        assert all(
            os.stat(os.path.join(gen["dir"], rg["file"])).st_nlink == 1
            for rg in gen["regions"]
        )
        assert self._state(opts) == {**before, 50: 5050.0}

    def test_major_with_empty_overlay_reclaims_cold_ttl_rows(
        self, spark, tmp_path
    ):
        """The reclaim-only pass: rows live at fold time expire later
        (ttlNow moves forward); a minor fold touching ONE region
        carries the expired-holding regions cold, bytes intact; a
        major pass with NOTHING pending sweeps them physically without
        changing any answer — driver and distributed paths agree."""
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        NOW = TestTTL.NOW
        helper = TestTTL()

        def physical(opts):
            gen = _resolve_generation(opts)
            out = set()
            for rg in gen["regions"]:
                out |= {
                    r["k"]
                    for r in pq.read_table(
                        os.path.join(gen["dir"], rg["file"])
                    ).to_pylist()
                }
            return out

        for ns, dist in (("mjttl_d", False), ("mjttl_s", True)):
            base_opts = helper._store(tmp_path, ns)
            # T1: everything is still live (rows 20..39 carry
            # ts = NOW - 200; cutoff at T1 is NOW - 250)
            t1 = {**base_opts, "ttlnow": str(NOW - 150.0)}
            helper._put(t1, [{"k": 1, "ts": NOW, "v": 11.0}])
            compact_store(t1)  # gen1 holds ALL 40 keys
            assert physical(t1) == set(range(40))

            # T2 = NOW: keys 20..39 are now expired. A minor fold
            # touching only region 0 carries their regions cold —
            # bytes intact, reads already filtered
            t2 = base_opts
            helper._put(t2, [{"k": 0, "ts": NOW, "v": 0.5}])
            st_minor = compact_store(t2)
            assert st_minor["regions_carried"] > 0
            assert physical(t2) >= set(range(20, 40))  # bytes remain
            live_view = helper._keys(t2)
            assert live_view == set(range(20))

            # major with an EMPTY overlay: reclaim-only pass
            stats = compact_store(
                t2,
                spark=spark if dist else None,
                distribute_min_rows=0 if dist else 10**9,
                major=True,
            )
            assert stats["compacted"] and stats["regions_carried"] == 0
            assert stats["distributed"] is dist
            assert physical(t2) == set(range(20))  # bytes reclaimed
            assert helper._keys(t2) == live_view   # answers unchanged

    def test_major_merges_shrunk_regions(self, spark, tmp_path):
        """Region merge (the HBase merge_region analog): a store shrunk
        by deletes keeps its old region count through minor folds (each
        region is its own rewrite unit); the major pass coalesces
        adjacent regions whose combined rows fit region_size, so the
        region layout re-densifies instead of leaking near-empty files
        — driver and distributed paths agree, answers unchanged."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
            delete_from_store,
        )

        for ns, dist in (("mjmrg_d", False), ("mjmrg_s", True)):
            opts = self._store(tmp_path, ns)  # n=100, region_size=16
            self._put(opts, [(1, 10.0)])
            compact_store(opts)  # gen1: 7 dense regions
            # shrink: only multiples of 10 survive (10 live keys)
            delete_from_store(
                opts, [k for k in range(100) if k % 10]
            )
            st_minor = compact_store(opts)
            assert st_minor["regions_merged"] == 0  # minor never merges
            gen = _resolve_generation(opts)
            n_before = len(gen["regions"])
            assert n_before >= 6  # near-empty regions leaked
            before = self._state(opts)
            assert set(before) == {k for k in range(100) if k % 10 == 0}

            stats = compact_store(
                opts,
                spark=spark if dist else None,
                distribute_min_rows=0 if dist else 10**9,
                major=True,
            )
            assert stats["compacted"] and stats["distributed"] is dist
            assert stats["regions_merged"] == n_before - 1, stats
            gen = _resolve_generation(opts)
            assert len(gen["regions"]) == 1  # 10 rows fit one region
            starts = [rg["start"] for rg in gen["regions"]]
            assert starts == sorted(set(starts))
            assert self._state(opts) == before  # answers unchanged
            # the merged layout keeps folding correctly afterwards
            self._put(opts, [(55, 5.5)])
            compact_store(opts)
            assert self._state(opts) == {**before, 55: 5.5}

    def test_major_merge_respects_region_size(self, tmp_path):
        """Dense regions never merge: estimates above region_size keep
        each region its own unit, so a major pass over a full store is
        a pure rewrite (no layout change beyond re-chunking)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "mjfull")
        self._put(opts, [(1, 10.0)])
        compact_store(opts)
        n_before = len(_resolve_generation(opts)["regions"])
        stats = compact_store(opts, major=True)
        assert stats["regions_merged"] == 0, stats
        assert len(_resolve_generation(opts)["regions"]) == n_before

    def test_major_on_pristine_store_builds_generation(self, tmp_path):
        """major over a store that never folded: the whole base
        rewrites into gen 1 (the TTL-reclaim entry point for a store
        with no mutations), watermark at the floor."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "mjprist")
        before = self._state(opts)
        stats = compact_store(opts, major=True)
        assert stats["compacted"] and stats["applied_seq"] == 0
        assert _resolve_generation(opts)["gen"] == 1
        assert self._state(opts) == before
        # idempotent: a second major pass folds again, same answers
        again = compact_store(opts, major=True)
        assert again["compacted"] and self._state(opts) == before

    def test_first_fold_stats_regions_merged_is_int(self, tmp_path):
        """Regression (round-11 ADVICE): the non-incremental
        driver-side first fold used a local dict named ``merged`` for
        the row-merge map, shadowing the merge COUNTER — the returned
        ``regions_merged`` stat became the entire row dict. Pin: a
        first fold reports an integer 0, not a mapping."""
        from kt_sql_hbase_ex_spark.sources.kvstore import compact_store

        opts = self._store(tmp_path, "mjstat")
        self._put(opts, [(1, 10.0)])
        stats = compact_store(opts)  # cur is None → first-fold path
        assert stats["compacted"]
        assert isinstance(stats["regions_merged"], int)
        assert stats["regions_merged"] == 0


class TestIncrement:
    """Round-10: atomic counters (HBase ``Increment``) — accumulate
    across and within commits, create-on-increment from zero, WAL
    entries carry absolute values (time travel and replicas replay
    them as plain puts), TTL-expired rows restart from zero, loud
    validation, integer-column domain guard."""

    _store = TestCompaction._store
    _state = staticmethod(TestCompaction._state)

    def test_accumulates_and_creates(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import increment_store

        opts = self._store(tmp_path, "inc1")
        out = increment_store(opts, [
            {"k": 3, "v": 10.0},
            {"k": 200, "v": 1.5},        # create-on-increment
            {"k": 3, "v": 0.5},          # same-batch accumulation
        ])
        assert [r["v"] for r in out] == [13.0, 1.5, 13.5]
        st = self._state(opts)
        assert st[3] == 13.5 and st[200] == 1.5
        # second statement accumulates on the committed state
        out2 = increment_store(opts, [{"k": 200, "v": 1.5}])
        assert out2[0]["v"] == 3.0 and self._state(opts)[200] == 3.0

    def test_wal_carries_absolute_values(self, spark, tmp_path):
        """Time travel across increment commits shows absolute
        snapshots — the double-count-proof WAL form."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            increment_store,
            read_store_asof,
        )

        opts = self._store(tmp_path, "inc2", n=20, region_size=8)
        increment_store(opts, [{"k": 1, "v": 100.0}])   # seq 1
        increment_store(opts, [{"k": 1, "v": 100.0}])   # seq 2

        def val(seq):
            rows = read_store_asof(spark, opts, seq).collect()
            return {r["k"]: r["v"] for r in rows}[1]

        assert val(1) == 101.0 and val(2) == 201.0

    def test_expired_row_restarts_from_zero(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import increment_store

        helper = TestTTL()
        opts = helper._store(tmp_path, "incttl")
        # key 30 is expired (ts = NOW - 200, ttl 100): counts from zero
        out = increment_store(opts, [{"k": 30, "v": 5.0}])
        assert out[0]["v"] == 5.0  # not 30.0 + 5
        # the new row has NULL ts -> immortal, visible
        assert helper._keys(opts) >= {30}

    def test_validation_is_loud(self, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import increment_store

        opts = self._store(tmp_path, "incval", n=10, region_size=8)
        with pytest.raises(ValueError, match="missing key"):
            increment_store(opts, [{"v": 1.0}])
        with pytest.raises(ValueError, match="no delta"):
            increment_store(opts, [{"k": 1}])
        with pytest.raises(ValueError, match="not in the store"):
            increment_store(opts, [{"k": 1, "zz": 1.0}])
        with pytest.raises(ValueError, match="numeric"):
            increment_store(opts, [{"k": 1, "v": "x"}])
        assert increment_store(opts, []) == []
        assert self._state(opts) == {k: float(k) for k in range(10)}

    def test_integer_column_guard(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _open_store,
            increment_store,
            truncate_overlay,
        )

        base = os.path.join(str(tmp_path), "inci.parquet")
        pq.write_table(
            pa.table({"k": pa.array([1, 2], pa.int64()),
                      "n": pa.array([10, 20], pa.int64())}),
            base,
        )
        opts = {"path": base, "keycol": "k", "columns": "k,n", "appid": "inci"}
        truncate_overlay(opts)
        out = increment_store(opts, [{"k": 1, "n": 5}, {"k": 1, "n": 2.0}])
        assert [r["n"] for r in out] == [15, 17]
        with pytest.raises(ValueError, match="non-integer"):
            increment_store(opts, [{"k": 2, "n": 0.5}])
        st = {r["k"]: r["n"] for r in _open_store(opts).rows}
        assert st == {1: 17, 2: 20}


class TestCheckAndMutate:
    """Round-10: compare-and-swap (HBase ``checkAndPut`` /
    ``checkAndDelete``) — mutations apply iff the check matches the
    current live value, absence checks implement create-if-absent,
    puts are partial (unmentioned columns survive), a batch is one
    commit whose WAL entry carries outcomes (never conditions), an
    all-fail batch commits nothing, TTL-expired rows check as absent,
    and validation is loud."""

    _store = TestCompaction._store
    _state = staticmethod(TestCompaction._state)

    def test_put_delete_and_absence(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _log_seqs,
            changelog_dir,
            check_and_mutate_store,
        )

        opts = self._store(tmp_path, "cas1", n=10, region_size=8)
        flags = check_and_mutate_store(opts, [
            # passes: k=3 currently has v=3.0
            {"k": 3, "check": {"column": "v", "equals": 3.0},
             "put": {"v": 99.0}},
            # fails: stale expectation
            {"k": 4, "check": {"column": "v", "equals": 0.0},
             "put": {"v": -1.0}},
            # passes: conditional delete
            {"k": 5, "check": {"column": "v", "equals": 5.0},
             "delete": True},
            # passes: absence check on a brand-new key
            {"k": 200, "check": {"column": "v", "equals": None},
             "put": {"v": 7.0}},
        ])
        assert flags == [True, False, True, True]
        st = self._state(opts)
        assert st[3] == 99.0 and st[4] == 4.0 and 5 not in st
        assert st[200] == 7.0
        # the same absence check now fails: the row exists
        assert check_and_mutate_store(opts, [
            {"k": 200, "check": {"column": "v", "equals": None},
             "put": {"v": 8.0}},
        ]) == [False]
        assert self._state(opts)[200] == 7.0
        # an all-fail batch commits no WAL entry
        before = _log_seqs(changelog_dir(opts))
        assert check_and_mutate_store(opts, [
            {"k": 3, "check": {"column": "v", "equals": 3.0},
             "put": {"v": 0.0}},
        ]) == [False]
        assert _log_seqs(changelog_dir(opts)) == before

    def test_partial_put_preserves_other_columns(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _open_store,
            check_and_mutate_store,
            truncate_overlay,
        )

        base = os.path.join(str(tmp_path), "cas2.parquet")
        pq.write_table(
            pa.table({
                "k": pa.array([1, 2], pa.int64()),
                "a": pa.array(["x", "y"]),
                "b": pa.array([10.0, 20.0], pa.float64()),
            }),
            base,
        )
        opts = {"path": base, "keycol": "k", "columns": "k,a,b",
                "appid": "cas2"}
        truncate_overlay(opts)
        assert check_and_mutate_store(opts, [
            {"k": 1, "check": {"column": "a", "equals": "x"},
             "put": {"b": 11.0}},
        ]) == [True]
        rows = {r["k"]: r for r in _open_store(opts).rows}
        # the put named only b: a survives the partial update
        assert rows[1]["a"] == "x" and rows[1]["b"] == 11.0
        # create-if-absent leaves unmentioned columns NULL
        assert check_and_mutate_store(opts, [
            {"k": 9, "check": {"column": "a", "equals": None},
             "put": {"b": 1.0}},
        ]) == [True]
        rows = {r["k"]: r for r in _open_store(opts).rows}
        assert rows[9]["a"] is None and rows[9]["b"] == 1.0

    def test_same_batch_visibility(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            check_and_mutate_store,
        )

        opts = self._store(tmp_path, "cas3", n=10, region_size=8)
        flags = check_and_mutate_store(opts, [
            {"k": 1, "check": {"column": "v", "equals": 1.0},
             "put": {"v": 50.0}},
            # sees the first mutation's effect within the batch
            {"k": 1, "check": {"column": "v", "equals": 50.0},
             "put": {"v": 51.0}},
            {"k": 2, "check": {"column": "v", "equals": 2.0},
             "delete": True},
            # the deleted key checks as absent within the batch
            {"k": 2, "check": {"column": "v", "equals": None},
             "put": {"v": 60.0}},
        ])
        assert flags == [True, True, True, True]
        st = self._state(opts)
        assert st[1] == 51.0 and st[2] == 60.0

    def test_wal_carries_outcomes(self, spark, tmp_path):
        """Time travel across a CAS commit replays outcomes as plain
        puts/tombstones — conditions are never re-evaluated."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            check_and_mutate_store,
            read_store_asof,
        )

        opts = self._store(tmp_path, "cas4", n=10, region_size=8)
        check_and_mutate_store(opts, [                       # seq 1
            {"k": 1, "check": {"column": "v", "equals": 1.0},
             "put": {"v": 100.0}},
            {"k": 2, "check": {"column": "v", "equals": 2.0},
             "delete": True},
        ])
        check_and_mutate_store(opts, [                       # seq 2
            {"k": 1, "check": {"column": "v", "equals": 100.0},
             "put": {"v": 200.0}},
        ])

        def state(seq):
            return {
                r["k"]: r["v"]
                for r in read_store_asof(spark, opts, seq).collect()
            }

        s1, s2 = state(1), state(2)
        assert s1[1] == 100.0 and 2 not in s1
        assert s2[1] == 200.0 and 2 not in s2

    def test_expired_row_checks_as_absent(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            check_and_mutate_store,
        )

        helper = TestTTL()
        opts = helper._store(tmp_path, "casttl")
        # key 30 is expired: a value check fails, an absence check passes
        assert check_and_mutate_store(opts, [
            {"k": 30, "check": {"column": "v", "equals": 30.0},
             "put": {"v": 0.0}},
            {"k": 30, "check": {"column": "v", "equals": None},
             "put": {"v": 5.0}},
        ]) == [False, True]
        assert 30 in helper._keys(opts)

    def test_validation_is_loud(self, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            check_and_mutate_store,
        )

        opts = self._store(tmp_path, "casval", n=10, region_size=8)
        ok = {"column": "v", "equals": 1.0}
        with pytest.raises(ValueError, match="missing key"):
            check_and_mutate_store(opts, [{"check": ok, "delete": True}])
        with pytest.raises(ValueError, match="needs check"):
            check_and_mutate_store(opts, [{"k": 1, "delete": True}])
        with pytest.raises(ValueError, match="check column"):
            check_and_mutate_store(opts, [
                {"k": 1, "check": {"column": "zz", "equals": 1},
                 "delete": True},
            ])
        with pytest.raises(ValueError, match="exactly one"):
            check_and_mutate_store(opts, [{"k": 1, "check": ok}])
        with pytest.raises(ValueError, match="exactly one"):
            check_and_mutate_store(opts, [
                {"k": 1, "check": ok, "put": {"v": 1.0}, "delete": True},
            ])
        with pytest.raises(ValueError, match="non-key store columns"):
            check_and_mutate_store(opts, [
                {"k": 1, "check": ok, "put": {"k": 2}},
            ])
        assert check_and_mutate_store(opts, []) == []
        assert self._state(opts) == {k: float(k) for k in range(10)}


class TestSnapshots:
    """Round-10: snapshot / restore / clone (the HBase admin trio) —
    zero-copy hardlink snapshots that survive generation GC, restores
    behind the bulk-marker WAL contract (consumers re-baseline loudly,
    time travel anchors at the marker), clones into independent
    stores, loud validation."""

    _store = TestCompaction._store
    _state = staticmethod(TestCompaction._state)
    _put = staticmethod(TestCompaction._put)

    def test_snapshot_restore_roundtrip(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_marker_seqs,
            delete_from_store,
            restore_store,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snap1", n=20, region_size=8)
        self._put(opts, [(1, 11.0)])                 # seq 1
        delete_from_store(opts, [2])                 # seq 2
        manifest = snapshot_store(opts, "s1")        # folds first
        assert manifest["applied_seq"] == 2 and manifest["rows"] == 19
        at_snap = self._state(opts)
        assert at_snap[1] == 11.0 and 2 not in at_snap

        self._put(opts, [(3, 33.0), (200, 1.0)])     # seq 3
        delete_from_store(opts, [4])                 # seq 4
        assert self._state(opts) != at_snap

        st = restore_store(opts, "s1")
        assert st["published"] and st["snapshot"] == "s1"
        assert bulk_marker_seqs(opts) == [st["seq"]]
        assert self._state(opts) == at_snap
        # the store keeps working after the rollback
        self._put(opts, [(5, 55.0)])
        assert self._state(opts) == {**at_snap, 5: 55.0}

    def test_snapshot_survives_generation_gc(self, tmp_path):
        """Hardlinks keep the snapshot's bytes alive across later
        folds (whose deferred GC deletes the snapshotted generation)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
            restore_store,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snapgc", n=20, region_size=8)
        self._put(opts, [(1, 11.0)])
        snapshot_store(opts, "keep")
        at_snap = self._state(opts)
        snap_gen_dir = _resolve_generation(opts)["dir"]
        # two more fold cycles: the second one GCs the snapshotted gen
        for v in (21.0, 31.0):
            self._put(opts, [(6, v)])
            compact_store(opts)
        assert not os.path.isdir(snap_gen_dir)  # GC really happened
        restore_store(opts, "keep")
        assert self._state(opts) == at_snap

    def test_restore_marker_blocks_feed_and_asof_anchors(
        self, spark, tmp_path
    ):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            KVChangesStreamReader,
            prune_changelog,
            read_store_asof,
            restore_store,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snapfeed", n=20, region_size=8)
        self._put(opts, [(1, 11.0)])                 # seq 1
        snapshot_store(opts, "s1")
        at_snap = self._state(opts)
        self._put(opts, [(3, 33.0)])                 # seq 2
        st = restore_store(opts, "s1")               # marker seq 3

        def asof(seq):
            return {
                r["k"]: r["v"]
                for r in read_store_asof(spark, opts, seq).collect()
            }

        # time travel: pre-restore history via prev_anchor for one
        # cycle; at the marker = the restored snapshot state
        assert asof(2)[3] == 33.0
        assert asof(st["seq"]) == at_snap

        # feed consumers refuse across the marker, resume after prune
        sr = KVChangesStreamReader(opts)
        with pytest.raises(ValueError, match="bulk-load marker"):
            sr.readBetweenOffsets({"seq": 0}, {"seq": st["seq"]})
        prune_changelog(opts, st["seq"])
        self._put(opts, [(7, 77.0)])
        it, off = sr.read({"seq": st["seq"]})
        assert off == {"seq": st["seq"] + 1} and len(list(it)) == 1

    def test_clone_into_second_store(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            SnapshotError,
            clone_store_snapshot,
            snapshot_store,
        )
        import pytest

        src = self._store(tmp_path, "snapclsrc", n=20, region_size=8)
        tgt = self._store(tmp_path, "snapcltgt", n=20, region_size=8)
        self._put(src, [(1, 100.0)])
        snapshot_store(src, "c1")
        at_snap = self._state(src)
        self._put(src, [(2, 200.0)])  # post-snapshot source mutation

        out = clone_store_snapshot(src, "c1", tgt)
        assert out["published"] and out["snapshot"] == "c1"
        assert self._state(tgt) == at_snap
        # fully independent afterwards
        self._put(tgt, [(9, 999.0)])
        assert self._state(src)[2] == 200.0
        assert self._state(src).get(9) != 999.0  # tgt put never leaks back
        assert self._state(tgt)[9] == 999.0
        assert self._state(src) == {**at_snap, 2: 200.0}

        # schema mismatch and same-store clones are loud
        with pytest.raises(SnapshotError, match="does not match"):
            clone_store_snapshot(
                src, "c1", {**tgt, "columns": "k"},
            )
        with pytest.raises(SnapshotError, match="SAME store"):
            clone_store_snapshot(src, "c1", src)

    def test_validation_and_lifecycle(self, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            SnapshotError,
            drop_store_snapshot,
            list_store_snapshots,
            restore_store,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snapval", n=20, region_size=8)
        self._put(opts, [(1, 11.0)])
        snapshot_store(opts, "a1")
        with pytest.raises(SnapshotError, match="already exists"):
            snapshot_store(opts, "a1")
        with pytest.raises(SnapshotError, match="does not exist"):
            restore_store(opts, "nope")
        with pytest.raises(SnapshotError, match="must be"):
            snapshot_store(opts, "bad/name")
        snapshot_store(opts, "a2")
        assert [m["name"] for m in list_store_snapshots(opts)] == ["a1", "a2"]
        drop_store_snapshot(opts, "a1")
        assert [m["name"] for m in list_store_snapshots(opts)] == ["a2"]
        with pytest.raises(SnapshotError, match="does not exist"):
            drop_store_snapshot(opts, "a1")
        # a dropped name is reusable
        snapshot_store(opts, "a1")
        assert len(list_store_snapshots(opts)) == 2

    def test_crash_orphaned_tmp_dir_is_not_listed(self, tmp_path):
        """Regression (round-11 ADVICE): a crash between writing
        MANIFEST.json and the rename publish leaves a complete
        manifest inside ``_tmp.<name>.<uuid8>``; listing must not report
        it as a snapshot (the manifest name ≠ dir name tells it
        apart), and real snapshots still list."""
        import json
        import shutil

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _snap_root,
            list_store_snapshots,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snaptmp", n=20, region_size=8)
        self._put(opts, [(1, 11.0)])
        snapshot_store(opts, "real")
        root = _snap_root(opts)
        # simulate the crash window: a fully-written but never-renamed
        # tmp dir with a valid manifest inside
        orphan = os.path.join(root, "_tmp.ghost.deadbeef")
        shutil.copytree(os.path.join(root, "real"), orphan)
        man_path = os.path.join(orphan, "MANIFEST.json")
        with open(man_path) as f:
            man = json.load(f)
        man["name"] = "ghost"
        with open(man_path, "w") as f:
            json.dump(man, f)
        assert [m["name"] for m in list_store_snapshots(opts)] == ["real"]

    def test_snapshot_of_emptied_store_restores_empty(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            delete_from_store,
            restore_store,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snapempty", n=10, region_size=8)
        delete_from_store(opts, list(range(10)))
        m = snapshot_store(opts, "empty")
        assert m["rows"] == 0
        self._put(opts, [(1, 11.0), (2, 22.0)])
        assert self._state(opts) == {1: 11.0, 2: 22.0}
        restore_store(opts, "empty")
        assert self._state(opts) == {}
        # refillable after the empty restore
        self._put(opts, [(3, 33.0)])
        assert self._state(opts) == {3: 33.0}

    def test_pristine_store_snapshot(self, tmp_path):
        """Snapshotting a never-folded, never-mutated store works (a
        major pass materializes gen 1 first)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            restore_store,
            snapshot_store,
        )

        opts = self._store(tmp_path, "snapprist", n=20, region_size=8)
        before = self._state(opts)
        m = snapshot_store(opts, "p1")
        assert m["rows"] == 20 and m["applied_seq"] == 0
        self._put(opts, [(1, 11.0)])
        restore_store(opts, "p1")
        assert self._state(opts) == before


class TestAppend:
    """Round-10: atomic cell appends (HBase ``Append``) — concatenate
    across and within commits, create-on-append from empty, WAL
    entries carry absolute strings, TTL-expired rows restart from
    empty, string-column-only domain guard, loud validation."""

    def _store(self, tmp_path, ns, n=10):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import truncate_overlay

        base = os.path.join(str(tmp_path), f"app_{ns}.parquet")
        pq.write_table(
            pa.table({
                "k": pa.array(range(n), pa.int64()),
                "s": pa.array([f"s{i}" for i in range(n)]),
                "v": pa.array([float(i) for i in range(n)], pa.float64()),
            }),
            base,
        )
        opts = {"path": base, "keycol": "k", "columns": "k,s,v",
                "appid": ns}
        truncate_overlay(opts)
        return opts

    @staticmethod
    def _state(opts) -> dict:
        from kt_sql_hbase_ex_spark.sources.kvstore import _open_store

        return {r["k"]: r["s"] for r in _open_store(opts).rows}

    def test_accumulates_and_creates(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import append_store

        opts = self._store(tmp_path, "app1")
        out = append_store(opts, [
            {"k": 3, "s": "+a"},
            {"k": 200, "s": "new"},      # create-on-append
            {"k": 3, "s": "+b"},         # same-batch accumulation
        ])
        assert [r["s"] for r in out] == ["s3+a", "new", "s3+a+b"]
        st = self._state(opts)
        assert st[3] == "s3+a+b" and st[200] == "new"
        out2 = append_store(opts, [{"k": 200, "s": "!"}])
        assert out2[0]["s"] == "new!" and self._state(opts)[200] == "new!"
        # non-key non-appended columns survive (v untouched on k=3)
        from kt_sql_hbase_ex_spark.sources.kvstore import _open_store
        rows = {r["k"]: r for r in _open_store(opts).rows}
        assert rows[3]["v"] == 3.0 and rows[200]["v"] is None

    def test_wal_carries_absolute_strings(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            append_store,
            read_store_asof,
        )

        opts = self._store(tmp_path, "app2")
        append_store(opts, [{"k": 1, "s": "+x"}])   # seq 1
        append_store(opts, [{"k": 1, "s": "+y"}])   # seq 2

        def val(seq):
            rows = read_store_asof(spark, opts, seq).collect()
            return {r["k"]: r["s"] for r in rows}[1]

        assert val(1) == "s1+x" and val(2) == "s1+x+y"

    def test_expired_row_restarts_from_empty(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _open_store,
            append_store,
            truncate_overlay,
        )

        NOW = 1_000_000.0
        base = os.path.join(str(tmp_path), "appttl.parquet")
        pq.write_table(
            pa.table({
                "k": pa.array([1, 2], pa.int64()),
                "ts": pa.array([NOW, NOW - 200.0], pa.float64()),
                "s": pa.array(["fresh", "stale"]),
            }),
            base,
        )
        opts = {
            "path": base, "keycol": "k", "columns": "k,ts,s",
            "appid": "appttl", "ttlcolumn": "ts",
            "ttlseconds": "100", "ttlnow": str(NOW),
        }
        truncate_overlay(opts)
        out = append_store(opts, [{"k": 1, "s": "+a"}, {"k": 2, "s": "+a"}])
        # live row concatenates; expired row restarts from empty
        assert [r["s"] for r in out] == ["fresh+a", "+a"]
        st = {r["k"]: r for r in _open_store(opts).rows}
        # the revived row has NULL ts -> immortal, visible
        assert st[2]["s"] == "+a" and st[2]["ts"] is None

    def test_validation_is_loud(self, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import append_store

        opts = self._store(tmp_path, "appval")
        with pytest.raises(ValueError, match="missing key"):
            append_store(opts, [{"s": "x"}])
        with pytest.raises(ValueError, match="no suffix"):
            append_store(opts, [{"k": 1}])
        with pytest.raises(ValueError, match="not in the store"):
            append_store(opts, [{"k": 1, "zz": "x"}])
        with pytest.raises(ValueError, match="non-string column"):
            append_store(opts, [{"k": 1, "v": "x"}])
        with pytest.raises(ValueError, match="must be strings"):
            append_store(opts, [{"k": 1, "s": 5}])
        assert append_store(opts, []) == []
        assert self._state(opts) == {k: f"s{k}" for k in range(10)}


class TestRegionSplit:
    """Round-11: region SPLIT (the HBase ``split_region`` analog, the
    missing half of round-10's region merge) — a write burst into one
    key range folds as contiguous key sub-range tasks instead of one
    straggler holding burst + region in memory. Pins: split answers ≡
    unsplit answers on both execution paths, post-fold regions stay
    bounded, the bulk path splits hot regions with a carry sweep for
    sample-misjudged sub-ranges, and quiet folds never split."""

    _store = TestDistributedFold._store
    _state = staticmethod(TestDistributedFold._state)
    _put = staticmethod(TestDistributedFold._put)

    def test_minor_fold_splits_hot_unit_both_paths(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        burst = [
            {"k": 100000 + i, "v": float(i)} for i in range(200)
        ]  # all land past the last region start -> ONE hot unit
        expected = None
        for ns, dist in (("rs_d", False), ("rs_s", True)):
            opts = self._store(tmp_path, ns)  # n=100, region_size=16
            self._put(opts, [{"k": 1, "v": 10.0}])
            compact_store(opts)  # gen1: 7 dense regions
            self._put(opts, burst)
            stats = compact_store(
                opts,
                spark=spark if dist else None,
                distribute_min_rows=0 if dist else 10**9,
            )
            assert stats["compacted"] and stats["distributed"] is dist
            assert stats["regions_split"] >= 1, stats
            assert stats["regions_rewritten"] == 1  # one region touched
            gen = _resolve_generation(opts)
            assert all(rg["rows"] <= 16 for rg in gen["regions"])
            starts = [rg["start"] for rg in gen["regions"]]
            assert starts == sorted(set(starts))  # pruning stays exact
            got = self._state(opts)
            if expected is None:
                base = {k: float(k) for k in range(100)}
                expected = {
                    **base,
                    1: 10.0,
                    **{100000 + i: float(i) for i in range(200)},
                }
            assert got == expected

    def test_quiet_fold_never_splits(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import compact_store

        opts = self._store(tmp_path, "rs_q")
        self._put(opts, [{"k": 1, "v": 10.0}, {"k": 50, "v": 5.0}])
        stats = compact_store(opts)
        assert stats["compacted"] and stats["regions_split"] == 0

    def test_bulk_load_into_one_range_balances(self, spark, tmp_path):
        """A distributed bulk load hammering one key range splits that
        region's merge into multiple tasks (quantile cuts over a
        bounded mutation-key sample); answers equal the same rows
        loaded into an unsplit twin via small batches, and every
        sub-range of the region file survives (the carry sweep)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            bulk_load_store,
            compact_store,
        )

        hot = [(100000 + i, float(i)) for i in range(300)]
        # also touch an EXISTING region's interior so split bounds
        # interleave with surviving base rows
        hot += [(3, 333.0), (7, 777.0)]

        opts = self._store(tmp_path, "rs_b")
        self._put(opts, [{"k": 1, "v": 10.0}])
        compact_store(opts)
        st = bulk_load_store(
            opts,
            spark.createDataFrame(hot, "k long, v double"),
            distribute_min_rows=0,
        )
        assert st["published"] and st["distributed"]
        assert st["regions_split"] >= 1, st
        gen = _resolve_generation(opts)
        assert all(rg["rows"] <= 16 for rg in gen["regions"])
        starts = [rg["start"] for rg in gen["regions"]]
        assert starts == sorted(set(starts))
        base = {k: float(k) for k in range(100)}
        assert self._state(opts) == {
            **base,
            1: 10.0,
            3: 333.0,
            7: 777.0,
            **{k: v for k, v in hot if k >= 100000},
        }

    def test_bulk_quiet_batch_does_not_split(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_load_store,
            compact_store,
        )

        opts = self._store(tmp_path, "rs_bq")
        compact_store(opts, major=True)
        st = bulk_load_store(
            opts,
            spark.createDataFrame([(5, 5.5), (50, 50.5)], "k long, v double"),
            distribute_min_rows=0,
        )
        assert st["published"] and st["regions_split"] == 0, st

    def test_bulk_zero_chunk_merge_task_still_deletes(self, spark, tmp_path):
        """Round-13 internals pin: a merge task whose whole region
        folds to ZERO rows (every key tombstoned by the pending
        overlay) emits only its touched-task MARKER — the region must
        disappear from the new generation, not be resurrected by the
        hardlink carry or the split carry sweep. Run beside a hot
        batch so markers and split sub-tasks coexist in one merge."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            bulk_load_store,
            compact_store,
            delete_from_store,
        )

        opts = self._store(tmp_path, "blzero")  # 100 rows / 16 = 7 regions
        self._put(opts, [{"k": 1, "v": 10.0}])
        compact_store(opts)
        # tombstone region 1's whole key range (16..31): its merge task
        # receives ONLY tombstones and writes no chunk files
        delete_from_store(opts, list(range(16, 32)))
        hot = [(100000 + i, float(i)) for i in range(300)]
        st = bulk_load_store(
            opts,
            spark.createDataFrame(hot, "k long, v double"),
            distribute_min_rows=0,
        )
        assert st["published"] and st["distributed"], st
        assert st["regions_split"] >= 1, st  # the hot tail split
        state = self._state(opts)
        assert not any(16 <= k <= 31 for k in state), "deleted keys revived"
        assert state[1] == 10.0 and state[100000] == 0.0
        assert len(state) == 100 - 16 + 300

    def test_first_fold_duplicate_base_keys_last_wins(self, tmp_path):
        """Round-13 internals pin: the vectorized arrow first fold
        detects duplicate BASE keys and falls back to the dict path's
        silent last-wins collapse (file order), so a dirty base folds
        identically on both paths."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            compact_store,
            truncate_overlay,
        )

        base = os.path.join(str(tmp_path), "base_dup.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([1, 2, 2, 3], pa.int64()),
                    "v": pa.array([1.0, 2.0, 22.0, 3.0], pa.float64()),
                }
            ),
            base,
        )
        opts = {
            "path": base,
            "keycol": "k",
            "columns": "k,v",
            "regionsize": "16",
            "appid": "blzdup",
        }
        truncate_overlay(opts)
        self._put(opts, [{"k": 4, "v": 4.0}])
        st = compact_store(opts)
        assert st["compacted"], st
        assert self._state(opts) == {1: 1.0, 2: 22.0, 3: 3.0, 4: 4.0}


class TestRegionBloom:
    """Round-11: per-region key blooms (the HBase per-HFile ROW bloom
    analog) — fold/bulk generations carry a compact key filter per
    region in the pointer manifest; the point multi-get skips regions
    whose filter rejects every needed key. Pins: no false negatives
    (every present key passes its region's bloom), absent-key gets
    read zero files, present-key gets read exactly the covering file,
    blooms survive carries, and answers never change."""

    _store = TestDistributedFold._store
    _state = staticmethod(TestDistributedFold._state)
    _put = staticmethod(TestDistributedFold._put)

    def test_no_false_negatives_all_paths(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _bloom_has,
            _resolve_generation,
            bulk_load_store,
            compact_store,
        )

        for ns, fold in (
            ("blm_d", lambda o: compact_store(o)),
            (
                "blm_s",
                lambda o: compact_store(
                    o, spark=spark, distribute_min_rows=0
                ),
            ),
            (
                "blm_b",
                lambda o: bulk_load_store(
                    o,
                    spark.createDataFrame(
                        [(500, 5.0), (501, 5.1)], "k long, v double"
                    ),
                    distribute_min_rows=0,
                ),
            ),
        ):
            opts = self._store(tmp_path, ns)
            self._put(opts, [{"k": 1, "v": 10.0}])
            fold(opts)
            gen = _resolve_generation(opts)
            assert all("bloom" in rg for rg in gen["regions"]), ns
            for rg in gen["regions"]:
                for r in pq.read_table(
                    os.path.join(gen["dir"], rg["file"])
                ).to_pylist():
                    assert _bloom_has(rg["bloom"], r["k"]), (ns, r["k"])

    def test_sharded_region_manifest(self, tmp_path):
        """r11 verdict task #2: the region list lives in a
        ``_regions.parquet`` inside the generation dir, NOT inline in
        the JSON pointer — opening a store is a small-constant JSON
        read at any region count (the inline form was ~250 MB of
        driver JSON per open at 400k regions). Pins: (a) the pointer
        JSON carries no region dicts, (b) a point get materializes
        manifest rows ∝ regions ROUTED (row-group-pruned isin), never
        the whole list, (c) lazy ``gen["regions"]`` still serves the
        fold/snapshot/admin paths, (d) answers unchanged."""
        import json

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "blm_shard")  # n=100, region_size=16
        self._put(opts, [{"k": 1, "v": 10.0}])
        kv.compact_store(opts)

        # (a) the pointer is region-free JSON naming the parquet shard
        root = kv._gen_root(opts)
        with open(os.path.join(root, kv.GEN_POINTER)) as f:
            raw = json.load(f)
        assert "regions" not in raw, "region list must not inline"
        assert raw["regions_file"] == kv.REGIONS_FILE
        assert raw["regions_n"] > 1
        assert os.path.exists(os.path.join(raw["dir"], kv.REGIONS_FILE))

        # (b) point get: manifest rows loaded == regions routed (1),
        # strictly fewer than regions_total — the scale pin. The fold
        # primed the read cache with its generation, so only a COLD get
        # shows what the manifest read costs
        kv._READ_CACHE.clear()
        out = kv.get_store_rows(opts, [{"k": 50}])
        assert out[0] == {"k": 50, "v": 50.0}
        stats = kv.last_multiget_stats()
        assert stats["manifest_rows_loaded"] == 1, stats
        assert stats["regions_routed"] == 1
        assert stats["regions_total"] == raw["regions_n"] > 1

        # (c) lazy full-list access (fold/snapshot paths) round-trips
        gen = kv._resolve_generation(opts)
        regions = gen["regions"]
        assert len(regions) == raw["regions_n"]
        assert regions == sorted(regions, key=lambda m: m["start"])
        assert all(
            set(m) >= {"file", "start", "rows", "bloom"} for m in regions
        )
        # starts column matches the full list's order
        assert kv._gen_region_starts(gen) == [m["start"] for m in regions]

        # (d) a second fold over the sharded generation reads/merges it
        self._put(opts, [{"k": 2, "v": 22.0}])
        st = kv.compact_store(opts)
        assert st["compacted"]
        assert kv.get_store_rows(opts, [{"k": 2}])[0]["v"] == 22.0

    def test_bloom_key_codec_collapses_numeric_types(self):
        """r11 advice: a key surfaced as Decimal/numpy scalar on one
        side (parquet read) and int/float on the other (caller spec)
        must hash IDENTICALLY — a repr-level mismatch is a bloom false
        negative, which corrupts increment/CAS/append (an existing row
        reads as absent and the count restarts from zero). Unsupported
        types reject loudly at build and answer might-contain at
        probe."""
        import datetime
        from decimal import Decimal

        import numpy as np
        import pytest

        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _bloom_build,
            _bloom_has,
            _bloom_key_repr,
        )

        # numerically-equal keys collapse across every arrival surface
        assert (
            _bloom_key_repr(5)
            == _bloom_key_repr(5.0)
            == _bloom_key_repr(Decimal("5"))
            == _bloom_key_repr(np.int64(5))
            == _bloom_key_repr(np.float64(5.0))
        )
        assert _bloom_key_repr(5.5) == _bloom_key_repr(Decimal("5.5"))
        # bool is NOT rowkey 1/0; temporals canonicalize via isoformat
        assert _bloom_key_repr(True) != _bloom_key_repr(1)
        assert _bloom_key_repr(datetime.date(2026, 8, 16)) == "2026-08-16"
        # end-to-end: bloom built from parquet-side Decimals answers
        # the caller's int probe (the corruption scenario, pinned)
        spec = _bloom_build([Decimal("7"), Decimal("9")])
        assert _bloom_has(spec, 7) and _bloom_has(spec, 9.0)
        # unsupported type: loud at build, lossless at probe
        with pytest.raises(TypeError):
            _bloom_build([object()])
        assert _bloom_has(spec, object()) is True

    def test_point_get_prunes_files(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "blm_p")  # n=100, region_size=16
        self._put(opts, [{"k": 1, "v": 10.0}])
        kv.delete_from_store(opts, list(range(40, 48)))
        kv.compact_store(opts)

        # present key: exactly the covering region file reads
        out = kv.increment_store(opts, [{"k": 50, "v": 1.0}])
        assert out[0]["v"] == 51.0
        assert kv.last_multiget_stats()["files_read"] == 1, kv.last_multiget_stats()
        assert kv.last_multiget_stats()["regions_total"] > 1

        # absent key inside a region's key range: the bloom rejects it
        # and NO file reads (pick a deleted key whose bloom answer is
        # deterministically False — with 8 candidates at ~2% fp rate a
        # flake needs ~1e-14 luck; assert one exists first)
        gen = kv._resolve_generation(opts)
        starts = [rg["start"] for rg in gen["regions"]]
        import bisect as _b

        probe = None
        for cand in range(40, 48):
            rg = gen["regions"][
                max(0, _b.bisect_right(starts, cand) - 1)
            ]
            if not kv._bloom_has(rg["bloom"], cand):
                probe = cand
                break
        assert probe is not None
        out = kv.increment_store(opts, [{"k": probe, "v": 2.5}])
        assert out[0]["v"] == 2.5  # create-on-increment from zero
        assert kv.last_multiget_stats()["files_read"] == 0, kv.last_multiget_stats()

    def test_carried_regions_keep_blooms(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            compact_store,
        )

        opts = self._store(tmp_path, "blm_c")
        self._put(opts, [{"k": 1, "v": 10.0}])
        compact_store(opts)
        self._put(opts, [{"k": 2, "v": 20.0}])  # touches region 0 only
        stats = compact_store(opts)
        assert stats["regions_carried"] >= 1
        gen = _resolve_generation(opts)
        assert all("bloom" in rg for rg in gen["regions"])


class TestMultiGet:
    """Round-11: the read-only point ``Get`` (HBase client API) —
    overlay-merged, TTL-filtered, served through the bloom-pruned
    multi-get without opening the whole store."""

    _store = TestDistributedFold._store
    _state = staticmethod(TestDistributedFold._state)
    _put = staticmethod(TestDistributedFold._put)

    def test_get_semantics(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "mget")  # n=100, region_size=16
        self._put(opts, [{"k": 5, "v": 55.0}])
        kv.delete_from_store(opts, [7])
        out = kv.get_store_rows(
            opts,
            [{"k": 5}, {"k": 7}, {"k": 50}, {"k": 999999}, {"k": 5}],
        )
        assert out[0] == {"k": 5, "v": 55.0}  # overlay put wins
        assert out[1] is None                 # tombstone reads absent
        assert out[2] == {"k": 50, "v": 50.0}  # base row
        assert out[3] is None                 # never existed
        assert out[4] == {"k": 5, "v": 55.0}  # duplicates allowed

        # after a fold the same answers come from the generation, and
        # the absent key reads ZERO region files (bloom-pruned)
        kv.compact_store(opts)
        assert kv.get_store_rows(opts, [{"k": 5}])[0]["v"] == 55.0
        gen = kv._resolve_generation(opts)
        import bisect as _b

        starts = [rg["start"] for rg in gen["regions"]]
        rg = gen["regions"][max(0, _b.bisect_right(starts, 7) - 1)]
        if not kv._bloom_has(rg["bloom"], 7):  # ~98% of fixtures
            assert kv.get_store_rows(opts, [{"k": 7}]) == [None]
            assert kv.last_multiget_stats()["files_read"] == 0

    def test_get_validation_and_ttl(self, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "mgetv")
        with pytest.raises(ValueError, match="missing key column"):
            kv.get_store_rows(opts, [{"v": 1.0}])
        assert kv.get_store_rows(opts, []) == []

        # TTL: an expired row reads as absent through the Get path
        NOW = 1_700_000_000
        topts = {
            **opts,
            "ttlcolumn": "v",  # abuse v as the ts column: v = seconds
            "ttlseconds": "100",
            "ttlnow": str(NOW),
        }
        self._put(topts, [{"k": 3, "v": float(NOW - 500)},
                          {"k": 4, "v": float(NOW - 50)}])
        got = kv.get_store_rows(topts, [{"k": 3}, {"k": 4}])
        assert got[0] is None              # expired
        assert got[1] == {"k": 4, "v": float(NOW - 50)}  # fresh

    def test_engine_facade(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.engine import KtSqlEngine

        opts = self._store(tmp_path, "mgete")
        eng = KtSqlEngine(spark)
        out = eng.multi_get_kv([{"k": 10}], **opts)
        assert out == [{"k": 10, "v": 10.0}]


def test_bloom_numeric_key_type_equivalence(tmp_path, spark):
    """Round-11 review finding: the bloom must match numerically-equal
    keys of different Python types (the dataset-scan path it fronts
    matches 5.0 == 5) — a float-typed get against an int64-keyed
    folded store reads the row, never a bloom false negative."""
    from kt_sql_hbase_ex_spark.sources import kvstore as kv

    store = TestDistributedFold()
    opts = store._store(tmp_path, "blmflt")
    TestDistributedFold._put(opts, [{"k": 1, "v": 10.0}])
    kv.compact_store(opts)
    out = kv.get_store_rows(opts, [{"k": 5.0}, {"k": 1.0}])
    assert out[0] == {"k": 5, "v": 5.0}
    assert out[1] == {"k": 1, "v": 10.0}
    # and the increment path accumulates instead of resetting
    got = kv.increment_store(opts, [{"k": 50.0, "v": 1.0}])
    assert got[0]["v"] == 51.0


class TestVersions:
    """Round-12 (r11 verdict task #4): cell-level VERSIONS — the HBase
    ``setMaxVersions``/time-range-Get analog. A ``versions=N`` store
    appends timestamped versions on Put, masks with tombstones on
    Delete, serves the newest live version to scans and point Gets,
    serves history through ``get_kv_versions`` (masked, capped at N,
    time-rangeable), physically prunes beyond N at fold, and carries
    ``__ts`` in every WAL entry so crash recovery replays version
    state exactly. Bare-rowkey writers reject versioned stores
    loudly."""

    def _store(self, tmp_path, ns, n=20, versions=3, region_size=8):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources.kvstore import truncate_overlay

        base = os.path.join(str(tmp_path), f"vbase_{ns}.parquet")
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
            "versions": str(versions),
            "appid": ns,
        }
        truncate_overlay(opts)
        return opts

    def test_put_read_history_and_latest(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "v1")
        # three timestamped versions of k=5 (base fixture row is ts=0)
        kv.put_kv_versions(opts, [{"k": 5, "v": 50.0, "__ts": 10}])
        kv.put_kv_versions(
            opts,
            [{"k": 5, "v": 51.0, "__ts": 20}, {"k": 6, "v": 60.0, "__ts": 20}],
        )
        # latest: point Get and scan agree
        assert kv.get_store_rows(opts, [{"k": 5}])[0] == {"k": 5, "v": 51.0}
        latest = {r["k"]: r["v"] for r in kv._open_store(opts).rows}
        assert latest[5] == 51.0 and latest[6] == 60.0 and latest[7] == 7.0
        # history: newest-first, capped at N=3 (base ts=0 still visible)
        hist = kv.get_kv_versions(opts, [{"k": 5}])[0]
        assert [(h["__ts"], h["v"]) for h in hist] == [
            (20, 51.0), (10, 50.0), (0, 5.0),
        ]
        # a fourth version pushes the oldest out of the N-window
        kv.put_kv_versions(opts, [{"k": 5, "v": 52.0, "__ts": 30}])
        hist = kv.get_kv_versions(opts, [{"k": 5}])[0]
        assert [(h["__ts"], h["v"]) for h in hist] == [
            (30, 52.0), (20, 51.0), (10, 50.0),
        ]
        # time-range Get filters BEFORE the cap (pre-compaction HBase
        # serves versions still physically present, so a ranged Get
        # agrees with the as-of scan at the same logical timestamp)
        ranged = kv.get_kv_versions(opts, [{"k": 5}], min_ts=5, max_ts=20)[0]
        assert [(h["__ts"], h["v"]) for h in ranged] == [(20, 51.0), (10, 50.0)]
        # the divergence case the ordering fixes: ts=0 is beyond-N at
        # read time but not yet folded away — a range covering only it
        # still serves it (post-fold it is physically gone: see
        # test_fold_prunes_beyond_n* for the narrowing)
        ranged = kv.get_kv_versions(opts, [{"k": 5}], max_ts=0)[0]
        assert [(h["__ts"], h["v"]) for h in ranged] == [(0, 5.0)]
        # same key + same ts overwrites THAT version (HBase semantics)
        kv.put_kv_versions(opts, [{"k": 5, "v": 99.0, "__ts": 30}])
        assert kv.get_kv_versions(opts, [{"k": 5}])[0][0]["v"] == 99.0

    def test_delete_masks_and_put_revives(self, tmp_path):
        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "v2")
        kv.put_kv_versions(opts, [{"k": 3, "v": 30.0, "__ts": 10}])
        kv.delete_kv_versions(opts, [3], ts=15)
        # masked: every version at-or-below ts=15 reads absent
        assert kv.get_store_rows(opts, [{"k": 3}]) == [None]
        assert kv.get_kv_versions(opts, [{"k": 3}]) == [[]]
        assert 3 not in {r["k"] for r in kv._open_store(opts).rows}
        # a LATER put revives; masked history stays hidden
        kv.put_kv_versions(opts, [{"k": 3, "v": 33.0, "__ts": 20}])
        assert kv.get_store_rows(opts, [{"k": 3}])[0] == {"k": 3, "v": 33.0}
        hist = kv.get_kv_versions(opts, [{"k": 3}])[0]
        assert [(h["__ts"], h["v"]) for h in hist] == [(20, 33.0)]

    def test_fold_prunes_beyond_n_and_preserves_answers(self, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "v3")
        for ts in (10, 20, 30, 40):  # 4 versions + base ts=0; N=3
            kv.put_kv_versions(opts, [{"k": 2, "v": 2.0 + ts, "__ts": ts}])
        kv.delete_kv_versions(opts, [4], ts=10)
        before_hist = kv.get_kv_versions(opts, [{"k": 2}, {"k": 4}])
        before_latest = {r["k"]: r["v"] for r in kv._open_store(opts).rows}

        st = kv.compact_store(opts)
        assert st["compacted"]

        # answers unchanged across the fold
        assert kv.get_kv_versions(opts, [{"k": 2}, {"k": 4}]) == before_hist
        assert {
            r["k"]: r["v"] for r in kv._open_store(opts).rows
        } == before_latest
        # physical prune: k=2 keeps exactly N=3 version rows on disk,
        # k=4's masked row and its tombstone are gone
        gen = kv._resolve_generation(opts)
        rows = []
        for rg in gen["regions"]:
            rows += pq.read_table(
                os.path.join(gen["dir"], rg["file"])
            ).to_pylist()
        k2 = sorted(r["__ts"] for r in rows if r["k"] == 2)
        assert k2 == [20, 30, 40]
        assert not [r for r in rows if r["k"] == 4]
        # a key's versions never straddle region files (routing safety)
        for rg in gen["regions"]:
            keys_in = {
                r["k"]
                for r in pq.read_table(
                    os.path.join(gen["dir"], rg["file"])
                ).to_pylist()
            }
            for other in gen["regions"]:
                if other["file"] != rg["file"]:
                    other_keys = {
                        r["k"]
                        for r in pq.read_table(
                            os.path.join(gen["dir"], other["file"])
                        ).to_pylist()
                    }
                    assert not keys_in & other_keys
        # post-fold writes and reads keep working (gen rows carry __ts)
        kv.put_kv_versions(opts, [{"k": 2, "v": 999.0, "__ts": 50}])
        hist = kv.get_kv_versions(opts, [{"k": 2}])[0]
        assert [(h["__ts"], h["v"]) for h in hist] == [
            (50, 999.0), (40, 42.0), (30, 32.0),
        ]
        st2 = kv.compact_store(opts)  # second fold over a versioned gen
        assert st2["compacted"]
        assert kv.get_store_rows(opts, [{"k": 2}])[0]["v"] == 999.0

    def test_wal_carries_ts_and_replays_exactly(self, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "v4")
        kv.put_kv_versions(opts, [{"k": 1, "v": 11.0, "__ts": 10}])
        kv.delete_kv_versions(opts, [1], ts=12)
        kv.put_kv_versions(opts, [{"k": 1, "v": 13.0, "__ts": 14}])
        want_hist = kv.get_kv_versions(opts, [{"k": 1}])
        want_latest = kv.get_store_rows(opts, [{"k": 1}])

        # every WAL entry carries the version timestamp column
        log_dir = kv.changelog_dir(opts)
        for f in sorted(glob.glob(os.path.join(log_dir, "*.parquet"))):
            t = pq.read_table(f)
            assert "__ts" in t.schema.names, f
        # crash simulation: lose the overlay, recover purely from WAL
        os.unlink(kv.overlay_path(opts))
        n = kv.recover_overlay(opts)
        assert n == 3
        assert kv.get_kv_versions(opts, [{"k": 1}]) == want_hist
        assert kv.get_store_rows(opts, [{"k": 1}]) == want_latest

    def test_bare_rowkey_writers_reject_versioned(self, tmp_path):
        import pytest

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "v5")
        with pytest.raises(ValueError, match="versioned store"):
            kv.delete_from_store(opts, [1])
        with pytest.raises(ValueError, match="versioned store"):
            kv.increment_store(opts, [{"k": 1, "v": 1.0}])
        with pytest.raises(ValueError, match="versioned store"):
            kv.append_store(opts, [{"k": 1, "v": 1.0}])
        with pytest.raises(ValueError, match="versioned store"):
            kv.KVUpsertWriter(opts).commit(
                [kv.KVWriteMessage([{"k": 1, "v": 1.0}])]
            )
        # and the versioned writers reject unversioned stores
        plain = TestDistributedFold._store(self, tmp_path, "v5p")
        with pytest.raises(ValueError, match="versions>=2"):
            kv.put_kv_versions(plain, [{"k": 1, "v": 1.0, "__ts": 1}])


class TestVersionsFacade:
    """Round-12: the engine facades for the versioned API mirror the
    mutation quintet's facades (one client surface on KtSqlEngine)."""

    _store = TestVersions._store

    def test_engine_facade_roundtrip(self, spark, tmp_path):
        from kt_sql_hbase_ex_spark.engine import KtSqlEngine

        opts = self._store(tmp_path, "vfac")
        eng = KtSqlEngine(spark)
        eng.put_kv_versions(
            [{"k": 2, "v": 20.0, "__ts": 10},
             {"k": 2, "v": 21.0, "__ts": 20}],
            **opts,
        )
        hist = eng.get_kv_versions([{"k": 2}], **opts)[0]
        assert [(h["__ts"], h["v"]) for h in hist] == [
            (20, 21.0), (10, 20.0), (0, 2.0),
        ]
        ranged = eng.get_kv_versions(
            [{"k": 2}], min_ts=5, max_ts=15, **opts
        )[0]
        assert [(h["__ts"], h["v"]) for h in ranged] == [(10, 20.0)]
        eng.delete_kv_versions([2], ts=25, **opts)
        assert eng.get_kv_versions([{"k": 2}], **opts) == [[]]
        assert eng.multi_get_kv([{"k": 2}], **opts) == [None]


class TestVersionsBoundaries:
    """Round-12 review fixes: the surfaces whose bare-rowkey shape
    would corrupt versioned state reject loudly, snapshots carry the
    versions setting, and legacy bloom specs never false-negate."""

    _store = TestVersions._store

    def test_change_feed_replicates_version_state(self, spark, tmp_path):
        """The feed carries __ts for versioned stores and the CDC
        apply replays version EVENTS, so a versioned replica converges
        to the source exactly — including the divergence scenario the
        round-12 review flagged: a put under a newer tombstone
        (put ts=10/20, delete ts=25) must replay MASKED, never live,
        even when a multi-commit recovery batch delivers all three
        commits at once (where a per-key last-wins collapse would
        corrupt version history)."""
        from kt_sql_hbase_ex_spark.sources import kvstore as kv
        from kt_sql_hbase_ex_spark.streaming.events import apply_cdc_batch

        src = self._store(tmp_path, "vfeed_src", n=0)
        rep = self._store(tmp_path, "vfeed_rep", n=0)
        kv.register_kv_source(spark)

        # interleaved version history across four commits
        kv.put_kv_versions(
            src, [{"k": 1, "v": 11.0, "__ts": 10}, {"k": 3, "v": 31.0, "__ts": 10}]
        )
        kv.put_kv_versions(
            src, [{"k": 1, "v": 12.0, "__ts": 20}, {"k": 3, "v": 32.0, "__ts": 20}]
        )
        kv.delete_kv_versions(src, [1, 3], ts=25)
        kv.put_kv_versions(src, [{"k": 1, "v": 13.0, "__ts": 30}])

        feed = spark.read.format(kv.CHANGES_FORMAT_NAME).options(
            **{k: str(v) for k, v in src.items()}
        ).load()
        assert "__ts" in feed.columns
        # ONE batch spanning all commits — the recovery-replay shape
        apply_cdc_batch(feed, {
            "path": rep["path"], "keyCol": "k", "columns": "k,v",
            "regionSize": rep["regionsize"], "versions": rep["versions"],
            "appId": rep["appid"],
        })

        probes = [{"k": 1}, {"k": 3}]
        assert kv.get_kv_versions(rep, probes) == kv.get_kv_versions(
            src, probes
        )
        # k=1 revived above the tombstone; k=3 fully masked (the
        # pre-fix bug read k=3 LIVE at ts=20 on the replica)
        assert kv.get_store_rows(rep, probes) == kv.get_store_rows(
            src, probes
        )
        assert kv.get_store_rows(rep, [{"k": 3}]) == [None]
        # idempotent: re-applying the same batch changes nothing
        apply_cdc_batch(feed, {
            "path": rep["path"], "keyCol": "k", "columns": "k,v",
            "regionSize": rep["regionsize"], "versions": rep["versions"],
            "appId": rep["appid"],
        })
        assert kv.get_kv_versions(rep, probes) == kv.get_kv_versions(
            src, probes
        )

    def test_snapshot_carries_versions_and_clone_validates(
        self, spark, tmp_path
    ):
        import pytest

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        opts = self._store(tmp_path, "vsnap")
        kv.put_kv_versions(
            opts,
            [{"k": 1, "v": 11.0, "__ts": 10}, {"k": 1, "v": 12.0, "__ts": 20}],
        )
        manifest = kv.snapshot_store(opts, "s1")
        assert manifest["versions"] == 3

        # restore into the SAME versioned store: version state survives
        kv.put_kv_versions(opts, [{"k": 1, "v": 13.0, "__ts": 30}])
        out = kv.restore_store(opts, "s1")
        assert out["published"]
        hist = kv.get_kv_versions(opts, [{"k": 1}])[0]
        assert [(h["__ts"], h["v"]) for h in hist] == [
            (20, 12.0), (10, 11.0), (0, 1.0),
        ]

        # clone into an UNVERSIONED target: rejected loudly (the
        # versioned region files hold N rows per key + __ts — an
        # unversioned scan would serve duplicates/stale rows silently)
        plain = TestDistributedFold._store(self, tmp_path, "vsnapp")
        with pytest.raises(kv.SnapshotError, match="versions"):
            kv.clone_store_snapshot(opts, "s1", plain)

    def test_legacy_bloom_spec_never_false_negates(self):
        from decimal import Decimal

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        # new specs carry the codec version
        spec = kv._bloom_build([5, 7])
        assert spec.startswith("2:")
        assert kv._bloom_has(spec, 5) and kv._bloom_has(spec, Decimal("5"))
        assert not kv._bloom_has(spec, 6)
        # a legacy (pre-version) spec: repr() matched the canonical
        # codec for int/str, so those keys still resolve — but key
        # types whose repr CHANGED (Decimal/float/temporals) answer
        # might-contain instead of risking a stale-hash false negative
        legacy = spec[len("2:"):]
        assert kv._bloom_has(legacy, 5)
        assert not kv._bloom_has(legacy, 6)
        assert kv._bloom_has(legacy, Decimal("6")) is True  # lossless
        assert kv._bloom_has(legacy, 6.0) is True

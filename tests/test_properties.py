"""Property-based tests (hypothesis): operator semantics checked against
naive in-Python reference implementations on generated inputs.

This is the layer the reference entirely lacked (its tests eyeballed
println output, ``test/HBaseTest.kt``) and that the driver's fixed
fixtures can't give: adversarial small inputs — empty sides, duplicate
keys, equal timestamps, all-null columns.

Each property builds a tiny DataFrame from generated rows, runs the
*same helper the production queries use*, and compares against a
pure-Python model of the semantics.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark.operators.dml import delete_keys, upsert_on_key

_settings = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

KEYS = st.integers(min_value=0, max_value=9)
VALS = st.integers(min_value=-100, max_value=100)

rows = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=20)
# unique-key variant for the tables that model a PK side
urows = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=20, unique_by=lambda r: r[0])


@given(base=urows, changes=urows)
@_settings
def test_upsert_semantics(spark, base, changes):
    """upsert(base, changes): every change key shows its change value;
    untouched base keys survive unchanged; no key duplicated."""
    b = spark.createDataFrame(base or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    c = spark.createDataFrame(changes or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    got = {r.k: r.v for r in upsert_on_key(b, c, ["k"]).collect()}
    expected = dict(base)
    expected.update(dict(changes))
    assert got == expected


@given(base=rows, keys=st.lists(KEYS, min_size=0, max_size=10))
@_settings
def test_delete_semantics(spark, base, keys):
    """delete_keys removes exactly the rows whose key is in the key set
    (all duplicates of a deleted key go; non-matching rows all stay)."""
    b = spark.createDataFrame(base or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    kdf = spark.createDataFrame([(k,) for k in keys] or [(None,)], "k int").filter(
        F.col("k").isNotNull()
    )
    got = sorted((r.k, r.v) for r in delete_keys(b, kdf, ["k"]).collect())
    expected = sorted((k, v) for k, v in base if k not in set(keys))
    assert got == expected


TS = st.integers(min_value=0, max_value=50)


@given(
    clicks=st.lists(st.tuples(KEYS, TS), min_size=0, max_size=15),
    purchases=st.lists(st.tuples(KEYS, TS, VALS), min_size=0, max_size=15),
)
@_settings
def test_asof_join_semantics(spark, clicks, purchases):
    """The union+window as-of join equals the naive per-row 'latest
    purchase with ts <= click.ts for the same user' — including equal
    timestamps (inclusive) and users with no purchase (null)."""
    epoch = dt.datetime(2024, 1, 1)
    events = [
        (i, epoch + dt.timedelta(minutes=t), u, "click", 0.0, "{}")
        for i, (u, t) in enumerate(clicks)
    ] + [
        (1000 + i, epoch + dt.timedelta(minutes=t), u, "purchase", float(v), "{}")
        for i, (u, t, v) in enumerate(purchases)
    ]
    df = spark.createDataFrame(
        events or [(None, None, None, None, None, None)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).filter(F.col("event_id").isNotNull())

    # production logic, parameterized on the DataFrame instead of sf_dir
    import kt_sql_hbase_ex_spark.operators.timeseries as tsmod
    from unittest import mock

    with mock.patch.object(tsmod, "load_table", lambda _s, _d, _n: df):
        got = {
            r.click_id: (r.purchase_ts, r.purchase_value)
            for r in tsmod.ts01_asof_join(spark, "ignored").collect()
        }

    expected = {}
    for i, (u, t) in enumerate(clicks):
        cts = epoch + dt.timedelta(minutes=t)
        cands = [
            (epoch + dt.timedelta(minutes=pt), float(v))
            for (pu, pt, v) in purchases
            if pu == u and epoch + dt.timedelta(minutes=pt) <= cts
        ]
        # naive model: latest ts wins; ties on ts -> the window's last()
        # sees rows ordered by (ts, side) and duplicate purchase ts for
        # one user is resolved by arrival order, so compare ts only.
        expected[i] = max(cands)[0] if cands else None
    assert set(got) == set(expected)
    for cid, exp_ts in expected.items():
        assert got[cid][0] == exp_ts, (cid, got[cid], exp_ts)


@given(docs=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), max_size=8))
@_settings
def test_minhash_lsh_finds_exact_duplicates(spark, docs):
    """Recall floor: identical documents (>=3 tokens) always collide in
    every band, so LSH must report every exact-duplicate pair with
    jaccard 1.0."""
    import kt_sql_hbase_ex_spark.functions.dedup as dd
    from unittest import mock

    # duplicate every doc, ids: original i, copy 100+i
    data = [(i, t, "en", "src", len(t)) for i, t in enumerate(docs)] + [
        (100 + i, t, "en", "src", len(t)) for i, t in enumerate(docs)
    ]
    df = spark.createDataFrame(
        data or [(None, None, None, None, None)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).filter(F.col("doc_id").isNotNull())

    with mock.patch.object(dd, "load_table", lambda _s, _d, _n: df):
        pairs = {
            (r.doc_a, r.doc_b)
            for r in dd.d03_minhash_lsh(spark, "ignored").collect()
        }
    for i, t in enumerate(docs):
        if len([x for x in t.split(" ") if x != ""]) >= 0 and len(t.split(" ")) >= 3:
            assert (i, 100 + i) in pairs, (i, t, pairs)


@given(docs=st.lists(st.text(alphabet="xy ", min_size=1, max_size=200), min_size=1, max_size=6))
@_settings
def test_chunking_covers_every_token_exactly(spark, docs):
    """tr09 invariants vs the Python model: chunks tile each document
    with stride CHUNK_S — every token falls in >=1 chunk, consecutive
    chunk starts differ by exactly the stride, the last chunk reaches
    the final token, and a short doc yields exactly one chunk."""
    from unittest import mock

    import kt_sql_hbase_ex_spark.functions.pipeline as pl

    data = [(i, t, "en", "src", len(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with mock.patch.object(pl, "load_table", lambda _s, _d, _n: df):
        rows = pl.tr09_token_window_chunking(spark, "ignored").collect()

    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(docs):
        n = len(t.split(" "))  # split semantics match split(text, ' ')
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        starts = [c.chunk_start for c in chunks]
        assert starts[0] == 1
        assert all(b - a == pl.CHUNK_S for a, b in zip(starts, starts[1:]))
        # full coverage: last chunk ends at the last token
        last = chunks[-1]
        assert last.chunk_start + last.n_tokens - 1 == n, (t, chunks)
        if n <= pl.CHUNK_W:
            assert len(chunks) == 1 and last.n_tokens == n
        # no chunk overruns the doc or the window size
        assert all(0 < c.n_tokens <= pl.CHUNK_W for c in chunks)


def test_dedup_collapse_conserves_totals(spark, sf_small):
    """d07 conservation: per language, kept <= total, chars_kept <=
    chars_total, and the reductions equal the sum over clusters of
    (cluster_size - 1) members' sizes — i.e. exactly one survivor per
    cluster is retained and it is the longest member."""
    from kt_sql_hbase_ex_spark.functions.dedup import (
        d06_neardup_clusters,
        d07_dedup_collapse_report,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    report = {r.lang: r for r in d07_dedup_collapse_report(spark, sf_small).collect()}
    docs = {
        r.doc_id: (r.lang, r.n_chars)
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id", "lang", "n_chars")
        .collect()
    }
    clusters: dict[int, list[int]] = {}
    for r in d06_neardup_clusters(spark, sf_small).collect():
        clusters.setdefault(r.cluster_id, []).append(r.doc_id)
    exp_drop_n: dict[str, int] = {}
    exp_drop_chars: dict[str, int] = {}
    for members in clusters.values():
        ranked = sorted(members, key=lambda d: (-docs[d][1], d))
        for d in ranked[1:]:  # everything but the longest member drops
            lang, chars = docs[d]
            exp_drop_n[lang] = exp_drop_n.get(lang, 0) + 1
            exp_drop_chars[lang] = exp_drop_chars.get(lang, 0) + chars
    for lang, r in report.items():
        assert r.n_kept == r.n_docs - exp_drop_n.get(lang, 0), (lang, r)
        assert r.chars_kept == r.chars_total - exp_drop_chars.get(lang, 0), (lang, r)


def test_exact_sum_invariant_under_repartitioning(spark, sf_oracle):
    """The exact-decimal money sum must be bit-identical no matter how
    the input is partitioned — the order-independence plain double sums
    lack (functions/money.py). Run the a01-shape charge sum over four
    different partitionings and require exact equality."""
    from kt_sql_hbase_ex_spark.functions.money import exact_sum
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    li = load_table(spark, sf_oracle, "lineitem")
    charge = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )

    def run(df):
        return {
            r.l_returnflag: r.total
            for r in df.groupBy("l_returnflag")
            .agg(exact_sum(charge).alias("total"))
            .collect()
        }

    baseline = run(li)
    for n in (1, 3, 13, 64):
        assert run(li.repartition(n)) == baseline, n
    # and under a different (clustered) distribution
    assert run(li.repartition("l_suppkey")) == baseline


def test_exact_sum_wide_variant_equal(spark, sf_oracle):
    """exact_sum (long micros) and exact_sum_wide (decimal128 micros)
    are the same fixed-point arithmetic at different accumulator widths:
    within the long bound they must agree bit-for-bit."""
    from kt_sql_hbase_ex_spark.functions.money import exact_sum, exact_sum_wide
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    li = load_table(spark, sf_oracle, "lineitem")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            exact_sum(charge).alias("narrow"),
            exact_sum_wide(charge).alias("wide"),
        )
        .collect()
    )
    assert rows and all(r.narrow == r.wide for r in rows), rows


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.integers(min_value=0, max_value=500), # ts (minutes)
            VALS,
        ),
        min_size=0,
        max_size=30,
    )
)
@_settings
def test_sessionize_semantics(spark, events):
    """ev01's lag/cumsum sessionization against a naive python model:
    same gap rule (strictly-greater-than closes), inclusive boundary
    event at exactly gap minutes stays in-session."""
    import kt_sql_hbase_ex_spark.operators.events_analytics as ea

    gap_min = ea.SESSION_GAP_MINUTES
    rows = [
        (i, u, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), float(v))
        for i, (u, m, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None, None)],
        "event_id long, user_id long, ts timestamp, value double",
    ).filter(F.col("event_id").isNotNull())

    got = {
        (r.user_id, r.session_seq): r.n
        for r in ea.session_assignments(df)
        .groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    expected: dict[tuple[int, int], int] = {}
    by_user: dict[int, list[tuple]] = {}
    for i, u, t, v in rows:
        by_user.setdefault(u, []).append((t, i))
    for u, evs in by_user.items():
        evs.sort()
        seq = 0
        prev = None
        for t, _ in evs:
            if prev is None or (t - prev).total_seconds() > gap_min * 60:
                seq += 1
            prev = t
            expected[(u, seq)] = expected.get((u, seq), 0) + 1
    assert got == expected


@given(
    base=urows,
    log=st.lists(
        st.tuples(KEYS, st.sampled_from(["I", "U", "D"]), VALS),
        min_size=0,
        max_size=15,
    ),
)
@_settings
def test_cdc_last_wins_semantics(spark, base, log):
    """dml07's compact-then-merge against a naive sequential replay of
    the change log: the two must agree for every I/U/D interleaving,
    including delete-then-reinsert revivals."""
    b = spark.createDataFrame(base or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    l = spark.createDataFrame(
        [(i, op, k, v) for i, (k, op, v) in enumerate(log)] or [(None, None, None, None)],
        "seq int, op string, k int, v int",
    ).filter(F.col("seq").isNotNull())

    from kt_sql_hbase_ex_spark.operators.dml import apply_cdc

    got = {r.k: r.v for r in apply_cdc(b, l, key_cols=["k"]).collect()}

    expected = dict(base)
    for k, op, v in log:  # sequential replay
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = v
    assert got == expected


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # user
            st.integers(min_value=0, max_value=40),   # ts (hours)
            st.integers(min_value=0, max_value=2),    # step rank
        ),
        min_size=0,
        max_size=25,
    ),
    windowed=st.booleans(),
)
@_settings
def test_funnel_state_machine_semantics(spark, events, windowed):
    """ev02/ev06's sorted-array `aggregate` state machine against a
    naive sequential replay of the same greedy first-touch rule —
    including the optional per-step conversion window — on adversarial
    orderings, duplicate timestamps, and missing steps."""
    import kt_sql_hbase_ex_spark.operators.events_analytics as ea

    win_h = ea.CONVERSION_WINDOW_HOURS if windowed else None
    step_names = list(ea.FUNNEL_STEPS)
    rows = [
        (
            i,
            u,
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=h),
            step_names[r],
            0.0,
            "{}",
        )
        for i, (u, h, r) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None, None, None, None)],
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    ).filter(F.col("event_id").isNotNull())

    win_us = None if win_h is None else win_h * 3600 * 1_000_000
    # drive the production engine directly on the synthetic frame
    import unittest.mock as mock

    with mock.patch.object(ea, "load_table", lambda _s, _d, _n: df):
        got = {
            r.step_idx: r.n_users
            for r in ea._run_funnel(spark, "unused", win_us=win_us).collect()
        }

    # naive replay: greedy first-touch chain per user over (ts, step)-
    # sorted events, optional window on each step's gap
    by_user: dict[int, list] = {}
    for i, (u, h, r) in enumerate(events):
        by_user.setdefault(u, []).append(
            (dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), r)
        )
    depths = []
    for evs in by_user.values():
        evs.sort()
        depth, last_t = 0, None
        for t, r in evs:
            in_win = (
                depth == 0
                or win_h is None
                or (t - last_t).total_seconds() <= win_h * 3600
            )
            if r == depth and in_win:
                depth, last_t = depth + 1, t
        depths.append(depth)
    expected = {
        i + 1: sum(1 for d in depths if d >= i + 1) for i in range(len(step_names))
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Money micro-unit integerization: the add-half-truncate hot path must
# recover EXACTLY round-half-away-from-zero for every value the money
# domain can produce (<= 3 factors of 2 decimals each). Pure-Python
# mirror of the JVM expression — same IEEE doubles, no session needed.
# ---------------------------------------------------------------------------

import math


def _micros_formula(x: float) -> int:
    """The kt_sql_hbase_ex_spark.functions.money._micros recipe:
    scaled = x * 1e6; trunc-toward-zero of scaled ± 0.5 (Spark's
    CAST(double AS bigint) truncates toward zero)."""
    scaled = x * 1_000_000
    return math.trunc(scaled + (0.5 if scaled >= 0 else -0.5))


_cents2 = st.integers(-9_999_999, 9_999_999).map(lambda c: c / 100)  # 2dp
_pct2 = st.integers(-99, 99).map(lambda c: c / 100)  # 2dp in [-0.99, 0.99]


@given(x=_cents2)
def test_micros_equals_round_single_factor(x):
    # authoritative check: against exact decimal arithmetic
    from decimal import ROUND_HALF_UP, Decimal

    exact = int(
        (Decimal(str(x)) * 1_000_000).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        if x >= 0
        else -(Decimal(str(-x)) * 1_000_000).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
    )
    assert _micros_formula(x) == exact, x


@given(p=_cents2, d=_pct2, t=_pct2)
def test_micros_equals_round_three_factor_product(p, d, t):
    """The worst money expression in the fixtures:
    price * (1 - discount) * (1 + tax) — a product of three 2dp
    factors, true value has <= 6 decimals. The double product sits
    within ~1e-9 of the exact 6dp value, so add-half-truncate and exact
    decimal HALF_UP (away from zero) agree ALWAYS."""
    from decimal import ROUND_HALF_UP, Decimal

    x = p * (1 - d) * (1 + t)
    exact_dec = (
        Decimal(str(p)) * (1 - Decimal(str(d))) * (1 + Decimal(str(t))) * 1_000_000
    )
    sign = 1 if exact_dec >= 0 else -1
    exact = sign * int(
        abs(exact_dec).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )
    assert _micros_formula(x) == exact, (p, d, t)


@given(
    rows=st.lists(
        st.tuples(KEYS, VALS), min_size=0, max_size=25, unique_by=lambda r: r[0]
    )
)
@_settings
def test_striped_global_rank_matches_total_order(spark, rows):
    """striped_global_rank (tr04's scale-safe two-pass form) must equal
    the naive global ROW_NUMBER for any input — including duplicate
    weights (doc-id tiebreak), empty input, and single rows — for any
    sampled range boundaries."""
    from kt_sql_hbase_ex_spark.functions.pipeline import striped_global_rank

    df = spark.createDataFrame(rows or [(None, None)], "k int, w int").filter(
        F.col("k").isNotNull()
    )
    got = {
        r["k"]: r["rank"]
        for r in striped_global_rank(df, [F.desc("w"), F.asc("k")]).collect()
    }
    expected = {
        k: i + 1
        for i, (k, _w) in enumerate(sorted(rows, key=lambda r: (-r[1], r[0])))
    }
    assert got == expected


@given(
    cents=st.lists(st.integers(-10**9, 10**9), min_size=0, max_size=30),
    seed=st.integers(0, 2**16),
)
@_settings
def test_stateful_micros_batching_independent(cents, seed):
    """st06's pandas-side micro-unit integerization (np add-half-trunc)
    must recover the exact cents*1e4 integer per row and therefore sum
    to the same total under ANY batching split — the property that
    makes the streaming money state equal the batch oracle."""
    import random

    import numpy as np

    values = [c / 100.0 for c in cents]

    def batch_micros(vs):
        if not vs:
            return 0
        scaled = np.array(vs, dtype="float64") * 1e6
        return int(
            np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
            .astype("int64")
            .sum()
        )

    exact = sum(c * 10_000 for c in cents)
    assert batch_micros(values) == exact

    rng = random.Random(seed)
    cuts = sorted(rng.randint(0, len(values)) for _ in range(3))
    parts = [
        values[: cuts[0]],
        values[cuts[0] : cuts[1]],
        values[cuts[1] : cuts[2]],
        values[cuts[2] :],
    ]
    assert sum(batch_micros(p) for p in parts) == exact


@given(
    target=urows,
    source=st.lists(
        st.tuples(KEYS, VALS), min_size=0, max_size=12, unique_by=lambda r: r[0]
    ),
    d0=VALS,
    i0=VALS,
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_facade_merge_semantics(spark, target, source, d0, i0):
    """Facade MERGE INTO vs an independent Python model: first-match-wins
    clause order (DELETE guard before the unconditional UPDATE), UPDATE
    over the OLD row, conditional NOT MATCHED insert, and the metrics
    row — across random tables and random clause thresholds."""
    from kt_sql_hbase_ex_spark.engine import KtSqlEngine
    from kt_sql_hbase_ex_spark.operators.ddl import _reset_table

    eng = KtSqlEngine(spark)
    if not spark.catalog.tableExists("ktsql_prop_merge"):
        # clear any orphaned warehouse location a prior process left
        _reset_table(spark, "ktsql_prop_merge")
        spark.sql("CREATE TABLE ktsql_prop_merge (k INT, v INT) USING parquet")
    spark.createDataFrame(target or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    ).write.insertInto("ktsql_prop_merge", overwrite=True)
    spark.createDataFrame(source or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    ).createOrReplaceTempView("ktsql_prop_merge_src")

    r = eng.sql(
        f"MERGE INTO ktsql_prop_merge t USING ktsql_prop_merge_src s ON t.k = s.k "
        f"WHEN MATCHED AND s.v < {d0} THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
        f"WHEN NOT MATCHED AND s.v >= {i0} THEN INSERT (k, v) VALUES (s.k, s.v)"
    ).first()

    exp = dict(target)
    n_upd = n_del = n_ins = 0
    for k, d in source:
        if k in exp:
            if d < d0:
                del exp[k]
                n_del += 1
            else:
                exp[k] = exp[k] + d
                n_upd += 1
        elif d >= i0:
            exp[k] = d
            n_ins += 1

    got = {row.k: row.v for row in spark.table("ktsql_prop_merge").collect()}
    assert got == exp
    assert (
        r["num_updated_rows"], r["num_deleted_rows"], r["num_inserted_rows"],
    ) == (n_upd, n_del, n_ins)


@given(
    target=urows,
    source=st.lists(
        st.tuples(KEYS, VALS), min_size=0, max_size=12, unique_by=lambda r: r[0]
    ),
    d0=VALS,
    i0=VALS,
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_facade_merge_semantics_partitioned(spark, target, source, d0, i0):
    """The SAME merge model on a PARTITIONED target: the pruned-scope
    MERGE path (matched ∪ insert partitions, dynamic overwrite,
    DELETE-emptied partition drops) must be observationally identical
    to the unpartitioned full-overwrite semantics — across random
    tables, thresholds, and therefore random scope shapes (including
    empty scopes, insert-only new partitions, and fully-emptied ones)."""
    from kt_sql_hbase_ex_spark.engine import KtSqlEngine
    from kt_sql_hbase_ex_spark.operators.ddl import _reset_table

    eng = KtSqlEngine(spark)
    if not spark.catalog.tableExists("ktsql_prop_merge_p"):
        _reset_table(spark, "ktsql_prop_merge_p")
        spark.sql(
            "CREATE TABLE ktsql_prop_merge_p (k INT, v INT, p INT) "
            "USING parquet PARTITIONED BY (p)"
        )
    spark.createDataFrame(
        [(k, v, k % 3) for k, v in target] or [(None, None, None)],
        "k int, v int, p int",
    ).filter(F.col("k").isNotNull()).write.insertInto(
        "ktsql_prop_merge_p", overwrite=True
    )
    # static overwrite with no incoming rows leaves stale partitions:
    # clear explicitly so each example starts pristine
    if not target:
        for r in spark.sql("SHOW PARTITIONS ktsql_prop_merge_p").collect():
            spark.sql(
                f"ALTER TABLE ktsql_prop_merge_p DROP IF EXISTS "
                f"PARTITION ({r[0].replace('=', '=')})"
            )
    spark.createDataFrame(source or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    ).createOrReplaceTempView("ktsql_prop_merge_p_src")

    r = eng.sql(
        f"MERGE INTO ktsql_prop_merge_p t USING ktsql_prop_merge_p_src s "
        f"ON t.k = s.k "
        f"WHEN MATCHED AND s.v < {d0} THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
        f"WHEN NOT MATCHED AND s.v >= {i0} THEN "
        f"INSERT (k, v, p) VALUES (s.k, s.v, s.k % 3)"
    ).first()

    exp = {k: (v, k % 3) for k, v in target}
    n_upd = n_del = n_ins = 0
    for k, d in source:
        if k in exp:
            if d < d0:
                del exp[k]
                n_del += 1
            else:
                exp[k] = (exp[k][0] + d, k % 3)
                n_upd += 1
        elif d >= i0:
            exp[k] = (d, k % 3)
            n_ins += 1

    got = {
        row.k: (row.v, row.p)
        for row in spark.table("ktsql_prop_merge_p").collect()
    }
    assert got == exp
    assert (
        r["num_updated_rows"], r["num_deleted_rows"], r["num_inserted_rows"],
    ) == (n_upd, n_del, n_ins)


@given(
    target=urows,
    d0=VALS,
    i0=VALS,
    do_update=st.booleans(),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_facade_partitioned_update_delete_semantics(spark, target, d0, i0, do_update):
    """Pruned UPDATE/DELETE on a partitioned target vs the Python
    model, across random tables and random predicates — random scope
    shapes: zero matches, partial partitions, fully-emptied partitions
    (DELETE must drop them), and all-partitions scopes."""
    from kt_sql_hbase_ex_spark.engine import KtSqlEngine
    from kt_sql_hbase_ex_spark.operators.ddl import _reset_table

    eng = KtSqlEngine(spark)
    if not spark.catalog.tableExists("ktsql_prop_ud_p"):
        _reset_table(spark, "ktsql_prop_ud_p")
        spark.sql(
            "CREATE TABLE ktsql_prop_ud_p (k INT, v INT, p INT) "
            "USING parquet PARTITIONED BY (p)"
        )
    spark.createDataFrame(
        [(k, v, k % 3) for k, v in target] or [(None, None, None)],
        "k int, v int, p int",
    ).filter(F.col("k").isNotNull()).write.insertInto(
        "ktsql_prop_ud_p", overwrite=True
    )
    if not target:
        for r in spark.sql("SHOW PARTITIONS ktsql_prop_ud_p").collect():
            spark.sql(
                f"ALTER TABLE ktsql_prop_ud_p DROP IF EXISTS PARTITION ({r[0]})"
            )

    if do_update:
        n = eng.sql(
            f"UPDATE ktsql_prop_ud_p SET v = v + {i0} WHERE v < {d0}"
        ).first()["num_affected_rows"]
        exp = {
            k: ((v + i0) if v < d0 else v, k % 3) for k, v in target
        }
        n_exp = sum(1 for _, v in target if v < d0)
    else:
        n = eng.sql(f"DELETE FROM ktsql_prop_ud_p WHERE v < {d0}").first()[
            "num_affected_rows"
        ]
        exp = {k: (v, k % 3) for k, v in target if not v < d0}
        n_exp = sum(1 for _, v in target if v < d0)

    got = {
        row.k: (row.v, row.p) for row in spark.table("ktsql_prop_ud_p").collect()
    }
    assert got == exp and n == n_exp


# ---------------------------------------------------------------------------
# the facade's SQL lexer: generative round-trip over composed scripts
# ---------------------------------------------------------------------------

#: statement bodies whose text exercises every masking class the lexer
#: tracks: plain syntax, both quote styles with both escape styles,
#: backticked identifiers containing separators, and parens
_BODIES = st.sampled_from(
    [
        "SELECT 1",
        "SELECT 'a;b'",
        "SELECT 'don\\'t; stop'",
        "SELECT 'it''s; fine'",
        'SELECT "x;--y"',
        "SELECT `a;b` FROM t",
        "SELECT `x--y`, f(1, 2) FROM t",
        "UPDATE t SET v = 'w; -- here' WHERE k = 1",
        "SELECT concat('a,b', ';') FROM t",
    ]
)

#: inter-statement noise: whitespace and both comment forms, including
#: quotes/semicolons INSIDE comments and nested block comments
_NOISE = st.lists(
    st.sampled_from(
        [
            " ",
            "\n",
            "\t",
            "-- don't; split\n",
            "--;;\n",
            "/* a; 'b' */",
            "/* outer /* inner; */ tail; */",
        ]
    ),
    max_size=3,
).map("".join)


@given(st.lists(st.tuples(_NOISE, _BODIES, _NOISE), min_size=1, max_size=5))
@_settings
def test_statement_splitter_roundtrip(parts):
    """Composing N known statements with ';' and arbitrary comment/
    whitespace noise, the splitter returns exactly those N statements —
    no mis-split inside any quote/comment form, no statement lost, no
    noise-only phantom statements — and each returned statement still
    CONTAINS its body (comments inside are preserved, not glued)."""
    from kt_sql_hbase_ex_spark.engine import _split_statements

    script = ";".join(f"{pre}{body}{post}" for pre, body, post in parts)
    got = _split_statements(script)
    assert len(got) == len(parts), (script, got)
    for stmt, (_pre, body, _post) in zip(got, parts):
        assert body in stmt, (script, stmt, body)


@given(st.lists(st.tuples(_NOISE, _BODIES), min_size=1, max_size=4))
@_settings
def test_strip_comments_preserves_unmasked_text(parts):
    """_strip_comments removes every comment and ONLY comments: the
    result contains each body verbatim (quoted text with comment
    markers inside is untouched) and none of the comment noise."""
    from kt_sql_hbase_ex_spark.engine import _strip_comments

    text = " ".join(f"{noise} {body}" for noise, body in parts)
    out = _strip_comments(text)
    for _noise, body in parts:
        assert body in out, (text, out)
    assert "/*" not in out and "*/" not in out
    # '--' may survive ONLY inside quotes/backticks — never as a comment
    # opener; verify by checking the stripped text round-trips stably
    assert _strip_comments(out) == out


#: column building blocks for the literal CREATE TABLE parser: names,
#: types (incl. a parenthesized-precision one), DEFAULT expressions
#: whose text exercises the masking classes (commas, parens, quotes,
#: the words DEFAULT/COMMENT/PRIMARY KEY inside string literals), and
#: per-column comments with separators inside
_CT_NAMES = st.sampled_from(["k", "v2", "a_b", "x9"])
_CT_TYPES = st.sampled_from(["BIGINT", "STRING", "DOUBLE", "DECIMAL(10,2)"])
_CT_DEFAULTS = st.sampled_from(
    [
        None,
        "0",
        "'NEW'",
        "'a,(b)'",
        "'default comment primary key'",
        "concat('x', 'y')",
        "'it''s'",
    ]
)
_CT_COMMENTS = st.sampled_from(
    [None, "plain", "with, comma", "semi;colon", "paren (inside)"]
)


@given(
    st.lists(
        st.tuples(_CT_NAMES, _CT_TYPES, _CT_DEFAULTS, _CT_COMMENTS),
        min_size=1,
        max_size=4,
        unique_by=lambda c: c[0],
    ),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([None, "table note", "note, with (stuff)"]),
)
@_settings
def test_create_table_parser_roundtrip(cols, n_pk, table_comment):
    """Generative round-trip for the literal CREATE TABLE parser
    (`_create_table_parts`): composing arbitrary column defs — types
    with parenthesized precision, DEFAULT expressions containing
    commas/parens/quotes/keywords, quoted comments with separators —
    plus a composite PRIMARY KEY item and an optional table COMMENT
    tail, the parser must return exactly the declared tuples, the
    declared PK, and the table comment; with the PK item REMOVED the
    same text must parse to None (Spark passthrough)."""
    from kt_sql_hbase_ex_spark.engine import (
        _CREATE_TABLE_HEAD,
        KtSqlEngine,
    )

    pk = tuple(c[0] for c in cols[:n_pk])
    items = []
    for name, typ, default, comment in cols:
        it = f"{name} {typ}"
        if default is not None:
            it += f" DEFAULT {default}"
        if comment is not None:
            it += f" COMMENT '{comment}'"
        items.append(it)
    body = ", ".join(items + [f"PRIMARY KEY ({', '.join(pk)})"])
    tail = f" COMMENT '{table_comment}'" if table_comment is not None else ""
    stmt = f"CREATE TABLE ct_prop ({body}){tail};"

    m = _CREATE_TABLE_HEAD.match(stmt)
    assert m is not None
    got = KtSqlEngine._create_table_parts(stmt, m)
    assert got is not None
    gcols, gpk, gcomment, _ = got
    assert gpk == pk
    assert gcomment == (table_comment or "")
    assert [c[0] for c in gcols] == [c[0] for c in cols]
    for (name, typ, default, comment), g in zip(cols, gcols):
        assert g[1] == typ, (stmt, g)
        assert g[2] == default, (stmt, g)
        assert g[3] == comment, (stmt, g)

    # without the PK item the SAME text is Spark's, not the facade's
    no_pk = f"CREATE TABLE ct_prop ({', '.join(items)}){tail}"
    m2 = _CREATE_TABLE_HEAD.match(no_pk)
    assert m2 is not None
    assert KtSqlEngine._create_table_parts(no_pk, m2) is None


# --- WAL lifecycle: fold/prune/time-travel vs a pure-Python model -----

_kv_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("put"),
            st.lists(
                st.tuples(KEYS, VALS), min_size=1, max_size=4,
                unique_by=lambda r: r[0],
            ),
        ),
        st.tuples(st.just("del"), st.lists(KEYS, min_size=1, max_size=3)),
        st.tuples(st.just("fold"), st.just(None)),
        # round-10 ops join the alphabet: atomic increments (one commit,
        # absolute-value WAL entry), bulk loads (new generation + marker
        # seq — an as-of anchor), and major compaction (always folds,
        # even with nothing pending)
        st.tuples(
            st.just("inc"),
            st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=3),
        ),
        st.tuples(
            st.just("bulk"),
            st.lists(
                st.tuples(KEYS, VALS), min_size=1, max_size=4,
                unique_by=lambda r: r[0],
            ),
        ),
        st.tuples(st.just("major"), st.just(None)),
        # round-10 late additions: compare-and-swap batches (each spec
        # checks absence / the current value / a never-matching
        # sentinel — the model predicts every applied flag), zero-copy
        # snapshots (fold first, then link), and restores (marker seq
        # claimed, the restored generation anchors as-of reads)
        st.tuples(
            st.just("cas"),
            st.lists(
                st.tuples(
                    KEYS, VALS,
                    st.sampled_from(["absent", "equals", "wrong"]),
                ),
                min_size=1,
                max_size=3,
            ),
        ),
        st.tuples(st.just("snap"), st.just(None)),
        st.tuples(st.just("restore"), st.just(None)),
        # round-11: string APPEND joins the alphabet (the fifth
        # mutation op) — the model concatenates per key in list order
        st.tuples(
            st.just("app"),
            st.lists(
                st.tuples(KEYS, st.sampled_from(["~x", "~y"])),
                min_size=1,
                max_size=3,
            ),
        ),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_kv_ops)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_wal_fold_prune_timetravel_model(spark, tmp_path, ops):
    """The whole round-8/9/10/11 WAL story as ONE property: any
    interleaving of put/delete/increment/compare-and-swap/APPEND commits,
    folds, BULK LOADS (which claim a marker seq and anchor as-of reads
    at their generation), major compactions, SNAPSHOTS (which fold
    pending state first), and RESTORES (marker seq + anchor, live
    state rolled back to the snapshot), followed by the SAFE retention
    prune (to the oldest retained generation's fold point), must leave
    read_store_asof equal to a pure-Python replay at every retained
    anchor, at the head, and at a mid-span commit — and must refuse
    loudly below the oldest retained anchor once pruning made that
    history unreachable. (Anchored replay spans never cross a bulk or
    restore marker by construction — this property exercises exactly
    that.) CAS applied flags are model-checked spec by spec; after
    EVERY op the point-Get path (round-11: bloom-pruned
    ``get_store_rows``) is model-checked over the op's touched keys
    plus an always-absent probe."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        _READ_CACHE,
        _open_store,
        KVUpsertWriter,
        KVWriteMessage,
        bulk_load_store,
        changelog_floor,
        check_and_mutate_store,
        compact_store,
        delete_from_store,
        increment_store,
        append_store,
        get_store_rows,
        prune_changelog,
        read_store_asof,
        register_kv_source,
        restore_store,
        snapshot_store,
        truncate_overlay,
    )

    register_kv_source(spark)
    tag = uuid.uuid4().hex[:10]
    base = os.path.join(str(tmp_path), f"wal_{tag}.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([], pa.int64()),
                "v": pa.array([], pa.float64()),
                "s": pa.array([], pa.string()),
            }
        ),
        base,
    )
    opts = {"path": base, "keycol": "k", "columns": "k,v,s", "appid": tag}
    truncate_overlay(opts)

    state: dict = {}  # k -> (v, s)
    states = {0: {}}
    seq = 0
    anchors: list = []
    snaps: list = []  # (name, model state at snapshot time)
    dirty = False  # commits since the last real fold

    def probe_get(touched):
        # round-11: the point-Get path agrees with the model after
        # every op — overlay-merged, bloom/range-pruned, None = absent;
        # the warm-cache answer equals a cold-cache one
        ks = sorted(set(touched))[:4] + [10**6]
        got = get_store_rows(opts, [{"k": k} for k in ks])
        for k, r in zip(ks, got):
            if k in state:
                v, sv = state[k]
                assert r == {"k": k, "v": v, "s": sv}, (k, r)
            else:
                assert r is None, (k, r)
        # the scan path too: the whole store, warm, then cold (one
        # clear empties every in-process cache)
        want = {k: {"k": k, "v": v, "s": sv} for k, (v, sv) in state.items()}
        assert {r["k"]: r for r in _open_store(opts).rows} == want
        _READ_CACHE.clear()
        assert {r["k"]: r for r in _open_store(opts).rows} == want
        assert get_store_rows(opts, [{"k": k} for k in ks]) == got

    for kind, arg in ops:
        if kind == "put":
            KVUpsertWriter(opts).commit(
                [
                    KVWriteMessage(
                        [
                            {"k": k, "v": float(v), "s": f"n{v}"}
                            for k, v in arg
                        ]
                    )
                ]
            )
            state.update({k: (float(v), f"n{v}") for k, v in arg})
            seq += 1
            states[seq] = dict(state)
            dirty = True
            probe_get([k for k, _ in arg])
        elif kind == "del":
            delete_from_store(opts, arg)
            for k in arg:
                state.pop(k, None)
            seq += 1
            states[seq] = dict(state)
            dirty = True
            probe_get(arg)
        elif kind == "inc":
            out_rows = increment_store(
                opts, [{"k": k, "v": float(d)} for k, d in arg]
            )
            for k, d in arg:
                v, sv = state.get(k, (None, None))
                state[k] = ((v or 0.0) + float(d), sv)
            # the op returns the new absolute values in input order:
            # the model must agree row by row (same-batch accumulation)
            running = dict(states[seq])
            got = []
            for k, d in arg:
                v, sv = running.get(k, (None, None))
                running[k] = ((v or 0.0) + float(d), sv)
                got.append(running[k])
            assert [(r["v"], r["s"]) for r in out_rows] == got
            seq += 1
            states[seq] = dict(state)
            dirty = True
            probe_get([k for k, _ in arg])
        elif kind == "app":
            out_rows = append_store(
                opts, [{"k": k, "s": sfx} for k, sfx in arg]
            )
            running = dict(states[seq])
            got = []
            for k, sfx in arg:
                v, sv = running.get(k, (None, None))
                running[k] = (v, (sv or "") + sfx)
                got.append(running[k])
            assert [(r["v"], r["s"]) for r in out_rows] == got
            state.clear()
            state.update(running)
            seq += 1
            states[seq] = dict(state)
            dirty = True
            probe_get([k for k, _ in arg])
        elif kind == "bulk":
            out = bulk_load_store(
                opts,
                spark.createDataFrame(
                    [
                        {"k": k, "v": float(v), "s": f"b{v}"}
                        for k, v in arg
                    ],
                    "k long, v double, s string",
                ),
            )
            assert out["published"]
            state.update({k: (float(v), f"b{v}") for k, v in arg})
            seq += 1  # the claimed marker seq
            assert out["seq"] == seq
            states[seq] = dict(state)
            anchors.append(seq)  # the bulk generation IS an anchor
            dirty = False  # pending overlay folded in with the load
            probe_get([k for k, _ in arg])
        elif kind == "cas":
            running = dict(state)
            specs, expect = [], []
            for k, v, mode in arg:
                cur_v = running.get(k, (None, None))[0]
                if mode == "absent":
                    # the absent-CELL check: passes when the row is
                    # absent OR its v cell is NULL (append-created)
                    chk, ok = {"column": "v", "equals": None}, cur_v is None
                elif mode == "equals":
                    # equals the current model value; on an absent key
                    # (or a NULL cell) that value IS None, which the
                    # absence check accepts — so this mode always applies
                    chk, ok = {"column": "v", "equals": cur_v}, True
                else:  # a value no VALS draw can produce
                    chk, ok = {"column": "v", "equals": 1e18}, False
                specs.append({"k": k, "check": chk, "put": {"v": float(v)}})
                expect.append(ok)
                if ok:
                    # partial put: the string cell survives
                    running[k] = (float(v), running.get(k, (None, None))[1])
            flags = check_and_mutate_store(opts, specs)
            assert flags == expect  # every applied flag model-predicted
            if any(expect):
                state.clear()
                state.update(running)
                seq += 1
                states[seq] = dict(state)
                dirty = True
            # an all-fail batch commits nothing: seq/states untouched
            probe_get([k for k, _, _ in arg])
        elif kind == "snap":
            name = f"s{len(snaps)}"
            snapshot_store(opts, name, spark=spark)
            if dirty:  # the snapshot folded the pending overlay first
                anchors.append(seq)
                dirty = False
            elif not anchors:
                anchors.append(seq)  # pristine store: major pass at seq 0
            snaps.append((name, dict(state)))
            probe_get(list(state))
        elif kind == "restore":
            if not snaps:
                continue  # nothing to restore yet: no-op draw
            name, snap_state = snaps[-1]
            out = restore_store(opts, name)
            assert out["published"]
            state.clear()
            state.update(snap_state)
            seq += 1  # the claimed marker seq
            assert out["seq"] == seq
            states[seq] = dict(state)
            anchors.append(seq)  # the restored generation IS an anchor
            dirty = False
            probe_get(list(state))
        elif kind == "major":
            out = compact_store(opts, major=True)
            assert out["compacted"]  # major always folds
            if dirty:
                assert out["applied_seq"] == seq
            anchors.append(out["applied_seq"])
            dirty = False
            probe_get(list(state))
        else:  # fold
            out = compact_store(opts)
            assert out["compacted"] is dirty  # no-op iff nothing to fold
            if out["compacted"]:
                assert out["applied_seq"] == seq
                anchors.append(seq)
                dirty = False
            probe_get(list(state))

    def asof(s):
        return {
            r["k"]: (r["v"], r["s"])
            for r in read_store_asof(spark, opts, s).collect()
        }

    retained = anchors[-2:]  # live + one-cycle prev_anchor
    if retained:
        a0 = retained[0]
        prune_changelog(opts, a0)
        assert changelog_floor(opts) >= min(a0, seq)
        probes = {s for s in (a0, seq, (a0 + seq) // 2) if s >= a0}
    else:
        probes = set(states)  # nothing pruned: every commit point serves
    probes.add(0)
    for s in sorted(probes):
        assert asof(s) == states[s], f"seq={s}"
    if retained and retained[0] > 1 and changelog_floor(opts) > 0:
        with _pytest.raises(ValueError):
            read_store_asof(spark, opts, retained[0] - 1)


_TS = st.integers(min_value=1, max_value=40)

_v_ops = st.lists(
    st.one_of(
        # versioned Put: one commit of 1-3 (key, value, ts) cells
        st.tuples(
            st.just("put"),
            st.lists(st.tuples(KEYS, VALS, _TS), min_size=1, max_size=3),
        ),
        # versioned Delete: one masking tombstone at ts
        st.tuples(st.just("del"), st.tuples(KEYS, _TS)),
        # fold: physically prunes beyond N, applies + drops tombstones
        st.tuples(st.just("fold"), st.just(None)),
        # crash: lose the overlay, recover purely from the WAL (whose
        # entries carry __ts — replayed state must be exact)
        st.tuples(st.just("crash"), st.just(None)),
    ),
    min_size=1,
    max_size=8,
)


@given(ops=_v_ops)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_versioned_store_model(tmp_path, ops):
    """Round-12: the versioned-cells story as ONE property — any
    interleaving of timestamped Puts, masking Deletes, folds, and
    WAL-recovery crashes over a ``versions=N`` store must agree with a
    pure-Python model at every step: the point Get serves the newest
    live version, ``get_kv_versions`` serves the masked history capped
    at N, and a fold changes nothing observable EXCEPT the documented
    HBase major-compaction wrinkle (tombstones are applied then
    dropped, so a LATER put with an older timestamp is no longer
    masked) — which the model reproduces by collapsing each key to its
    capped live versions at fold time."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources import kvstore as kv

    N = 3
    tag = uuid.uuid4().hex[:10]
    base = os.path.join(str(tmp_path), f"vmodel_{tag}.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([], pa.int64()),
                "v": pa.array([], pa.float64()),
            }
        ),
        base,
    )
    opts = {
        "path": base,
        "keycol": "k",
        "columns": "k,v",
        "regionsize": "4",
        "versions": str(N),
        "appid": tag,
    }
    kv.truncate_overlay(opts)

    # model: key -> {"puts": {ts: v}, "tomb": max tombstone ts or None}
    model: dict = {}

    def live(k):
        m = model.get(k)
        if not m:
            return []
        out = [
            (ts, v)
            for ts, v in m["puts"].items()
            if m["tomb"] is None or ts > m["tomb"]
        ]
        out.sort(key=lambda p: -p[0])
        return out[:N]

    def check(touched):
        ks = sorted(set(touched))[:4] + [10**6]
        got_latest = kv.get_store_rows(opts, [{"k": k} for k in ks])
        got_hist = kv.get_kv_versions(opts, [{"k": k} for k in ks])
        for k, latest, hist in zip(ks, got_latest, got_hist):
            want = live(k)
            assert [(h["__ts"], h["v"]) for h in hist] == want, (k, hist)
            if want:
                assert latest == {"k": k, "v": want[0][1]}, (k, latest)
            else:
                assert latest is None, (k, latest)

    dirty = False
    for kind, arg in ops:
        if kind == "put":
            kv.put_kv_versions(
                opts,
                [{"k": k, "v": float(v), "__ts": ts} for k, v, ts in arg],
            )
            for k, v, ts in arg:
                m = model.setdefault(k, {"puts": {}, "tomb": None})
                m["puts"][ts] = float(v)
            dirty = True
            check([k for k, _, _ in arg])
        elif kind == "del":
            k, ts = arg
            kv.delete_kv_versions(opts, [k], ts=ts)
            m = model.setdefault(k, {"puts": {}, "tomb": None})
            m["tomb"] = max(ts, m["tomb"] or 0)
            dirty = True
            check([k])
        elif kind == "crash":
            opath = kv.overlay_path(opts)
            if os.path.exists(opath):
                os.unlink(opath)
            kv.recover_overlay(opts)
            check(list(model))
        else:  # fold
            out = kv.compact_store(opts)
            assert out["compacted"] is dirty
            if out["compacted"]:
                # major-compaction collapse: capped live versions
                # survive, tombstones are gone
                for k in list(model):
                    model[k] = {"puts": dict(live(k)), "tomb": None}
                dirty = False
            check(list(model))

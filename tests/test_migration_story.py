"""The switching user's end-to-end story, as ONE scenario.

Every piece here is covered by a focused test elsewhere; this file runs
them the way a reference (ktsql/kt-sql-hbase-ex) user actually would
after switching — the README workflow (connect via properties, SQL over
registered tables, composite-PK DDL, row-level DML as literal SQL,
secondary-index lifecycle) in sequence against one engine instance, so
an integration regression between the pieces cannot hide behind green
unit tests.
"""

from __future__ import annotations

import pytest

from kt_sql_hbase_ex_spark.engine import KtSqlEngine


def test_reference_user_workflow_end_to_end(spark, sf_small, tmp_path):
    # 1. connect the reference way: application.properties bootstrap
    props = tmp_path / "application.properties"
    props.write_text(f"datadir = {sf_small}\nflavor = PROJECTFILTERABLE\n")
    eng = KtSqlEngine.from_properties(spark, str(props))

    # 2. ad-hoc SQL over the registered catalog, including the
    #    predicate forms the reference's translator crashed on
    seg_counts = {
        r.c_mktsegment: r.n
        for r in eng.sql(
            """SELECT c_mktsegment, COUNT(*) AS n FROM customer
               WHERE c_custkey IN (1, 2, 3) OR c_name LIKE '%44'
               GROUP BY c_mktsegment"""
        ).collect()
    }
    expected = (
        eng.table("customer")
        .filter("c_custkey IN (1, 2, 3) OR c_name LIKE '%44'")
        .count()
    )
    assert sum(seg_counts.values()) == expected >= 4

    # 3. DDL with the reference's rules: composite PK (the README's
    #    multi-column-rowkey feature), defaults, comments
    eng.create_table(
        "mig_orders",
        [
            ("o_key", "BIGINT", None, "order id"),
            ("o_line", "BIGINT", None),
            ("status", "STRING", "'NEW'"),
            ("amount", "DOUBLE", None),
        ],
        primary_key=("o_key", "o_line"),
        comment="migration demo",
    )
    try:
        assert eng.table_info("mig_orders")["primary"] == ("o_key", "o_line")
        assert eng.describe("mig_orders")[0].comment == "order id"

        # 4. DML — INSERT through Spark SQL, the DEFAULT column filled
        eng.sql(
            "INSERT INTO mig_orders (o_key, o_line, amount) VALUES "
            "(1, 1, 10.0), (1, 2, 20.0), (2, 1, 30.0)"
        )
        assert {
            r.status for r in eng.table("mig_orders").collect()
        } == {"NEW"}

        # 5. row-level DML as literal SQL (Calcite's toModificationRel
        #    surface): UPDATE then DELETE with affected counts
        n = eng.sql(
            "UPDATE mig_orders SET status = 'SHIPPED' WHERE o_key = 1"
        ).first()["num_affected_rows"]
        assert n == 2
        n = eng.sql("DELETE FROM mig_orders WHERE amount > 25").first()[
            "num_affected_rows"
        ]
        assert n == 1
        left = {
            (r.o_key, r.o_line): r.status for r in eng.table("mig_orders").collect()
        }
        assert left == {(1, 1): "SHIPPED", (1, 2): "SHIPPED"}

        # 6. the external KV store: register, SQL through the pushdown
        #    connector, CREATE INDEX, indexed lookup, freshness contract
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            FORMAT_NAME,
            INDEX_KEY,
            StaleIndexError,
            customer_store_options,
            index_prefix_bounds,
            persisted_index_read_options,
            truncate_overlay,
        )

        opts = customer_store_options(sf_small)
        opts["appId"] = spark.conf.get("spark.app.id", "shared") + "-mig"
        truncate_overlay({k.lower(): v for k, v in opts.items()})
        eng.register_kv_table("mig_kv_customer", **opts)
        assert (
            eng.sql(
                "SELECT COUNT(*) AS n FROM mig_kv_customer WHERE c_custkey BETWEEN 1 AND 10"
            ).first()["n"]
            == 10
        )

        idx_opts = eng.create_index("mig_seg", "c_mktsegment", **opts)
        lo, hi = index_prefix_bounds("BUILDING")
        from pyspark.sql import functions as F

        n_idx = (
            spark.read.format(FORMAT_NAME)
            .options(**idx_opts)
            .schema(f"{INDEX_KEY} string, c_custkey bigint")
            .load()
            .filter((F.col(INDEX_KEY) >= lo) & (F.col(INDEX_KEY) <= hi))
            .count()
        )
        assert n_idx > 0
        assert eng.list_indexes(**opts)[0]["fresh"] is True

        # a committed write flips the index stale; direct resolve
        # refuses, the lifecycle refresh serves the new row
        spark.createDataFrame(
            [(999001, 1, "MIGSEG", 1.0)],
            "c_custkey bigint, c_nationkey int, c_mktsegment string, c_acctbal double",
        ).write.format(FORMAT_NAME).options(
            **{**opts, "columns": "c_custkey,c_nationkey,c_mktsegment,c_acctbal"}
        ).mode("append").save()
        with pytest.raises(StaleIndexError):
            persisted_index_read_options(opts, "mig_seg")

        eng.drop_index("mig_seg", **opts)
        assert eng.list_indexes(**opts) == []
        truncate_overlay({k.lower(): v for k, v in opts.items()})
    finally:
        eng.drop_table("mig_orders")
    assert "mig_orders" not in eng.list_tables()


def test_literal_index_ddl_through_sql_script(spark, sf_small):
    """The reference's consumers wrote index DDL as SQL strings through
    calcite-server (``README.md:4-8``, ``HBaseSchema.kt:226-288``); the
    facade executes the same statements: a ``.sql`` script creates the
    index, the indexed lookup runs (the src09 shape), and DROP INDEX
    tears it down — plus the loud-rejection edges (unregistered target,
    multi-column list, malformed tail, bindings)."""
    import pytest
    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        INDEX_KEY,
        customer_store_options,
        index_prefix_bounds,
        persisted_index_read_options,
        truncate_overlay,
    )

    eng = KtSqlEngine(spark, sf_small)
    opts = customer_store_options(sf_small)
    opts["appId"] = spark.conf.get("spark.app.id", "shared") + "-sqlidx"
    truncate_overlay({k.lower(): v for k, v in opts.items()})
    eng.register_kv_table("sqlidx_customer", **opts)

    # the migrating user's .sql file: create, then the last statement's
    # result comes back (run_script returns it like a JDBC script tail)
    out = eng.run_script(
        """
        -- index DDL exactly as written against the reference
        CREATE INDEX sqlidx_seg ON sqlidx_customer (c_mktsegment);
        SELECT COUNT(*) AS n FROM sqlidx_customer;
        """
    )
    assert out.first()["n"] > 0
    metas = eng.list_indexes(**opts)
    assert len(metas) == 1 and metas[0]["INDEX"] == "c_mktsegment"
    assert metas[0]["index_name"] == "sqlidx_seg"

    # the src09 shape through the SQL-created index
    idx_opts = persisted_index_read_options(opts, "sqlidx_seg")
    lo, hi = index_prefix_bounds("BUILDING")
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

    # reject-if-exists surfaces through the statement form too
    from kt_sql_hbase_ex_spark.sources.kvstore import IndexExistsError

    with pytest.raises(IndexExistsError):
        eng.sql("CREATE INDEX sqlidx_seg ON sqlidx_customer (c_mktsegment)")

    # loud edges: unregistered target, multi-column, malformed, bindings
    with pytest.raises(ValueError, match="not a registered KV table"):
        eng.sql("CREATE INDEX i2 ON customer (c_mktsegment)")
    with pytest.raises(ValueError, match="exactly one column"):
        eng.sql("CREATE INDEX i3 ON sqlidx_customer (c_mktsegment, c_name)")
    with pytest.raises(ValueError, match="unsupported index DDL"):
        eng.sql("CREATE INDEX i4 ON sqlidx_customer (c_mktsegment) USING btree")
    with pytest.raises(ValueError, match="parameter binding"):
        eng.sql("DROP INDEX sqlidx_seg ON sqlidx_customer", args={"x": 1})

    row = eng.sql("DROP INDEX sqlidx_seg ON sqlidx_customer").first()
    assert row["status"] == "DROPPED"
    assert eng.list_indexes(**opts) == []
    with pytest.raises(IndexExistsError):
        eng.sql("DROP INDEX sqlidx_seg ON sqlidx_customer")


def test_store_maintenance_workflow(spark, sf_small):
    """The operator's steady-state story, in sequence against one
    engine: mutate through the connector, watch the WAL, compact when
    the trigger fires, prune retention behind the fold's watermark,
    and keep reading the same answers throughout — every piece covered
    by a focused test elsewhere, run here the way a deployment
    actually sequences them."""
    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.engine import KtSqlEngine
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        CHANGES_FORMAT_NAME,
        FORMAT_NAME,
        customer_store_options,
        delete_from_store,
        maybe_compact_store,
        prune_changelog,
        truncate_overlay,
    )

    eng = KtSqlEngine(spark, sf_small)
    opts = customer_store_options(sf_small)
    opts["appId"] = spark.conf.get("spark.app.id", "shared") + "-maint"
    lopts = {k.lower(): v for k, v in opts.items()}
    truncate_overlay(lopts)
    eng.register_kv_table("maint_customer", **opts)

    # two mutation commits
    spark.createDataFrame(
        [(999101, "M1", 0, 10.0, "MAINT"), (999102, "M2", 0, 20.0, "MAINT")],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.format(FORMAT_NAME).options(**opts).mode("append").save()
    delete_from_store(lopts, [1])

    def answer():
        return eng.sql(
            "SELECT COUNT(*) AS n, SUM(CASE WHEN c_mktsegment = 'MAINT' "
            "THEN 1 ELSE 0 END) AS m FROM maint_customer"
        ).first()

    before = answer()
    assert before["m"] == 2

    # the WAL saw both commits
    feed = spark.read.format(CHANGES_FORMAT_NAME).options(**opts).load()
    seqs = sorted(r["__seq"] for r in feed.select("__seq").distinct().collect())
    assert seqs == [1, 2]

    # the size trigger fires, the facade fold runs, answers hold
    assert maybe_compact_store(lopts, max_overlay_rows=1_000_000) is None
    stats = eng.compact_kv_table(**opts)
    assert stats["compacted"] and stats["tombstones_dropped"] == 1
    # the view re-resolves through the new generation without
    # re-registering: its partitions are planned at query time
    after = answer()
    assert (after["n"], after["m"]) == (before["n"], before["m"])

    # retention can prune the folded span; the store still answers
    assert prune_changelog(lopts, stats["applied_seq"]) == 2
    assert answer()["m"] == 2
    truncate_overlay(lopts)


def test_literal_create_table_with_primary_key(spark, sf_small):
    """The calcite-server literal DDL the reference's createTable was
    driven by (``HBaseSchema.kt:101-135``): Spark SQL rejects PRIMARY
    KEY constraints outright, so the facade executes the
    constraint-carrying form through its validated path — mandatory PK
    honored, reserved ``id`` rejected, DEFAULT/COMMENT columns parsed,
    IF NOT EXISTS a no-op, Spark-native (constraint-free) CREATE TABLE
    text untouched."""
    import pytest

    eng = KtSqlEngine(spark, sf_small)
    try:
        row = eng.run_script(
            """
            -- straight from a reference user's .sql file
            CREATE TABLE mig_lit_pk (
                k BIGINT COMMENT 'the key',
                line BIGINT,
                status STRING DEFAULT 'NEW',
                amount DOUBLE,
                PRIMARY KEY (k, line)
            ) COMMENT 'literal ddl demo';
            """
        ).first()
        assert (row["table_name"], row["status"]) == ("mig_lit_pk", "CREATED")
        info = eng.table_info("mig_lit_pk")
        assert info["primary"] == ("k", "line")
        assert info["comment"] == "literal ddl demo"
        assert eng.describe("mig_lit_pk")[0].comment == "the key"
        # the DEFAULT column fills on insert
        eng.sql("INSERT INTO mig_lit_pk (k, line, amount) VALUES (1, 1, 5.0)")
        assert eng.sql("SELECT status FROM mig_lit_pk").first()["status"] == "NEW"
        # IF NOT EXISTS: no-op on the existing table, data intact
        r2 = eng.sql(
            "CREATE TABLE IF NOT EXISTS mig_lit_pk (x BIGINT, PRIMARY KEY (x))"
        ).first()
        assert r2["status"] == "EXISTS"
        assert eng.sql("SELECT COUNT(*) AS n FROM mig_lit_pk").first()["n"] == 1
        # the reference's create-time rules apply to the literal form
        with pytest.raises(Exception, match="id"):
            eng.sql("CREATE TABLE mig_lit_bad (id BIGINT, PRIMARY KEY (id))")
        with pytest.raises(ValueError, match="unsupported table constraint"):
            eng.sql(
                "CREATE TABLE mig_lit_bad2 (k BIGINT, UNIQUE (k), PRIMARY KEY (k))"
            )
        # constraint-free text passes through to Spark verbatim
        eng.sql(
            "CREATE TABLE mig_lit_plain (k BIGINT, v STRING) "
            "TBLPROPERTIES ('ktsql.primary' = 'k')"
        )
        assert spark.catalog.tableExists("mig_lit_plain")
        # a paren inside a string DEFAULT must not break the item split
        eng.sql(
            "CREATE TABLE mig_lit_q (k BIGINT, v STRING DEFAULT 'a,(b)', "
            "PRIMARY KEY (k))"
        )
        assert [c.name for c in eng.describe("mig_lit_q")][:2] == ["k", "v"]
    finally:
        for t in ("mig_lit_pk", "mig_lit_plain", "mig_lit_q"):
            eng.drop_table(t)


def test_literal_create_table_attribute_order(spark, sf_small):
    """DEFAULT and COMMENT parse in EITHER order (round-8 review
    finding): 'COMMENT … DEFAULT …' must not silently drop the DEFAULT
    or corrupt the comment."""
    eng = KtSqlEngine(spark, sf_small)
    try:
        eng.sql(
            "CREATE TABLE mig_lit_ord ("
            "k BIGINT, "
            "a STRING COMMENT 'note a' DEFAULT 'DA', "
            "b STRING DEFAULT 'DB' COMMENT 'note b', "
            "PRIMARY KEY (k))"
        )
        cols = {c.name: c for c in eng.describe("mig_lit_ord")}
        assert cols["a"].comment == "note a" and cols["b"].comment == "note b"
        eng.sql("INSERT INTO mig_lit_ord (k) VALUES (1)")
        row = eng.sql("SELECT a, b FROM mig_lit_ord").first()
        assert (row["a"], row["b"]) == ("DA", "DB")
    finally:
        eng.drop_table("mig_lit_ord")

"""Engine facade: the reference user's workflow — connect, SQL, DML,
DDL, metadata — runs end-to-end on the Spark engine.

The scenarios mirror the reference's own usage surface: the filtered
scans its tests ran (``test/HBaseTest.kt:15-49``), the DDL/DML flows its
README describes (``README.md:4-8``), and the predicate forms its
translator *crashed* on (``hbase/HBaseModifiableTable.kt:282-283``)
which must work here.
"""

from __future__ import annotations

import pytest

from kt_sql_hbase_ex_spark.engine import KtSqlEngine


@pytest.fixture(scope="module")
def eng(spark, sf_oracle):
    return KtSqlEngine(spark, sf_oracle)


def test_connect_registers_catalog(eng):
    assert set(eng.tables) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for t in eng.tables:
        assert t in eng.list_tables()


def test_reference_style_filtered_scan(eng):
    """The scan shapes the reference's own tests ran (SingleColumnValue /
    RowFilter equality, test/HBaseTest.kt)."""
    rows = eng.sql(
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 42"
    ).collect()
    assert len(rows) == 1 and rows[0].c_custkey == 42


def test_predicates_reference_crashed_on(eng):
    """OR / IN / LIKE / IS NULL / <> threw AssertionError in the
    reference's translator; here they are table stakes."""
    n = eng.sql(
        """SELECT count(*) AS n FROM orders
           WHERE (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
             AND o_orderstatus <> 'F'
             AND o_orderpriority IN ('1-URGENT', '2-HIGH')
             AND o_orderpriority LIKE '%URGENT%' OR o_orderkey IS NULL"""
    ).first().n
    assert n > 0


def test_ddl_dml_roundtrip(eng):
    eng.create_table("ktsql_eng_t", "k BIGINT, v STRING", primary_key="k")
    try:
        eng.sql("INSERT INTO ktsql_eng_t VALUES (1, 'x'), (2, 'y')")
        got = {r.k: r.v for r in eng.table("ktsql_eng_t").collect()}
        assert got == {1: "x", 2: "y"}
        info = [c for c in eng.describe("ktsql_eng_t")]
        assert [(c.name, c.data_type) for c in info] == [
            ("k", "bigint"), ("v", "string"),
        ]
        # the table.sys attribute round-trip through the facade
        assert eng.table_info("ktsql_eng_t")["primary"] == ("k",)
    finally:
        eng.drop_table("ktsql_eng_t")
    assert "ktsql_eng_t" not in eng.list_tables()


def test_facade_create_table_enforces_reference_rules(eng):
    """Round-6 verdict #3: the facade must route through the validating
    catalog wrapper — mandatory PK and the reserved ``id`` column
    (``HBaseSchema.kt:113-136``) are enforced at the surface a
    reference user actually calls, not only in sources/catalog.py."""
    from kt_sql_hbase_ex_spark.sources.catalog import (
        IllegalColumnNameError,
        PrimaryKeyMissedError,
    )

    with pytest.raises(PrimaryKeyMissedError):
        eng.create_table("ktsql_eng_nopk", "k BIGINT, v STRING")
    with pytest.raises(PrimaryKeyMissedError, match="not in schema"):
        eng.create_table("ktsql_eng_badpk", "k BIGINT", primary_key="missing")
    with pytest.raises(IllegalColumnNameError):
        eng.create_table("ktsql_eng_id", "id BIGINT, v STRING", primary_key="id")
    assert not {"ktsql_eng_nopk", "ktsql_eng_badpk", "ktsql_eng_id"} & set(
        eng.list_tables()
    )
    # composite PK + parenthesized type survive the DDL-string form
    eng.create_table(
        "ktsql_eng_c", "a BIGINT, b STRING, m DECIMAL(10,2)",
        primary_key=("a", "b"), comment="facade table",
    )
    try:
        info = eng.table_info("ktsql_eng_c")
        assert info["primary"] == ("a", "b")
        assert info["comment"] == "facade table"
        cols = eng.describe("ktsql_eng_c")
        assert [(c.name, c.data_type) for c in cols] == [
            ("a", "bigint"), ("b", "string"), ("m", "decimal(10,2)"),
        ]
    finally:
        eng.drop_table("ktsql_eng_c")


def test_metadata_surface(eng):
    cols = eng.describe("lineitem")
    assert cols[0].name == "l_orderkey" and cols[0].position == 0
    info = eng.table_info("lineitem")
    assert info["primary"] == ("l_orderkey", "l_linenumber")


def test_register_kv_table_sql_over_connector(eng):
    """SQL over an external KV table through the pushdown connector —
    the reference's core usage (register HBase table, query with SQL)."""
    from kt_sql_hbase_ex_spark.sources.kvstore import customer_store_options

    from .conftest import SF_SMALL

    eng.register_kv_table("kv_customer", **customer_store_options(SF_SMALL))
    rows = eng.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n FROM kv_customer
        WHERE c_custkey BETWEEN 10 AND 60 GROUP BY c_mktsegment
        """
    ).collect()
    assert sum(r.n for r in rows) == 51
    plan = eng.sql(
        "SELECT c_custkey FROM kv_customer WHERE c_custkey = 7"
    )._jdf.queryExecution().executedPlan().toString()
    assert "ktsql_kv" in plan


def test_registered_kv_view_serves_later_puts_and_folds(eng, tmp_path):
    """A view registered once is live, not a snapshot: a later
    ``put_rows_to_store`` and a later major fold are both served without
    re-registering, because the data source plans its partitions at
    query time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        _read_overlay,
        put_rows_to_store,
    )

    base = tmp_path / "base.parquet"
    pq.write_table(
        pa.table({"k": list(range(100)), "v": ["base"] * 100}), str(base)
    )
    opts = {
        "path": str(base),
        "keyCol": "k",
        "columns": "k,v",
        "regionSize": "16",
        "storeRoot": str(tmp_path / "state"),
    }
    eng.register_kv_table("kv_live", **opts)

    def answer():
        return {
            (r.k, r.v)
            for r in eng.sql("SELECT k, v FROM kv_live WHERE k >= 95").collect()
        }

    assert answer() == {(k, "base") for k in range(95, 100)}
    put_rows_to_store(opts, [{"k": 96, "v": "put"}, {"k": 500, "v": "new"}])
    after_put = {(k, "base") for k in (95, 97, 98, 99)}
    after_put |= {(96, "put"), (500, "new")}
    assert answer() == after_put

    stats = eng.compact_kv_table(major=True, **opts)
    # the put now lives only in the new generation: the overlay is empty
    assert stats["compacted"]
    assert _read_overlay({k.lower(): v for k, v in opts.items()}) == []
    assert answer() == after_put
    put_rows_to_store(opts, [{"k": 97, "v": "after fold"}])
    assert answer() == (after_put - {(97, "base")}) | {(97, "after fold")}


def test_from_properties_bootstrap(spark, sf_small, tmp_path):
    """The reference's connect surface (application.properties ->
    HBaseSchemaFactory operands): datadir required, flavor maps to the
    pushdown knob, unknown flavor rejected — and the connected engine
    answers SQL over the registered catalog."""
    import pytest

    from kt_sql_hbase_ex_spark.engine import KtSqlEngine

    p = tmp_path / "app.properties"
    p.write_text(f"# connect operands\ndatadir = {sf_small}\nflavor = FILTERABLE\n")
    eng = KtSqlEngine.from_properties(spark, str(p))
    assert eng.sql("SELECT COUNT(*) AS n FROM region").first()["n"] == 5
    assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"

    scannable = tmp_path / "scan.properties"
    scannable.write_text(f"datadir = {sf_small}\nflavor = SCANNABLE\n")
    try:
        KtSqlEngine.from_properties(spark, str(scannable))
        assert spark.conf.get("spark.sql.parquet.filterPushdown") == "false"
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")

    bad = tmp_path / "bad.properties"
    bad.write_text("flavor = FILTERABLE\n")  # no datadir
    with pytest.raises(ValueError, match="datadir"):
        KtSqlEngine.from_properties(spark, str(bad))

    badflavor = tmp_path / "badflavor.properties"
    badflavor.write_text(f"datadir = {sf_small}\nflavor = TURBO\n")
    with pytest.raises(ValueError, match="flavor"):
        KtSqlEngine.from_properties(spark, str(badflavor))


def test_rejected_create_leaves_existing_table_untouched(eng):
    """A rejected CREATE must not destroy the table it would have
    replaced (round-6 review finding: the facade dropped first and
    validated second)."""
    eng.create_table("ktsql_eng_keep", "k BIGINT, v STRING", primary_key="k")
    try:
        eng.sql("INSERT INTO ktsql_eng_keep VALUES (1, 'x')")
        with pytest.raises(Exception):
            eng.create_table("ktsql_eng_keep", "id BIGINT")  # reserved + no PK
        # table and its data survived the rejected CREATE
        assert eng.table("ktsql_eng_keep").count() == 1
    finally:
        eng.drop_table("ktsql_eng_keep")


def test_facade_executes_update_delete_sql(eng):
    """The reference's row-level DML SQL surface (Calcite →
    toModificationRel, ``hbase/HBaseModifiableTable.kt``) works as
    actual SQL text through the facade: UPDATE evaluates SET against
    the OLD row (simultaneous assignment), WHERE uses three-valued
    logic (NULL matches nothing), DELETE keeps non-matching rows, and
    both return the JDBC-style affected-row count."""
    eng.create_table(
        "ktsql_eng_dml", "k BIGINT, a BIGINT, b BIGINT, v STRING",
        primary_key="k",
    )
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_dml VALUES "
            "(1, 10, 20, 'x'), (2, 30, 40, 'y'), (3, NULL, 60, 'z')"
        )
        # simultaneous assignment: swap a and b where k <= 2
        n = eng.sql(
            "UPDATE ktsql_eng_dml SET a = b, b = a WHERE k <= 2"
        ).first()["num_affected_rows"]
        assert n == 2
        got = {r.k: (r.a, r.b, r.v) for r in eng.table("ktsql_eng_dml").collect()}
        assert got == {1: (20, 10, "x"), 2: (40, 30, "y"), 3: (None, 60, "z")}

        # NULL predicate (a > 25 with a NULL) matches nothing: row 3 kept
        n = eng.sql("DELETE FROM ktsql_eng_dml WHERE a > 25").first()[
            "num_affected_rows"
        ]
        assert n == 1  # only row 2 (a=40) matches
        assert sorted(r.k for r in eng.table("ktsql_eng_dml").collect()) == [1, 3]

        # WHERE-less UPDATE touches every row; expressions see old values
        n = eng.sql("UPDATE ktsql_eng_dml SET b = b + 1").first()[
            "num_affected_rows"
        ]
        assert n == 2
        assert {r.k: r.b for r in eng.table("ktsql_eng_dml").collect()} == {
            1: 11, 3: 61,
        }

        # unknown SET column and malformed SET fail loudly
        with pytest.raises(ValueError, match="unknown columns"):
            eng.sql("UPDATE ktsql_eng_dml SET nope = 1")
        # fixture temp views are read-only registrations
        with pytest.raises(ValueError, match="read-only|view"):
            eng.sql("DELETE FROM customer WHERE c_custkey = 1")

        # WHERE-less DELETE empties the table
        n = eng.sql("DELETE FROM ktsql_eng_dml").first()["num_affected_rows"]
        assert n == 2
        assert eng.table("ktsql_eng_dml").count() == 0
    finally:
        eng.drop_table("ktsql_eng_dml")


def test_facade_dml_parser_handles_literals_and_identifiers(eng):
    """Round-6 review repros: string literals containing 'where',
    commas, or parens must lex correctly; qualified and reserved-word
    identifiers must work; duplicate SET assignments must be rejected;
    and the affected count must agree with the rows actually mutated
    even for a non-deterministic predicate (single-pass flag)."""
    eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_lex")
    eng.spark.sql(
        "CREATE TABLE ktsql_eng_lex (k BIGINT, v STRING, `order` BIGINT) "
        "USING parquet"
    )
    try:
        eng.sql("INSERT INTO ktsql_eng_lex VALUES (1, 'a', 5), (2, 'b', 6)")
        # literal containing the word 'where' + a real WHERE clause
        n = eng.sql(
            "UPDATE ktsql_eng_lex SET v = 'no where here' WHERE k = 1"
        ).first()["num_affected_rows"]
        assert n == 1
        # literal with comma and paren in a multi-assignment SET list;
        # reserved-word column backticked
        n = eng.sql(
            "UPDATE ktsql_eng_lex SET v = concat('x,(y', v), `order` = `order` + 1"
        ).first()["num_affected_rows"]
        assert n == 2
        got = {r.k: (r.v, r["order"]) for r in eng.table("ktsql_eng_lex").collect()}
        assert got == {1: ("x,(yno where here", 6), 2: ("x,(yb", 7)}
        # qualified table name takes the facade path (not Spark's
        # unsupported-UPDATE error)
        n = eng.sql(
            "UPDATE default.ktsql_eng_lex SET v = 'q' WHERE k = 2"
        ).first()["num_affected_rows"]
        assert n == 1
        # duplicate assignment rejected like standard SQL
        with pytest.raises(ValueError, match="duplicate SET"):
            eng.sql("UPDATE ktsql_eng_lex SET v = 'a', v = 'b'")
        # nondeterministic predicate: count equals rows actually deleted
        eng.sql("INSERT INTO ktsql_eng_lex VALUES (3,'c',1),(4,'d',1),(5,'e',1)")
        before = eng.table("ktsql_eng_lex").count()
        n = eng.sql("DELETE FROM ktsql_eng_lex WHERE rand() < 0.5").first()[
            "num_affected_rows"
        ]
        assert eng.table("ktsql_eng_lex").count() == before - n
        # literal 'where' inside DELETE predicate string
        eng.sql("INSERT INTO ktsql_eng_lex VALUES (9, 'where', 0)")
        n = eng.sql("DELETE FROM ktsql_eng_lex WHERE v = 'where'").first()[
            "num_affected_rows"
        ]
        assert n == 1
    finally:
        eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_lex")


def test_facade_dml_rejects_unsupported_shapes_loudly(eng):
    """Round-6 ADVICE: unsupported syntax must fail, not execute a
    DIFFERENT statement — 'DELETE FROM t x' must not delete all rows
    as if the alias weren't there, and 'UPDATE t SET WHERE k=1' must
    not run as a silent no-op full-table rewrite. Also: backslash
    escapes inside string literals (Spark's default non-ANSI dialect)
    must not invert the lexer's quote tracking."""
    eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_strict")
    eng.spark.sql(
        "CREATE TABLE ktsql_eng_strict (k BIGINT, v STRING) USING parquet"
    )
    try:
        eng.sql("INSERT INTO ktsql_eng_strict VALUES (1, 'a'), (2, 'b')")
        with pytest.raises(ValueError, match="alias"):
            eng.sql("DELETE FROM ktsql_eng_strict x")
        with pytest.raises(ValueError, match="alias"):
            eng.sql("DELETE FROM ktsql_eng_strict t WHERE t.k = 1")
        assert eng.table("ktsql_eng_strict").count() == 2  # nothing ran
        with pytest.raises(ValueError, match="empty SET"):
            eng.sql("UPDATE ktsql_eng_strict SET WHERE k = 1")
        # backslash-escaped quote inside a literal: the WHERE after it
        # must still be found (a naive lexer stays 'in quote' and
        # full-table-updates); the escaped text itself round-trips
        n = eng.sql(
            r"UPDATE ktsql_eng_strict SET v = 'don\'t' WHERE k = 1"
        ).first()["num_affected_rows"]
        assert n == 1
        got = {r.k: r.v for r in eng.table("ktsql_eng_strict").collect()}
        assert got == {1: "don't", 2: "b"}
        # escaped backslash before the closing quote
        n = eng.sql(
            r"DELETE FROM ktsql_eng_strict WHERE v = 'don\'t'"
        ).first()["num_affected_rows"]
        assert n == 1
    finally:
        eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_strict")


def test_facade_dml_where_supports_subqueries(eng):
    """Round-6 verdict task #5: IN (SELECT …) / EXISTS / scalar
    subqueries in the facade DML WHERE — the first DML a migrating
    user writes after literals. Affected counts must match the dml03
    anti-join form (count of rows the subquery predicate selects)."""
    eng.create_table("ktsql_eng_subq", "k BIGINT, v STRING", primary_key="k")
    eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_picks")
    eng.spark.sql("CREATE TABLE ktsql_eng_picks (k BIGINT) USING parquet")
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_subq VALUES "
            "(1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')"
        )
        eng.sql("INSERT INTO ktsql_eng_picks VALUES (1), (3), (99)")

        # UPDATE … WHERE k IN (SELECT …): exactly the intersection
        n = eng.sql(
            "UPDATE ktsql_eng_subq SET v = upper(v) "
            "WHERE k IN (SELECT k FROM ktsql_eng_picks)"
        ).first()["num_affected_rows"]
        assert n == 2
        got = {r.k: r.v for r in eng.table("ktsql_eng_subq").collect()}
        assert got == {1: "A", 2: "b", 3: "C", 4: "d"}

        # correlated EXISTS in UPDATE
        n = eng.sql(
            "UPDATE ktsql_eng_subq SET v = concat(v, '!') WHERE EXISTS ("
            "SELECT 1 FROM ktsql_eng_picks p WHERE p.k = ktsql_eng_subq.k)"
        ).first()["num_affected_rows"]
        assert n == 2
        assert {r.k: r.v for r in eng.table("ktsql_eng_subq").collect()} == {
            1: "A!", 2: "b", 3: "C!", 4: "d",
        }

        # scalar subquery (may reference the target itself — snapshot
        # semantics: the predicate is fully evaluated before the write)
        n = eng.sql(
            "DELETE FROM ktsql_eng_subq "
            "WHERE k > (SELECT avg(k) FROM ktsql_eng_subq)"
        ).first()["num_affected_rows"]
        assert n == 2  # k=3,4 > avg 2.5
        assert sorted(r.k for r in eng.table("ktsql_eng_subq").collect()) == [1, 2]

        # NOT IN with the dml03 anti-join count: the subquery picks
        # {1,3,99}; surviving rows are {1,2}; NOT IN deletes k=2
        n = eng.sql(
            "DELETE FROM ktsql_eng_subq "
            "WHERE k NOT IN (SELECT k FROM ktsql_eng_picks)"
        ).first()["num_affected_rows"]
        assert n == 1
        assert [r.k for r in eng.table("ktsql_eng_subq").collect()] == [1]

        # scalar subquery in a SET expression (uncorrelated + correlated)
        n = eng.sql(
            "UPDATE ktsql_eng_subq "
            "SET v = concat(v, '-', (SELECT CAST(max(k) AS STRING) "
            "FROM ktsql_eng_picks))"
        ).first()["num_affected_rows"]
        assert n == 1
        assert [r.v for r in eng.table("ktsql_eng_subq").collect()] == ["A!-99"]
        # correlated via the UNQUALIFIED outer column (the portable
        # spelling — the engine evaluates SET over a snapshot view, so
        # target-name qualifiers don't resolve inside SET subqueries)
        n = eng.sql(
            "UPDATE ktsql_eng_subq SET v = (SELECT CAST(count(*) AS STRING) "
            "FROM ktsql_eng_picks p WHERE p.k >= k) WHERE k = 1"
        ).first()["num_affected_rows"]
        assert n == 1
        assert [r.v for r in eng.table("ktsql_eng_subq").collect()] == ["3"]
    finally:
        eng.drop_table("ktsql_eng_subq")
        eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_picks")


def _table_location(spark, name: str) -> str:
    loc = [
        r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        if r.col_name == "Location"
    ][0]
    return loc.removeprefix("file:")


def _partition_files(spark, name: str) -> dict[str, set]:
    """{partition-dir: {(file, mtime_ns, size)}} under the table root."""
    import os

    root = _table_location(spark, name)
    out: dict[str, set] = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out.setdefault(rel, set()).add((f, st.st_mtime_ns, st.st_size))
    return out


def test_facade_partitioned_dml_rewrites_only_touched_partitions(eng):
    """Round-6 verdict task #1: on a partitioned catalog table,
    UPDATE/DELETE rewrite ONLY the partitions containing matched rows
    (dynamic partition overwrite) — untouched partitions keep their
    files byte-for-byte (proven by name+mtime+size), affected counts
    are unchanged, and a partition deleted down to zero rows is
    dropped. SET of a partition column falls back to the full path and
    stays correct."""
    eng.create_table(
        "ktsql_eng_part",
        "k BIGINT, v STRING, p STRING",
        primary_key="k",
        partitioned_by="p",
    )
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_part VALUES "
            "(1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y'), (4, 'd', 'z')"
        )
        before = _partition_files(eng.spark, "ktsql_eng_part")
        assert set(before) == {"p=x", "p=y", "p=z"}

        # UPDATE matching only partition x: y and z files untouched
        n = eng.sql(
            "UPDATE ktsql_eng_part SET v = upper(v) WHERE k = 1"
        ).first()["num_affected_rows"]
        assert n == 1
        after = _partition_files(eng.spark, "ktsql_eng_part")
        assert after["p=y"] == before["p=y"]  # byte-identical file set
        assert after["p=z"] == before["p=z"]
        assert after["p=x"] != before["p=x"]  # the touched one rewrote
        got = {r.k: (r.v, r.p) for r in eng.table("ktsql_eng_part").collect()}
        assert got == {1: ("A", "x"), 2: ("b", "x"), 3: ("c", "y"), 4: ("d", "z")}

        # zero-match UPDATE writes nothing at all
        n = eng.sql(
            "UPDATE ktsql_eng_part SET v = 'nope' WHERE k = 999"
        ).first()["num_affected_rows"]
        assert n == 0
        assert _partition_files(eng.spark, "ktsql_eng_part") == after

        # DELETE pruned to partition y; partition fully emptied → dropped
        before = after
        n = eng.sql("DELETE FROM ktsql_eng_part WHERE k = 3").first()[
            "num_affected_rows"
        ]
        assert n == 1
        after = _partition_files(eng.spark, "ktsql_eng_part")
        assert after.get("p=x") == before["p=x"]
        assert after.get("p=z") == before["p=z"]
        assert "p=y" not in after
        assert sorted(r.k for r in eng.table("ktsql_eng_part").collect()) == [1, 2, 4]

        # partial DELETE within a partition: survivors stay
        n = eng.sql("DELETE FROM ktsql_eng_part WHERE k = 2").first()[
            "num_affected_rows"
        ]
        assert n == 1
        assert {r.k: r.p for r in eng.table("ktsql_eng_part").collect()} == {
            1: "x", 4: "z",
        }
        assert _partition_files(eng.spark, "ktsql_eng_part").get("p=z") == before[
            "p=z"
        ]

        # SET of the partition column: full path (rows move partitions)
        n = eng.sql(
            "UPDATE ktsql_eng_part SET p = 'w' WHERE k = 4"
        ).first()["num_affected_rows"]
        assert n == 1
        got = {r.k: r.p for r in eng.table("ktsql_eng_part").collect()}
        assert got == {1: "x", 4: "w"}
        parts = _partition_files(eng.spark, "ktsql_eng_part")
        assert "p=z" not in parts and "p=w" in parts

        # non-deterministic predicate: full path, count still consistent
        eng.sql("INSERT INTO ktsql_eng_part VALUES (5, 'e', 'w'), (6, 'f', 'x')")
        total = eng.table("ktsql_eng_part").count()
        n = eng.sql("DELETE FROM ktsql_eng_part WHERE rand() < 0.5").first()[
            "num_affected_rows"
        ]
        assert eng.table("ktsql_eng_part").count() == total - n
    finally:
        eng.drop_table("ktsql_eng_part")


def test_facade_partitioned_dml_null_partition_and_cap_fallback(eng):
    """Edges of the pruned path: a NULL partition value round-trips
    (eqNullSafe pruning; DROP PARTITION (p = null) clears the Hive
    default partition), and when matched partitions exceed the
    driver-side cap the write falls back to the full overwrite with
    identical results."""
    eng.create_table(
        "ktsql_eng_pnull", "k BIGINT, p STRING", primary_key="k",
        partitioned_by="p",
    )
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_pnull VALUES "
            "(1, 'x'), (2, NULL), (3, NULL), (4, 'y')"
        )
        # partial delete inside the NULL partition: survivor stays
        n = eng.sql("DELETE FROM ktsql_eng_pnull WHERE k = 2").first()[
            "num_affected_rows"
        ]
        assert n == 1
        assert {(r.k, r.p) for r in eng.table("ktsql_eng_pnull").collect()} == {
            (1, "x"), (3, None), (4, "y"),
        }
        # emptying the NULL partition drops it
        n = eng.sql("DELETE FROM ktsql_eng_pnull WHERE p IS NULL").first()[
            "num_affected_rows"
        ]
        assert n == 1
        parts = [
            r[0] for r in eng.spark.sql("SHOW PARTITIONS ktsql_eng_pnull").collect()
        ]
        assert sorted(parts) == ["p=x", "p=y"]

        # cap fallback: more matched partitions than the driver budget
        orig = KtSqlEngine._MAX_PRUNED_PARTITIONS
        KtSqlEngine._MAX_PRUNED_PARTITIONS = 1
        try:
            n = eng.sql(
                "UPDATE ktsql_eng_pnull SET k = k + 10 WHERE k IN (1, 4)"
            ).first()["num_affected_rows"]
        finally:
            KtSqlEngine._MAX_PRUNED_PARTITIONS = orig
        assert n == 2
        assert {(r.k, r.p) for r in eng.table("ktsql_eng_pnull").collect()} == {
            (11, "x"), (14, "y"),
        }
    finally:
        eng.drop_table("ktsql_eng_pnull")


def test_facade_search_api(eng, spark, sf_oracle):
    """The parameterized search surface: eng.search(...) serves BM25
    over the persisted index; with t12's canonical terms and K it must
    return exactly t12's rows, and with other terms it returns a
    ranked non-empty top-k."""
    from kt_sql_hbase_ex_spark.functions.text import (
        BM25_TERMS,
        BM25_TOP_K,
        t12_bm25_search,
    )

    got = [tuple(r) for r in eng.search(*BM25_TERMS, k=BM25_TOP_K).collect()]
    want = [tuple(r) for r in t12_bm25_search(spark, sf_oracle).collect()]
    assert got == want and len(got) == BM25_TOP_K

    other = eng.search("window", "merge", k=5).collect()
    assert 0 < len(other) <= 5
    assert [r["rnk"] for r in other] == list(range(1, len(other) + 1))
    assert all(
        other[i]["bm25"] >= other[i + 1]["bm25"] for i in range(len(other) - 1)
    )


def test_facade_merge_into(eng):
    """MERGE INTO through the facade: standard first-match-wins WHEN
    clauses, expressions over OLD target row + matched source row via
    the statement's aliases, NULL fill for unlisted INSERT columns,
    ANSI cardinality violation on multi-match, and the Spark MERGE
    metrics row."""
    eng.create_table(
        "ktsql_eng_mrg", "k BIGINT, v STRING, amt BIGINT", primary_key="k"
    )
    eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_mrg_src")
    eng.spark.sql(
        "CREATE TABLE ktsql_eng_mrg_src (k BIGINT, v STRING, amt BIGINT, "
        "op STRING) USING parquet"
    )
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_mrg VALUES "
            "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)"
        )
        eng.sql(
            "INSERT INTO ktsql_eng_mrg_src VALUES "
            "(1, 'A', 100, 'u'), (3, 'C', 300, 'd'), (9, 'I', 900, 'u')"
        )
        r = eng.sql(
            "MERGE INTO ktsql_eng_mrg t USING ktsql_eng_mrg_src s ON t.k = s.k "
            "WHEN MATCHED AND s.op = 'd' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s.v, amt = t.amt + s.amt "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, lower(s.v))"
        ).first()
        assert (
            r["num_affected_rows"], r["num_updated_rows"],
            r["num_deleted_rows"], r["num_inserted_rows"],
        ) == (3, 1, 1, 1)
        got = {r.k: (r.v, r.amt) for r in eng.table("ktsql_eng_mrg").collect()}
        # k=1 updated (old amt + src amt), k=2 untouched, k=3 deleted,
        # k=9 inserted with NULL for the unlisted amt column
        assert got == {1: ("A", 110), 2: ("b", 20), 9: ("i", None)}

        # subquery source + INSERT *; insert-only MERGE leaves matches alone
        r = eng.sql(
            "MERGE INTO ktsql_eng_mrg t USING ("
            "  SELECT k + 100 AS k, upper(v) AS v, amt FROM ktsql_eng_mrg_src"
            ") s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT *"
        ).first()
        assert (r["num_affected_rows"], r["num_inserted_rows"]) == (3, 3)
        got = {r.k: (r.v, r.amt) for r in eng.table("ktsql_eng_mrg").collect()}
        assert got == {
            1: ("A", 110), 2: ("b", 20), 9: ("i", None),
            101: ("A", 100), 103: ("C", 300), 109: ("I", 900),
        }

        # cardinality violation: two source rows match one target row
        eng.sql("INSERT INTO ktsql_eng_mrg_src VALUES (1, 'dup', 1, 'u')")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="cardinality"):
            eng.sql(
                "MERGE INTO ktsql_eng_mrg t USING ktsql_eng_mrg_src s "
                "ON t.k = s.k WHEN MATCHED THEN UPDATE SET amt = s.amt"
            )
        # ... and the failed MERGE left the target untouched
        assert {r.k: (r.v, r.amt) for r in eng.table("ktsql_eng_mrg").collect()} == got

        # parser rejections fail loudly
        with _pytest.raises(ValueError, match="alias"):
            eng.sql(
                "MERGE INTO ktsql_eng_mrg t USING (SELECT 1 AS k) ON t.k = k "
                "WHEN MATCHED THEN DELETE"
            )
        with _pytest.raises(ValueError, match="WHEN"):
            eng.sql("MERGE INTO ktsql_eng_mrg t USING ktsql_eng_mrg_src s ON t.k = s.k")
    finally:
        eng.drop_table("ktsql_eng_mrg")
        eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_mrg_src")


def test_facade_merge_partitioned_rewrites_only_scope(eng):
    """Partitioned MERGE is partition-pruned like UPDATE/DELETE: the
    rewrite scope is matched partitions ∪ insert-target partitions —
    untouched partitions keep their files byte-identically, INSERT may
    create brand-new partitions, and a DELETE branch that empties a
    partition drops it."""
    eng.create_table(
        "ktsql_eng_mrgp", "k BIGINT, v STRING, p STRING",
        primary_key="k", partitioned_by="p",
    )
    eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_mrgp_src")
    eng.spark.sql(
        "CREATE TABLE ktsql_eng_mrgp_src (k BIGINT, v STRING, p STRING, "
        "op STRING) USING parquet"
    )
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_mrgp VALUES "
            "(1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y'), (4, 'd', 'z')"
        )
        # update k=1 (partition x), delete k=3 (sole row of y), insert
        # k=9 into the brand-new partition w — z is never matched
        eng.sql(
            "INSERT INTO ktsql_eng_mrgp_src VALUES "
            "(1, 'A', 'x', 'u'), (3, 'C', 'y', 'd'), (9, 'I', 'w', 'i')"
        )
        before = _partition_files(eng.spark, "ktsql_eng_mrgp")
        r = eng.sql(
            "MERGE INTO ktsql_eng_mrgp t USING ktsql_eng_mrgp_src s "
            "ON t.k = s.k "
            "WHEN MATCHED AND s.op = 'd' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)"
        ).first()
        assert (
            r["num_updated_rows"], r["num_deleted_rows"], r["num_inserted_rows"],
        ) == (1, 1, 1)
        after = _partition_files(eng.spark, "ktsql_eng_mrgp")
        assert after.get("p=z") == before["p=z"]  # untouched, byte-identical
        assert after["p=x"] != before["p=x"]      # rewritten (update)
        assert "p=y" not in after                 # emptied by DELETE → dropped
        assert "p=w" in after                     # created by INSERT
        got = {r.k: (r.v, r.p) for r in eng.table("ktsql_eng_mrgp").collect()}
        assert got == {
            1: ("A", "x"), 2: ("b", "x"), 4: ("d", "z"), 9: ("I", "w"),
        }

        # SET of the partition column falls back to the full path
        n = eng.sql(
            "MERGE INTO ktsql_eng_mrgp t USING ktsql_eng_mrgp_src s "
            "ON t.k = s.k AND s.op = 'u' "
            "WHEN MATCHED THEN UPDATE SET p = 'moved'"
        ).first()["num_updated_rows"]
        assert n == 1
        got = {r.k: r.p for r in eng.table("ktsql_eng_mrgp").collect()}
        assert got == {1: "moved", 2: "x", 4: "z", 9: "w"}

        # no-op MERGE (nothing matches, nothing inserts) writes nothing
        before = _partition_files(eng.spark, "ktsql_eng_mrgp")
        r = eng.sql(
            "MERGE INTO ktsql_eng_mrgp t USING ktsql_eng_mrgp_src s "
            "ON t.k = s.k + 1000 "
            "WHEN MATCHED THEN DELETE"
        ).first()
        assert r["num_affected_rows"] == 0
        assert _partition_files(eng.spark, "ktsql_eng_mrgp") == before
    finally:
        eng.drop_table("ktsql_eng_mrgp")
        eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_mrgp_src")


def test_facade_merge_lexer_handles_keywords_in_literals(eng):
    """MERGE parsing shares the quote-aware scanner: the words USING /
    ON / WHEN / THEN / VALUES inside string literals must not split the
    statement; parenthesized expressions inside VALUES survive."""
    eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_mlex")
    eng.spark.sql(
        "CREATE TABLE ktsql_eng_mlex (k BIGINT, v STRING) USING parquet"
    )
    try:
        eng.sql("INSERT INTO ktsql_eng_mlex VALUES (1, 'a')")
        eng.spark.createDataFrame(
            [(1, "x"), (2, "y")], "k long, v string"
        ).createOrReplaceTempView("ktsql_eng_mlex_src")
        r = eng.sql(
            "MERGE INTO ktsql_eng_mlex t USING ktsql_eng_mlex_src s ON t.k = s.k "
            "WHEN MATCHED AND s.v <> 'stop when on using then' THEN "
            "UPDATE SET v = concat(s.v, ' then on when') "
            "WHEN NOT MATCHED THEN INSERT (k, v) "
            "VALUES (s.k, concat('values (on, when)', upper(s.v)))"
        ).first()
        assert (r["num_updated_rows"], r["num_inserted_rows"]) == (1, 1)
        got = {r.k: r.v for r in eng.table("ktsql_eng_mlex").collect()}
        assert got == {1: "x then on when", 2: "values (on, when)Y"}
    finally:
        eng.spark.sql("DROP TABLE IF EXISTS ktsql_eng_mlex")
        eng.spark.catalog.dropTempView("ktsql_eng_mlex_src")


def test_facade_parameterized_sql(eng):
    """The PreparedStatement surface: named and positional bindings
    through the facade equal the literal-inlined statement; binding on
    the facade-executed DML forms is rejected loudly."""
    lit = eng.sql(
        "SELECT count(*) AS n FROM customer "
        "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0"
    ).collect()
    named = eng.sql(
        "SELECT count(*) AS n FROM customer "
        "WHERE c_mktsegment = :seg AND c_acctbal > :minbal",
        args={"seg": "BUILDING", "minbal": 1000.0},
    ).collect()
    pos = eng.sql(
        "SELECT count(*) AS n FROM customer "
        "WHERE c_mktsegment = ? AND c_acctbal > ?",
        args=["BUILDING", 1000.0],
    ).collect()
    assert named == lit == pos and lit[0]["n"] > 0
    # a bound value is a typed literal, not spliced text: quoting is inert
    inj = eng.sql(
        "SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg",
        args={"seg": "BUILDING' OR '1'='1"},
    ).collect()
    assert inj[0]["n"] == 0
    with pytest.raises(ValueError, match="parameter binding"):
        eng.sql("UPDATE t SET v = :v WHERE k = 1", args={"v": 1})
    with pytest.raises(ValueError, match="parameter binding"):
        eng.sql("DELETE FROM t WHERE k = :k", args={"k": 1})
    # an explicitly passed EMPTY bundle still routes through the
    # parameterized path: markers fail with the binder's own loud
    # unbound-parameter error, not a confusing parse/analysis one, and
    # facade DML still rejects (round-7 review finding)
    with pytest.raises(Exception, match="(?i)parameter|UNBOUND"):
        eng.sql(
            "SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg",
            args={},
        ).collect()
    with pytest.raises(ValueError, match="parameter binding"):
        eng.sql("DELETE FROM t WHERE k = :k", args={})
    # and a markerless statement with an empty bundle just runs
    assert eng.sql("SELECT 1 AS one", args={}).first()["one"] == 1


def test_facade_merge_case_when_in_set_expression(eng):
    """An unparenthesized CASE WHEN inside UPDATE SET (or an AND guard)
    must not be mistaken for a MERGE clause boundary — the lexer tracks
    CASE…END nesting like paren depth."""
    eng.create_table("ktsql_eng_mcase", "k BIGINT, v BIGINT", primary_key="k")
    try:
        eng.sql("INSERT INTO ktsql_eng_mcase VALUES (1, 10), (2, -5)")
        m = eng.sql(
            "MERGE INTO ktsql_eng_mcase t USING "
            "(SELECT 1 AS k UNION ALL SELECT 2) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET "
            "v = CASE WHEN t.v > 0 THEN t.v * 2 ELSE 0 END"
        ).first()
        assert m["num_updated_rows"] == 2
        assert {(r.k, r.v) for r in eng.table("ktsql_eng_mcase").collect()} == {
            (1, 20), (2, 0),
        }
        # CASE in the AND guard too
        m = eng.sql(
            "MERGE INTO ktsql_eng_mcase t USING (SELECT 1 AS k) s ON t.k = s.k "
            "WHEN MATCHED AND CASE WHEN t.v = 20 THEN true ELSE false END "
            "THEN DELETE"
        ).first()
        assert m["num_deleted_rows"] == 1
    finally:
        eng.drop_table("ktsql_eng_mcase")


def test_facade_insert_only_merge_skips_matched_partitions(eng):
    """Insert-only MERGE (the append-upsert) on a partitioned target
    must not rewrite partitions that merely CONTAIN matched rows: only
    partitions the INSERT lands rows in change on disk."""
    eng.create_table(
        "ktsql_eng_mio", "k BIGINT, p STRING", primary_key="k",
        partitioned_by="p",
    )
    try:
        eng.sql(
            "INSERT INTO ktsql_eng_mio VALUES (1, 'x'), (2, 'x'), (3, 'y')"
        )
        before = _partition_files(eng.spark, "ktsql_eng_mio")
        m = eng.sql(
            "MERGE INTO ktsql_eng_mio t USING ("
            "  SELECT 1 AS k, 'x' AS p"          # matches: no-op
            "  UNION ALL SELECT 9, 'z'"           # inserts into new part
            "  UNION ALL SELECT 8, 'y'"           # inserts into existing
            ") s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, s.p)"
        ).first()
        assert m["num_inserted_rows"] == 2 and m["num_updated_rows"] == 0
        after = _partition_files(eng.spark, "ktsql_eng_mio")
        assert before["p=x"] == after["p=x"], "matched partition rewritten"
        assert before["p=y"] != after["p=y"]  # insert landed here
        assert "p=z" in after  # new partition created
        assert {(r.k, r.p) for r in eng.table("ktsql_eng_mio").collect()} == {
            (1, "x"), (2, "x"), (3, "y"), (8, "y"), (9, "z"),
        }
    finally:
        eng.drop_table("ktsql_eng_mio")


def test_facade_run_script_flat_statements(eng):
    """run_script: DDL + INSERT (semicolons and comment markers inside
    string literals survive) + facade-executed UPDATE + final SELECT,
    comments stripped; returns the last statement's result. BEGIN
    blocks route to .sql(), not the splitter."""
    eng.drop_table("ktsql_eng_script")
    try:
        out = eng.run_script(
            """
            -- a migration-style flat script; this comment vanishes
            CREATE TABLE ktsql_eng_script (k BIGINT, v STRING)
              TBLPROPERTIES ('ktsql.primary' = 'k');
            /* block comment; with a semicolon inside */
            INSERT INTO ktsql_eng_script VALUES
              (1, 'a;b -- not a comment'), (2, 'plain');
            UPDATE ktsql_eng_script SET v = 'x' WHERE k = 2;
            SELECT k, v FROM ktsql_eng_script ORDER BY k;
            """
        )
        assert [(r.k, r.v) for r in out.collect()] == [
            (1, "a;b -- not a comment"), (2, "x"),
        ]
        assert eng.run_script("-- nothing but a comment") is None
        with pytest.raises(ValueError, match="BEGIN"):
            eng.run_script("BEGIN SELECT 1; SELECT 2; END")
        # the native scripting path still works through .sql() whole
        # (set/restore: the switch must not leak into later tests)
        prev = eng.spark.conf.get("spark.sql.scripting.enabled", None)
        eng.spark.conf.set("spark.sql.scripting.enabled", "true")
        try:
            row = eng.sql(
                "BEGIN DECLARE x INT DEFAULT 20; SET x = x + 2; "
                "SELECT x AS out; END"
            ).first()
        finally:
            if prev is None:
                eng.spark.conf.unset("spark.sql.scripting.enabled")
            else:
                eng.spark.conf.set("spark.sql.scripting.enabled", prev)
        assert row["out"] == 22
    finally:
        eng.drop_table("ktsql_eng_script")


def test_facade_script_splitter_edges(eng):
    """The unified lexer behind run_script: block comments and optimizer
    hints survive VERBATIM inside statements (no token gluing, no hint
    stripping), backticked identifiers may contain ';' and '--', a
    mid-script BEGIN fails BEFORE any statement executes, and
    comment-only fragments are dropped."""
    from kt_sql_hbase_ex_spark.engine import _split_statements

    # no gluing: the comment stays, tokens stay separated
    assert _split_statements("SELECT a/*c*/FROM t; SELECT 1") == [
        "SELECT a/*c*/FROM t", "SELECT 1",
    ]
    # hints survive for Spark to read
    assert _split_statements("SELECT /*+ BROADCAST(d) */ * FROM t") == [
        "SELECT /*+ BROADCAST(d) */ * FROM t",
    ]
    # backticked names are identifier text, not syntax
    assert _split_statements("SELECT `a;b` FROM t; SELECT `x--y` FROM t") == [
        "SELECT `a;b` FROM t", "SELECT `x--y` FROM t",
    ]
    # semicolons/quotes inside comments are not syntax either
    assert _split_statements("SELECT 1 -- don't; split\n+ 1; SELECT 2") == [
        "SELECT 1 -- don't; split\n+ 1", "SELECT 2",
    ]
    assert _split_statements("/* only; a comment */ \n-- more") == []
    # a hint really reaches Catalyst through run_script
    row = eng.run_script(
        "SELECT /*+ REPARTITION(3) */ count(*) AS n FROM region"
    ).first()
    assert row["n"] > 0
    # mid-script BEGIN: rejected before ANY statement runs
    eng.drop_table("ktsql_eng_prescan")
    try:
        with pytest.raises(ValueError, match="BEGIN"):
            eng.run_script(
                "CREATE TABLE ktsql_eng_prescan (k BIGINT); "
                "BEGIN SELECT 1; END"
            )
        assert "ktsql_eng_prescan" not in eng.list_tables()
    finally:
        eng.drop_table("ktsql_eng_prescan")


def test_facade_dml_with_leading_comments_and_target_subquery(eng):
    """Two review regressions: (1) a statement OPENING with a comment
    still routes to the facade DML executor (run_script preserves
    comments, so this shape is routine); (2) an UPDATE whose SET scalar
    subquery references the TARGET table itself evaluates against the
    pre-update snapshot — never a mid-overwrite re-read of deleted
    files (the data-loss shape)."""
    eng.create_table("ktsql_eng_cmt", "k BIGINT, v BIGINT", primary_key="k")
    try:
        eng.sql("INSERT INTO ktsql_eng_cmt VALUES (1, 10), (2, 20), (3, 30)")
        n = eng.run_script(
            "-- bump row two\n"
            "/* block */ UPDATE ktsql_eng_cmt SET v = 99 WHERE k = 2;"
        ).first()["num_affected_rows"]
        assert n == 1
        # comment-led DELETE routes too (would otherwise hit the Spark
        # parser's unsupported-on-parquet error)
        n = eng.sql("-- rm\nDELETE FROM ktsql_eng_cmt WHERE k = 3").first()[
            "num_affected_rows"
        ]
        assert n == 1
        # SET subquery over the TARGET: old-row semantics, no data loss
        n = eng.sql(
            "UPDATE ktsql_eng_cmt SET v = (SELECT max(v) FROM ktsql_eng_cmt)"
        ).first()["num_affected_rows"]
        assert n == 2
        assert {(r.k, r.v) for r in eng.table("ktsql_eng_cmt").collect()} == {
            (1, 99), (2, 99),
        }
    finally:
        eng.drop_table("ktsql_eng_cmt")


def test_facade_merge_cardinality_ignores_noop_matches(eng):
    """ANSI/Delta cardinality semantics: multiple source matches raise
    ONLY when a target row would be modified more than once — all-no-op
    multi-matches complete (and do not duplicate the row), one
    modifying match among no-ops completes, two modifying matches
    raise."""
    eng.create_table("ktsql_eng_mcard", "k BIGINT, v BIGINT", primary_key="k")
    try:
        eng.sql("INSERT INTO ktsql_eng_mcard VALUES (1, 10), (2, 20)")
        # two matches for k=1, BOTH fall through to no-op: fine
        m = eng.sql(
            "MERGE INTO ktsql_eng_mcard t USING "
            "(SELECT 1 AS k, 0 AS op UNION ALL SELECT 1, 0) s ON t.k = s.k "
            "WHEN MATCHED AND s.op = 1 THEN UPDATE SET v = 0"
        ).first()
        assert m["num_updated_rows"] == 0
        rows = eng.table("ktsql_eng_mcard").collect()
        assert sorted((r.k, r.v) for r in rows) == [(1, 10), (2, 20)], (
            "all-no-op multi-match must not duplicate the row"
        )
        # two matches, exactly ONE modifies: fine, modifies once
        m = eng.sql(
            "MERGE INTO ktsql_eng_mcard t USING "
            "(SELECT 1 AS k, 0 AS op UNION ALL SELECT 1, 1) s ON t.k = s.k "
            "WHEN MATCHED AND s.op = 1 THEN UPDATE SET v = 11"
        ).first()
        assert m["num_updated_rows"] == 1
        assert sorted(
            (r.k, r.v) for r in eng.table("ktsql_eng_mcard").collect()
        ) == [(1, 11), (2, 20)]
        # two MODIFYING matches: cardinality violation
        with pytest.raises(ValueError, match="cardinality"):
            eng.sql(
                "MERGE INTO ktsql_eng_mcard t USING "
                "(SELECT 1 AS k, 1 AS op UNION ALL SELECT 1, 1) s ON t.k = s.k "
                "WHEN MATCHED AND s.op = 1 THEN UPDATE SET v = 0"
            )
    finally:
        eng.drop_table("ktsql_eng_mcard")


def test_script_splitter_nested_block_comments():
    """Spark parses bracketed comments nested; the lexer must too — a
    ';' inside the outer comment's tail is not a statement boundary."""
    from kt_sql_hbase_ex_spark.engine import _split_statements

    assert _split_statements(
        "SELECT 1 /* note /* inner */ ; still comment */; SELECT 2"
    ) == ["SELECT 1 /* note /* inner */ ; still comment */", "SELECT 2"]


def test_facade_kv_maintenance_and_timetravel(eng, tmp_path):
    """The facade's KV maintenance surface end to end (round-9):
    commits → compact_kv_table (session rides along for the
    distributed crossover) → read_kv_asof at every reachable point →
    prune_kv_changelog's no-arg SAFE watermark (the oldest retained
    anchor) keeps every anchored time-travel point serving."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        changelog_floor,
        delete_from_store,
        register_kv_source,
        truncate_overlay,
    )

    register_kv_source(eng.spark)
    base = os.path.join(str(tmp_path), "fac.parquet")
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64()), "v": pa.array([], pa.float64())}),
        base,
    )
    opts = {
        "path": base,
        "keyCol": "k",
        "columns": "k,v",
        "appId": eng.spark.conf.get("spark.app.id", "shared"),
    }
    lopts = {k.lower(): v for k, v in opts.items()}
    truncate_overlay(lopts)

    def put(rows):
        eng.spark.createDataFrame(rows, "k bigint, v double").write.format(
            FORMAT_NAME
        ).options(**opts).mode("append").save()

    put([(1, 10.0), (2, 20.0)])  # seq 1
    stats = eng.compact_kv_table(**opts)  # gen A, anchor 1
    assert stats["compacted"] and stats["applied_seq"] == 1
    assert "distributed" in stats  # session rode along (crossover-sized)
    put([(2, 25.0)])  # seq 2
    delete_from_store(lopts, [1])  # seq 3
    stats2 = eng.compact_kv_table(**opts)  # gen B, anchor 3; A retained
    assert stats2["applied_seq"] == 3

    def state(seq):
        return {r["k"]: r["v"] for r in eng.read_kv_asof(seq, **opts).collect()}

    # safe prune with no argument: floor moves to the OLDEST retained
    # anchor (gen A's fold point), not the live one
    floor = eng.prune_kv_changelog(**opts)
    assert floor == 1 == changelog_floor(lopts)
    assert state(1) == {1: 10.0, 2: 20.0}  # gen A's anchor point
    assert state(2) == {1: 10.0, 2: 25.0}  # anchor A + span (1,2]
    assert state(3) == {2: 25.0}  # live anchor
    assert state(99) == {2: 25.0}
    # a store that never folded: no-arg prune is a no-op
    base2 = os.path.join(str(tmp_path), "fac2.parquet")
    pq.write_table(pa.table({"k": pa.array([], pa.int64())}), base2)
    o2 = {"path": base2, "keyCol": "k", "columns": "k", "appId": opts["appId"]}
    truncate_overlay({k.lower(): v for k, v in o2.items()})
    assert eng.prune_kv_changelog(**o2) == 0

"""Engine facade — the user-facing surface a reference user switches to.

The reference is used as: connect Calcite-JDBC with the HBase schema
factory, then issue SQL — SELECTs, DML, DDL — against the registered
tables (``hbase/HBaseSchemaFactory.kt:22-35``, flow documented at
``hbase/HBaseSchema.kt:38-49``). This facade is that contract on Spark:
construct ``KtSqlEngine`` over a data directory (= the connect step:
catalog bootstrap, ``hbase/HBaseConnection.kt:28-44``), then ``.sql()``
anything — the full Spark SQL dialect, a strict superset of the Calcite
1.17 surface the reference exposed (SURVEY.md §2.3; the reference
additionally *crashed* on OR/IN/LIKE predicates at the scan layer,
§2.2, which work here).

    eng = KtSqlEngine(spark, "/root/testdata/sf0.01")
    eng.sql("SELECT r_name, count(*) FROM region GROUP BY r_name")
    eng.create_table("t", "k BIGINT, v STRING", primary_key="k")  # DDL
    eng.sql("INSERT INTO t VALUES (1, 'x')")          # DML
    eng.sql("UPDATE t SET v = 'y' WHERE k = 1")       # row-level DML
    eng.sql("DELETE FROM t WHERE k = 1")              #   (facade-executed)
    eng.describe("lineitem")                          # catalog metadata

Scale note: construction registers metadata-only views (no data read);
every ``.sql`` is planned by Catalyst with the same pushdown/broadcast
/AQE behavior the named queries pin in tests.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from kt_sql_hbase_ex_spark.sources import catalog as cat

#: UPDATE <t> SET a = e1[, b = e2 ...] [WHERE pred]  /  DELETE FROM <t>
#: [WHERE pred] — the two statement shapes the reference's Calcite layer
#: routed into ``toModificationRel`` (``hbase/HBaseModifiableTable.kt``)
#: that Spark SQL itself rejects on parquet tables. The heads match
#: plain, dotted (db.t) and backticked names; SET/WHERE bodies are
#: split by the quote-and-paren-aware scanner below, never by regex.
_UPDATE_HEAD = re.compile(
    r"^\s*update\s+(`[^`]+`|[\w.]+)\s+set\s+", re.IGNORECASE
)
_DELETE_HEAD = re.compile(
    r"^\s*delete\s+from\s+(`[^`]+`|[\w.]+)(?=\s|;|$)", re.IGNORECASE
)
_MERGE_HEAD = re.compile(
    r"^\s*merge\s+into\s+(`[^`]+`|[\w.]+)", re.IGNORECASE
)
#: CREATE INDEX <name> ON <kv_table> (<column>)  /  DROP INDEX <name>
#: ON <kv_table> — the reference's literal index DDL surface
#: (calcite-server statements routed into ``HBaseSchema.createIndex``/
#: ``dropIndex``, ``hbase/HBaseSchema.kt:226-263,272-288``); Spark SQL
#: has no CREATE INDEX, so the facade executes these itself against
#: registered KV tables. The full statement is matched (no free tail):
#: unsupported decorations (UNIQUE, USING, multi-column lists) fail
#: loudly below rather than silently creating a different index.
_CREATE_INDEX_STMT = re.compile(
    r"^\s*create\s+index\s+(`[^`]+`|\w+)\s+on\s+(`[^`]+`|[\w.]+)\s*"
    r"\(([^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_INDEX_STMT = re.compile(
    r"^\s*drop\s+index\s+(`[^`]+`|\w+)\s+on\s+(`[^`]+`|[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
#: loose heads, used only to bounce bindings / malformed forms loudly
_INDEX_DDL_HEAD = re.compile(r"^\s*(create|drop)\s+index\b", re.IGNORECASE)
#: CREATE TABLE <name> ( <cols incl. PRIMARY KEY (...)> ) — the
#: calcite-server literal form the reference's createTable was driven
#: by (``HBaseSchema.kt:101-135``: RelDataType columns + keyConstraint,
#: mandatory PK). Spark SQL rejects the PRIMARY KEY constraint outright
#: ([UNSUPPORTED_FEATURE.TABLE_OPERATION]), so the facade executes the
#: constraint-carrying form itself; constraint-free CREATE TABLE text
#: (Spark-native: USING/TBLPROPERTIES/CTAS/partitioned) passes through
#: untouched.
_CREATE_TABLE_HEAD = re.compile(
    r"^\s*create\s+table\s+(if\s+not\s+exists\s+)?(`[^`]+`|[\w.]+)\s*\(",
    re.IGNORECASE,
)
_PK_ITEM = re.compile(
    r"^(?:constraint\s+(?:`[^`]+`|\w+)\s+)?primary\s+key\s*\(([^)]*)\)\s*$",
    re.IGNORECASE,
)


def _scan_sql(s: str):
    """Yield (index, char, depth, masked) walking a SQL fragment.
    ``masked`` is True for every character that is NOT syntax to a
    splitter: inside single/double-quoted literals (doubled-char AND
    backslash escapes — Spark's default non-ANSI parser accepts both,
    so ``'don\\'t'`` must not flip the quote tracking), inside
    BACKTICK-quoted identifiers (doubled-backtick escape only — ``;``
    or ``--`` inside a legal ```a;b``` name is identifier text), and
    inside ``--`` line or ``/* */`` block comments (comment text may
    contain quotes, keywords, commas, semicolons — none of it is
    syntax; the characters are still YIELDED so consumers preserve
    comments — including ``/*+ … */`` hints — verbatim). Paren depth
    is tracked alongside. This is the ONE lexer every statement
    splitter in the facade consumes — quote handling must never fork
    (a round-6 escape fix had to land in two copies; never again)."""
    depth, quote = 0, None  # quote = the active quote char, if any
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\" and quote in ("'", '"') and i + 1 < n:
                yield i, ch, depth, "q"  # backslash escape: skip next
                i += 1
                ch = s[i]
            elif ch == quote:
                if i + 1 < n and s[i + 1] == quote:  # escaped quote
                    yield i, ch, depth, "q"
                    i += 1
                else:
                    quote = None
            yield i, ch, depth, "q"
            i += 1
            continue
        if s.startswith("--", i):  # line comment: masked through \n
            j = s.find("\n", i)
            j = n if j == -1 else j
            while i < j:
                yield i, s[i], depth, "c"
                i += 1
            continue  # the newline itself yields as ordinary text
        if s.startswith("/*", i):  # block comment (incl. /*+ hints);
            # Spark parses bracketed comments NESTED, so the lexer must
            # too — closing at the first */ would leave the outer tail
            # live and let a ';' inside it split a statement
            j, cdepth = i + 2, 1
            while j < n and cdepth:
                if s.startswith("/*", j):
                    cdepth += 1
                    j += 2
                elif s.startswith("*/", j):
                    cdepth -= 1
                    j += 2
                else:
                    j += 1
            if cdepth:
                raise ValueError(f"unterminated /* comment in: {s[i:i + 40]!r}…")
            while i < j:
                yield i, s[i], depth, "c"
                i += 1
            continue
        if ch in ("'", '"', "`"):
            quote = ch
            yield i, ch, depth, "q"
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        yield i, ch, depth, ""
        i += 1


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside parentheses AND string literals (shared
    by the column-DDL parser and the UPDATE SET-list parser)."""
    parts, cur = [], []
    for _, ch, depth, in_q in _scan_sql(s):
        if ch == "," and depth == 0 and not in_q:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _find_top_keyword(s: str, kw: str) -> int:
    """Index of the first TOP-LEVEL, word-bounded occurrence of ``kw``
    (outside quotes/parens/comments), or -1 — the _split_where scan,
    generalized for the DDL column parser."""
    lower = s.lower()
    n = len(kw)
    for i, ch, depth, in_q in _scan_sql(s):
        if depth == 0 and not in_q and lower.startswith(kw, i):
            before = i == 0 or not (lower[i - 1].isalnum() or lower[i - 1] == "_")
            j = i + n
            after = j >= len(s) or not (lower[j].isalnum() or lower[j] == "_")
            if before and after:
                return i
    return -1


def _split_where(s: str) -> tuple[str, str | None]:
    """Split a statement tail at the first TOP-LEVEL ``where`` keyword
    (outside quotes/parens, word-bounded); returns (head, predicate)."""
    lower = s.lower()
    for i, ch, depth, in_q in _scan_sql(s):
        if depth == 0 and not in_q and lower.startswith("where", i):
            before_ok = i == 0 or not (lower[i - 1].isalnum() or lower[i - 1] == "_")
            after = i + 5
            after_ok = after >= len(s) or not (
                lower[after].isalnum() or lower[after] == "_"
            )
            if before_ok and after_ok:
                return s[:i].rstrip(), s[after:].strip().rstrip(";").strip() or None
    return s.rstrip().rstrip(";").rstrip(), None


def _kw_positions(s: str, keywords: tuple[str, ...]) -> list[tuple[str, int]]:
    """Top-level (outside quotes/parens AND outside CASE…END), word-
    bounded positions of each keyword, in text order — the scanner
    behind the MERGE parser. CASE expressions have their own WHEN/THEN
    arms, so an unparenthesized ``SET v = CASE WHEN … THEN … END`` must
    not be mistaken for a MERGE clause boundary; the scanner tracks
    CASE nesting like paren depth (an identifier literally named
    ``end`` outside any CASE clamps at zero rather than corrupting the
    depth)."""
    lower = s.lower()

    def word_at(kw: str, i: int) -> bool:
        if not lower.startswith(kw, i):
            return False
        before_ok = i == 0 or not (lower[i - 1].isalnum() or lower[i - 1] == "_")
        j = i + len(kw)
        return before_ok and (
            j >= len(s) or not (lower[j].isalnum() or lower[j] == "_")
        )

    out = []
    case_depth = 0
    for i, _ch, depth, in_q in _scan_sql(s):
        if depth != 0 or in_q:
            continue
        if word_at("case", i):
            case_depth += 1
            continue
        if word_at("end", i):
            case_depth = max(0, case_depth - 1)
            continue
        if case_depth:
            continue
        for kw in keywords:
            if word_at(kw, i):
                out.append((kw, i))
                break
    return out


def _matching_paren(s: str, start: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``start`` (quote-aware)."""
    base_depth = None
    for i, ch, depth, in_q in _scan_sql(s[start:]):
        if i == 0:
            base_depth = depth  # depth AFTER consuming the opening paren
        if not in_q and ch == ")" and depth == base_depth - 1:
            return start + i
    raise ValueError(f"unbalanced parentheses in: {s[start:start + 40]!r}…")


def _split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level semicolons, driven
    entirely by :func:`_scan_sql` (ONE lexer: quotes with both escape
    styles, backticked identifiers, ``--`` and ``/* */`` comments).
    Comments are PRESERVED inside their statement — Spark parses them,
    and ``/*+ … */`` optimizer hints must survive verbatim — but a
    fragment that is nothing but comments/whitespace is dropped rather
    than sent to the parser as an empty statement. The flat splitter
    behind :meth:`KtSqlEngine.run_script`."""
    out: list[tuple[str, bool]] = []
    cur: list[str] = []
    has_content = False
    for _i, ch, depth, masked in _scan_sql(script):
        if ch == ";" and depth == 0 and not masked:
            out.append(("".join(cur), has_content))
            cur, has_content = [], False
            continue
        cur.append(ch)
        if not masked and not ch.isspace():
            has_content = True
    out.append(("".join(cur), has_content))
    return [s.strip() for s, content in out if content and s.strip()]


def _strip_comments(s: str) -> str:
    """The statement with every comment replaced by ONE space (quoted
    text untouched; the space prevents token gluing). Facade-PARSED
    statements (UPDATE/DELETE/MERGE) are routed and parsed on this form
    so comments anywhere — leading, between head tokens, trailing a
    WHERE — can neither reroute a statement to the Spark parser nor
    splice a ``--`` tail into generated one-line SQL and comment out
    its closing parens. Pass-through statements keep their ORIGINAL
    text (hints included); the facade regenerates DML SQL from parsed
    fragments anyway, so dropping comments there loses nothing."""
    out: list[str] = []
    prev_comment = False
    for _i, ch, _depth, kind in _scan_sql(s):
        if kind == "c":
            if not prev_comment:
                out.append(" ")
            prev_comment = True
            continue
        prev_comment = False
        out.append(ch)
    return "".join(out).strip()


def _first_token(stmt: str) -> str:
    """First unmasked word of a statement (comments/whitespace skipped)
    — what run_script's BEGIN pre-check keys on."""
    word: list[str] = []
    for _i, ch, _depth, masked in _scan_sql(stmt):
        if masked:
            if word:
                break
            continue
        if ch.isalpha() or ch == "_":
            word.append(ch)
        elif word:
            break
        elif not ch.isspace():
            break  # statement starts with punctuation: not a keyword
    return "".join(word).lower()


def _bq(col: str) -> str:
    """Backtick-quote an identifier for generated SQL (reserved words,
    odd characters) — backticks in the name itself double-escape."""
    return f"`{col.replace('`', '``')}`"


class KtSqlEngine:
    """One engine instance ≙ one reference 'connection' (schema bound to
    a storage location + live table map, ``hbase/HBaseSchema.kt:57-61``)."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir or cat.default_sf_dir()
        self.tables = cat.register_views(spark, self.sf_dir)
        #: view name (lowercased) → KV store options, filled by
        #: register_kv_table — the catalog slice literal CREATE/DROP
        #: INDEX statements resolve their target through
        self._kv_tables: dict[str, dict] = {}

    @classmethod
    def from_properties(cls, spark: SparkSession, path: str) -> "KtSqlEngine":
        """Connect via a properties file — the reference's bootstrap
        surface (``application.properties`` → ``HBaseSchemaFactory``
        operands ``{zkquorum, flavor}``, validated at
        ``hbase/HBaseSchemaFactory.kt:22-35``). Operand mapping:

        * ``datadir`` (required — the ``zkquorum`` analog: where the
          storage lives; missing → ValueError like the factory's
          reject-on-missing-operand)
        * ``flavor`` (optional — the pushdown A/B knob,
          ``HBaseTable.kt:198-207``: ``SCANNABLE`` turns Parquet filter
          pushdown off, ``FILTERABLE``/``PROJECTFILTERABLE`` leave it
          on; answers are identical either way, pinned by
          ``test_pushdown_toggle_knob``)

        Lines are ``key = value``; ``#`` comments and blanks skipped.

        Scope note: the flavor knob sets a SESSION-WIDE conf —
        ``spark.sql.parquet.filterPushdown`` stays as configured for
        every engine/query sharing the SparkSession until another
        bootstrap (or test) resets it. Perf-only either way (answers
        are pinned identical by ``test_pushdown_toggle_knob``), but a
        multi-engine session should bootstrap its SCANNABLE engine
        last or reset the conf after use.
        """
        props: dict[str, str] = {}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#") or "=" not in line:
                    continue
                k, _, v = line.partition("=")
                props[k.strip().lower()] = v.strip()
        if "datadir" not in props:
            raise ValueError("missing required operand 'datadir'")
        flavor = props.get("flavor", "PROJECTFILTERABLE").upper()
        if flavor not in ("SCANNABLE", "FILTERABLE", "PROJECTFILTERABLE"):
            raise ValueError(f"unknown flavor {flavor!r}")
        spark.conf.set(
            "spark.sql.parquet.filterPushdown",
            "false" if flavor == "SCANNABLE" else "true",
        )
        return cls(spark, props["datadir"])

    # -- query ---------------------------------------------------------
    def sql(self, statement: str, args=None) -> DataFrame:
        """Full Spark SQL dialect over the registered catalog — PLUS
        row-level DML statements. Calcite routed ``UPDATE`` /
        ``DELETE`` into table modification
        (``hbase/HBaseModifiableTable.kt`` toModificationRel); Spark
        SQL rejects them on parquet tables, so the facade executes the
        simple single-table forms itself as snapshot-overwrite
        transforms (the dml02/dml03 semantics behind the reference's
        actual SQL surface) and returns a one-row
        ``num_affected_rows`` DataFrame, like the JDBC update count.
        ``MERGE INTO`` executes the same way with standard semantics
        (first-match-wins WHEN clauses, cardinality violation on
        multi-match, metrics row back — see :meth:`_merge`).
        Anything else passes through to Spark SQL verbatim.

        Supported DML shape: one target table; SET expressions are
        scalar over the target's OLD row and may contain scalar
        subqueries against other catalog tables — correlated through
        UNQUALIFIED outer column names (SET evaluates over a snapshot
        view, so target-name qualifiers don't resolve there);
        the WHERE predicate is any Spark-SQL boolean expression
        INCLUDING ``IN (SELECT …)`` / ``EXISTS`` / scalar subqueries
        (the first DML a migrating user writes after literals — the
        predicate resolves through ``spark.sql``, not selectExpr).
        String literals with commas, parens, quotes, or the word
        ``where`` inside are lexed correctly. The reference's
        translator crashed on far less (SURVEY §2.2); use the
        ``operators/dml.py`` transforms for join-shaped mutations
        (multi-table MERGE).

        ``args`` binds parameters (named ``:name`` dict or positional
        ``?`` list) — the PreparedStatement surface the reference's
        Calcite-JDBC consumers used; bindings become typed literals in
        the analyzed plan (no string splicing). Supported on the
        pass-through path only: the facade-executed UPDATE / DELETE /
        MERGE forms reject bindings loudly rather than mis-parse a
        marker as SQL text."""
        # facade-parsed forms route and parse on the COMMENT-STRIPPED
        # text: a statement opening with '-- note\nUPDATE …' is still
        # facade DML (the splitter preserves comments by design, so
        # run_script feeds such statements here), a comment between
        # head tokens can't break the head match, and a trailing '--'
        # on a WHERE can't comment out generated one-line SQL
        core = _strip_comments(statement)
        # `is not None`, not truthiness: an explicitly passed EMPTY
        # bundle (args={} / args=[]) must still route through the
        # parameterized path — a :name/? marker then fails with
        # spark.sql's own unbound-parameter error (or the facade-DML
        # rejection below), not a confusing parse error from treating
        # the marker as SQL text (round-7 review finding)
        if args is not None:
            facade_form = any(
                head.match(core)
                for head in (_UPDATE_HEAD, _DELETE_HEAD, _MERGE_HEAD, _INDEX_DDL_HEAD)
            )
            if not facade_form:
                mct = _CREATE_TABLE_HEAD.match(core)
                facade_form = (
                    mct is not None
                    and self._create_table_parts(core, mct) is not None
                )
            if facade_form:
                raise ValueError(
                    "parameter binding is not supported for facade-"
                    "executed UPDATE/DELETE/MERGE/DDL statements "
                    "— inline the values (the lexer handles quoting) "
                    "or use the operators/dml.py transforms"
                )
            return self.spark.sql(statement, args=args)
        if _INDEX_DDL_HEAD.match(core):
            return self._index_ddl(core)
        mct = _CREATE_TABLE_HEAD.match(core)
        if mct:
            parts = self._create_table_parts(core, mct)
            if parts is not None:  # PK-constraint form: facade-executed
                return self._create_table_stmt(mct, parts)
        m = _UPDATE_HEAD.match(core)
        if m:
            set_clause, where = _split_where(core[m.end():])
            return self._update(m.group(1), set_clause, where)
        m = _MERGE_HEAD.match(core)
        if m:
            return self._merge(m.group(1), core[m.end():])
        m = _DELETE_HEAD.match(core)
        if m:
            head, where = _split_where(core[m.end():])
            if head.strip().strip(";").strip():
                # 'DELETE FROM t x WHERE …' must not silently delete as
                # if the alias text weren't there — unsupported syntax
                # fails loudly instead of executing a different statement
                raise ValueError(
                    f"unsupported DELETE syntax after table name: "
                    f"{head.strip()!r} (aliases/USING are not supported)"
                )
            return self._delete(m.group(1), where)
        return self.spark.sql(statement)

    def _index_ddl(self, core: str) -> DataFrame:
        """Execute a literal ``CREATE INDEX <name> ON <t> (<col>)`` or
        ``DROP INDEX <name> ON <t>`` — the statement surface the
        reference's calcite-server consumers wrote index DDL through
        (``HBaseSchema.kt:226-263,272-288``; the repo has had the API
        form since round 5, this is the migrating user's SQL-string
        route). ``<t>`` must be a KV table registered via
        :meth:`register_kv_table` (the catalog slice that knows the
        store's options bundle); for Parquet analytics tables the
        answer remains bucketing / partitioning / ANALYZE (COVERAGE.md
        CREATE/DROP INDEX row). Returns a one-row result like the DML
        forms (the JDBC update-count shape)."""
        m = _CREATE_INDEX_STMT.match(core)
        if m:
            index_name, table, col_list = m.groups()
            cols = [c.strip().strip("`") for c in col_list.split(",") if c.strip()]
            if len(cols) != 1:
                # the KV index rowkey is <value>|<base key>: one indexed
                # column (the reference concatenated multi-key values
                # into one prefix, but its query path never consumed
                # that form — reject rather than guess an encoding)
                raise ValueError(
                    f"CREATE INDEX takes exactly one column, got {cols!r}"
                )
            opts = self._kv_table_options(table)
            self.create_index(index_name.strip("`"), cols[0], **opts)
            return self.spark.createDataFrame(
                [(index_name.strip("`"), table.strip("`"), cols[0], "CREATED")],
                "index_name string, table_name string, column string, status string",
            )
        m = _DROP_INDEX_STMT.match(core)
        if m:
            index_name, table = m.groups()
            opts = self._kv_table_options(table)
            self.drop_index(index_name.strip("`"), **opts)
            return self.spark.createDataFrame(
                [(index_name.strip("`"), table.strip("`"), "DROPPED")],
                "index_name string, table_name string, status string",
            )
        # matched the head but not a full supported form: loud, never
        # a silent pass-through into Spark's unsupported-DDL error
        raise ValueError(
            "unsupported index DDL — supported forms: "
            "CREATE INDEX <name> ON <kv_table> (<column>) and "
            "DROP INDEX <name> ON <kv_table>"
        )

    def _kv_table_options(self, table: str) -> dict:
        opts = self._kv_tables.get(table.strip("`").lower())
        if opts is None:
            raise ValueError(
                f"index DDL target {table!r} is not a registered KV table "
                "(register_kv_table exposes one); Parquet analytics tables "
                "take bucketing/partitioning/ANALYZE instead of indexes"
            )
        return opts

    def _dml_target(self, name: str):
        """UPDATE/DELETE need a writable catalog table: the fixture temp
        views are read-only registrations of immutable parquet files."""
        t = self.spark.catalog.getTable(name.strip("`"))
        if (t.tableType or "").upper() not in ("MANAGED", "EXTERNAL"):
            raise ValueError(
                f"UPDATE/DELETE target {name!r} is a {t.tableType} view — "
                "row-level DML needs a catalog table (see operators/dml.py "
                "for the transform forms over read-only sources)"
            )
        return self.spark.table(name)

    #: internal match-flag column for the single-pass DML execution
    _FLAG = "__ktsql_matched"

    #: cap on matched-partition tuples collected driver-side for the
    #: pruned copy-on-write path; past this the rewrite is
    #: table-proportional anyway and the full-overwrite path is simpler
    _MAX_PRUNED_PARTITIONS = 1000

    def _partition_cols(self, name: str) -> list[str]:
        return [
            c.name
            for c in self.spark.catalog.listColumns(name.strip("`"))
            if c.isPartition
        ]

    def _predicate_deterministic(self, name: str, cond: str) -> bool:
        """Whether the WHERE predicate is deterministic (Catalyst's own
        flag on the analyzed expression). The pruned path evaluates the
        predicate twice — partition discovery, then the authoritative
        flagged snapshot — which is only sound when both passes agree."""
        try:
            jdf = self.spark.sql(f"SELECT ({cond}) AS f FROM {name}")._jdf
            return bool(
                jdf.queryExecution().analyzed().expressions().apply(0).deterministic()
            )
        except Exception:
            return False

    @staticmethod
    def _partition_filter(pcols: list[str], rows):
        """OR-of-ANDs null-safe partition predicate for a list of
        partition-value tuples — pushed as PartitionFilters so a pruned
        snapshot never reads untouched partitions. ONE implementation:
        UPDATE/DELETE and MERGE both scope with it."""
        import functools
        import operator

        from pyspark.sql import functions as F

        def clause(r):
            return functools.reduce(
                operator.and_,
                [F.col(c).eqNullSafe(F.lit(r[c])) for c in pcols],
            )

        return functools.reduce(operator.or_, [clause(r) for r in rows])

    def _drop_emptied_partitions(self, name: str, scope_rows, out_df, pcols):
        """Drop scope partitions the rewrite left EMPTY: dynamic
        overwrite cannot replace an absent partition, so a partition
        whose rows all matched a DELETE (or a deleting MERGE branch)
        is removed explicitly — metadata + file removal ∝ emptied
        partitions. Shared by DELETE and MERGE."""
        alive = {
            tuple(r[c] for c in pcols)
            for r in out_df.select(*pcols).distinct().collect()
        }
        for r in scope_rows:
            if tuple(r[c] for c in pcols) not in alive:
                spec = ", ".join(
                    f"{_bq(c)} = {self._part_literal(r[c])}" for c in pcols
                )
                self.spark.sql(
                    f"ALTER TABLE {name} DROP IF EXISTS PARTITION ({spec})"
                )

    def _matched_partitions(self, name: str, cond: str, pcols: list[str]):
        """Distinct partition-value tuples containing matched rows, or
        None when they exceed the driver-side cap (→ full path)."""
        rows = (
            self.spark.sql(
                f"SELECT DISTINCT {', '.join(_bq(c) for c in pcols)} "
                f"FROM {name} WHERE ({cond})"
            )
            .limit(self._MAX_PRUNED_PARTITIONS + 1)
            .collect()
        )
        return None if len(rows) > self._MAX_PRUNED_PARTITIONS else rows

    def _dml_snapshot(
        self, name: str, where: str | None, moving_cols: frozenset = frozenset()
    ):
        """ONE authoritative scan of the rewrite scope: evaluate the
        predicate into a flag column and materialize (localCheckpoint) —
        so (a) the affected count, the mutation, and the write all see
        the SAME matched set, and (b) the files being overwritten are no
        longer being read (the dml04 read-while-overwrite hazard). The
        flag is computed by ``spark.sql`` over the CATALOG name (not
        selectExpr over the DataFrame) so the predicate may contain
        IN/EXISTS/scalar subqueries against other catalog tables —
        including the target itself, which is safe because the
        checkpoint materializes before the overwrite.

        Returns ``(snapshot, matched_partitions)``:

        * ``(snap, None)`` — snapshot covers the WHOLE table; the write
          is a full overwrite (unpartitioned targets, SET of a
          partition column, non-deterministic predicates, or more
          touched partitions than the driver-side cap).
        * ``(snap, rows)`` — partition-pruned copy-on-write (round-6
          verdict task #1): the snapshot covers ONLY the partitions
          containing matched rows (the discovery pass's distinct
          partition tuples, pushed as PartitionFilters so untouched
          partitions are never read), and the write must use dynamic
          partition overwrite. A one-row UPDATE on a 100 TB partitioned
          table reads+rewrites one partition, not the table.
        * ``(None, [])`` — the predicate matched nothing: there is
          nothing to rewrite at all (affected count 0, zero writes).

        The pruned path requires a deterministic predicate: discovery
        and the authoritative flag are two evaluations, and only
        determinism makes them agree (Catalyst's own flag decides —
        rand()/shuffle-dependent predicates take the full path, whose
        single checkpointed scan needs no such agreement). SET of a
        partition column also takes the full path: a moved row could
        land in a partition the write is not replacing."""
        base = self._dml_target(name)
        if self._FLAG in base.columns:
            raise ValueError(f"column name {self._FLAG!r} is reserved")
        cond = f"coalesce(({where}), false)" if where else "true"
        flagged = f"SELECT *, ({cond}) AS {self._FLAG} FROM {name}"

        pcols = self._partition_cols(name) if where else []
        if (
            pcols
            and not (moving_cols & {c.lower() for c in pcols})
            and self._predicate_deterministic(name, cond)
        ):
            rows = self._matched_partitions(name, cond, pcols)
            if rows is not None:
                if not rows:
                    return None, []
                snap = (
                    self.spark.sql(flagged)
                    .filter(self._partition_filter(pcols, rows))
                    .localCheckpoint(eager=True)
                )
                return snap, rows
        return self.spark.sql(flagged).localCheckpoint(eager=True), None

    def _write_back(self, name: str, df: DataFrame, pruned: bool) -> None:
        """Overwrite the rewrite scope: the whole table (static mode —
        positional insertInto truncate+write), or, on the pruned path,
        exactly the partitions present in ``df`` (dynamic partition
        overwrite — the opt08 idiom; untouched partitions keep their
        files byte-for-byte)."""
        # BOTH branches pin the mode: the full path must truncate the
        # whole table (a session configured dynamic would otherwise keep
        # partitions absent from df — resurrecting rows a DELETE
        # reported deleted), the pruned path must replace exactly df's
        # partitions. Set/restore of the SESSION conf is deliberate —
        # the per-write `.option("partitionOverwriteMode", …)` is NOT
        # honored by catalog-table insertInto (verified: the pruned
        # write truncated sibling partitions under it), so the toggle is
        # the only correct mechanism; its known cost is that a
        # concurrent insertInto in the SAME session during this write
        # would plan under this statement's mode (the facade, like a
        # JDBC connection, is single-statement-at-a-time per session —
        # use separate sessions for concurrent writers).
        conf = "spark.sql.sources.partitionOverwriteMode"
        old = self.spark.conf.get(conf, "STATIC")
        self.spark.conf.set(conf, "dynamic" if pruned else "static")
        try:
            df.write.insertInto(name, overwrite=True)
        finally:
            self.spark.conf.set(conf, old)

    def _count_result(self, n: int) -> DataFrame:
        return self.spark.createDataFrame([(n,)], "num_affected_rows bigint")

    def _update(self, name: str, set_clause: str, where: str | None) -> DataFrame:
        """UPDATE as a transform: every SET expression evaluates against
        the OLD row (standard SQL simultaneous assignment — ``SET a=b,
        b=a`` swaps), non-matching rows pass through unchanged, and a
        NULL predicate matches nothing (WHERE three-valued logic). On a
        partitioned target with a deterministic WHERE (and no SET of a
        partition column) only the partitions containing matched rows
        are read and rewritten — every row of a touched partition flows
        through (matched transformed, unmatched verbatim), so dynamic
        overwrite replaces each touched partition completely."""
        from pyspark.sql import functions as F

        assigns: dict[str, str] = {}
        for part in _split_top_level(set_clause):
            col, eq, expr = part.partition("=")
            col = col.strip().strip("`")
            if not eq or not col or not expr.strip():
                raise ValueError(f"malformed SET assignment: {part!r}")
            if col.lower() in assigns:  # standard SQL rejects duplicates
                raise ValueError(f"duplicate SET assignment to {col!r}")
            assigns[col.lower()] = expr.strip()
        if not assigns:
            # 'UPDATE t SET WHERE k=1' must not run as a silent no-op
            # full-table rewrite that still reports the matched count
            raise ValueError(f"UPDATE {name}: empty SET assignment list")
        snap, parts = self._dml_snapshot(
            name, where, moving_cols=frozenset(assigns)
        )
        if snap is None:  # nothing matched: zero writes, count 0
            # unknown-column validation must still fire on the no-op
            known = {
                c.name.lower() for c in self.spark.catalog.listColumns(name.strip("`"))
            }
            unknown = [c for c in assigns if c not in known]
            if unknown:
                raise ValueError(f"UPDATE {name}: unknown columns {unknown}")
            return self._count_result(0)
        cols = [c for c in snap.columns if c != self._FLAG]
        unknown = [c for c in assigns if c not in {x.lower() for x in cols}]
        if unknown:
            raise ValueError(f"UPDATE {name}: unknown columns {unknown}")
        proj = [
            f"CASE WHEN {self._FLAG} THEN ({assigns[c.lower()]}) "
            f"ELSE {_bq(c)} END AS {_bq(c)}"
            if c.lower() in assigns
            else _bq(c)
            for c in cols
        ]
        n = snap.filter(F.col(self._FLAG)).count()
        # the projection runs through spark.sql over a temp view of the
        # checkpointed snapshot (not selectExpr) so SET expressions may
        # contain scalar subqueries — including ones correlated to the
        # target's columns; old-row semantics hold because the subquery
        # reads other tables, the target values come from the snapshot
        view = f"__ktsql_dml_snap_{uuid.uuid4().hex[:8]}"
        snap.createOrReplaceTempView(view)
        try:
            out = self.spark.sql(f"SELECT {', '.join(proj)} FROM {view}")
            # a SET expression containing a SUBQUERY may reference the
            # TARGET table itself; lazy, it would re-read files the
            # overwrite has already deleted (FileNotFound mid-write = a
            # truncated table), so the projection is MATERIALIZED before
            # the write while the old files still exist. Plain
            # expressions read only the checkpointed snapshot — the
            # common literal-assignment UPDATE stays single-pass, no
            # second materialization.
            if any(self._has_subquery(e) for e in assigns.values()):
                out = out.localCheckpoint(eager=True)
            self._write_back(name, out, pruned=parts is not None)
        finally:
            self.spark.catalog.dropTempView(view)
        return self._count_result(n)

    @staticmethod
    def _has_subquery(expr: str) -> bool:
        """Whether a SQL expression contains a (sub)query — a word-
        bounded, unmasked SELECT anywhere (subqueries are the only legal
        position for one inside a scalar expression)."""
        lower = expr.lower()
        for i, _ch, _depth, masked in _scan_sql(expr):
            if masked or not lower.startswith("select", i):
                continue
            before_ok = i == 0 or not (
                lower[i - 1].isalnum() or lower[i - 1] == "_"
            )
            j = i + 6
            if before_ok and (
                j >= len(expr) or not (lower[j].isalnum() or lower[j] == "_")
            ):
                return True
        return False

    @staticmethod
    def _part_literal(v) -> str:
        """Render one partition value for an ALTER TABLE … DROP
        PARTITION spec."""
        import datetime

        if v is None:
            return "null"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, (datetime.date, datetime.datetime)):
            return f"'{v.isoformat()}'"
        return "'" + str(v).replace("'", "''") + "'"

    def _delete(self, name: str, where: str | None) -> DataFrame:
        """DELETE as a transform: keep rows the predicate does NOT match
        (a NULL predicate keeps the row — WHERE semantics), overwrite
        with the survivors (the dml03 anti-join collapsed to a filter).
        On the pruned path only touched partitions are read/rewritten;
        a touched partition whose rows ALL matched gets no survivors —
        dynamic overwrite cannot replace an absent partition, so those
        are dropped explicitly (``ALTER TABLE … DROP PARTITION``,
        metadata + file removal ∝ emptied partitions). The survivor
        write lands first, so a crash between the two steps leaves
        extra OLD rows (a shorter delete), never lost or phantom rows."""
        from pyspark.sql import functions as F

        snap, parts = self._dml_snapshot(name, where)
        if snap is None:  # nothing matched: zero writes, count 0
            return self._count_result(0)
        n = snap.filter(F.col(self._FLAG)).count()
        survivors = snap.filter(~F.col(self._FLAG)).drop(self._FLAG)
        self._write_back(name, survivors, pruned=parts is not None)
        if parts:
            self._drop_emptied_partitions(
                name, parts, survivors, self._partition_cols(name)
            )
        return self._count_result(n)

    # -- MERGE INTO ----------------------------------------------------
    @staticmethod
    def _parse_merge(tail: str) -> dict:
        """Parse the text after ``MERGE INTO <target>``:

            [[AS] t_alias] USING <table | (subquery)> [[AS] s_alias]
            ON <cond>
            { WHEN MATCHED [AND c] THEN UPDATE SET a=e,… | DELETE }*
            [ WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (…) ]

        Clause order is preserved (first matching WHEN wins, standard
        MERGE); WHEN NOT MATCHED BY SOURCE is not supported (use a
        DELETE with a NOT EXISTS predicate)."""
        import re as _re

        def eat_alias(s: str, stop: str):
            m = _re.match(
                rf"\s*(?:as\s+)?(?!{stop}\b)(`[^`]+`|\w+)", s, _re.IGNORECASE
            )
            return (m.group(1).strip("`"), s[m.end():]) if m else (None, s)

        t_alias, rest = eat_alias(tail, "using")
        m = _re.match(r"\s*using\s+", rest, _re.IGNORECASE)
        if not m:
            raise ValueError("MERGE: expected USING after the target")
        rest = rest[m.end():]
        if rest.lstrip().startswith("("):
            p0 = rest.index("(")
            p1 = _matching_paren(rest, p0)
            source, src_is_query = rest[p0 + 1 : p1].strip(), True
            rest = rest[p1 + 1 :]
        else:
            m = _re.match(r"\s*(`[^`]+`|[\w.]+)", rest)
            if not m:
                raise ValueError("MERGE: malformed USING source")
            source, src_is_query = m.group(1), False
            rest = rest[m.end():]
        s_alias, rest = eat_alias(rest, "on")
        m = _re.match(r"\s*on\s+", rest, _re.IGNORECASE)
        if not m:
            raise ValueError("MERGE: expected ON <condition>")
        rest = rest[m.end():]
        whens = [i for _, i in _kw_positions(rest, ("when",))]
        if not whens:
            raise ValueError("MERGE: at least one WHEN clause is required")
        cond = rest[: whens[0]].strip()
        if not cond:
            raise ValueError("MERGE: empty ON condition")

        matched, not_matched = [], None
        for a, b in zip(whens, whens[1:] + [len(rest)]):
            body = rest[a + len("when") : b]
            m = _re.match(r"\s*(not\s+)?matched\b", body, _re.IGNORECASE)
            if not m:
                raise ValueError(f"MERGE: malformed WHEN clause: {body.strip()!r}")
            is_not, body = bool(m.group(1)), body[m.end():]
            thens = [i for _, i in _kw_positions(body, ("then",))]
            if not thens:
                raise ValueError("MERGE: WHEN clause missing THEN")
            head, action = body[: thens[0]].strip(), body[thens[0] + 4 :]
            extra = None
            if head:
                am = _re.match(r"and\s+", head, _re.IGNORECASE)
                if not am:
                    raise ValueError(
                        f"MERGE: unexpected text before THEN: {head!r}"
                    )
                extra = head[am.end():].strip()
            action = action.strip().rstrip(";").strip()
            if is_not:
                if not_matched is not None:
                    raise ValueError(
                        "MERGE: only one WHEN NOT MATCHED clause is supported"
                    )
                if _re.fullmatch(r"insert\s*\*", action, _re.IGNORECASE):
                    not_matched = {"extra": extra, "star": True}
                    continue
                im = _re.match(r"insert\s*(?=\()", action, _re.IGNORECASE)
                if not im:
                    raise ValueError(
                        f"MERGE: unsupported NOT MATCHED action {action!r} "
                        "(INSERT * or INSERT (cols) VALUES (…))"
                    )
                p0 = action.index("(", im.end() - 1)
                p1 = _matching_paren(action, p0)
                ins_cols = [
                    c.strip().strip("`")
                    for c in _split_top_level(action[p0 + 1 : p1])
                ]
                rest2 = action[p1 + 1 :]
                vm = _re.match(r"\s*values\s*(?=\()", rest2, _re.IGNORECASE)
                if not vm:
                    raise ValueError("MERGE: INSERT needs VALUES (…)")
                q0 = rest2.index("(", vm.end() - 1)
                q1 = _matching_paren(rest2, q0)
                vals = _split_top_level(rest2[q0 + 1 : q1])
                if rest2[q1 + 1 :].strip(" ;"):
                    raise ValueError("MERGE: trailing text after INSERT VALUES")
                if len(ins_cols) != len(vals) or not ins_cols:
                    raise ValueError("MERGE: INSERT column/value count mismatch")
                not_matched = {
                    "extra": extra, "star": False, "cols": ins_cols, "vals": vals,
                }
            elif _re.fullmatch(r"delete", action, _re.IGNORECASE):
                matched.append({"kind": "D", "extra": extra})
            else:
                um = _re.match(r"update\s+set\s+", action, _re.IGNORECASE)
                if not um:
                    raise ValueError(
                        f"MERGE: unsupported MATCHED action {action!r} "
                        "(UPDATE SET … or DELETE)"
                    )
                assigns: dict[str, str] = {}
                for part in _split_top_level(action[um.end():]):
                    col, eq, expr = part.partition("=")
                    col = col.strip().strip("`")
                    if not eq or not col or not expr.strip():
                        raise ValueError(f"malformed SET assignment: {part!r}")
                    if col.lower() in assigns:
                        raise ValueError(f"duplicate SET assignment to {col!r}")
                    assigns[col.lower()] = expr.strip()
                if not assigns:
                    raise ValueError("MERGE: empty UPDATE SET list")
                matched.append({"kind": "U", "extra": extra, "assigns": assigns})
        return {
            "t_alias": t_alias,
            "source": source,
            "src_is_query": src_is_query,
            "s_alias": s_alias,
            "cond": cond,
            "matched": matched,
            "not_matched": not_matched,
        }

    #: internal row-identity column for MERGE's matched-pair join
    _RID = "__ktsql_rid"

    def _merge(self, target: str, tail: str) -> DataFrame:
        """MERGE INTO as a snapshot transform — the statement a
        migrating user writes right after UPDATE/DELETE (the dml04
        upsert, dml06 SCD2 and dml07 CDC transforms are its relational
        forms; the reference's Calcite layer had no MERGE, so this is a
        strict extension). Standard semantics: clauses apply
        first-match-wins per target row, every expression sees the OLD
        target row and the matched source row through the statement's
        own aliases, a target row matched by MORE than one source row
        raises the ANSI cardinality-violation error, and unmatched
        source rows insert (missing columns NULL). Returns the Spark
        MERGE metrics row (num_affected/updated/deleted/inserted).

        Scale: the source is never assumed small (a fact-sized source
        plans a shuffle join on the ON keys; a statement-sized one is
        broadcast by AQE stats); both the source and the target
        snapshot are checkpointed exactly once — the statement
        evaluates each in several places (scope discovery, the pairs
        join, the cardinality check, the insert probe), and one pinned
        materialization is what makes those evaluations agree even for
        a non-deterministic source subquery. On a PARTITIONED target the write is partition-pruned
        copy-on-write like UPDATE/DELETE: the rewrite scope is (all
        partitions containing a matched target row) ∪ (the partitions
        the INSERT branch lands rows in, computed from the INSERT
        projection over unmatched source rows) — because scope includes
        EVERY matched partition, the pruned snapshot still holds every
        matched row, so the pairs join, the cardinality check, and the
        NOT-EXISTS insert filter are complete; dynamic overwrite then
        replaces exactly the scope partitions (new INSERT partitions
        are simply created), and partitions a DELETE branch emptied are
        dropped. Falls back to the full overwrite when the target is
        unpartitioned, an UPDATE branch assigns a partition column, any
        ON/AND/INSERT-partition expression is non-deterministic, or the
        scope exceeds the driver-side cap."""
        from pyspark.sql import functions as F

        p = self._parse_merge(tail)
        base = self._dml_target(target)
        if self._RID in base.columns:
            raise ValueError(f"column name {self._RID!r} is reserved")
        t_alias = p["t_alias"] or target.strip("`").split(".")[-1]
        s_alias = p["s_alias"]
        if s_alias is None:
            if p["src_is_query"]:
                raise ValueError("MERGE: a subquery source requires an alias")
            s_alias = p["source"].strip("`").split(".")[-1]
        if t_alias.lower() == s_alias.lower():
            raise ValueError("MERGE: target and source aliases must differ")

        cols = list(base.columns)
        low2col = {c.lower(): c for c in cols}
        for cl in p["matched"]:
            if cl["kind"] == "U":
                unknown = [c for c in cl["assigns"] if c not in low2col]
                if unknown:
                    raise ValueError(f"MERGE {target}: unknown columns {unknown}")

        tview = f"__ktsql_merge_t_{uuid.uuid4().hex[:8]}"
        sview = f"__ktsql_merge_s_{uuid.uuid4().hex[:8]}"
        src_df = (
            self.spark.sql(p["source"])
            if p["src_is_query"]
            else self.spark.table(p["source"])
        )
        # ONE materialization of the source: the statement evaluates the
        # source plan in up to four places (scope discovery, the pairs
        # join, the cardinality check, the insert NOT-EXISTS) — without
        # pinning, a non-deterministic source subquery (rand() filter, a
        # LIMIT without ORDER) could show each evaluation DIFFERENT rows,
        # letting one key be both updated and inserted. The target
        # snapshot gets the same treatment below.
        src_df = src_df.localCheckpoint(eager=True)
        src_df.createOrReplaceTempView(sview)
        snap = None
        try:
            ta, sa, on = _bq(t_alias), _bq(s_alias), p["cond"]
            branches = [
                (cl, f"coalesce(({cl['extra']}), false)" if cl["extra"] else "true")
                for cl in p["matched"]
            ]
            # per-column INSERT expressions (no alias), precomputed so
            # both the insert SELECT and partition-scope discovery can
            # use them; None when there is no NOT MATCHED clause
            ins_expr = None
            nm = p["not_matched"]
            if nm is not None:
                if nm["star"]:
                    src_cols = {c.lower(): c for c in src_df.columns}
                    missing = [c for c in cols if c.lower() not in src_cols]
                    if missing:
                        raise ValueError(
                            f"MERGE: INSERT * needs source columns {missing}"
                        )
                    ins_expr = {
                        c: f"{sa}.{_bq(src_cols[c.lower()])}" for c in cols
                    }
                else:
                    given = {c.lower(): v for c, v in zip(nm["cols"], nm["vals"])}
                    unknown = [c for c in given if c not in low2col]
                    if unknown:
                        raise ValueError(
                            f"MERGE {target}: unknown INSERT columns {unknown}"
                        )
                    types = {
                        f.name: f.dataType.simpleString()
                        for f in base.schema.fields
                    }
                    ins_expr = {
                        c: (
                            f"({given[c.lower()]})"
                            if c.lower() in given
                            else f"CAST(NULL AS {types[c]})"
                        )
                        for c in cols
                    }

            scope = self._merge_scope(
                target, ta, sa, sview, on, p["matched"], nm, ins_expr
            )
            if scope == []:  # nothing matches, nothing inserts: no-op
                return self.spark.createDataFrame(
                    [(0, 0, 0, 0)],
                    "num_affected_rows bigint, num_updated_rows bigint, "
                    "num_deleted_rows bigint, num_inserted_rows bigint",
                )
            tbl = self.spark.table(target)
            if scope is not None:
                tbl = tbl.filter(
                    self._partition_filter(self._partition_cols(target), scope)
                )
            snap = tbl.withColumn(
                self._RID, F.monotonically_increasing_id()
            ).localCheckpoint(eager=True)
            snap.createOrReplaceTempView(tview)
            n_upd = n_del = 0
            if branches:
                act = (
                    "CASE "
                    + " ".join(f"WHEN ({b}) THEN '{cl['kind']}'" for cl, b in branches)
                    + " ELSE 'K' END"
                )
                col_exprs = []
                for c in cols:
                    old = f"{ta}.{_bq(c)}"
                    chain = " ".join(
                        f"WHEN ({b}) THEN ("
                        + (
                            cl["assigns"].get(c.lower(), old)
                            if cl["kind"] == "U"
                            else old
                        )
                        + ")"
                        for cl, b in branches
                    )
                    col_exprs.append(
                        f"CASE {chain} ELSE {old} END AS {_bq('__new_' + c)}"
                    )
                pairs = self.spark.sql(
                    f"SELECT {ta}.{self._RID} AS {self._RID}, {act} AS __ktsql_act, "
                    f"{', '.join(col_exprs)} "
                    f"FROM {tview} AS {ta} JOIN {sview} AS {sa} ON ({on})"
                ).localCheckpoint(eager=True)
                # the MODIFYING matches — ONE definition feeds both the
                # cardinality check and the join-back, so they can never
                # disagree on which matches count
                pairs_mod = pairs.filter(F.col("__ktsql_act") != "K")
                # ANSI MERGE cardinality rule: an error when a target row
                # would be UPDATED or DELETED by more than one source
                # match — matches that fall through every WHEN condition
                # to the no-op 'K' do not modify the row and do not
                # count (Delta/Spark semantics; an all-K multi-match
                # completes fine)
                if (
                    pairs_mod.groupBy(self._RID)
                    .count()
                    .filter("count > 1")
                    .limit(1)
                    .count()
                    > 0
                ):
                    raise ValueError(
                        "MERGE: a target row is modified by multiple "
                        "source rows (cardinality violation) — "
                        "deduplicate the source or tighten the ON "
                        "condition"
                    )
                # only MODIFYING matches join back (≤1 per target row by
                # the check above): K matches are no-ops, and joining
                # them would duplicate a target row that several source
                # rows matched without modifying
                n_upd = pairs_mod.filter(F.col("__ktsql_act") == "U").count()
                n_del = pairs_mod.filter(F.col("__ktsql_act") == "D").count()
                joined = snap.join(pairs_mod, on=self._RID, how="left")
                act_col = F.col("__ktsql_act")
                out = joined.filter(act_col.isNull() | (act_col != "D")).select(
                    *[
                        F.when(act_col == "U", F.col(f"__new_{c}"))
                        .otherwise(F.col(c))
                        .alias(c)
                        for c in cols
                    ]
                )
            else:  # insert-only MERGE: matched rows pass through untouched
                out = snap.select(*cols)

            n_ins = 0
            if nm is not None:
                extra = f" AND ({nm['extra']})" if nm["extra"] else ""
                proj = ", ".join(f"{ins_expr[c]} AS {_bq(c)}" for c in cols)
                # NOT EXISTS probes the FULL catalog table, not the
                # pruned snapshot — this is what lets an insert-only
                # MERGE scope skip matched partitions entirely (they are
                # read here, never rewritten); the eager checkpoint
                # materializes the probe before any write touches the
                # table, so the read-then-overwrite is race-free
                ins = self.spark.sql(
                    f"SELECT {proj} FROM {sview} AS {sa} WHERE NOT EXISTS "
                    f"(SELECT 1 FROM {target} AS {ta} WHERE ({on})){extra}"
                ).localCheckpoint(eager=True)
                n_ins = ins.count()
                out = out.unionByName(ins, allowMissingColumns=False)

            self._write_back(target, out, pruned=scope is not None)
            if scope is not None and any(
                cl["kind"] == "D" for cl in p["matched"]
            ):
                # a DELETE branch may have emptied a scope partition —
                # dynamic overwrite cannot replace an absent partition,
                # so drop those explicitly (the shared _delete tail)
                self._drop_emptied_partitions(
                    target, scope, out, self._partition_cols(target)
                )
        finally:
            self.spark.catalog.dropTempView(tview)
            self.spark.catalog.dropTempView(sview)
        return self.spark.createDataFrame(
            [(n_upd + n_del + n_ins, n_upd, n_del, n_ins)],
            "num_affected_rows bigint, num_updated_rows bigint, "
            "num_deleted_rows bigint, num_inserted_rows bigint",
        )

    def _merge_scope(
        self, target, ta, sa, sview, on, matched, nm, ins_expr
    ) -> list | None:
        """Partition scope of a MERGE on a partitioned target: distinct
        partition tuples of (all matched target rows) ∪ (rows the
        INSERT branch would create). Returns None for the full path
        (unpartitioned target, partition-column assignment, any
        non-deterministic expression, over the cap, or a probe
        failure), [] when the statement provably touches nothing."""
        pcols = self._partition_cols(target)
        if not pcols:
            return None
        plow = {c.lower() for c in pcols}
        if any(
            cl["kind"] == "U" and (set(cl["assigns"]) & plow) for cl in matched
        ):
            return None  # rows could move across partitions
        exprs = [on] + [cl["extra"] for cl in matched if cl["extra"]]
        if nm is not None:
            if nm["extra"]:
                exprs.append(nm["extra"])
            exprs += [ins_expr[c] for c in pcols]
        try:
            probe = self.spark.sql(
                f"SELECT {', '.join(f'({e})' for e in exprs)} "
                f"FROM {target} AS {ta} CROSS JOIN {sview} AS {sa}"
            )._jdf.queryExecution().analyzed().expressions()
            if not all(
                probe.apply(i).deterministic() for i in range(probe.size())
            ):
                return None
        except Exception:
            return None
        sel = ", ".join(f"{ta}.{_bq(c)} AS {_bq(c)}" for c in pcols)
        parts = []
        if matched:
            # partitions holding matched target rows — needed only when
            # a WHEN MATCHED branch can mutate them. An insert-only
            # MERGE leaves matched rows untouched, so those partitions
            # stay out of scope entirely (never read, never rewritten —
            # the NOT-EXISTS insert probe reads the full table by name,
            # independent of scope): the common append-upsert stays
            # O(inserted), not O(matched partitions).
            parts.append(
                self.spark.sql(
                    f"SELECT DISTINCT {sel} FROM {target} AS {ta} "
                    f"JOIN {sview} AS {sa} ON ({on})"
                )
            )
        if nm is not None:
            extra = f" AND ({nm['extra']})" if nm["extra"] else ""
            ins_sel = ", ".join(f"{ins_expr[c]} AS {_bq(c)}" for c in pcols)
            parts.append(
                self.spark.sql(
                    f"SELECT DISTINCT {ins_sel} FROM {sview} AS {sa} "
                    f"WHERE NOT EXISTS (SELECT 1 FROM {target} AS {ta} "
                    f"WHERE ({on})){extra}"
                )
            )
        scoped = parts[0]
        for p in parts[1:]:
            scoped = scoped.unionByName(p).distinct()
        rows = scoped.limit(self._MAX_PRUNED_PARTITIONS + 1).collect()
        return None if len(rows) > self._MAX_PRUNED_PARTITIONS else rows

    def run_script(self, script: str) -> DataFrame | None:
        """Execute a flat multi-statement SQL script — the ``.sql``-file
        migration surface: statements split on top-level semicolons
        (string literals and ``--`` / ``/* */`` comments handled), each
        routed through :meth:`sql` in order, so facade-executed
        UPDATE/DELETE/MERGE work mid-script exactly like standalone.
        Returns the LAST statement's DataFrame (None for an all-comment
        script). Procedural ``BEGIN … END`` blocks are rejected here —
        their internal semicolons are block syntax, not statement
        boundaries — and belong in :meth:`sql` directly, which passes
        them to Spark's native SQL scripting (see f19). The rejection
        is a PRE-check over the whole split: a mid-script BEGIN fails
        the script before ANY statement runs, instead of erroring with
        half the side effects committed."""
        statements = _split_statements(script)
        for stmt in statements:
            if _first_token(stmt) == "begin":
                raise ValueError(
                    "run_script executes flat statement sequences; pass "
                    "BEGIN … END scripting blocks to .sql() whole (native "
                    "SQL scripting handles their internal semicolons)"
                )
        result: DataFrame | None = None
        for stmt in statements:
            result = self.sql(stmt)
        return result

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- DDL (reference: HBaseSchema.createTable/dropTable) ------------
    @staticmethod
    def _parse_columns(columns) -> list[tuple]:
        """Normalize the two accepted column forms to the catalog
        wrapper's tuples: a DDL string ``"k BIGINT, v STRING"`` (split
        on top-level commas so ``DECIMAL(10,2)`` survives; no
        DEFAULT/COMMENT in this form) or the full
        ``[(name, type, default[, comment])]`` list."""
        if not isinstance(columns, str):
            return [tuple(c) + (None,) * (3 - len(c)) for c in columns]
        out = []
        for p in _split_top_level(columns):
            col, _, typ = p.partition(" ")
            out.append((col, typ.strip(), None))
        return out

    @staticmethod
    def _matching_paren(core: str, open_idx: int) -> int:
        """Index of the ``)`` matching the ``(`` at ``open_idx``
        (lexer-aware: parens inside string literals / backticked
        identifiers / comments don't count)."""
        level = 0
        for i, ch, _depth, in_q in _scan_sql(core):
            if in_q or i < open_idx:
                continue
            if ch == "(":
                level += 1
            elif ch == ")":
                level -= 1
                if level == 0:
                    return i
        raise ValueError("unbalanced parentheses in CREATE TABLE statement")

    @staticmethod
    def _create_table_parts(core: str, m) -> tuple | None:
        """Parse a literal CREATE TABLE statement's parenthesized body.
        Returns ``(cols, pk, table_comment, tail_ok)`` when the body
        carries a top-level PRIMARY KEY constraint — the calcite-server
        form the reference's createTable consumed
        (``HBaseSchema.kt:101-135``) that Spark SQL rejects — or None
        when it doesn't (Spark-native CREATE TABLE text: USING /
        TBLPROPERTIES / CTAS / partitioned — passes through verbatim)."""
        open_idx = m.end() - 1
        close_idx = KtSqlEngine._matching_paren(core, open_idx)
        items = _split_top_level(core[open_idx + 1: close_idx])
        if not any(_PK_ITEM.match(it) for it in items):
            return None
        cols: list[tuple] = []
        pk: tuple | None = None
        for it in items:
            pkm = _PK_ITEM.match(it)
            if pkm:
                if pk is not None:
                    raise ValueError("multiple PRIMARY KEY constraints")
                pk = tuple(
                    c.strip().strip("`") for c in pkm.group(1).split(",") if c.strip()
                )
                continue
            head = it.split(None, 1)[0].lower()
            if head in ("constraint", "unique", "foreign", "check", "key"):
                # the reference's surface had exactly one constraint
                # kind (the PK rowkey); anything else must fail loudly,
                # never silently become a column named CONSTRAINT
                raise ValueError(
                    f"unsupported table constraint in CREATE TABLE: {it!r}"
                )
            cm = re.match(r"^(`[^`]+`|\w+)\s+(.+)$", it, re.S)
            if not cm:
                raise ValueError(f"cannot parse column definition: {it!r}")
            cname, rest = cm.group(1).strip("`"), cm.group(2).strip()
            # DEFAULT and COMMENT may appear in EITHER order (MySQL
            # accepts both); position-aware slicing — a naive
            # strip-COMMENT-then-DEFAULT would silently drop a DEFAULT
            # written after the COMMENT and corrupt the comment text
            # (round-8 review finding)
            marks = []
            for kw in ("comment", "default"):
                pos = _find_top_keyword(rest, kw)
                if pos >= 0:
                    marks.append((pos, kw, pos + len(kw)))
            marks.sort()
            comment = default = None
            typ = rest[: marks[0][0]].strip() if marks else rest
            for idx, (_pos, kind, vstart) in enumerate(marks):
                vend = marks[idx + 1][0] if idx + 1 < len(marks) else len(rest)
                val = rest[vstart:vend].strip()
                if kind == "comment":
                    comment = val[1:-1] if val[:1] in "'\"" else val
                else:
                    default = val
            cols.append((cname, typ, default, comment))
        # statement tail: optionally COMMENT '<table comment>'
        tail = core[close_idx + 1:].strip().strip(";").strip()
        table_comment = ""
        if tail:
            ti = _find_top_keyword(tail, "comment")
            if ti != 0:
                raise ValueError(
                    f"unsupported CREATE TABLE tail: {tail!r} (only a "
                    "table COMMENT may follow the column list)"
                )
            tc = tail[len("comment"):].strip()
            table_comment = tc[1:-1] if tc[:1] in "'\"" else tc
        return (cols, pk, table_comment, True)

    def _create_table_stmt(self, m, parts: tuple) -> DataFrame:
        """Execute the PK-constraint CREATE TABLE form through the
        validated facade path (mandatory PK, reserved ``id``, table.sys
        attributes), returning a one-row result like the other
        facade-executed statements. ``IF NOT EXISTS`` is honored as a
        no-op on an existing table (the validated path otherwise
        recreates, matching :meth:`create_table`'s reset semantics)."""
        if_not_exists, name = m.group(1), m.group(2).strip("`")
        cols, pk, table_comment, _ = parts
        if if_not_exists and self.spark.catalog.tableExists(name):
            return self.spark.createDataFrame(
                [(name, "EXISTS")], "table_name string, status string"
            )
        self.create_table(name, cols, pk, comment=table_comment)
        return self.spark.createDataFrame(
            [(name, "CREATED")], "table_name string, status string"
        )

    def create_table(
        self,
        name: str,
        columns,
        primary_key=None,
        *,
        comment: str = "",
        charset: str = "UTF-8",
        partitioned_by=None,
    ) -> None:
        """Validated CREATE TABLE — routed through the catalog wrapper
        so the facade enforces the reference's create-time rules
        (``hbase/HBaseSchema.kt:101-178``): the primary key is
        MANDATORY (``PrimaryKeyMissedError`` — the concatenated PK is
        the rowkey, a table without one cannot exist) and ``id`` is a
        reserved column name (``IllegalColumnNameError``); the
        ``table.sys`` attributes (PRIMARY/CHARSET/COMMENT/CREATE_TIME)
        persist as TBLPROPERTIES and surface via :meth:`table_info`.
        ``columns`` takes a DDL string or the catalog wrapper's
        ``[(name, type, default[, comment])]`` list; ``primary_key`` a
        column name or sequence of names; ``partitioned_by`` (a column
        name or sequence) declares Hive-style partition columns, which
        unlock the partition-pruned UPDATE/DELETE path."""
        from kt_sql_hbase_ex_spark.operators.ddl import _reset_table

        pk = (primary_key,) if isinstance(primary_key, str) else primary_key
        pk = tuple(pk) if pk else None
        pb = (partitioned_by,) if isinstance(partitioned_by, str) else partitioned_by
        pb = tuple(pb) if pb else None
        cols = self._parse_columns(columns)
        # validate BEFORE the destructive drop-if-exists: a rejected
        # CREATE must leave an existing table (and its files) untouched
        cat.validate_create_columns(cols, pk, pb)
        _reset_table(self.spark, name)
        cat.create_table(
            self.spark, name, cols, pk, comment=comment, charset=charset,
            partitioned_by=pb,
        )

    def drop_table(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")

    def list_tables(self) -> list[str]:
        """Catalog enumeration minus nothing — temp views and managed
        tables both (reference: listTables minus system tables,
        ``hbase/HBaseSchema.kt:293-312``)."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    # -- metadata (reference: table.sys/column.sys reads) --------------
    def describe(self, name: str) -> list[cat.ColumnInfo]:
        return cat.describe_columns(self.spark, name)

    def table_info(self, name: str) -> dict[str, object]:
        return cat.describe_table(self.spark, name)

    # -- external KV tables (reference: the HBase adapter itself) ------
    def register_kv_table(self, view_name: str, **store_options: str) -> None:
        """Expose an external KV-store table to ``.sql()`` — the facade
        step that mirrors the reference's schema registration of HBase
        tables (``hbase/HBaseSchemaFactory.kt:22-35``): after this,
        plain SQL over ``view_name`` scans the store through the
        pushdown connector (``sources/kvstore.py``) — key predicates
        become rowkey ranges, qualifier equality runs store-side.

        ``store_options``: ``path``, ``keyCol``, ``columns``
        (comma-separated), optional ``regionSize`` — the same bundle
        ``spark.read.format("ktsql_kv")`` takes.

        Live semantics: the view names the store, it does not pin a
        snapshot. Every statement over it is planned afresh — the
        Python data source pushes its filters and plans its partitions
        in a planner worker at query time, not at registration — so
        commits (connector writes, ``put_rows_to_store``, deletes) and
        ``compact_kv_table`` folds made after registration are served
        without re-registering (pinned in tests)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            FORMAT_NAME,
            register_kv_source,
        )

        register_kv_source(self.spark)
        df = self.spark.read.format(FORMAT_NAME).options(**store_options).load()
        df.createOrReplaceTempView(view_name)
        # remembered so literal CREATE/DROP INDEX statements can name
        # the view — the reference's consumers wrote index DDL against
        # the table name, not an options bundle
        self._kv_tables[view_name.strip("`").lower()] = dict(store_options)

    # -- full-text search (reference: the Lucene-in-HBase subsystem,
    # ``hbase/index/lucene/HBaseDirectory.kt`` — here the persisted
    # postings index serves the same query surface) -------------------
    def search(self, *terms: str, k: int = 10) -> DataFrame:
        """BM25 top-``k`` search over the engine's persisted full-text
        index — the user-facing entry point the reference's Lucene
        subsystem was being built for: ``eng.search("customer",
        "join", k=5)`` returns ``(doc_id, bm25, rnk)``. First call per
        corpus builds the index (one backfill, atomic publish); every
        later call is a pruned index seek (only the queried terms'
        prefix partitions are read — ``documents`` is never scanned at
        query time, plan-pinned for the t12 form)."""
        from kt_sql_hbase_ex_spark.functions.text import bm25_search

        return bm25_search(self.spark, self.sf_dir, tuple(terms), k=k)

    # -- index DDL (reference: HBaseSchema.createIndex/dropIndex,
    # ``hbase/HBaseSchema.kt:226-263,272-288``) ------------------------
    def create_index(
        self, index_name: str, column: str, **store_options: str
    ) -> dict:
        """CREATE INDEX on an external KV table: reject-if-exists,
        backfill from the overlay-merged base, persist the
        value|rowkey-keyed index table, flip the INDEX_TYPE/INDEX
        catalog attributes. Returns the options bundle that reads the
        persisted index through the connector (pushed rowkey ranges)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import create_kv_index

        return create_kv_index(self.spark, index_name, store_options, column)

    def drop_index(self, index_name: str, **store_options: str) -> None:
        """DROP INDEX: reject-if-missing, flip the attributes back,
        delete the persisted index table."""
        from kt_sql_hbase_ex_spark.sources.kvstore import drop_kv_index

        drop_kv_index(index_name, store_options)

    def list_indexes(self, **store_options: str) -> list[dict]:
        """table.sys read for a KV store's indexes: INDEX_TYPE / INDEX
        attribute rows plus freshness vs the current base+overlay."""
        from kt_sql_hbase_ex_spark.sources.kvstore import list_kv_indexes

        return list_kv_indexes(store_options)

    def compact_kv_table(self, major: bool = False, **store_options: str) -> dict:
        """Fold a KV store's committed overlay into a new base
        generation (the HBase memstore-flush / minor-compaction the
        reference's substrate ran underneath it): region-pruned
        rewrite, cold regions carried by hardlink, tombstones
        physically dropped, atomic pointer publish. With
        ``major=True`` (HBase ``major_compact``) EVERY region rewrites
        — no hardlink carries — and the pass runs even with an empty
        overlay: the sweep that physically reclaims TTL-expired rows
        from cold regions the pruned fold never touches. The engine's
        session rides along, so a fold past the size crossover runs
        DISTRIBUTED (one task per touched region / the range-
        partitioned first-fold job) while small folds stay driver-side.
        Returns the fold's stats dict (``compacted``,
        ``regions_rewritten`` / ``regions_carried``,
        ``tombstones_dropped``, ``applied_seq`` — after which
        ``prune_changelog(opts, applied_seq)`` is safe for WAL
        retention — and ``distributed``)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import compact_store

        return compact_store(store_options, spark=self.spark, major=major)

    def multi_get_kv(self, keys: list, **store_options: str) -> list:
        """HBase ``Get`` analog: point lookup of the named rows —
        overlay-merged, TTL-filtered, served without opening the whole
        store (regions whose manifest key-bloom rejects every needed
        key are never read). Each element carries the full primary
        key; returns the current row dict or ``None`` per key in input
        order (HBase's empty Result for an absent row)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import get_store_rows

        return get_store_rows(store_options, keys)

    def increment_kv(self, increments: list, **store_options: str) -> list:
        """HBase ``Increment`` analog: atomically bump numeric columns
        of the named rows (absent or TTL-expired rows count from zero —
        create-on-increment). One call = one commit: one overlay
        read-modify-publish cycle, one WAL entry carrying the new
        ABSOLUTE values, so replicas and time travel replay increments
        as plain puts with no double-count risk. Each element carries
        the full primary key plus ``column: delta`` entries; returns
        the new absolute rows in input order."""
        from kt_sql_hbase_ex_spark.sources.kvstore import increment_store

        return increment_store(store_options, increments)

    def append_kv(self, appends: list, **store_options: str) -> list:
        """HBase ``Append`` analog: atomically concatenate suffixes
        onto string cells of the named rows (absent or TTL-expired
        rows start from the empty string — create-on-append). One call
        = one commit; the WAL entry carries the new ABSOLUTE strings,
        so replicas and time travel replay appends as plain puts. Each
        element carries the full primary key plus ``column: suffix``
        entries; returns the new absolute rows in input order."""
        from kt_sql_hbase_ex_spark.sources.kvstore import append_store

        return append_store(store_options, appends)

    def check_and_mutate_kv(self, mutations: list, **store_options: str) -> list:
        """HBase ``checkAndPut`` / ``checkAndDelete`` analog: atomic
        compare-and-swap mutations. Each element carries the full
        primary key, ``check={'column': c, 'equals': v}`` (``v=None``
        = absence check — the create-if-absent idiom), and exactly one
        of ``put={col: val, ...}`` (partial update) / ``delete=True``.
        One call = one commit; the WAL entry carries applied OUTCOMES
        as absolute puts/tombstones, never conditions. Returns
        ``[bool, ...]`` — True where the check passed and the mutation
        applied."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            check_and_mutate_store,
        )

        return check_and_mutate_store(store_options, mutations)

    def put_kv_versions(self, rows: list, **store_options: str) -> None:
        """Versioned HBase Put (``versions=N`` stores, round-12): each
        row carries the store columns plus an explicit ``__ts`` client
        logical timestamp (the ``Put(row, ts)`` form); the version
        APPENDS — existing versions of the key are untouched. One call
        = one atomic commit = one WAL entry carrying the timestamps."""
        from kt_sql_hbase_ex_spark.sources.kvstore import put_kv_versions

        put_kv_versions(store_options, rows)

    def delete_kv_versions(
        self, keys: list, ts: int, **store_options: str
    ) -> None:
        """Versioned HBase Delete: a masking tombstone at ``ts`` per
        key — every version at-or-below ``ts`` reads as absent; a
        LATER Put revives. The fold applies and drops the tombstone
        (major-compaction semantics)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            delete_kv_versions,
        )

        delete_kv_versions(store_options, keys, ts)

    def get_kv_versions(
        self,
        keys: list,
        min_ts=None,
        max_ts=None,
        max_versions=None,
        **store_options: str,
    ) -> list:
        """Versioned HBase Get (``Get.setMaxVersions`` /
        ``setTimeRange``): per input key, the live version history
        newest-first — masked by tombstones, capped at the store's N
        (and ``max_versions``), optionally time-ranged (inclusive
        bounds). Served through the same bloom- and start-key-routed
        point-get path as :meth:`multi_get_kv`."""
        from kt_sql_hbase_ex_spark.sources.kvstore import get_kv_versions

        return get_kv_versions(
            store_options, keys, min_ts, max_ts, max_versions
        )

    def bulk_load_kv(self, df: DataFrame, **store_options: str) -> dict:
        """BULK LOAD a DataFrame of Put rows straight into the KV
        store's base (the HBase ``LoadIncrementalHFiles`` analog): the
        batch stays distributed end to end — region-pruned merge into
        the live generation, or a range-partitioned rewrite for a
        store without one — published behind the atomic generation
        pointer. Keys must be unique and non-null; bulk rows win over
        every previously-committed mutation. The loaded rows BYPASS
        the change feed: the claimed commit number carries a marker
        that makes every WAL consumer fail loudly toward re-baseline
        instead of silently missing the load (the HBase
        replication-misses-bulkloads caveat, made mechanical). Returns
        the load's stats dict (``loaded``, ``seq``, ``generation``,
        ``regions_rewritten`` / ``regions_carried``,
        ``distributed``)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import bulk_load_store

        return bulk_load_store(store_options, df)

    def snapshot_kv(self, name: str, **store_options: str) -> dict:
        """HBase ``snapshot`` analog: zero-copy named snapshot of the
        store's committed state (pending overlay folds first; region
        files hardlink — no bytes copied; survives later folds/GC).
        Returns the manifest."""
        from kt_sql_hbase_ex_spark.sources.kvstore import snapshot_store

        return snapshot_store(store_options, name, spark=self.spark)

    def restore_kv(self, name: str, **store_options: str) -> dict:
        """HBase ``restore_snapshot`` analog: roll the store back to a
        snapshot behind one atomic pointer flip. Claims a bulk-style
        WAL marker — feed consumers re-baseline loudly; pre-restore
        state stays time-travel-reachable for one fold cycle."""
        from kt_sql_hbase_ex_spark.sources.kvstore import restore_store

        return restore_store(store_options, name)

    def clone_kv(
        self, name: str, source_options: dict, **target_options: str
    ) -> dict:
        """HBase ``clone_snapshot`` analog: materialize a source
        store's snapshot as the TARGET store's state (schemas must
        match; bytes shared via hardlinks; fully independent
        afterwards)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            clone_store_snapshot,
        )

        return clone_store_snapshot(source_options, name, target_options)

    def list_kv_snapshots(self, **store_options: str) -> list:
        """Manifests of the store's snapshots (HBase ``list_snapshots``)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            list_store_snapshots,
        )

        return list_store_snapshots(store_options)

    def drop_kv_snapshot(self, name: str, **store_options: str) -> None:
        """Delete a named snapshot (HBase ``delete_snapshot``)."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            drop_store_snapshot,
        )

        drop_store_snapshot(store_options, name)

    def read_kv_asof(self, seq: int, **store_options: str) -> DataFrame:
        """TIME-TRAVEL read of a KV store: the state as of commit
        ``seq``, reconstructed as one distributed plan from the best
        retained snapshot (the live or one-cycle-retained superseded
        generation, whichever fold point is largest at-or-below
        ``seq``; the pristine base otherwise) plus the WAL span above
        it. Unreachable history — pruned spans, seqs below every
        retained anchor — fails loudly naming the earliest reachable
        commit. ``seq=0`` is the pristine base; beyond-head serves the
        head state."""
        from kt_sql_hbase_ex_spark.sources.kvstore import read_store_asof

        return read_store_asof(self.spark, store_options, seq)

    def prune_kv_changelog(self, upto: int | None = None, **store_options) -> int:
        """WAL retention for a KV store: drop commit-log entries
        ``<= upto`` behind the durable floor marker. With ``upto``
        omitted, prunes to the SAFE watermark — the oldest retained
        generation's fold point (the superseded generation's, while the
        deferred GC still holds it; the live one's otherwise) — which
        is the most aggressive prune that loses NO currently-anchored
        time-travel point and nothing WAL recovery still needs. Note
        what IS given up: before the first prune, ``read_kv_asof``
        could also reach every seq BELOW the oldest anchor by replaying
        the full prefix over the pristine base; the watermark prune
        removes that fallback, so pre-anchor history becomes
        unreachable (the asof read fails loudly naming the earliest
        reachable commit). Callers needing those points must prune
        manually to a smaller ``upto`` — "safe" means anchored points
        survive, not all history. A store that has never folded has no
        anchor: the no-``upto`` form prunes nothing and returns the
        current floor. Returns the new floor."""
        from kt_sql_hbase_ex_spark.sources.kvstore import (
            _resolve_generation,
            changelog_floor,
            prune_changelog,
        )

        opts = {k.lower(): v for k, v in dict(store_options).items()}
        if upto is None:
            import os as _os

            gen = _resolve_generation(opts)
            if gen is None:
                return changelog_floor(opts)
            pa_ = gen.get("prev_anchor")
            upto = (
                int(pa_["applied_seq"])
                if pa_ and _os.path.isdir(pa_["dir"])
                else int(gen["applied_seq"])
            )
        prune_changelog(opts, int(upto))
        return changelog_floor(opts)

"""DDL statement execution — the Engine's CREATE/DROP/ALTER/index/
matview/TRUNCATE/RENAME/maintenance surface, split out of engine.py in
r10 (VERDICT-r9 task 7; mechanical move, no behavior change). Mixin:
every method runs as part of Engine (self.catalog, self.spark,
self._select, ...). Reference parity notes live on each method
(execute_impl/create_table.rs etc. citations unchanged)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ebike_spark.engine import dml
from ebike_spark.engine.catalog import bq
from ebike_spark.engine.errors import EbikeError, parse_error, unsupported
from ebike_spark.engine.parser import parse_create_table, unquote_ident
from ebike_spark.engine.session_state import (
    EngineResult,
    _bump_sys_schema_epoch,
)


class DdlExecMixin:
    def _create_db(self, sql: str) -> EngineResult:
        m = re.match(r"CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?([\w`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near CREATE DATABASE")
        self.catalog.create_database(unquote_ident(m.group(2)), bool(m.group(1)))
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=1)

    def _drop_db(self, sql: str) -> EngineResult:
        m = re.match(r"DROP\s+(?:DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?([\w`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near DROP DATABASE")
        self.catalog.drop_database(unquote_ident(m.group(2)), bool(m.group(1)))
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _create_table(self, sql: str) -> EngineResult:
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s+AS\s+(\(?\s*SELECT\b[\s\S]*)$",
            sql,
            re.I,
        )
        if m:
            return self._ctas(bool(m.group(1)), unquote_ident(m.group(2)), m.group(3))
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s+"
            r"(?:LIKE\s+([\w.`\"]+)|\(\s*LIKE\s+([\w.`\"]+)\s*\))\s*$",
            sql,
            re.I,
        )
        if m:
            # MySQL CREATE TABLE ... LIKE (both spellings): structure +
            # keys copy, data does not
            dst = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
            src = self.catalog.qualify(
                unquote_ident(m.group(3) or m.group(4)), self.current_db
            )
            if self.catalog.table_exists(dst):
                if m.group(1):
                    return EngineResult("count", affected=0)
                raise EbikeError(1050, f"Table '{m.group(2)}' already exists")
            self.catalog.create_table_like(src, dst)
            _bump_sys_schema_epoch()
            return EngineResult("count", affected=0)
        try:
            ct = parse_create_table(sql)
        except ValueError as e:
            raise parse_error(str(e)) from e
        self.catalog.create_table(ct, self.current_db)
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _ctas(self, if_not_exists: bool, table: str, select_sql: str) -> EngineResult:
        """CREATE TABLE ... AS SELECT (MySQL CTAS; beyond the reference,
        whose CREATE only takes a column list). The result schema is the
        SELECT's schema; no PK/UNIQUE/rowid metadata (as in MySQL, where
        CTAS copies data but not indexes). Affected-rows = rows written,
        MySQL-style."""
        q = self.catalog.qualify(table, self.current_db)
        if self.catalog.table_exists(q):
            if if_not_exists:
                return EngineResult("count", affected=0)
            raise EbikeError(1050, f"Table '{table}' already exists")
        self.spark.catalog.setCurrentDatabase(self.current_db)
        src = self.spark.sql(self._fix_select(select_sql))
        # same invariant as the SELECT path: the hidden rowid must not
        # become a visible user column of the new table
        if "rowid" in src.columns and not self._mentions_rowid(select_sql):
            src = self._drop_hidden_rowid(src)
        self.catalog._ensure_fresh_location(q)
        src.write.format("parquet").saveAsTable(q)
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=self.spark.table(q).count())

    # A materialized view is a managed parquet table whose defining
    # SELECT is stored (base64, to dodge DDL string escaping) in table
    # properties; REFRESH re-runs it through the same snapshot rewrite
    # DML uses. The OLAP-engine face of the hierarchical-rollup pattern
    # (plans/timeseries.py): materialize once, re-serve cheaply,
    # recompute on demand. Beyond the reference (1105s there).
    _PROP_MATVIEW = "ebike.matview.sql"

    def _create_matview(self, sql: str) -> EngineResult:
        m = re.match(
            r"CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s+AS\s+(\(?\s*SELECT\b[\s\S]*)$",
            sql,
            re.I,
        )
        if not m:
            raise parse_error("near CREATE MATERIALIZED VIEW")
        import base64

        q = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
        if self.catalog.table_exists(q):
            # IF NOT EXISTS: no-op, and do NOT claim the existing
            # object as a matview; otherwise 1050 via the CTAS path
            return self._ctas(bool(m.group(1)), unquote_ident(m.group(2)), m.group(3))
        res = self._ctas(bool(m.group(1)), unquote_ident(m.group(2)), m.group(3))
        enc = base64.b64encode(m.group(3).strip().encode()).decode()
        try:
            self.spark.sql(
                f"ALTER TABLE {bq(q)} SET TBLPROPERTIES ('{self._PROP_MATVIEW}' = '{enc}')"
            )
        except Exception:
            # CTAS + marker must be atomic: without the property the
            # object is a plain table that REFRESH/DROP MATERIALIZED
            # VIEW reject with 1347 and DROP MATERIALIZED VIEW refuses
            # to clean up — roll the CTAS back instead of leaking it
            self.spark.sql(f"DROP TABLE IF EXISTS {bq(q)}")
            raise
        return res

    _PROP_CLUSTER = "ebike.cluster."

    def _create_index(self, sql: str) -> EngineResult:
        """CREATE INDEX — the Spark-first reinterpretation of a
        secondary index: a columnar engine has no B-tree to build, so
        the index becomes PHYSICAL RANGE CLUSTERING on the key columns.
        The table is rewritten repartitionByRange + sortWithinPartitions
        on the index columns, which makes parquet row-group min/max
        statistics (zone maps) selective for predicates on those
        columns — the scan skips row groups the way the reference's
        sled index-range seek skips keys
        (/root/reference/src/core/execution.rs index-seek path; the
        reference's own CREATE INDEX statement falls through to 1105).
        The index is recorded in table properties; SHOW INDEX lists it
        with Index_type CLUSTERED. One clustering order per table can
        be physically dominant — creating a second index re-clusters
        (documented; MySQL's secondary B-trees have no such coupling)."""
        m = re.match(
            r"CREATE\s+(UNIQUE\s+)?INDEX\s+([\w`\"]+)\s+ON\s+([\w.`\"]+)\s*\(([^)]+)\)\s*$",
            sql,
            re.I,
        )
        if not m:
            raise parse_error("near CREATE INDEX")
        from ebike_spark.engine.parser import split_top_level

        if m.group(1):
            # CREATE UNIQUE INDEX = retroactive UNIQUE constraint: the
            # existing data is checked for duplicates, then the key is
            # recorded and enforced by every subsequent INSERT/upsert
            name = unquote_ident(m.group(2))
            q = self.catalog.qualify(unquote_ident(m.group(3)), self.current_db)
            cols = [unquote_ident(c) for c in split_top_level(m.group(4))]
            return self._add_unique(q, name, cols)
        name = unquote_ident(m.group(2))
        if not re.fullmatch(r"\w+", name):
            raise parse_error(f"bad index name '{name}'")
        q = self.catalog.qualify(unquote_ident(m.group(3)), self.current_db)
        self.catalog.require_table(q)
        cols = [unquote_ident(c) for c in split_top_level(m.group(4))]
        known = {c for c, _ in self.catalog.column_types(q)}
        for c in cols:
            if c not in known:
                raise EbikeError(1072, f"Key column '{c}' doesn't exist in table")
        if any(n == name for n, _ in self.catalog.cluster_indexes(q)):
            raise EbikeError(1061, f"Duplicate key name '{name}'")
        t = self.spark.table(q)
        from ebike_spark.engine import dml

        dml._rewrite(q, t.repartitionByRange(*cols).sortWithinPartitions(*cols))
        self.spark.sql(
            f"ALTER TABLE {bq(q)} SET TBLPROPERTIES "
            f"('{self._PROP_CLUSTER}{name}' = '{','.join(cols)}')"
        )
        return EngineResult("count", affected=0)

    def _drop_index(self, sql: str) -> EngineResult:
        m = re.match(r"DROP\s+INDEX\s+([\w`\"]+)\s+ON\s+([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near DROP INDEX")
        return self._drop_index_named(
            self.catalog.qualify(unquote_ident(m.group(2)), self.current_db),
            unquote_ident(m.group(1)),
        )

    def _drop_index_named(self, q: str, name: str) -> EngineResult:
        from ebike_spark.engine.catalog import PROP_UNIQUE_PREFIX

        self.catalog.require_table(q)
        if any(n == name for n, _ in self.catalog.cluster_indexes(q)):
            # metadata-only: the physical clustering stays (harmless —
            # it is just a row order) but stops being advertised or
            # maintained
            self.spark.sql(
                f"ALTER TABLE {bq(q)} UNSET TBLPROPERTIES ('{self._PROP_CLUSTER}{name}')"
            )
            _bump_sys_schema_epoch()
            return EngineResult("count", affected=0)
        if any(n == name for n, _ in self.catalog.unique_keys(q)):
            # dropping a UNIQUE index stops its constraint enforcement
            self.spark.sql(
                f"ALTER TABLE {bq(q)} UNSET TBLPROPERTIES ('{PROP_UNIQUE_PREFIX}{name}')"
            )
            _bump_sys_schema_epoch()
            return EngineResult("count", affected=0)
        raise EbikeError(1091, f"Can't DROP '{name}'; check that column/key exists")

    def _add_unique(self, q: str, name: str, cols: list[str]) -> EngineResult:
        """Retroactive UNIQUE key: reject if the existing data already
        violates it (one bounded LIMIT-1 duplicate probe — rows with a
        NULL in any key column are exempt, MySQL semantics), then record
        the key; the INSERT/upsert paths enforce it from then on."""
        from ebike_spark.engine.catalog import PROP_UNIQUE_PREFIX

        self.catalog.require_table(q)
        if not re.fullmatch(r"\w+", name):
            raise parse_error(f"bad index name '{name}'")
        known = {c for c, _ in self.catalog.column_types(q)}
        for c in cols:
            if c not in known:
                raise EbikeError(1072, f"Key column '{c}' doesn't exist in table")
        taken = {n for n, _ in self.catalog.unique_keys(q)}
        taken.update(n for n, _ in self.catalog.cluster_indexes(q))
        if name in taken:
            raise EbikeError(1061, f"Duplicate key name '{name}'")
        t = self.spark.table(q)
        non_null = t
        for c in cols:
            non_null = non_null.where(F.col(c).isNotNull())
        dup = (
            non_null.groupBy(*[F.col(c) for c in cols])
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            vals = "-".join(str(dup[0][c]) for c in cols)
            raise EbikeError(1062, f"Duplicate entry '{vals}' for key '{name}'")
        self.spark.sql(
            f"ALTER TABLE {bq(q)} SET TBLPROPERTIES "
            f"('{PROP_UNIQUE_PREFIX}{name}' = '{','.join(cols)}')"
        )
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _add_primary_key(self, q: str, cols: list[str]) -> EngineResult:
        """Retroactive PRIMARY KEY: existing NULLs are 1138, existing
        duplicates 1062; the key columns join the NOT NULL set."""
        from ebike_spark.engine.catalog import PROP_NOT_NULL, PROP_PK

        self.catalog.require_table(q)
        if self.catalog.primary_key(q):
            raise EbikeError(1068, "Multiple primary key defined")
        known = {c for c, _ in self.catalog.column_types(q)}
        for c in cols:
            if c not in known:
                raise EbikeError(1072, f"Key column '{c}' doesn't exist in table")
        t = self.spark.table(q)
        import functools as _ft
        import operator as _op

        any_null = _ft.reduce(_op.or_, [F.col(c).isNull() for c in cols])
        if t.where(any_null).limit(1).collect():
            raise EbikeError(1138, "Invalid use of NULL value in key column")
        dup = (
            t.groupBy(*[F.col(c) for c in cols])
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            vals = "-".join(str(dup[0][c]) for c in cols)
            raise EbikeError(1062, f"Duplicate entry '{vals}' for key 'PRIMARY'")
        nn = self.catalog.not_null_cols(q)
        nn.extend(c for c in cols if c not in nn)
        self.spark.sql(
            f"ALTER TABLE {bq(q)} SET TBLPROPERTIES "
            f"('{PROP_PK}' = '{','.join(cols)}', '{PROP_NOT_NULL}' = '{','.join(nn)}')"
        )
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _drop_primary_key(self, q: str) -> EngineResult:
        from ebike_spark.engine.catalog import PROP_PK

        self.catalog.require_table(q)
        if not self.catalog.primary_key(q):
            raise EbikeError(1091, "Can't DROP 'PRIMARY'; check that column/key exists")
        # MySQL keeps the NOT NULL attribute on former PK columns
        self.spark.sql(f"ALTER TABLE {bq(q)} UNSET TBLPROPERTIES ('{PROP_PK}')")
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _matview_sql(self, q: str) -> str:
        import base64

        enc = self.catalog.properties(q).get(self._PROP_MATVIEW)
        if enc is None:
            raise EbikeError(1347, f"'{q}' is not a MATERIALIZED VIEW")
        return base64.b64decode(enc).decode()

    def _refresh_matview(self, sql: str) -> EngineResult:
        m = re.match(r"REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near REFRESH MATERIALIZED VIEW")
        q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
        self.catalog.require_table(q)
        stored = self._matview_sql(q)
        self.spark.catalog.setCurrentDatabase(self.current_db)
        src = self.spark.sql(self._fix_select(stored))
        cur = self.spark.table(q)
        if [f.dataType for f in src.schema.fields] != [
            f.dataType for f in cur.schema.fields
        ]:
            raise unsupported("REFRESH with a changed result schema")
        dml._rewrite(q, src)
        return EngineResult("count", affected=self.spark.table(q).count())

    def _drop_matview(self, sql: str) -> EngineResult:
        m = re.match(
            r"DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`\"]+)\s*$", sql, re.I
        )
        if not m:
            raise parse_error("near DROP MATERIALIZED VIEW")
        q = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
        if not m.group(1):
            self.catalog.require_table(q)
        # IF EXISTS only suppresses the missing-object error; an
        # existing object must still be a materialized view (1347),
        # never a plain table silently dropped with its data
        if self.catalog.table_exists(q):
            self._matview_sql(q)  # 1347 if it's a plain table
            self.catalog.drop_table(q, True)
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _truncate(self, sql: str) -> EngineResult:
        """TRUNCATE [TABLE] t — MySQL fast-delete-all (affected 0).
        Spark's native TRUNCATE drops the managed table's data files,
        the same O(files) operation MySQL's handler performs."""
        m = re.match(r"TRUNCATE\s+(?:TABLE\s+)?([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near TRUNCATE")
        q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
        self.catalog.require_table(q)
        self.spark.sql(f"TRUNCATE TABLE {bq(q)}")
        return EngineResult("count", affected=0)

    def _maintain_table(self, kw: str, sql: str) -> EngineResult:
        """MySQL maintenance statements, each mapped to its real Spark
        counterpart (the reference 1105s all three):

        - CHECK TABLE → a full integrity audit: PK/UNIQUE uniqueness and
          NOT NULL re-validated set-orientedly against the stored data
          (the checks DML enforces, re-run at rest — detects corruption
          introduced by external writers). Reports MySQL's row shape.
        - ANALYZE TABLE → ANALYZE TABLE COMPUTE STATISTICS (row counts /
          sizes into the catalog — what feeds join-strategy choices).
        - OPTIMIZE TABLE → compact the table's data files: one snapshot
          rewrite through the DML swap path (the io_compact_small_files
          maintenance shape applied to an engine table).

        All three accept a comma list and return one (Table, Op,
        Msg_type, Msg_text) row per table, MySQL-style."""
        from ebike_spark.engine.parser import split_top_level

        m = re.match(rf"{kw}\s+TABLE\s+([\s\S]+?)\s*;?\s*$", sql, re.I)
        if not m:
            raise parse_error(f"near {kw} TABLE")
        rows = []
        for tok in split_top_level(m.group(1)):
            q = self.catalog.qualify(unquote_ident(tok.strip()), self.current_db)
            self.catalog.require_table(q)
            disp = q.split(".", 1)[1] if "." in q else q
            if kw == "ANALYZE":
                self.spark.sql(f"ANALYZE TABLE {bq(q)} COMPUTE STATISTICS")
                rows.append((disp, "analyze", "status", "OK"))
                continue
            if kw == "OPTIMIZE":
                t = self.spark.table(q)
                dml._rewrite(q, t.coalesce(max(1, t.rdd.getNumPartitions() // 8)))
                rows.append((disp, "optimize", "status", "OK"))
                continue
            # CHECK TABLE: re-validate declared constraints at rest
            # through the SAME probe the UPDATE post-image re-check
            # uses (dml.duplicate_key_probe — one 'duplicate' semantics)
            t = self.spark.table(q)
            msgs = []
            for col in self.catalog.not_null_cols(q):
                if t.where(F.col(col).isNull()).limit(1).count() > 0:
                    msgs.append(f"column '{col}' contains NULL")
            for key_name, _dup in dml.duplicate_key_probe(
                t, dml.declared_keys(self.catalog, q)
            ):
                msgs.append(f"duplicate entries in key '{key_name}'")
            if msgs:
                rows.append((disp, "check", "error", "; ".join(msgs)))
            else:
                rows.append((disp, "check", "status", "OK"))
        df = self.spark.createDataFrame(
            rows, "`Table` string, Op string, Msg_type string, Msg_text string"
        )
        return EngineResult("rows", df=df)

    def _rename_tables(self, sql: str) -> EngineResult:
        """RENAME TABLE a TO b [, c TO d ...] — metadata-only move.
        Cross-database renames are refused (Spark's v1 session catalog
        renames within a database; MySQL allows the move — 1105 keeps
        the failure explicit rather than silently copying data)."""
        from ebike_spark.engine.parser import split_top_level

        body = re.match(r"RENAME\s+TABLE\s+([\s\S]+)$", sql, re.I).group(1)
        # MySQL applies pairs left-to-right on the evolving namespace
        # (chains `a TO b, b TO c` and swaps `a TO tmp, b TO a` are
        # legal), so validation simulates that evolution: `gone` holds
        # sources already renamed away, `made` the targets created so
        # far. Checking every pair against the simulated state first
        # keeps the common failure modes (missing source, existing
        # target) all-or-nothing before any ALTER runs.
        pairs = []
        gone: set = set()
        made: set = set()
        for part in split_top_level(body):
            pm = re.match(r"\s*([\w.`\"]+)\s+TO\s+([\w.`\"]+)\s*$", part, re.I)
            if not pm:
                raise parse_error("near RENAME TABLE")
            src = self.catalog.qualify(unquote_ident(pm.group(1)), self.current_db)
            dst = self.catalog.qualify(unquote_ident(pm.group(2)), self.current_db)
            if src not in made and (src in gone or not self.catalog.table_exists(src)):
                raise EbikeError(1146, f"Table '{pm.group(1)}' doesn't exist")
            if dst in made or (dst not in gone and self.catalog.table_exists(dst)):
                raise EbikeError(1050, f"Table '{pm.group(2)}' already exists")
            if src.rpartition(".")[0] != dst.rpartition(".")[0]:
                raise unsupported("cross-database RENAME TABLE")
            gone.add(src)
            made.discard(src)
            gone.discard(dst)
            made.add(dst)
            pairs.append((src, dst))
        for src, dst in pairs:
            self.spark.sql(f"ALTER TABLE {bq(src)} RENAME TO {bq(dst)}")
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _drop_table(self, sql: str) -> EngineResult:
        m = re.match(r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near DROP TABLE")
        q = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
        self.catalog.drop_table(q, bool(m.group(1)))
        _bump_sys_schema_epoch()
        return EngineResult("count", affected=0)

    def _alter_table(self, sql: str) -> EngineResult:
        """ALTER TABLE dispatch. MySQL allows a comma-separated clause
        list in one statement (``ADD COLUMN a INT, DROP COLUMN b, ADD
        KEY k (a)``) applied atomically; the reference's dispatcher
        handles only single-clause ALTERs (execution.rs:894-1279), so
        the multi-clause path is beyond-reference dialect surface."""
        from ebike_spark.engine.parser import split_top_level

        m = re.match(r"ALTER\s+TABLE\s+([\w.`\"]+)\s+([\s\S]+?)\s*$", sql, re.I)
        if m:
            rest = m.group(2)
            if rest.rstrip().endswith(","):
                # a trailing comma is a dangling empty clause, not a
                # licence to ignore it (recurring review-bug shape)
                raise parse_error("near ',' (empty ALTER TABLE clause)")
            clauses = split_top_level(rest)
            if len(clauses) > 1:
                return self._alter_table_multi(m.group(1), clauses)
        return self._alter_table_single(sql)

    def _alter_table_multi(self, tbl_tok: str, clauses: list[str]) -> EngineResult:
        """Comma-separated ALTER TABLE, atomic like MySQL 8.0: every
        clause is applied to a staged copy of the table (data + ebike.*
        properties), and only a fully-successful run swaps the stage
        into place — a failing clause leaves the original untouched.
        A RENAME [TO|AS] clause is applied last (MySQL processes the
        rename with the rebuild; other clauses name the old table).

        The copy cost is acceptable at engine-table scale: any ALTER
        list containing a column clause rewrites the data anyway, and
        the engine's managed tables are the OLTP-ish surface, not the
        100 TB analytics parquet."""
        import uuid as _uuid

        q = self.catalog.qualify(unquote_ident(tbl_tok), self.current_db)
        self.catalog.require_table(q)
        rename_to: str | None = None
        body: list[str] = []
        for cl in clauses:
            if not cl:
                raise parse_error("near ',' (empty ALTER TABLE clause)")
            rm = re.match(r"RENAME\s+(?:TO\s+|AS\s+)?([\w.`\"]+)\s*$", cl, re.I)
            if rm:
                if rename_to is not None:
                    raise parse_error("multiple RENAME clauses in one ALTER TABLE")
                rename_to = rm.group(1)
                continue
            if not re.match(r"(?:ADD|DROP|MODIFY|CHANGE)\b", cl, re.I):
                # reject garbage clauses before paying for the stage copy
                raise parse_error(f"near '{cl.split()[0]}'")
            body.append(cl)
        if rename_to is not None:
            # pre-check the rename target so a late 1050/unsupported
            # can't strand an already-applied clause list
            dst = self.catalog.qualify(unquote_ident(rename_to), self.current_db)
            src_db, _, _ = q.rpartition(".")
            dst_db, _, _ = dst.rpartition(".")
            if dst_db != src_db:
                raise unsupported("cross-database RENAME TABLE")
            if self.catalog.table_exists(dst):
                raise EbikeError(1050, f"Table '{dst}' already exists")
        db, _, _ = q.rpartition(".")
        # "__ebike_stage" prefix: the SHOW/information_schema filters hide
        # internal staging tables by that literal prefix, so a crash leak
        # stays invisible to users (review finding: a distinct prefix
        # bypassed all three filters)
        stage = f"{db}.__ebike_stage_alter_{_uuid.uuid4().hex[:12]}"
        self.spark.table(q).write.saveAsTable(stage)
        props = {
            k: v for k, v in self.catalog.properties(q).items() if k.startswith("ebike.")
        }
        try:
            # phase 1 — build the altered copy; the original is untouched,
            # so rollback here is simply dropping the stage
            if props:
                props_ddl = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
                self.spark.sql(f"ALTER TABLE {bq(stage)} SET TBLPROPERTIES ({props_ddl})")
            for cl in body:
                self._alter_table_single(f"ALTER TABLE {stage} {cl}")
        except Exception:
            self.spark.sql(f"DROP TABLE IF EXISTS {bq(stage)}")
            _bump_sys_schema_epoch()
            raise
        # phase 2 — swap. Once the original is dropped the stage is the ONLY
        # copy of the data: a failed RENAME must PRESERVE it, never drop
        # it (review finding: the old single rollback handler deleted the
        # survivor on a transient rename failure — total data loss).
        try:
            self.spark.sql(f"DROP TABLE {bq(q)}")
            try:
                self.spark.sql(f"ALTER TABLE {bq(stage)} RENAME TO {bq(q)}")
            except Exception as exc:
                raise EbikeError(
                    1105,
                    f"ALTER TABLE swap failed after dropping '{q}'; the fully-"
                    f"altered data is preserved in '{stage}' — rename it back "
                    f"manually ({exc})",
                ) from exc
        finally:
            _bump_sys_schema_epoch()
        if rename_to is not None:
            return self._rename_tables(f"RENAME TABLE {tbl_tok} TO {rename_to}")
        return EngineResult("count", affected=0)

    def _alter_table_single(self, sql: str) -> EngineResult:
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+ADD\s+(?:COLUMN\s+)?([\w`\"]+)\s+(\w+)"
            r"(?:\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\))?\s*$",
            sql,
            re.I,
        )
        if m:
            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            self.catalog.alter_add_column(
                q,
                unquote_ident(m.group(2)),
                m.group(3).upper(),
                precision=int(m.group(4)) if m.group(4) else None,
                scale=int(m.group(5)) if m.group(5) else None,
            )
            _bump_sys_schema_epoch()
            return EngineResult("count", affected=0)
        m = re.match(r"ALTER\s+TABLE\s+([\w.`\"]+)\s+DROP\s+(?:COLUMN\s+)?([\w`\"]+)\s*$", sql, re.I)
        if m:
            return self._drop_column(
                self.catalog.qualify(unquote_ident(m.group(1)), self.current_db),
                unquote_ident(m.group(2)),
            )
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+RENAME\s+(?:TO\s+|AS\s+)?([\w.`\"]+)\s*$", sql, re.I
        )
        if m:
            # MySQL's second rename spelling — same path as RENAME TABLE
            return self._rename_tables(f"RENAME TABLE {m.group(1)} TO {m.group(2)}")
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+ADD\s+PRIMARY\s+KEY\s*\(([^)]+)\)\s*$", sql, re.I
        )
        if m:
            from ebike_spark.engine.parser import split_top_level

            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            return self._add_primary_key(
                q, [unquote_ident(c) for c in split_top_level(m.group(2))]
            )
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+ADD\s+UNIQUE\s*(?:\b(?:INDEX|KEY)\b\s*)?"
            r"(?:([\w`\"]+)\s*)?\(([^)]+)\)\s*$",
            sql,
            re.I,
        )
        if m:
            from ebike_spark.engine.parser import split_top_level

            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            cols = [unquote_ident(c) for c in split_top_level(m.group(3))]
            name = unquote_ident(m.group(2)) if m.group(2) else None
            if name is None:
                # MySQL auto-names an anonymous key after its first
                # column, deduping with _2, _3, ... on collision
                taken = {n for n, _ in self.catalog.unique_keys(q)}
                taken.update(n for n, _ in self.catalog.cluster_indexes(q))
                name, k = cols[0], 2
                while name in taken:
                    name, k = f"{cols[0]}_{k}", k + 1
            return self._add_unique(q, name, cols)
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+ADD\s+(?:INDEX|KEY)\s+([\w`\"]+)\s*\(([^)]+)\)\s*$",
            sql,
            re.I,
        )
        if m:
            # same path as CREATE INDEX (physical range clustering)
            return self._create_index(
                f"CREATE INDEX {m.group(2)} ON {m.group(1)} ({m.group(3)})"
            )
        m = re.match(r"ALTER\s+TABLE\s+([\w.`\"]+)\s+DROP\s+PRIMARY\s+KEY\s*$", sql, re.I)
        if m:
            return self._drop_primary_key(
                self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            )
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+DROP\s+(?:INDEX|KEY)\s+([\w`\"]+)\s*$", sql, re.I
        )
        if m:
            return self._drop_index_named(
                self.catalog.qualify(unquote_ident(m.group(1)), self.current_db),
                unquote_ident(m.group(2)),
            )
        # display widths (INT(11), FLOAT(10,2)) accepted-and-ignored,
        # matching parse_create_table's column grammar (ADVICE r5)
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+MODIFY\s+(?:COLUMN\s+)?([\w`\"]+)\s+(\w+)"
            r"(?:\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\))?"
            r"(\s+NOT\s+NULL)?\s*$",
            sql,
            re.I,
        )
        if m:
            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            col = unquote_ident(m.group(2))
            return self._modify_column(
                q, col, col, m.group(3).upper(), bool(m.group(6)),
                precision=int(m.group(4)) if m.group(4) else None,
                scale=int(m.group(5)) if m.group(5) else None,
            )
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.`\"]+)\s+CHANGE\s+(?:COLUMN\s+)?([\w`\"]+)\s+([\w`\"]+)"
            r"\s+(\w+)(?:\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\))?(\s+NOT\s+NULL)?\s*$",
            sql,
            re.I,
        )
        if m:
            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            return self._modify_column(
                q,
                unquote_ident(m.group(2)),
                unquote_ident(m.group(3)),
                m.group(4).upper(),
                bool(m.group(7)),
                precision=int(m.group(5)) if m.group(5) else None,
                scale=int(m.group(6)) if m.group(6) else None,
            )
        raise parse_error(
            "near ALTER TABLE (only ADD/DROP/MODIFY/CHANGE COLUMN, "
            "ADD/DROP INDEX|UNIQUE|PRIMARY KEY, RENAME)"
        )

    def _drop_column(self, qualified: str, col: str) -> EngineResult:
        """Parquet v1 tables can't ALTER DROP COLUMN in place → recreate
        (schema-evolved rewrite, the ALTER path the reference implements
        as meta-table surgery, /root/reference/src/execute_impl/drop_column.rs:37-131)."""
        self.catalog.require_table(qualified)
        t = self.spark.table(qualified)
        if col not in t.columns or (col == "rowid" and self.catalog.has_rowid(qualified)):
            # the hidden rowid is not a user column — not droppable
            raise EbikeError(1091, f"Can't DROP '{col}'; check that column/key exists")
        kept = t.drop(col)
        keep_props = {
            k: ",".join(c for c in v.split(",") if c != col)
            for k, v in self.catalog.properties(qualified).items()
            if k.startswith("ebike.")
        }
        # a UNIQUE/cluster key whose LAST column was dropped disappears
        # with it (MySQL drops the index; an empty key list would crash
        # the next keyed INSERT's conjunction builder)
        keep_props = {
            k: v
            for k, v in keep_props.items()
            if v or not k.startswith(("ebike.unique.", "ebike.cluster."))
        }
        self._recreate_table(qualified, kept, keep_props)
        return EngineResult("count", affected=0)

    def _recreate_table(self, qualified: str, df: DataFrame, ebike_props: dict[str, str]) -> None:
        """Recreate for schema evolution parquet v1 can't do in place
        (type/order change, column drop): snapshot the new shape
        (dml.snapshot), drop, recreate with the given ebike.*
        properties, write the snapshot back. Shared by DROP/MODIFY/
        CHANGE COLUMN. Every read of the old table completes before the
        DROP, so a failure while computing the new shape leaves the table
        unchanged."""
        with dml.snapshot(df) as (image, _):
            self.spark.sql(f"DROP TABLE {qualified}")
            cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
            props_ddl = ", ".join(f"'{k}' = '{v}'" for k, v in ebike_props.items()) or "'ebike.not_null' = ''"
            self.spark.sql(
                f"CREATE TABLE {qualified} ({cols_ddl}) USING parquet TBLPROPERTIES ({props_ddl})"
            )
            image.write.insertInto(qualified, overwrite=True)
        _bump_sys_schema_epoch()

    def _modify_column(
        self,
        qualified: str,
        old: str,
        new: str,
        sql_type: str,
        not_null: bool,
        precision: int | None = None,
        scale: int | None = None,
    ) -> EngineResult:
        """ALTER TABLE MODIFY/CHANGE COLUMN: retype (strict-mode cast —
        a non-NULL value that doesn't convert is 1366, as MySQL strict),
        optionally rename, via the snapshot recreate. Key/cluster/
        auto-increment markers follow the rename. Divergence from
        MySQL's full-redefinition semantics, documented: attributes not
        restated in the clause (AUTO_INCREMENT, key membership) are
        PRESERVED rather than dropped; nullability follows the clause
        (absent NOT NULL → nullable, except PK columns, which stay NOT
        NULL as in MySQL)."""
        from ebike_spark.engine.catalog import (
            PROP_AUTO_INCREMENT,
            PROP_NOT_NULL,
            resolve_sql_type,
        )

        self.catalog.require_table(qualified)
        spark_t = resolve_sql_type(sql_type, precision, scale)
        t = self.spark.table(qualified)
        hidden_rowid = self.catalog.has_rowid(qualified)
        if old not in t.columns or (old == "rowid" and hidden_rowid):
            raise EbikeError(1054, f"Unknown column '{old}' in 'field list'")
        if new != old and new in t.columns:
            raise EbikeError(1060, f"Duplicate column name '{new}'")
        if self.catalog.auto_increment_col(qualified) == old and spark_t != "BIGINT":
            raise EbikeError(1063, f"Incorrect column specifier for column '{old}'")
        src = F.col(old)
        if spark_t == "BIGINT":
            # MySQL ROUNDS fractional→int; a bare cast truncates. The
            # shared helper routes through double only for fractional
            # values, so big exact integers keep full precision.
            cast = dml._rounding_bigint_cast_col(src)
        else:
            cast = src.cast(spark_t.lower())
        bad_pred = src.isNotNull() & cast.isNull()
        if spark_t == "BIGINT":
            # the non-ANSI double→long cast SATURATES at Long.Max
            # instead of nulling — out-of-range magnitudes must raise
            # 1366 here too, never silently store Long.Max (review r9)
            dbl = src.cast("double")
            bad_pred = bad_pred | (
                dbl.isNotNull() & (F.abs(dbl) > F.expr(dml._LONG_MAX_D))
            )
        bad = t.where(bad_pred).count()
        if bad:
            raise EbikeError(
                1366, f"Incorrect {sql_type.lower()} value for column '{old}' ({bad} rows)"
            )
        if not_null and t.where(src.isNull()).count():
            raise EbikeError(1138, f"Invalid use of NULL value for column '{old}'")
        new_df = t.select(
            *[cast.alias(new) if c == old else F.col(c) for c in t.columns]
        )
        pk_cols = self.catalog.primary_key(qualified)

        def ren(v: str) -> str:
            return ",".join(new if c == old else c for c in v.split(","))

        props = {
            k: ren(v)
            for k, v in self.catalog.properties(qualified).items()
            if k.startswith("ebike.")
        }
        nn = [c for c in props.get(PROP_NOT_NULL, "").split(",") if c]
        if not_null:
            if new not in nn:
                nn.append(new)
        elif old not in pk_cols:
            nn = [c for c in nn if c != new]
        props[PROP_NOT_NULL] = ",".join(nn)
        self._recreate_table(qualified, new_df, props)
        return EngineResult("count", affected=0)

    # ------------------------------------------------------------ DML


"""DML statement execution — the Engine's INSERT/UPDATE/DELETE
dispatch (statement parsing, alias resolution, multi-table forms),
split out of engine.py in r10 (VERDICT-r9 task 7; mechanical move, no
behavior change). Mixin over Engine; the set-based rewrite machinery
itself lives in engine/dml.py as before."""

from __future__ import annotations

import re
from contextlib import ExitStack
from functools import reduce
from operator import or_ as _or

import pyspark.sql.functions as F
from pyspark.sql import Window

from ebike_spark.engine import dml
from ebike_spark.engine.catalog import bq
from ebike_spark.engine.errors import EbikeError, parse_error, unsupported
from ebike_spark.engine.parser import (
    parse_delete,
    parse_insert,
    parse_update,
    substitute_vars,
    unquote_ident,
)
from ebike_spark.engine.session_state import GLOBAL_VARS, EngineResult


class DmlExecMixin:
    def _insert(self, sql: str) -> EngineResult:
        fixed = self._fix_dml_scalars(
            substitute_vars(sql, self.sys_vars, self.user_vars, GLOBAL_VARS)
        )
        # MySQL `INSERT INTO t SET a = 1, b = 'x'` → column-list VALUES
        m = re.match(
            r"\s*(INSERT(?:\s+IGNORE)?|REPLACE)\s+INTO\s+([\w.`\"]+)\s+SET\s+([\s\S]+?)"
            r"(\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+[\s\S]+?)?;?\s*$",
            fixed,
            re.I,
        )
        if m:
            from ebike_spark.engine.parser import split_top_level

            cols, vals = [], []
            for a in split_top_level(m.group(3)):
                am = re.match(r"\s*([\w`\"]+)\s*=\s*([\s\S]+)$", a)
                if not am:
                    raise parse_error(f"near INSERT ... SET: {a!r}")
                cols.append(unquote_ident(am.group(1)))
                vals.append(am.group(2).strip())
            fixed = (
                f"{m.group(1)} INTO {m.group(2)} ({', '.join(cols)}) "
                f"VALUES ({', '.join(vals)}){m.group(4) or ''}"
            )
        # INSERT [IGNORE] INTO ... SELECT / REPLACE INTO ... SELECT:
        # build the casted source frame and route it through the SAME
        # set-oriented constraint / duplicate handling as the VALUES
        # path (beyond-reference — the reference only implements
        # VALUES, insert.rs:48-224 — and a round-7 upgrade over the
        # earlier raw passthrough, which enforced no PK/UNIQUE/NOT NULL
        # on SELECT sources). All checks are joins/aggregates, so they
        # scale to any source volume. Detected STRUCTURALLY (SELECT
        # right after the table/column list) — a bare \bVALUES\b probe
        # would misroute `... SELECT ... ON DUPLICATE KEY UPDATE
        # v = VALUES(v)` into the VALUES-clause parser.
        m = re.match(
            r"\s*(?:INSERT(\s+IGNORE)?|(REPLACE))\s+INTO\s+([\w.`\"]+)\s*"
            r"(?:\(([^)]*)\)\s*)?(SELECT\b[\s\S]*)$",
            fixed,
            re.I,
        )
        if m:
            self.spark.catalog.setCurrentDatabase(self.current_db)
            q = self.catalog.qualify(unquote_ident(m.group(3)), self.current_db)
            if self.catalog.table_exists(q):
                return self._insert_from_select(
                    q,
                    col_list=m.group(4),
                    select_sql=m.group(5),
                    ignore=bool(m.group(1)),
                    replace=bool(m.group(2)),
                )
        if not re.search(r"\bVALUES\b", fixed, re.I):
            # remaining non-VALUES forms (e.g. INSERT INTO ... TABLE
            # src) pass through to Spark untouched
            self.spark.catalog.setCurrentDatabase(self.current_db)
            self.spark.sql(fixed)
            return EngineResult("count", affected=-1)
        try:
            ins = parse_insert(fixed)
        except ValueError as e:
            raise parse_error(str(e)) from e
        state: dict = {}
        n = dml.insert(self.spark, self.catalog, ins, self.current_db, session=state)
        if "last_insert_id" in state:
            self.last_insert_id = state["last_insert_id"]
        return EngineResult("count", affected=n)

    def _insert_from_select(
        self,
        qualified: str,
        col_list: str | None,
        select_sql: str,
        ignore: bool,
        replace: bool,
    ) -> EngineResult:
        """INSERT [IGNORE] / REPLACE ... SELECT: cast the source frame
        to the target's declared types (listed or all columns
        positionally, unlisted columns NULL), mint AUTO_INCREMENT and
        hidden rowids, and hand off to the same dml helpers the VALUES
        path uses — so PK/UNIQUE/NOT NULL, duplicate accounting, and
        REPLACE/IGNORE semantics are identical whatever the row
        source. Every check is a join/aggregate (no driver-side row
        loop), so a 10⁸-row SELECT source costs the same plan shape as
        a 3-row one."""
        import pyspark.sql.functions as F

        from ebike_spark.engine import dml as _dml
        from ebike_spark.engine.parser import split_tail_clauses, split_top_level

        # INSERT ... SELECT ... ON DUPLICATE KEY UPDATE: the upsert
        # clause rides after the SELECT; split it off top-level
        # (quote/paren-aware — an ON inside the SELECT's joins never
        # matches the full four-word phrase)
        try:
            select_sql, tail_clauses = split_tail_clauses(
                select_sql, ("ON DUPLICATE KEY UPDATE",)
            )
        except ValueError as e:
            raise parse_error(str(e)) from e
        on_dup: list[tuple[str, str]] | None = None
        if "ON DUPLICATE KEY UPDATE" in tail_clauses:
            if ignore or replace:
                raise parse_error(
                    "ON DUPLICATE KEY UPDATE cannot combine with IGNORE/REPLACE"
                )
            on_dup = []
            for a in split_top_level(tail_clauses["ON DUPLICATE KEY UPDATE"]):
                am = re.match(r"\s*([\w`\"]+)\s*=\s*([\s\S]+)$", a)
                if not am:
                    raise parse_error(f"near ON DUPLICATE KEY UPDATE: {a!r}")
                on_dup.append((unquote_ident(am.group(1)), am.group(2).strip()))

        # hidden rowids of SOURCE tables never travel (SELECT * from a
        # rowid table must behave as if the column didn't exist)
        src = self._drop_hidden_rowid(
            self.spark.sql(self._fix_select(select_sql, datetime_fns=False))
        )
        cols = self.catalog.column_types(qualified)
        types = dict(cols)
        listed = (
            [unquote_ident(c) for c in split_top_level(col_list)]
            if col_list
            else [n for n, _ in cols]
        )
        unknown = [c for c in listed if c not in types]
        if unknown:
            raise EbikeError(1054, f"Unknown column '{unknown[0]}' in 'field list'")
        if len(src.columns) != len(listed):
            raise EbikeError(1136, "Column count doesn't match value count")
        pos = {c: i for i, c in enumerate(listed)}
        # source columns go through the same strict+rounding cast as
        # the VALUES path (1366 on unconvertible values, MySQL integer
        # rounding); unlisted target columns are typed NULLs
        df = src.select(
            *[
                (
                    _dml.guarded_cast_col(src[src.columns[pos[n]]], t, n)
                    if n in pos
                    else F.lit(None).cast(t)
                ).alias(n)
                for n, t in cols
            ]
        )
        ai = self.catalog.auto_increment_col(qualified)
        if ai is not None:
            df, first_id = _dml._mint_auto_increment(
                self.spark, qualified, df, ai, types[ai]
            )
            if first_id is not None:
                self.last_insert_id = first_id
        class _LazyRows:
            """len() = source row count, computed only if a dml helper
            actually reads it — _upsert consults len(rows) solely on
            its no-unique-key fallback, so the common keyed upsert
            never pays an extra pass over the SELECT source."""

            _n: int | None = None

            def __len__(self) -> int:
                if self._n is None:
                    self._n = df.count()
                return self._n

        if on_dup is not None:

            class _UShim:  # _upsert reads on_dup_update + len(rows)
                rows = _LazyRows()
                on_dup_update = on_dup

            n = _dml._upsert(self.spark, self.catalog, qualified, df, _UShim())
            return EngineResult("count", affected=n)
        if replace:

            class _Shim:  # _replace reads only len(ins.rows)
                rows = _LazyRows()

            n = _dml._replace(self.spark, self.catalog, qualified, df, _Shim())
            return EngineResult("count", affected=n)
        if ignore:
            n = _dml._insert_ignore(self.spark, self.catalog, qualified, df)
            return EngineResult("count", affected=n)
        _dml._check_constraints(self.spark, self.catalog, qualified, df)
        # affected-rows counts the pre-rowid frame (column-pruned pass)
        n_src = df.count()
        if self.catalog.has_rowid(qualified):
            df = df.withColumn(_dml.ROWID, F.expr("uuid()")).select(
                *self.spark.table(qualified).columns
            )
        df.write.insertInto(qualified, overwrite=False)
        return EngineResult("count", affected=n_src)

    # FROM-clause keywords that can precede an alias token without
    # being the aliased table (multi-table DML alias resolution)
    _JOIN_KEYWORDS = {
        "JOIN", "ON", "AND", "OR", "INNER", "LEFT", "RIGHT", "CROSS",
        "OUTER", "STRAIGHT_JOIN", "USING", "WHERE", "NATURAL", "AS",
    }

    def _from_aliases(self, frm: str) -> list[tuple[str, str]]:
        """Enumerate (alias-or-name token, qualified table) for every
        table in a multi-table-DML FROM clause. Segments split on
        top-level JOIN keywords (quote/paren-aware); each segment's
        leading token is the table, the next word its alias unless it
        is a clause keyword."""
        from ebike_spark.engine.parser import (
            find_top_level_keywords,
            split_top_level,
        )

        spans = find_top_level_keywords(frm, ("JOIN",))
        segs, prev = [], 0
        for _, s0, s1 in spans:
            segs.append(frm[prev:s0])
            prev = s1
        segs.append(frm[prev:])
        # MySQL's comma form mixes freely with JOINs (`t1 a, t2 b JOIN
        # t3 c ON ...`): each JOIN segment may itself list several
        # comma-separated table factors
        segs = [part for seg in segs for part in split_top_level(seg, ",")]
        out: list[tuple[str, str]] = []
        for seg in segs:
            m = re.match(r"\s*([\w.`\"]+)(?:\s+(?:AS\s+)?([\w`\"]+))?", seg)
            if not m:
                continue
            tbl = unquote_ident(m.group(1))
            if tbl.upper() in self._JOIN_KEYWORDS:
                continue
            alias = unquote_ident(m.group(2)) if m.group(2) else None
            if alias and alias.upper() in self._JOIN_KEYWORDS:
                alias = None
            out.append((alias or tbl, self.catalog.qualify(tbl, self.current_db)))
        return out

    def _resolve_alias_table(self, tgt: str, frm: str) -> str:
        """Resolve a multi-table-DML target token (alias or table name)
        to its underlying table within a FROM clause."""
        m = re.search(
            rf"([\w.`\"]+)\s+(?:AS\s+)?{re.escape(tgt)}\b", frm, re.I
        )
        if m and unquote_ident(m.group(1)).upper() not in self._JOIN_KEYWORDS:
            return unquote_ident(m.group(1))
        return tgt

    def _update(self, sql: str) -> EngineResult:
        fixed = self._fix_dml_scalars(
            substitute_vars(sql, self.sys_vars, self.user_vars, GLOBAL_VARS)
        )
        # Multi-table form detection must be quote/paren-aware: a SET /
        # JOIN / WHERE inside a string literal or subquery must not
        # split the statement (find_top_level_keywords skips both).
        from ebike_spark.engine.parser import (
            find_top_level_keywords,
            split_tail_clauses,
            split_top_level,
        )

        body_m = re.match(r"\s*UPDATE\s+([\s\S]+?)\s*;?\s*$", fixed, re.I)
        if body_m:
            body = body_m.group(1)
            set_spans = find_top_level_keywords(body, ("SET",))
            if set_spans:
                frm = body[: set_spans[0][1]].strip()
                # JOIN form or MySQL's comma form (`UPDATE t1, t2 SET
                # ...`) — both are the multi-table statement
                if find_top_level_keywords(frm, ("JOIN",)) or len(
                    split_top_level(frm, ",")
                ) > 1:
                    tail = body[set_spans[0][2] :]
                    try:
                        set_clause, clauses = split_tail_clauses(tail, ("WHERE",))
                    except ValueError as e:
                        raise parse_error(str(e)) from e
                    return self._update_join(
                        frm, set_clause, clauses.get("WHERE")
                    )
        try:
            upd = parse_update(fixed)
        except ValueError as e:
            raise parse_error(str(e)) from e
        n = dml.update(self.spark, self.catalog, upd, self.current_db)
        return EngineResult("count", affected=n)

    def _update_join(self, frm: str, set_clause: str, where: str | None) -> EngineResult:
        """Multi-table UPDATE (MySQL `UPDATE t1 JOIN t2 ON ... SET
        t1.c = <expr over both>, t2.d = ... [WHERE ...]`): the
        assignments may read the joined tables' columns — the classic
        enrich-in-place statement — and may target SEVERAL of the
        joined tables in one statement (MySQL parity). No ORDER BY /
        LIMIT (MySQL also disallows them in the multi-table form).

        Set-oriented plan: ONE join computes (rowid, new values) for
        every matched row of every assigned table against the shared
        PRE-image; every target's post-image is snapshotted before the
        first overwrite, so rewriting the first target cannot leak its
        post-image into the second target's values — MySQL processes
        rows one at a time and later rows CAN observe earlier
        in-statement writes, an order-dependent behavior with no deterministic set-oriented
        equivalent; this engine pins snapshot semantics (every
        assignment sees the statement's start state), the same
        divergence documented for single-table UPDATE self-references.
        A row matched more than once keeps the smallest new-value
        tuple (MySQL's result there is processing-order-dependent —
        this pins a deterministic representative); the same table
        assigned through TWO aliases merges into one post-image
        (last assignment in statement order wins per column where
        both aliases match — see the grouping comment below); each
        post-image lands via the same snapshot and overwrite,
        changed-row accounting, and key re-check as the single-table
        path. No driver-side row loop at any join size."""
        from ebike_spark.engine.parser import split_top_level

        assigns: list[tuple[str | None, str, str]] = []  # (alias, col, rhs)
        for a in split_top_level(set_clause):
            am = re.match(
                r"\s*(?:([\w`\"]+)\s*\.\s*)?([\w`\"]+)\s*=\s*([\s\S]+)$", a
            )
            if not am:
                raise parse_error(f"near UPDATE ... SET: {a!r}")
            assigns.append(
                (
                    unquote_ident(am.group(1)) if am.group(1) else None,
                    unquote_ident(am.group(2)),
                    am.group(3).strip(),
                )
            )
        # Unqualified assignments resolve the MySQL way: the column is
        # looked up in EVERY joined table — exactly one owner targets
        # that table (even one never otherwise assigned); several
        # owners is 1052 ambiguous; none is 1054. No guessing from
        # which aliases happen to be assigned.
        from_tables = self._from_aliases(frm)
        col_owner_cache: dict[str, list[tuple[str, str]]] = {}

        def owners_of(col: str) -> list[tuple[str, str]]:
            if col not in col_owner_cache:
                found = []
                for alias, qtbl in from_tables:
                    try:
                        cols_of = dict(self.catalog.column_types(qtbl))
                    except EbikeError:
                        continue
                    if col in cols_of:
                        found.append((alias, qtbl))
                col_owner_cache[col] = found
            return col_owner_cache[col]

        # group assignments by target alias, preserving statement order
        by_tgt: dict[str, list[tuple[int, str, str]]] = {}
        for i, (alias, col, rhs) in enumerate(assigns):
            if alias is None:
                owners = owners_of(col)
                if len(owners) > 1:
                    raise EbikeError(
                        1052, f"Column '{col}' in field list is ambiguous"
                    )
                if not owners:
                    raise EbikeError(
                        1054, f"Unknown column '{col}' in 'field list'"
                    )
                alias = owners[0][0]
            by_tgt.setdefault(alias, []).append((i, col, rhs))
        targets: list[dict] = []
        for tgt, items in by_tgt.items():
            base = self._resolve_alias_table(tgt, frm)
            qualified = self.catalog.qualify(base, self.current_db)
            self.catalog.require_table(qualified)
            if not self.catalog.has_rowid(qualified):
                raise unsupported(
                    "multi-table UPDATE on a table without the hidden rowid"
                )
            types = dict(self.catalog.column_types(qualified))
            for _, col, _ in items:
                if col not in types:
                    raise EbikeError(
                        1054, f"Unknown column '{col}' in 'field list'"
                    )
            targets.append(
                {"tgt": tgt, "qualified": qualified, "types": types, "items": items}
            )
        self.spark.catalog.setCurrentDatabase(self.current_db)
        rid_exprs = ", ".join(
            f"{bq(t['tgt'])}.`{dml.ROWID}` AS __rid{k}"
            for k, t in enumerate(targets)
        )
        val_exprs = ", ".join(
            f"({rhs}) AS __v{i}"
            for t in targets
            for i, _, rhs in t["items"]
        )
        sel = (
            f"SELECT {rid_exprs}, {val_exprs} FROM {frm}"
            + (f" WHERE {where}" if where else "")
        )
        src = self.spark.sql(self._fix_select(sel, datetime_fns=False))
        with ExitStack() as snapshots:
            return self._update_join_images(src, targets, snapshots)

    def _update_join_images(self, src, targets: list[dict], snapshots: ExitStack) -> EngineResult:
        """Compute, check and write the post-image of every physical
        table a multi-table UPDATE assigns. Every snapshot enters
        ``snapshots``, which releases them when the statement ends."""
        if len(targets) > 1:
            # the join feeds several targets: compute it once
            src, _ = snapshots.enter_context(dml.snapshot(src))
        total = 0
        # Aliases of the SAME physical table merge into ONE post-image:
        # MySQL permits `UPDATE t a JOIN t b ... SET
        # a.x=..., b.y=...` but its row-level outcome is processing-
        # order-dependent; this engine pins a deterministic rule —
        # every assignment sees the statement-start snapshot, and when
        # a row is reached through several aliases (or several matches
        # of one alias), the LAST assignment in statement order whose
        # alias matched wins per column (the per-alias tie already
        # picks the smallest value tuple). Last-wins matches the
        # single-alias behavior this code always had for repeated
        # `SET c = ..., c = ...` on one alias.
        groups: list[tuple[str, list[tuple[int, dict]]]] = []
        gindex: dict[str, int] = {}
        for k, t in enumerate(targets):
            if t["qualified"] not in gindex:
                gindex[t["qualified"]] = len(groups)
                groups.append((t["qualified"], []))
            groups[gindex[t["qualified"]]][1].append((k, t))
        images = []  # (qualified, post-image snapshot) per PHYSICAL table
        for qualified, members in groups:
            tb = self.spark.table(qualified)
            types = members[0][1]["types"]
            joined = tb
            for k, t in members:
                idxs = [i for i, _, _ in t["items"]]
                w = Window.partitionBy(f"__rid{k}").orderBy(
                    *[F.col(f"__v{i}") for i in idxs]
                )
                vals = (
                    src.where(F.col(f"__rid{k}").isNotNull())
                    .withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1)
                    .select(f"__rid{k}", *[f"__v{i}" for i in idxs])
                )
                joined = joined.join(
                    vals, tb[dml.ROWID] == vals[f"__rid{k}"], "left"
                )
            # per-column candidates in statement order; the guard
            # (1366) fires only where that alias matched — __v is NULL
            # on unmatched rows, exactly like the single-table path
            candidates: dict[str, list[tuple] ] = {}
            for i, col, k in sorted(
                (i, col, k) for k, t in members for i, col, _ in t["items"]
            ):
                candidates.setdefault(col, []).append(
                    (
                        F.col(f"__rid{k}").isNotNull(),
                        dml.guarded_cast_col(
                            F.col(f"__v{i}"), types[col], col
                        ),
                    )
                )
            new_vals = {}
            for col, cands in candidates.items():
                expr = None
                for cond, val in reversed(cands):  # last in statement wins
                    expr = (
                        F.when(cond, val)
                        if expr is None
                        else expr.when(cond, val)
                    )
                new_vals[col] = expr.otherwise(F.col(col))
            changed = reduce(
                _or,
                [~new_vals[c].eqNullSafe(F.col(c)) for c in new_vals],
            )
            out_cols = [
                new_vals[name].alias(name)
                if name in new_vals
                else tb[name].alias(name)
                for name in tb.columns
            ]
            flagged = joined.select(*out_cols, changed.alias(dml.CHANGED))
            snap, affected = snapshots.enter_context(dml.snapshot(flagged, dml.CHANGED))
            if affected == 0:
                continue
            total += affected
            image = snap.drop(dml.CHANGED)
            dml.recheck_keys_after_update(
                self.spark, self.catalog, qualified, image, set(new_vals)
            )
            images.append((qualified, image))
        # Every post-image is snapshotted and key-checked, so every read
        # of a pre-image has completed: a failure up to here leaves all
        # the tables unchanged. Only then does the first overwrite start.
        # A crash BETWEEN overwrites leaves the earlier targets written —
        # a parquet engine has no multi-table transaction to close that.
        for qualified, image in images:
            image.write.insertInto(qualified, overwrite=True)
        return EngineResult("count", affected=total)

    def _delete(self, sql: str) -> EngineResult:
        fixed = self._fix_dml_scalars(
            substitute_vars(sql, self.sys_vars, self.user_vars, GLOBAL_VARS)
        )
        m = re.match(
            r"\s*DELETE\s+(?:FROM\s+)?([\w`\"]+)(?:\.\*)?\s+(?:FROM|USING)\s+"
            r"([\s\S]+?)\s*;?\s*$",
            fixed,
            re.I,
        )
        if m:
            # the WHERE tail splits quote/paren-aware (a literal
            # containing ' WHERE ' in the ON clause must not split)
            from ebike_spark.engine.parser import split_tail_clauses

            try:
                frm, clauses = split_tail_clauses(m.group(2), ("WHERE",))
            except ValueError as e:
                raise parse_error(str(e)) from e
            return self._delete_join(m.group(1), frm, clauses.get("WHERE"))
        try:
            dele = parse_delete(fixed)
        except ValueError as e:
            raise parse_error(str(e)) from e
        n = dml.delete(self.spark, self.catalog, dele, self.current_db)
        return EngineResult("count", affected=n)

    def _delete_join(self, tgt_tok: str, frm: str, where: str | None) -> EngineResult:
        """Multi-table DELETE (MySQL `DELETE t1 FROM t1 JOIN t2 ON ...
        [WHERE ...]` and the `DELETE FROM t1 USING ...` spelling): remove
        the target's rows that participate in the join — the classic
        purge-by-reference statement.

        Set-oriented plan: one join projects the DISTINCT doomed hidden
        rowids, then one anti-join rewrites the target — two shuffles
        at any size, no row loop. Affected-rows = distinct target rows
        matched, exactly MySQL's accounting (a row matched by several
        join partners still deletes once)."""
        tgt = unquote_ident(tgt_tok)
        base = self._resolve_alias_table(tgt, frm)
        qualified = self.catalog.qualify(base, self.current_db)
        self.catalog.require_table(qualified)
        if not self.catalog.has_rowid(qualified):
            raise unsupported(
                "multi-table DELETE on a table without the hidden rowid"
            )
        self.spark.catalog.setCurrentDatabase(self.current_db)
        sel = f"SELECT {bq(tgt)}.`{dml.ROWID}` AS __del_rid FROM {frm}" + (
            f" WHERE {where}" if where else ""
        )
        doomed = self.spark.sql(
            self._fix_select(sel, datetime_fns=False)
        ).distinct()
        affected = doomed.count()
        if affected == 0:
            return EngineResult("count", affected=0)
        t = self.spark.table(qualified)
        dml._rewrite(
            qualified,
            t.join(doomed, t[dml.ROWID] == doomed["__del_rid"], "left_anti"),
        )
        return EngineResult("count", affected=affected)

    # ------------------------------------------------------------ UDFs


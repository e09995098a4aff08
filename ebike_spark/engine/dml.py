"""DML on managed parquet tables.

The reference implements INSERT/UPDATE/DELETE as row-at-a-time KV
mutations (/root/reference/src/execute_impl/{insert,update,delete}.rs),
with UPDATE/DELETE internally rewritten to a SELECT that projects the
affected rowids (update.rs:55-287, delete.rs:38-165). The Spark-native
equivalent keeps the *rewrite* idea but makes it set-oriented:

- INSERT VALUES: literal rows are evaluated by Spark (arbitrary
  constant expressions, like the reference's physical-expr fold,
  insert.rs:113-164), constraint-checked, then appended.
- UPDATE: one pass computing when(cond, new, old) per assigned column,
  snapshotted in Spark's block manager, then written back once with
  INSERT OVERWRITE (see :func:`snapshot`). No per-row point writes —
  the same plan shape works on a 1000-executor cluster.
- DELETE: filter(NOT cond) + overwrite, through the same snapshot.

Constraint enforcement (PRIMARY/UNIQUE) is an anti-join against the
existing table plus an intra-batch duplicate check — this *fixes* the
reference's bug of not maintaining index entries on update/delete
(SURVEY §3.3). NULL-into-NOT-NULL raises MySQL error 1048.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce
from operator import and_, or_

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.engine.catalog import ROWID, Catalog
from ebike_spark.engine.errors import EbikeError, duplicate_entry
from ebike_spark.engine.parser import Delete, Insert, Update

# INSERT IGNORE into a table with MULTIPLE unique indexes replays
# MySQL's order-dependent first-wins interleave on the driver (see
# _insert_ignore's docstring for why that path can't be distributed);
# this caps the rows that replay may collect. VALUES batches are
# orders of magnitude below it; only a multi-index bulk LOAD DATA
# IGNORE can hit it.
_IGNORE_REPLAY_CAP = 100_000


# Marker embedded in raise_error messages by the strict-cast guards
# below; Engine.execute translates it to MySQL 1366. A plain-text
# channel because the error crosses the JVM boundary as a generic
# SparkRuntimeException. The column name is SENTINEL-TERMINATED so
# names with non-word characters (backtick-quoted identifiers) survive
# the round trip and the translator never over- or under-captures.
BADCAST_MARK = "EBIKE_BADCAST:"
BADCAST_END = ":KCABDAST"


# Spark's non-ANSI double→long cast SATURATES at Long.Max instead of
# returning NULL, so magnitude beyond this double must flag explicitly
# for BIGINT targets. The literal parses to EXACTLY 2^63 (the nearest
# double to Long.Max — Long.Max itself is not representable): doubles
# strictly above it are certain overflow (1366); a double equal to it
# is indistinguishable from a legitimate Long.Max-valued double, so it
# passes and stores Long.Max — the documented one-ULP ambiguity window
# inherent to double. The same constant bounds the integer-rounding
# detour from the other side (ABS < 2^63): at or beyond it the
# double→long cast saturates non-NULL, which would hide an overflow
# the direct cast reports as NULL — overflow STRINGS like
# '9223372036854775808' therefore stay 1366 (their direct cast is
# NULL and the detour refuses them).
_LONG_MAX_D = "9.223372036854775807E18"


def rounding_bigint_cast_sql(raw_ref: str) -> str:
    """MySQL ROUNDS fractional values into integer columns (2.7 → 3,
    -2.5 → -3, '2.7' → 3); a bare Spark cast truncates toward zero.
    Route through ROUND(double) ONLY when the value is fractional or
    only double-parseable AND strictly inside long range — exact
    64-bit integers beyond 2^53 take the direct cast so they never
    lose precision in the double detour, and overflow magnitudes never
    take it so the double→long SATURATION cannot mask an overflow the
    direct cast reports as NULL (the strict guard then raises 1366
    exactly as before this helper existed; the sole exception is a
    DOUBLE input exactly equal to 2^63 — see the _LONG_MAX_D comment
    on the inherent one-ULP ambiguity). One CASE over the same
    once-bound reference, composing with the strict guard."""
    dbl = f"CAST({raw_ref} AS DOUBLE)"
    direct = f"CAST({raw_ref} AS BIGINT)"
    return (
        f"CASE WHEN {dbl} IS NOT NULL AND ABS({dbl}) < {_LONG_MAX_D} "
        f"AND ({direct} IS NULL OR {dbl} != CAST({direct} AS DOUBLE)) "
        f"THEN CAST(ROUND({dbl}, 0) AS BIGINT) ELSE {direct} END"
    )


def _rounding_bigint_cast_col(raw_expr):
    """Column-API twin of rounding_bigint_cast_sql."""
    dbl = raw_expr.cast("double")
    direct = raw_expr.cast("bigint")
    fractional = (
        dbl.isNotNull()
        & (F.abs(dbl) < F.expr(_LONG_MAX_D))
        & (direct.isNull() | (dbl != direct.cast("double")))
    )
    return F.when(fractional, F.round(dbl, 0).cast("bigint")).otherwise(direct)


def _mysql_coerce_numeric(raw_col, target: str):
    """MySQL legacy (non-strict) numeric coercion — the LOAD DATA
    IGNORE storage rule: exact/roundable values store via the normal
    strict-path cast; anything that path cannot convert falls back to
    the LEADING NUMERIC PREFIX of the text ('12abc' → 12, 'junk' and
    '' → 0), and out-of-range magnitudes CLAMP to the type range (the
    non-ANSI double→long cast's saturation is exactly MySQL's clamp).
    NULL input stays NULL (a missing CSV field is not a bad value)."""
    prefix = F.regexp_extract(
        raw_col.cast("string"),
        r"^[ \t]*[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?",
        0,
    )
    coerced_dbl = F.when(
        F.length(F.trim(prefix)) == 0, F.lit(0.0)
    ).otherwise(prefix.cast("double"))
    dbl_max = F.lit(1.7976931348623157e308)
    if target == "BIGINT":
        exact = _rounding_bigint_cast_col(raw_col)
        # DECIMAL-exact prefix handling FIRST (r10 property finding:
        # '10000000000000001.xyz' must keep all 17 digits, and
        # '12.9abc' must round to 13 — MySQL's insert coercion parses
        # the decimal prefix exactly and rounds HALF_UP on the
        # fractional part, never through a double). The non-ANSI
        # string→bigint cast truncation-parses the integer part of
        # 'd.d' text exactly; HALF_UP == bump by the sign iff the
        # FIRST fractional digit is ≥ 5, guarded away from the long
        # bounds (where MySQL clamps anyway). Exponent forms and
        # integer-part overflow fall through to the
        # rounding/saturating double path (MySQL converts those via
        # double too).
        int_part = prefix.cast("bigint")
        first_frac = F.regexp_extract(prefix, r"\.([0-9])", 1)
        neg = F.regexp_extract(prefix, r"^[ \t]*(-)", 1) == "-"
        wants_bump = (first_frac != "") & (first_frac >= "5")
        bump = (
            F.when(
                wants_bump & neg & (int_part > F.lit(-(2**63))), F.lit(-1)
            )
            .when(
                wants_bump & ~neg & (int_part < F.lit(2**63 - 1)), F.lit(1)
            )
            .otherwise(F.lit(0))
        )
        fallback = F.coalesce(
            F.when(~prefix.rlike(r"[eE]"), int_part + bump.cast("bigint")),
            F.round(coerced_dbl, 0).cast("bigint"),
        )
    else:
        # MySQL can never store Inf/NaN in a DOUBLE column: 'NaN'
        # coerces like junk (prefix '' -> 0) and '1e400' clamps to
        # ±DBL_MAX — sanitize the direct cast so coalesce falls back
        raw_dbl = raw_col.cast("double")
        exact = F.when(
            ~F.isnan(raw_dbl) & (F.abs(raw_dbl) <= dbl_max), raw_dbl
        )
        fallback = F.least(F.greatest(coerced_dbl, -dbl_max), dbl_max)
    return F.when(raw_col.isNull(), F.lit(None).cast(target.lower())).otherwise(
        F.coalesce(exact, fallback)
    )


def badcast_msg(col: str) -> str:
    """The one source of truth for the marker-message format the 1366
    translator (Engine.execute) parses back out."""
    return f"{BADCAST_MARK}{col}{BADCAST_END}"


def strict_case_sql(raw_ref: str, cast_ref: str, spark_type: str, col: str) -> str:
    """SQL-text strict cast: a non-NULL value whose CAST to the
    declared type comes back NULL (unparseable string, DECIMAL
    overflow) — or whose magnitude saturates a BIGINT instead of
    nulling — RAISES instead of silently storing a wrong value: MySQL
    strict mode (1264/1366), not its legacy zero-coercion. The guard
    costs no extra Spark job: it fires inside whichever action first
    evaluates the rows. ``raw_ref`` must be a cheap/deterministic
    reference (a column/alias name — _values_df binds each VALUES
    expression once in a per-row subquery for exactly this reason) and
    ``cast_ref`` a reference to its already-computed CAST to
    ``spark_type``."""
    bad = f"({raw_ref} IS NOT NULL AND {cast_ref} IS NULL)"
    if spark_type.upper() == "BIGINT":  # column_types reports lowercase
        bad += (
            f" OR (CAST({raw_ref} AS DOUBLE) IS NOT NULL"
            f" AND ABS(CAST({raw_ref} AS DOUBLE)) > {_LONG_MAX_D})"
        )
    msg = badcast_msg(col).replace("'", "''")  # keep the literal intact
    return (
        f"CASE WHEN {bad} "
        f"THEN CAST(raise_error('{msg}') AS {spark_type}) "
        f"ELSE {cast_ref} END"
    )


def guarded_cast_col(raw_expr, spark_type: str, col: str):
    """Column-API twin of strict_case_sql (UPDATE/upsert assignments).
    Integer targets take the MySQL rounding cast (2.7 → 3), see
    rounding_bigint_cast_sql."""
    if spark_type.upper() == "BIGINT":
        cast = _rounding_bigint_cast_col(raw_expr)
    else:
        cast = raw_expr.cast(spark_type)
    bad = raw_expr.isNotNull() & cast.isNull()
    if spark_type.upper() == "BIGINT":
        dbl = raw_expr.cast("double")
        bad = bad | (dbl.isNotNull() & (F.abs(dbl) > F.expr(_LONG_MAX_D)))
    return F.when(
        bad,
        F.raise_error(F.lit(badcast_msg(col))).cast(spark_type),
    ).otherwise(cast)


def _values_df(spark: SparkSession, ins: Insert, col_types: list[tuple[str, str]]) -> DataFrame:
    """Evaluate VALUES rows as constant expressions via a literal
    SELECT; every declared-type cast is strict (guarded_cast_sql). One
    partition in statement order: :func:`insert` snapshots it, so the
    checks and the write read the same rows and the write adds one
    file, not one per row."""
    names = [n for n, _ in col_types]
    types = dict(col_types)
    target = ins.columns or names
    unknown = [c for c in target if c not in types]
    if unknown:
        raise EbikeError(1054, f"Unknown column '{unknown[0]}' in 'field list'")
    selects = []
    for row in ins.rows:
        if len(row) != len(target):
            raise EbikeError(1136, "Column count doesn't match value count")
        # Non-target columns bind FIRST in the inner list: a VALUES
        # expression may reference one (MySQL resolves it to the
        # column default — NULL here) via lateral alias REGARDLESS of
        # declaration order, because MySQL never assigns non-target
        # columns during row evaluation. Lateral column aliases
        # resolve left-to-right, so fronting them makes `INSERT INTO
        # t (a) VALUES (b)` work even when b is declared after a.
        inner = [
            f"CAST(NULL AS {types[name]}) AS `{name}`"
            for name in names
            if name not in target
        ]
        outer = []
        for name in names:
            if name in target:
                raw = row[target.index(name)]
                # Bind the expression ONCE per row (subquery aliases):
                # the strict guard references columns, so a
                # non-deterministic value (RAND()) is checked and
                # stored from the SAME draw, and bulk mysqldump
                # INSERTs don't triple their statement text. The CAST
                # lands in the inner list under the COLUMN name so
                # MySQL's earlier-column references in a value list
                # (`VALUES (1, a + 1)`) keep resolving — Spark lateral
                # column aliases see it, exactly like the pre-subquery
                # single-SELECT form did.
                inner.append(f"({raw}) AS `__r_{name}`")
                inner.append(
                    (
                        rounding_bigint_cast_sql(f"`__r_{name}`")
                        if types[name].upper() == "BIGINT"
                        else f"CAST(`__r_{name}` AS {types[name]})"
                    )
                    + f" AS `{name}`"
                )
                outer.append(
                    strict_case_sql(
                        f"`__r_{name}`", f"`{name}`", types[name], name
                    )
                    + f" AS `{name}`"
                )
            else:
                outer.append(f"`{name}`")
        selects.append(
            f"SELECT {', '.join(outer)} FROM (SELECT {', '.join(inner)})"
        )
    return spark.sql(" UNION ALL ".join(selects)).coalesce(1)


def _check_constraints(
    spark: SparkSession, catalog: Catalog, qualified: str, new_rows: DataFrame
) -> None:
    nn = catalog.not_null_cols(qualified)
    for col in nn:
        if new_rows.where(F.col(col).isNull()).limit(1).count() > 0:
            raise EbikeError(1048, f"Column '{col}' cannot be null")
    keys = []
    pk = catalog.primary_key(qualified)
    if pk:
        keys.append(("PRIMARY", pk))
    keys.extend(catalog.unique_keys(qualified))
    if not keys:
        return
    existing = spark.table(qualified)
    for key_name, cols in keys:
        # intra-batch duplicates. MySQL allows any number of NULLs in a
        # UNIQUE index (NULL != NULL for uniqueness), so rows with a
        # NULL key column are exempt from non-PK duplicate checks —
        # matching the semi-join below, where NULLs never equi-match.
        cand = new_rows
        if key_name != "PRIMARY":
            cand = cand.where(reduce(and_, [F.col(c).isNotNull() for c in cols]))
        dup = cand.groupBy(*cols).count().where(F.col("count") > 1).limit(1).collect()
        if dup:
            val = "-".join(str(dup[0][c]) for c in cols)
            raise duplicate_entry(val, key_name)
        # conflicts with stored rows: semi-join on the key columns
        clash = (
            new_rows.select(*cols)
            .join(existing.select(*cols), on=cols, how="inner")
            .limit(1)
            .collect()
        )
        if clash:
            val = "-".join(str(clash[0][c]) for c in cols)
            raise duplicate_entry(val, key_name)


def _mint_auto_increment(
    spark: SparkSession, qualified: str, df: DataFrame, ai: str, ai_type: str
) -> tuple[DataFrame, int | None]:
    """Assign AUTO_INCREMENT values to rows whose ``ai`` evaluated NULL
    (MySQL mints on NULL or omitted). MySQL bumps the counter ROW BY
    ROW in VALUES order — an explicit id only lifts the counter for
    LATER rows, so VALUES (NULL),(100),(NULL) on an empty table mints
    1, keeps 100, mints 101. Closed form over the batch: with N_i the
    running NULL count through row i, a NULL row mints
    ``N_i + max(stored, max over earlier explicit rows j of
    (e_j - N_j))`` — the window below computes exactly that, no
    per-row driver loop. Returns (df, first_minted_id | None) —
    LAST_INSERT_ID is the FIRST minted id of the batch. The window is
    statement-sized (a VALUES batch), not data-sized — the stored side
    contributes one MAX aggregate, which Spark computes with map-side
    partials at any table size."""
    n_null = df.where(F.col(ai).isNull()).count()
    if n_null == 0:
        # fully-explicit batch: skip the stored MAX probe (a full-table
        # aggregate — wasted work on the DML path)
        return df, None
    stored = spark.table(qualified).agg(F.max(F.col(ai).cast("long"))).collect()[0][0] or 0
    from pyspark.sql import Window as _W

    run = _W.orderBy("__vidx").rowsBetween(_W.unboundedPreceding, 0)
    prev = _W.orderBy("__vidx").rowsBetween(_W.unboundedPreceding, -1)
    n_cum = F.sum(F.when(F.col(ai).isNull(), 1).otherwise(0)).over(run)
    explicit_key = F.when(F.col(ai).isNotNull(), F.col(ai).cast("long") - n_cum)
    counter_base = F.greatest(
        F.lit(stored), F.coalesce(F.max(explicit_key).over(prev), F.lit(stored))
    )
    minted = (n_cum + counter_base).cast(ai_type)
    tagged = df.withColumn("__vidx", F.monotonically_increasing_id())
    first_id = (
        tagged.withColumn("__mint", minted)
        .where(F.col(ai).isNull())
        .orderBy("__vidx")
        .select(F.col("__mint").cast("long"))
        .limit(1)
        .collect()[0][0]
    )
    out = (
        tagged.withColumn(ai, F.coalesce(F.col(ai), minted))
        .drop("__vidx")
    )
    return out, int(first_id)


def insert(
    spark: SparkSession,
    catalog: Catalog,
    ins: Insert,
    current_db: str,
    session: dict | None = None,
) -> int:
    qualified = catalog.qualify(ins.table, current_db)
    catalog.require_table(qualified)
    # the VALUES rows are computed once: every check and the write read
    # the snapshot
    with snapshot(_values_df(spark, ins, catalog.column_types(qualified))) as (df, _):
        ai = catalog.auto_increment_col(qualified)
        if ai is not None:
            df, first_id = _mint_auto_increment(
                spark, qualified, df, ai, dict(catalog.column_types(qualified))[ai]
            )
            if first_id is not None and session is not None:
                # MySQL LAST_INSERT_ID(): first minted id of the batch
                session["last_insert_id"] = first_id
        if ins.replace:
            return _replace(spark, catalog, qualified, df, ins)
        if ins.on_dup_update is not None:
            return _upsert(spark, catalog, qualified, df, ins)
        if ins.ignore:
            return _insert_ignore(spark, catalog, qualified, df)
        _check_constraints(spark, catalog, qualified, df)
        if catalog.has_rowid(qualified):
            # row identity materializes at INSERT (reference: uuid per row,
            # meta_def.rs:385-398) — stable for the row's lifetime. Align to
            # the PHYSICAL column order: insertInto is positional and ALTER
            # ADD COLUMN places later columns after rowid.
            df = df.withColumn(ROWID, F.expr("uuid()")).select(*spark.table(qualified).columns)
        df.write.insertInto(qualified, overwrite=False)
        return len(ins.rows)


def _upsert(spark: SparkSession, catalog: Catalog, qualified: str, new_df, ins: Insert) -> int:
    """INSERT ... ON DUPLICATE KEY UPDATE (MySQL upsert — the reference
    1105s it; this is the anti-join + union + rewrite emulation of
    MERGE, the idiomatic parquet upsert without a Delta dependency).

    Conflict pairing follows MySQL: a row conflicts if it matches an
    existing row on the PRIMARY KEY *or any UNIQUE index*. Assignments
    may reference the existing row's columns and ``VALUES(col)`` for
    the incoming value. Affected-rows follows MySQL: 1 per inserted,
    2 per updated-and-changed, 0 per matched-but-unchanged. Batches
    where one new row matches several existing rows (or vice versa)
    through *different* keys are order-dependent in MySQL; this
    set-oriented implementation rejects them as 1105 rather than pick
    an arbitrary order.
    """
    import re as _re

    pk = catalog.primary_key(qualified)
    keys = ([("PRIMARY", pk)] if pk else []) + list(catalog.unique_keys(qualified))
    has_rowid = catalog.has_rowid(qualified)
    if not keys:
        # MySQL: with no unique index the ON DUPLICATE clause never fires
        _check_constraints(spark, catalog, qualified, new_df)
        if has_rowid:
            new_df = new_df.withColumn(ROWID, F.expr("uuid()")).select(
                *spark.table(qualified).columns
            )
        new_df.write.insertInto(qualified, overwrite=False)
        return len(ins.rows)
    # intra-batch duplicates on any key are ambiguous upserts → 1062,
    # like plain inserts (non-PK keys exempt NULLs: MySQL allows
    # repeated NULLs in a UNIQUE index)
    for key_name, cols in keys:
        cand = new_df
        if key_name != "PRIMARY":
            cand = cand.where(reduce(and_, [F.col(c).isNotNull() for c in cols]))
        dup = cand.groupBy(*cols).count().where(F.col("count") > 1).limit(1).collect()
        if dup:
            raise duplicate_entry("-".join(str(dup[0][c]) for c in cols), key_name)

    existing = spark.table(qualified)
    batch = new_df.select(
        F.lit(1).alias("__new_mark"), *[F.col(c).alias(f"__new_{c}") for c in new_df.columns]
    )
    # match on ANY key: OR over per-key AND equi-conditions (NULL keys
    # never equi-match, which is exactly the unique-index semantics)
    any_key = reduce(
        or_,
        [reduce(and_, [F.col(c) == F.col(f"__new_{c}") for c in cols]) for _, cols in keys],
    )
    pairs = existing.join(batch, any_key, "inner").count()
    matched_new = batch.join(existing, any_key, "left_semi").count()
    matched_old = existing.join(batch, any_key, "left_semi").count()
    if pairs != matched_new or pairs != matched_old:
        raise EbikeError(
            1105,
            "ambiguous ON DUPLICATE KEY UPDATE: a row matches multiple rows "
            "through different unique keys (order-dependent in MySQL)",
        )

    joined = existing.join(batch, any_key, "left")
    matched = F.col("__new_mark").isNotNull()
    types = dict(catalog.column_types(qualified))
    assigned = dict(ins.on_dup_update or [])
    for name in assigned:  # hidden rowid is not assignable either
        if name not in types:
            raise EbikeError(1054, f"Unknown column '{name}' in 'field list'")
    out_cols = []
    change_terms = []  # per-assignment "value actually changed" predicates
    for name in existing.columns:
        if name in assigned:
            # VALUES(col) → the incoming row's value for col
            expr_sql = _re.sub(
                r"\bVALUES\s*\(\s*`?(\w+)`?\s*\)", r"__new_\1", assigned[name], flags=_re.I
            )
            upd = guarded_cast_col(F.expr(expr_sql), types[name], name)
            out_cols.append(F.when(matched, upd).otherwise(F.col(name)).alias(name))
            # lazily gated on matched: the strict guard must neither
            # fire on unmatched rows nor be skipped when old is NULL
            change_terms.append(
                ~F.when(matched, upd).otherwise(F.col(name)).eqNullSafe(F.col(name))
            )
        else:
            out_cols.append(F.col(name))
    n_changed = (
        joined.where(matched & reduce(or_, change_terms)).count() if change_terms else 0
    )
    updated = joined.select(*out_cols)
    to_insert = batch.join(existing, any_key, "left_anti").select(
        *[F.col(f"__new_{c}").alias(c) for c in new_df.columns]
    )
    if has_rowid:
        # updated rows KEEP their rowid (out_cols passes it through
        # unassigned); only genuinely new rows mint one
        to_insert = to_insert.withColumn(ROWID, F.expr("uuid()"))
    n_new = to_insert.count()
    final = updated.unionByName(to_insert)
    # post-image integrity: an assignment that writes a key column can
    # collide rows that didn't collide before — validate the snapshot
    # before the overwrite (same guard as update(); the reference
    # corrupts its indexes here)
    with snapshot(final) as (image, _):
        recheck_keys_after_update(spark, catalog, qualified, image, set(assigned))
        image.write.insertInto(qualified, overwrite=True)
    return n_new + 2 * n_changed


def _insert_ignore(spark: SparkSession, catalog: Catalog, qualified: str, new_df) -> int:
    """INSERT IGNORE (MySQL duplicate-skip): rows whose PRIMARY/UNIQUE
    key collides with a stored row OR an earlier row of the same batch
    are silently skipped (first row wins within the batch — MySQL
    processes VALUES in order and the later duplicate is the one
    ignored); affected-rows counts only the rows actually inserted.
    Documented divergence: MySQL's IGNORE also downgrades NOT NULL /
    type errors to warnings with implicit defaults — here those still
    error (1048), matching this engine's strict-constraint stance.

    Scale shape: with a single unique index (the common bulk-load
    case) the whole resolution is distributed — one row_number window
    for the intra-batch first-wins plus one anti-join against the
    stored side; nothing data-sized touches the driver, so LOAD DATA
    IGNORE streams through at any file size. With MULTIPLE unique
    indexes the first-wins interleave is inherently sequential
    (acceptance of a row depends recursively on whether its earlier
    colliders were themselves accepted, and reject-chains can be
    arbitrarily long), so that path keeps MySQL's row-by-row replay on
    the driver and is capped at ``_IGNORE_REPLAY_CAP`` rows — a bulk
    load over the cap raises 1105 suggesting REPLACE (fully
    distributed) or a single-index target.

    Why no distributive form exists (the cap is the right call, not a
    shortcut): a per-index iterative anti-join — apply indexes in
    declaration order, first-wins within each, feeding survivors to
    the next index — is NOT MySQL-equivalent. Counterexample with
    unique indexes A then B and batch r1=(a1,b1), r2=(a2,b1),
    r3=(a2,b2): MySQL accepts r1, rejects r2 (B-conflict with r1), and
    ACCEPTS r3 — the rejected r2 never entered index A, so it cannot
    suppress r3. The A-then-B pipeline instead drops r3 in the A pass
    (a2 duplicate of the not-yet-rejected r2) and yields {r1} where
    MySQL yields {r1, r3}. In general, first-wins acceptance is the
    lexicographically-first maximal independent set of the batch's
    conflict graph (rows = vertices, any-index collisions = edges),
    and LFMIS is P-complete (Cook 1985) — no NC/parallel (hence no
    shuffle-distributive) computation exists for it unless NC = P.
    REPLACE escapes this because last-wins per index is
    order-reducible per key (a row_number window), not graph-greedy."""
    for col in catalog.not_null_cols(qualified):
        if new_df.where(F.col(col).isNull()).limit(1).count() > 0:
            raise EbikeError(1048, f"Column '{col}' cannot be null")
    pk = catalog.primary_key(qualified)
    keys = ([("PRIMARY", pk)] if pk else []) + list(catalog.unique_keys(qualified))
    has_rowid = catalog.has_rowid(qualified)
    existing = spark.table(qualified)
    if len(keys) == 1:
        # Single unique index: stored-conflict status depends only on
        # the key VALUE, so every occurrence of a tuple shares it and
        # "first non-stored-clashed occurrence wins" reduces to first
        # occurrence per tuple, anti-joined against the stored keys.
        # NULL key components never conflict (partition alone).
        _, cols = keys[0]
        tagged = new_df.withColumn("__vidx", F.monotonically_increasing_id())
        key_null = reduce(or_, [F.col(c).isNull() for c in cols])
        w = Window.partitionBy(
            *[F.col(c) for c in cols],
            F.when(key_null, F.col("__vidx")).otherwise(F.lit(0)),
        ).orderBy(F.col("__vidx").asc())
        firsts = (
            tagged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__vidx")
        )
        stored = existing.select(*[F.col(c).alias(f"__e_{c}") for c in cols])
        key_match = reduce(and_, [F.col(c) == F.col(f"__e_{c}") for c in cols])
        surviving = firsts.join(stored, key_match, "left_anti")
        n = surviving.count()
    elif keys:
        if new_df.limit(_IGNORE_REPLAY_CAP + 1).count() > _IGNORE_REPLAY_CAP:
            raise EbikeError(
                1105,
                "INSERT IGNORE / LOAD DATA IGNORE into a table with "
                f"multiple unique indexes is capped at {_IGNORE_REPLAY_CAP} "
                "rows per statement (MySQL's first-wins interleave across "
                "several indexes is order-dependent and replays on the "
                "driver); split the load, use REPLACE, or target a "
                "single-index table",
            )
        # Row-by-row replay, interleaving STORED conflicts: a row MySQL
        # skips for a stored-index conflict never enters the index, so
        # it must not suppress later batch rows either — e.g. stored
        # (1,'a'), batch (1,'b'),(2,'b'): (1,'b') skips on the stored
        # PK, therefore (2,'b') DOES insert. Stored-conflict status is
        # static per row (IGNORE never deletes), so it precomputes as
        # one semi-join returning the conflicting vidx set.
        key_cols = sorted({c for _, cols in keys for c in cols})
        tagged = new_df.withColumn("__vidx", F.monotonically_increasing_id())
        batch = tagged.select(
            "__vidx", *[F.col(c).alias(f"__new_{c}") for c in key_cols]
        )
        any_key = reduce(
            or_,
            [
                reduce(and_, [F.col(f"__new_{c}") == F.col(c) for c in cols])
                for _, cols in keys
            ],
        )
        stored_clash = {
            r["__vidx"]
            for r in batch.join(existing, any_key, "left_semi")
            .select("__vidx")
            .collect()
        }
        batch_keys = [
            (r["__vidx"], r) for r in tagged.select("__vidx", *key_cols).collect()
        ]
        batch_keys.sort(key=lambda p: p[0])
        live: dict[int, dict] = {}
        for vidx, row in batch_keys:
            if vidx in stored_clash:
                continue
            clash = any(
                all(row[c] is not None and row[c] == orow[c] for c in cols)
                for orow in live.values()
                for _, cols in keys
            )
            if not clash:
                live[vidx] = row
        surviving = tagged.where(F.col("__vidx").isin(sorted(live))).drop("__vidx")
        n = len(live)
    else:
        surviving = new_df
        n = surviving.count()
    if n:
        if has_rowid:
            surviving = surviving.withColumn(ROWID, F.expr("uuid()")).select(
                *existing.columns
            )
        surviving.write.insertInto(qualified, overwrite=False)
    return n


def _replace(spark: SparkSession, catalog: Catalog, qualified: str, new_df, ins: Insert) -> int:
    """REPLACE INTO (MySQL delete-then-insert upsert — the reference
    1105s it, like ON DUPLICATE; same set-oriented MERGE emulation as
    :func:`_upsert`).

    Semantics: every existing row that conflicts with an incoming row
    on the PRIMARY KEY *or any UNIQUE index* is deleted, then the whole
    batch is inserted. Affected-rows follows MySQL: 1 per inserted row
    plus 1 per deleted row. With no unique index at all, REPLACE
    degrades to plain INSERT (MySQL-identical). MySQL applies the batch
    row-by-row, so intra-batch key collisions resolve in statement
    order — a later row REPLACEs an earlier batch row exactly as it
    replaces a stored one.

    The intra-batch resolution is fully DISTRIBUTED (one row_number
    window per unique index — no driver-side key collection), which is
    what lets LOAD DATA route bulk files through this path without a
    driver-memory ceiling. It is provably equivalent to MySQL's
    row-by-row replay: a batch row survives iff NO later batch row
    collides with it DIRECTLY on some key. (Replay ⇒ rule: if a later
    row Y collides with X, then at Y's turn X is either already
    evicted or Y evicts it — dead either way. Rule ⇒ replay: eviction
    only ever comes from a direct later collider, and an evicted row
    never re-enters `live`, so with no later collider X survives.)
    Each non-survivor is evicted exactly once, so the intra-batch
    delete count is n_batch − n_survivors."""
    pk = catalog.primary_key(qualified)
    keys = ([("PRIMARY", pk)] if pk else []) + list(catalog.unique_keys(qualified))
    has_rowid = catalog.has_rowid(qualified)
    if not keys:
        _check_constraints(spark, catalog, qualified, new_df)
        if has_rowid:
            new_df = new_df.withColumn(ROWID, F.expr("uuid()")).select(
                *spark.table(qualified).columns
            )
        new_df.write.insertInto(qualified, overwrite=False)
        return len(ins.rows)
    # NOT NULL still applies to the incoming batch (key conflicts with
    # stored rows are the point of REPLACE, so no clash check)
    for col in catalog.not_null_cols(qualified):
        if new_df.where(F.col(col).isNull()).limit(1).count() > 0:
            raise EbikeError(1048, f"Column '{col}' cannot be null")

    # Intra-batch collisions, resolved distributively: survivor = the
    # LAST batch row per non-null key tuple, simultaneously for every
    # unique index (see the docstring proof). Rows with a NULL key
    # component never conflict on that index (unique-index semantics),
    # so they partition alone via the __vidx disambiguator.
    # monotonically_increasing_id is (partition << 33) + offset and the
    # csv/VALUES partition order follows statement/file order, so it
    # IS the statement position.
    tagged = new_df.withColumn("__vidx", F.monotonically_increasing_id())
    ranked = tagged
    for i, (_, cols) in enumerate(keys):
        key_null = reduce(or_, [F.col(c).isNull() for c in cols])
        w = Window.partitionBy(
            *[F.col(c) for c in cols],
            F.when(key_null, F.col("__vidx")).otherwise(F.lit(0)),
        ).orderBy(F.col("__vidx").desc())
        ranked = ranked.withColumn(f"__rn{i}", F.row_number().over(w))
    keep = reduce(and_, [F.col(f"__rn{i}") == 1 for i in range(len(keys))])
    rn_cols = [f"__rn{i}" for i in range(len(keys))]
    # Stored-conflict deletion uses the FULL batch: an evicted batch
    # row still deleted its stored conflicts while it was live (MySQL
    # processes it before the later row replaces it) — a stored row
    # never "comes back". Only the survivors are inserted.
    full_batch = tagged.drop("__vidx")
    new_df = ranked.where(keep).drop("__vidx", *rn_cols)
    intra_deleted = len(ins.rows) - new_df.count()

    existing = spark.table(qualified)
    batch = full_batch.select(*[F.col(c).alias(f"__new_{c}") for c in full_batch.columns])
    # conflict on ANY key: NULL key values never equi-match — exactly
    # the unique-index semantics (NULLs don't conflict)
    any_key = reduce(
        or_,
        [reduce(and_, [F.col(c) == F.col(f"__new_{c}") for c in cols]) for _, cols in keys],
    )
    n_deleted = existing.join(batch, any_key, "left_semi").count()
    survivors = existing.join(batch, any_key, "left_anti")
    to_insert = new_df
    if has_rowid:
        # REPLACE is delete + insert: the replacement row is a NEW row
        # and mints a fresh rowid (unlike ON DUPLICATE, which updates
        # in place and keeps it) — MySQL-faithful, same as its handler
        # delete/write_row pair
        to_insert = to_insert.withColumn(ROWID, F.expr("uuid()")).select(
            *existing.columns
        )
    _rewrite(qualified, survivors.unionByName(to_insert))
    # MySQL affected-rows: 1 per batch row inserted (including ones a
    # later batch row then replaced) + 1 per deleted row (stored or
    # earlier-batch)
    return len(ins.rows) + n_deleted + intra_deleted


# Flag column a rewrite's scan computes beside the post-image: TRUE on
# the rows the statement changes (UPDATE) or removes (DELETE), so the
# affected count reads the snapshot instead of scanning the table again.
CHANGED = "__ebike_changed"


@contextmanager
def snapshot(df: DataFrame, flag: str | None = None):
    """Compute ``df`` once into Spark's block manager and yield
    ``(snapshot, n)``: a frame over the stored rows whose lineage no
    longer reads any table, and its row count — or, given ``flag``, the
    count of rows where that boolean column is TRUE. The count is the
    job that fills the snapshot, so it costs no extra pass.

    The snapshot is a localCheckpoint: every later action (key checks,
    the INSERT OVERWRITE of the table the rows came from) reads the
    stored blocks, and a table refresh cannot invalidate it the way it
    drops a persist()ed plan. Its storage level is MEMORY_AND_DISK, so
    an image larger than the free heap spills to SPARK_LOCAL_DIRS.

    The checkpoint is marked lazily and filled inside the ``try`` so
    that a failing fill (a strict-cast 1366, say) still releases it: an
    eager localCheckpoint that raises leaves its RDD persisted with no
    handle to release it by. The blocks are released on every exit."""
    snap = df.localCheckpoint(eager=False)
    try:
        n = (snap.where(F.col(flag)) if flag else snap).count()
        yield snap, n
    finally:
        snap._jdf.logicalPlan().rdd().unpersist(False)


def _rewrite(qualified: str, new_df: DataFrame) -> None:
    """Replace the table's rows with ``new_df``, which may read the table
    itself: snapshot the post-image, then INSERT OVERWRITE from the
    snapshot (a table can't be overwritten while the write scans it).

    Guarantee: the snapshot completes every read of the pre-image before
    the overwrite starts, so a failure up to that point leaves the table
    unchanged. The overwrite itself is not atomic: it deletes the old
    files, then writes the new ones, and a crash between the two loses
    the rows (the catalog is in-memory, so no copy would outlive the
    process anyway)."""
    with snapshot(new_df) as (image, _):
        image.write.insertInto(qualified, overwrite=True)


def update(spark: SparkSession, catalog: Catalog, upd: Update, current_db: str) -> int:
    qualified = catalog.qualify(upd.table, current_db)
    catalog.require_table(qualified)
    t = spark.table(qualified)
    cond = F.expr(upd.where) if upd.where else F.lit(True)
    if upd.limit is not None:
        # UPDATE ... [ORDER BY ...] LIMIT n: bound the MATCHED set by a
        # distributed top-k of rowids (same shape as _delete_limited),
        # then proceed with membership as the effective condition.
        from ebike_spark.engine.errors import unsupported

        if not catalog.has_rowid(qualified):
            raise unsupported("UPDATE ... LIMIT on a table without the hidden rowid")
        order = _order_cols(upd.order_by) if upd.order_by else [F.col(ROWID)]
        doomed = (
            t.where(F.coalesce(cond, F.lit(False)))
            .orderBy(*order)
            .limit(upd.limit)
            .select(F.col(ROWID).alias("__upd_rid"))
        )
        t = t.join(
            F.broadcast(doomed), t[ROWID] == F.col("__upd_rid"), "left"
        )
        cond = F.col("__upd_rid").isNotNull()
    types = dict(catalog.column_types(qualified))
    assigned = dict(upd.assignments)
    for name in assigned:  # hidden rowid is not assignable either
        if name not in types:
            raise EbikeError(1054, f"Unknown column '{name}' in 'field list'")
    # MySQL reports *changed* rows (WHERE true AND at least one assigned
    # column takes a new value), not matched rows. The new value goes
    # through the STRICT guard here too, wrapped in a lazy CASE on the
    # match condition: a bad value on a matched row must raise 1366
    # even when the old value is NULL (an unguarded change flag would
    # call NULL→NULL "unchanged" and return success), while rows the
    # WHERE never matches must not evaluate the assignment at all.
    cond_safe = F.coalesce(cond, F.lit(False))
    change_terms = [
        ~F.when(cond_safe, guarded_cast_col(F.expr(expr), types[name], name))
        .otherwise(F.col(name))
        .eqNullSafe(F.col(name))
        for name, expr in assigned.items()
    ]
    cols = []
    # project the TABLE's columns only (the LIMIT path joined a helper
    # __upd_rid column onto t that must not reach the rewrite)
    for name in spark.table(qualified).columns:
        if name in assigned:
            new_val = guarded_cast_col(
                F.expr(assigned[name]), types[name], name
            )
            cols.append(F.when(cond, new_val).otherwise(F.col(name)).alias(name))
        else:
            cols.append(F.col(name))
    flagged = t.select(*cols, (cond_safe & reduce(or_, change_terms)).alias(CHANGED))
    with snapshot(flagged, CHANGED) as (snap, affected):
        if affected == 0:
            return 0
        image = snap.drop(CHANGED)
        recheck_keys_after_update(spark, catalog, qualified, image, set(assigned))
        image.write.insertInto(qualified, overwrite=True)
    return affected


def declared_keys(catalog: Catalog, qualified: str) -> list[tuple[str, list[str]]]:
    """The table's PRIMARY + UNIQUE key list in check order — the one
    definition every duplicate probe shares."""
    keys: list[tuple[str, list[str]]] = []
    pk = catalog.primary_key(qualified)
    if pk:
        keys.append(("PRIMARY", pk))
    keys.extend(catalog.unique_keys(qualified))
    return keys


def duplicate_key_probe(df, keys):
    """Yield (key_name, duplicated_row) for each key with at least one
    duplicated tuple in ``df``. Non-PRIMARY keys get MySQL's NULL
    exemption (any number of NULLs in a unique index). ONE definition
    of 'duplicate' shared by the UPDATE post-image re-check and
    CHECK TABLE — so a semantics fix lands in both."""
    for key_name, kcols in keys:
        cand = df
        if key_name != "PRIMARY":
            cand = cand.where(reduce(and_, [F.col(c).isNotNull() for c in kcols]))
        dup = cand.groupBy(*kcols).count().where(F.col("count") > 1).limit(1).collect()
        if dup:
            yield key_name, dup[0]


def recheck_keys_after_update(
    spark: SparkSession, catalog: Catalog, qualified: str, new_df, assigned: set[str]
) -> None:
    """Re-check key constraints when an assignment touches a key column —
    the reference silently corrupts its indexes here (SURVEY §3.3);
    we validate the post-image before swapping it in. Shared by the
    single-table and multi-table (JOIN) UPDATE paths."""
    keys = [
        (name, kcols)
        for name, kcols in declared_keys(catalog, qualified)
        if set(kcols) & assigned
    ]
    for key_name, dup in duplicate_key_probe(new_df, keys):
        kcols = dict(keys)[key_name]
        val = "-".join(str(dup[c]) for c in kcols)
        raise duplicate_entry(val, key_name)


def delete(spark: SparkSession, catalog: Catalog, dele: Delete, current_db: str) -> int:
    qualified = catalog.qualify(dele.table, current_db)
    catalog.require_table(qualified)
    t = spark.table(qualified)
    cond = F.expr(dele.where) if dele.where else F.lit(True)
    # MySQL deletes only rows where the predicate is TRUE; a NULL
    # predicate (e.g. `x > 5` with x NULL) keeps the row. Plain
    # `~cond` would silently delete NULL rows (NOT NULL → NULL → drop).
    cond_true = F.coalesce(cond, F.lit(False))
    if dele.limit is not None:
        return _delete_limited(spark, catalog, qualified, t, cond_true, dele)
    with snapshot(t.withColumn(CHANGED, cond_true), CHANGED) as (snap, affected):
        if affected == 0:
            return 0
        snap.where(~F.col(CHANGED)).drop(CHANGED).write.insertInto(qualified, overwrite=True)
    return affected


def _delete_limited(
    spark: SparkSession, catalog: Catalog, qualified: str, t, cond_true, dele: Delete
) -> int:
    """DELETE ... [ORDER BY ...] LIMIT n (MySQL bounded delete): pick
    the doomed rows' hidden rowids with a distributed top-k
    (orderBy + limit → TakeOrderedAndProject, never a single-task full
    sort), then remove them by anti-join. Without ORDER BY, MySQL
    deletes an arbitrary n rows; here the rowid orders them so repeat
    runs are deterministic."""
    from ebike_spark.engine.errors import unsupported

    if not catalog.has_rowid(qualified):
        # a user-declared `rowid` column displaced the hidden one; no
        # stable row identity to bound the delete with
        raise unsupported("DELETE ... LIMIT on a table without the hidden rowid")
    cand = t.where(cond_true)
    order = _order_cols(dele.order_by) if dele.order_by else [F.col(ROWID)]
    doomed = cand.orderBy(*order).limit(dele.limit).select(ROWID)
    affected = doomed.count()
    if affected == 0:
        return 0
    # the using-join hoists rowid to the front; restore physical order
    # (the rewrite's insertInto is positional)
    survivors = t.join(doomed, ROWID, "left_anti").select(*t.columns)
    _rewrite(qualified, survivors)
    return affected


def _order_cols(order_by: str) -> list:
    """Parse a raw ORDER BY list into sort Columns (ASC/DESC suffixes
    aren't expression syntax, so they're peeled off here)."""
    import re as _re

    from ebike_spark.engine.parser import split_top_level

    cols = []
    for e in split_top_level(order_by):
        m = _re.match(r"([\s\S]+?)\s+(ASC|DESC)\s*$", e.strip(), _re.I)
        if m:
            c = F.expr(m.group(1))
            cols.append(c.desc() if m.group(2).upper() == "DESC" else c.asc())
        else:
            cols.append(F.expr(e.strip()))
    return cols


def load_data(
    spark: SparkSession,
    catalog: Catalog,
    sql: str,
    current_db: str,
    session: dict | None = None,
) -> int:
    """LOAD DATA [LOCAL] INFILE — MySQL's bulk CSV loader (the
    reference's dispatcher 1105s it; beyond-reference dialect surface,
    same category as REPLACE/INSERT IGNORE). Supported subset:
    ``FIELDS TERMINATED BY 'x'`` (MySQL default tab), ``IGNORE 1
    LINES`` (the header-skip everyone actually uses — per-file exact
    via the csv header option; other counts raise 1105), an optional
    target column list, and the REPLACE / IGNORE duplicate-handling
    keywords routed to the same code paths as REPLACE INTO / INSERT
    IGNORE. Values cast through the table's declared types with the
    SAME strict+rounding guard as INSERT VALUES (bad field → 1366
    naming the column; '2.7' into INT stores 3); under the IGNORE
    keyword the numeric family takes MySQL's legacy closest-value
    coercion ('12abc' → 12, 'junk' → 0, overflow clamps to the type
    range — see _mysql_coerce_numeric); temporal/decimal failures
    land NULL (documented divergence — Spark has no zero-date).

    Path safety: reads are gated by the ``secure_file_priv`` system
    variable exactly like MySQL's --secure-file-priv option — when it
    holds a directory, only files under that directory (after symlink
    resolution) load, anything else raises 1290; when it is the empty
    string (this engine's default, a real MySQL configuration) any
    server-readable path loads. Like MySQL, the variable is READ-ONLY
    at runtime (SET → 1238) and fixed at Engine/server construction —
    otherwise any wire client could lift the fence. Documented divergence: the LOCAL
    keyword is accepted but still reads the SERVER filesystem (there
    is no client channel in-process), and the same secure_file_priv
    gate applies to it.

    Scale shape: the file streams through Spark's distributed csv
    reader straight into the constraint checks — no driver-side row
    loop (REPLACE resolves intra-file conflicts via distributed
    row_number windows, see _replace); in unrestricted mode a DIRECTORY
    of files parallelizes for free (under a secure_file_priv fence only
    regular files load — per-entry symlinks inside a directory could
    escape the fence)."""
    import os as _os
    import re as _re

    m = _re.match(
        r"LOAD\s+DATA\s+(?:LOCAL\s+)?INFILE\s+'([^']+)'\s*"
        r"(REPLACE|IGNORE)?\s*INTO\s+TABLE\s+([\w.`\"]+)([\s\S]*)$",
        sql,
        _re.I,
    )
    if not m:
        raise EbikeError(1064, "malformed LOAD DATA INFILE")
    path, mode, tbl_tok, rest = m.group(1), (m.group(2) or "").upper(), m.group(3), m.group(4)
    from ebike_spark.engine.parser import unquote_ident

    qualified = catalog.qualify(unquote_ident(tbl_tok), current_db)
    catalog.require_table(qualified)
    priv_dir = str((session or {}).get("secure_file_priv", "") or "")
    if priv_dir:
        allowed = _os.path.realpath(priv_dir)
        real = _os.path.realpath(path)
        # MySQL-faithful under the fence: the path must be a REGULAR
        # FILE inside the directory after symlink resolution. A
        # directory is rejected here even if it sits inside the fence —
        # its entries could be symlinks escaping it, and Spark's reader
        # follows them per-file (the directory-of-files convenience is
        # an unrestricted-mode extension only).
        if not (
            (real == allowed or real.startswith(allowed.rstrip(_os.sep) + _os.sep))
            and _os.path.isfile(real)
        ):
            raise EbikeError(
                1290,
                "The ebike-spark server is running with the "
                "--secure-file-priv option so it cannot execute this "
                "statement",
            )
    if not _os.path.exists(path):
        raise EbikeError(29, f"File '{path}' not found")

    sep = "\t"  # MySQL default field terminator
    fm = _re.search(r"FIELDS\s+TERMINATED\s+BY\s+'((?:[^'\\]|\\.)*)'", rest, _re.I)
    if fm:
        sep = fm.group(1).encode().decode("unicode_escape")
    skip_header = False
    im = _re.search(r"IGNORE\s+(\d+)\s+LINES", rest, _re.I)
    if im:
        if int(im.group(1)) != 1:
            raise EbikeError(1105, "only IGNORE 1 LINES is supported")
        skip_header = True
    cl = _re.search(r"\(([^()]*)\)\s*$", rest.strip())
    col_types = catalog.column_types(qualified)
    names = [n for n, _ in col_types]
    types = dict(col_types)
    target = (
        [unquote_ident(c.strip()) for c in cl.group(1).split(",")] if cl else names
    )
    unknown = [c for c in target if c not in types]
    if unknown:
        raise EbikeError(1054, f"Unknown column '{unknown[0]}' in 'field list'")
    dupes = [c for c in target if target.count(c) > 1]
    if dupes:
        # MySQL 1110: column specified twice (target.index() would
        # silently map every duplicate to the first CSV field)
        raise EbikeError(1110, f"Column '{dupes[0]}' specified twice")

    raw = (
        spark.read.option("header", skip_header)
        .option("sep", sep)
        .schema(" ".join(f"`_c{i}` string," for i in range(len(target))).rstrip(","))
        .csv(path)
    )
    n_rows = raw.count()
    # Casts match the INSERT paths: strict + MySQL integer rounding
    # (guarded_cast_col) — a bad field is 1366 naming the column, and
    # '2.7' into INT stores 3 exactly as INSERT VALUES does. Under the
    # IGNORE keyword MySQL downgrades conversion errors to warnings
    # and stores the CLOSEST value; this engine matches that for the
    # numeric family (_mysql_coerce_numeric: leading-prefix parse,
    # junk → 0, overflow clamps). Only temporal/decimal failures
    # store NULL (documented divergence: no zero-date in Spark; NULL
    # is the sentinel, caught by NOT NULL enforcement where the
    # column forbids it).
    def _field(name: str):
        if name not in target:
            return F.lit(None).cast(types[name])
        raw_col = F.col(f"_c{target.index(name)}")
        if mode == "IGNORE":
            # IGNORE downgrades conversion ERRORS to best-effort
            # storage, MySQL's legacy closest-value coercion: the
            # numeric family takes the leading numeric prefix
            # ('12abc' → 12, 'junk' → 0) and clamps overflow to the
            # type range; rounding still applies ('2.7' → 3 under
            # IGNORE too). Temporal/decimal failures store NULL
            # (documented divergence — no zero-date in Spark).
            t = types[name].upper()
            if t in ("BIGINT", "DOUBLE"):
                return _mysql_coerce_numeric(raw_col, t)
            return raw_col.cast(types[name])
        return guarded_cast_col(raw_col, types[name], name)

    df = raw.select(*[_field(name).alias(name) for name in names])
    ai = catalog.auto_increment_col(qualified)
    if ai is not None:
        df, first_id = _mint_auto_increment(spark, qualified, df, ai, types[ai])
        if first_id is not None and session is not None:
            session["last_insert_id"] = first_id

    if mode == "REPLACE":
        class _Shim:  # _replace reads only len(ins.rows)
            rows = range(n_rows)

        return _replace(spark, catalog, qualified, df, _Shim())
    if mode == "IGNORE":
        return _insert_ignore(spark, catalog, qualified, df)
    _check_constraints(spark, catalog, qualified, df)
    if catalog.has_rowid(qualified):
        df = df.withColumn(ROWID, F.expr("uuid()")).select(*spark.table(qualified).columns)
    df.write.insertInto(qualified, overwrite=False)
    return n_rows

"""End-to-end page-validation pipeline: the engine's flagship job.

compile(schema) → columnar predicates → per-row violations → per-partition
pass/fail verdicts + exploded violation table + uniqueness, sharing one
validated scan (SURVEY.md §3 "Spark lifecycle").

The violation/verdict/uniqueness jobs are derived from a SLIM projection
(key, partition key, valid, violations) so a persisted intermediate
carries ~1% of the bytes of the full pages row (html stays out of cache
and out of every shuffle — at 100 TB the binary column must never move
past the first Project)."""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3spark.columnar import ColumnarValidator
from m3spark.pages import PAGES_SCHEMA

# Validator memo: instances are pure-Python compilations of (schema,
# format_assertion).  Each keeps its own memo of built Columns, which are
# pure functions of the ordered input fields and the live JVM
# (ColumnarValidator._exprs), so validating a schema again skips both the
# compile and the py4j expression construction.  Every call still plans
# and computes from its input; no results, plans or shuffles are reused.
_CV_CACHE: dict = {}


def _validator(schema: dict, format_assertion: bool) -> ColumnarValidator:
    import json

    try:
        key = (json.dumps(schema, sort_keys=True), format_assertion)
    except (TypeError, ValueError):
        return ColumnarValidator(schema, format_assertion=format_assertion)
    cv = _CV_CACHE.get(key)
    if cv is None:
        cv = ColumnarValidator(schema, format_assertion=format_assertion)
        if len(_CV_CACHE) > 32:
            _CV_CACHE.clear()
        _CV_CACHE[key] = cv
    return cv


def _heavy_null_only_cols(schema: dict, pages: DataFrame, key_col: str,
                          partition_expr: str) -> list[str]:
    """Binary columns whose ONLY constraint is top-level ``required`` —
    i.e. the validator needs nothing but their NULLness.  Reading a blob
    column to answer ``IS NOT NULL`` is the single largest scan cost of
    the flagship job (the html bytes are >half the table), and parquet
    row-group ``null_count`` statistics answer ``IS NULL`` without
    touching the data pages.  Conservative structural gate: only plain
    object schemas (type/required/properties and annotations), only
    columns not referenced by properties, the key, or the partition
    expression, and only binary payloads (pruning a cheap string column
    is not worth the second scan)."""
    if set(schema) - {"$schema", "$id", "type", "required", "properties"}:
        return []
    if schema.get("type") not in (None, "object"):
        return []
    req = schema.get("required")
    if (not isinstance(req, list)
            or not all(isinstance(r, str) for r in req)
            or any(r not in pages.columns for r in req)):
        return []
    props = schema.get("properties") or {}
    dtypes = dict(pages.dtypes)
    return [c for c in req
            if c not in props and c != key_col
            and c not in partition_expr
            and dtypes.get(c) == "binary"]


def _ident(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def validate_pages(pages: DataFrame, schema: dict | None = None,
                   key_col: str = "url",
                   partition_expr: str = "to_date(warc_ts)",
                   with_uniqueness: bool = True,
                   format_assertion: bool = True,
                   persist: bool = False) -> dict:
    """Run the full validation over a pages table.

    Returns dict of lazy DataFrames:
      - ``rows``: input + violations + valid (full width)
      - ``slim``: (key, partition_key, valid, violations) of the rows
        the value scan finds a violation in — the shared core of the
        downstream jobs
      - ``slim_heavy``: (key, partition_key, hviols, other_err) of the
        rows that fail a ``required`` on a heavy column, or None.  A
        binary column whose only constraint is a top-level ``required``
        (``html`` in ``PAGES_SCHEMA``) stays out of the value scan, so a
        row that fails only that ``required`` is here and not in
        ``slim``.  ``hviols`` are those required violations;
        ``other_err`` says the row also has another error.
      - ``violations``: exploded north-star violation table
      - ``partition_verdicts``: per-partition pass/fail + counts
      - ``validator``: the ColumnarValidator for ``schema``

    With ``persist=True`` both ``slim`` and ``slim_heavy`` are
    persisted, and the caller must unpersist both (``slim_heavy`` when
    it is not None).
    """
    # The plumbing below is SQL text (selectExpr, string where, F.expr):
    # the JVM parses each string in one call, where the same Column tree
    # costs several py4j round trips per node.  Only the validators'
    # check expressions are Column trees, and they memoize themselves.
    schema = schema or PAGES_SCHEMA
    cv = _validator(schema, format_assertion)
    rows = cv.apply(pages)

    # r8: persist only the VIOLATING rows.  The r7 shape cached the full
    # slim projection (key, partition_key, valid, violations) — at 10M
    # rows the in-memory columnar cache build alone cost ~35% of the
    # flagship job, yet every downstream consumer except the
    # rows_scanned total only ever looks at rows that carry a
    # violation (~3% with the planted anomaly rates).  rows_scanned now
    # comes from a column-pruned count over the raw input (reads just
    # the partition column), left-joined to the per-partition violation
    # aggregate.  The violating rows are found by ONE Filter pass that
    # evaluates each check predicate once (violation_prefilter) — the
    # per-row violation-struct assembly then runs only on the ~3%
    # survivors.  A row with an empty violations array is always valid
    # (valid := no error-level violations), so the filter loses
    # nothing.
    #
    # r8b: blob columns whose only constraint is `required` never enter
    # the value scan at all.  The html payload is >half the table's
    # bytes, yet the validator only needs `html IS NOT NULL`; so the
    # value checks run over pages.drop(html) (ReadSchema excludes the
    # blob), and the required-on-html violations come from a separate
    # `WHERE html IS NULL` scan whose pushed IsNull filter skips every
    # row group with null_count == 0 — a footer-only read on clean
    # data.  The heavy scan runs cv.apply with the FULL schema, so the
    # violation structs for heavy-null rows (including the to_json row
    # render) are bit-identical to the single-scan path.  Verdict
    # arithmetic composes without overlap: the value scan counts rows
    # with value-check errors (it still sees heavy-null rows — their
    # other columns are intact), the heavy scan adds only heavy-null
    # rows with NO value-check error.  One documented render nuance:
    # a required violation on a NON-heavy column (a null url/ts/text)
    # renders its row-document `value` from the pruned projection, so
    # the heavy field's base64 no longer appears in that truncated
    # debug string (identical whenever the heavy column is itself
    # null, since to_json omits nulls).
    heavy = _heavy_null_only_cols(schema, pages, key_col, partition_expr)
    cv_light, light = cv, pages
    if heavy:
        lschema = copy.deepcopy(schema)
        lschema["required"] = [r for r in schema["required"]
                               if r not in heavy]
        cv_light = _validator(lschema, format_assertion)
        light = pages.drop(*heavy)
    try:
        bad = cv_light.violation_prefilter(light)
        prefiltered = True
    except ValueError:
        bad = light
        prefiltered = False
    pk = f"{partition_expr} AS partition_key"
    slim = cv_light.apply(bad).selectExpr(key_col, pk, "valid",
                                          "violations")
    if not prefiltered:
        # the prefilter predicate is exactly OR(~ok_i) == "violations
        # non-empty", so when it ran this filter is redundant — and far
        # from free: predicate pushdown substitutes the whole
        # violations expression into the pushed filter, re-evaluating
        # every check and struct per row below the projection
        slim = slim.where("size(violations) > 0")
    if persist:
        slim = slim.persist()

    slim_heavy = None
    if heavy:
        msgs = ", ".join(_sql_str(f"required property {c!r} missing")
                         for c in heavy)
        is_heavy = (f"(v.keyword = 'required' AND v.doc_path = '' "
                    f"AND v.message IN ({msgs}))")
        # reuse the already-built full-apply tree (a second cv.apply
        # costs ~0.5 s of py4j expression construction per call); the
        # IsNull filter commutes with the row-wise projection and is
        # pushed below it into the parquet scan
        slim_heavy = (
            rows.where(" OR ".join(f"{_ident(c)} IS NULL" for c in heavy))
                .selectExpr(key_col, pk,
                            f"filter(violations, v -> {is_heavy}) AS hviols",
                            "exists(violations, v -> v.level = 'error' "
                            f"AND NOT {is_heavy}) AS other_err")
                .where("size(hviols) > 0"))
        if persist:
            slim_heavy = slim_heavy.persist()

    viol_cols = [key_col, "partition_key"] + [
        f"v.{f} AS {f}" for f in ("keyword", "schema_path", "doc_path",
                                  "message", "level", "value")]
    viol = (slim.selectExpr(key_col, "partition_key",
                            "explode(violations) AS v")
                .selectExpr(*viol_cols))
    if slim_heavy is not None:
        viol = viol.unionByName(
            slim_heavy.selectExpr(key_col, "partition_key",
                                  "explode(hviols) AS v")
                      .selectExpr(*viol_cols))
    if with_uniqueness:
        dups = (pages.groupBy(key_col)
                     .agg(F.expr("count(1) AS dup_count"))
                     .where("dup_count > 1"))
        # a key duplicated ACROSS partitions has no single partition_key
        # (filled null by allowMissingColumns)
        viol = viol.unionByName(dups.selectExpr(
            key_col,
            "'uniqueItems' AS keyword",
            "'/uniqueItems' AS schema_path",
            f"{_sql_str('/' + key_col)} AS doc_path",
            "concat('duplicate key: ', CAST(dup_count AS STRING), "
            "' occurrences') AS message",
            "'error' AS level"), allowMissingColumns=True)

    totals = (pages.groupBy(F.expr(pk))
                   .agg(F.expr("count(1) AS rows_scanned")))
    viol_agg = slim.groupBy("partition_key").agg(
        F.expr("sum(CAST(NOT valid AS BIGINT)) AS _invalid"),
        F.expr("sum(size(violations)) AS _vcount"))
    verdicts = (totals.join(viol_agg, "partition_key", "left")
                      .selectExpr(
                          "partition_key", "rows_scanned",
                          "CAST(coalesce(_invalid, 0) AS BIGINT) "
                          "AS invalid_rows",
                          "CAST(coalesce(_vcount, 0) AS BIGINT) "
                          "AS violation_count"))
    if slim_heavy is not None:
        # heavy-null rows add their required violations, and count as
        # newly-invalid only when the value scan saw no error for them
        # (no row is counted twice; error-level heavy violations only)
        hagg = slim_heavy.groupBy("partition_key").agg(
            F.expr("sum(CAST(exists(hviols, v -> v.level = 'error') "
                   "AND NOT other_err AS BIGINT)) AS _hinvalid"),
            F.expr("sum(size(hviols)) AS _hvcount"))
        verdicts = (verdicts.join(hagg, "partition_key", "left")
                            .selectExpr(
                                "partition_key", "rows_scanned",
                                "CAST(invalid_rows + coalesce(_hinvalid, 0)"
                                " AS BIGINT) AS invalid_rows",
                                "CAST(violation_count + coalesce(_hvcount,"
                                " 0) AS BIGINT) AS violation_count"))
    verdicts = verdicts.withColumn("passed", F.expr("invalid_rows = 0"))
    return {"rows": rows, "slim": slim, "slim_heavy": slim_heavy,
            "violations": viol, "partition_verdicts": verdicts,
            "validator": cv}

"""Independent DuckDB recounts of what the validation runs must produce.

Nothing here imports the program under test: the expected per-day
verdicts are recomputed from the same parquet files with DuckDB's own
regex and string functions, adapting the predicates of the
``pages_validate`` oracle in ``__spark_entry__.oracle_sql()`` to the
benchmark's seeded tables.
"""

from __future__ import annotations

import datetime as dt

import duckdb

_LANGS_SQL = "('en','de','fr','es','zh','ja','pt','ru')"
# RFC 3986 character set of the engine's ``format: uri`` check, as used by
# the pages_validate oracle (no planted url carries a '%')
_URI_RE = ("^[A-Za-z][A-Za-z0-9+.-]*:"
           "[A-Za-z0-9\\-._~:/?#\\[\\]@!$&'()*+,;=%]*$")


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _day_sql(partitioned: bool) -> str:
    # warc_ts is UTC; derive the day without a session time zone
    if partitioned:
        return "CAST(warc_day AS DATE)"
    return ("(DATE '1970-01-01' + CAST(floor(epoch(warc_ts) / 86400) "
            "AS INTEGER))")


def _source(path: str, partitioned: bool) -> str:
    return (f"read_parquet({_q(path + '/**/*.parquet')}, "
            f"hive_partitioning = {'true' if partitioned else 'false'})")


def _required_sql() -> list[str]:
    return [f"({c} IS NULL)::INT" for c in
            ("url", "warc_ts", "html", "text", "lang")]


def flagship_checks() -> list[str]:
    """One 0/1 term per ``PAGES_SCHEMA`` keyword check (NULL = missing
    property, which only ``required`` fails)."""
    return _required_sql() + [
        f"coalesce(NOT regexp_matches(url, {_q(_URI_RE)}), false)::INT",
        "coalesce(NOT regexp_matches(url, '^https?://'), false)::INT",
        "coalesce(length(url) > 2048, false)::INT",
        "coalesce(length(text) < 1, false)::INT",
        f"coalesce(lang NOT IN {_LANGS_SQL}, false)::INT",
    ]


def variant_checks(schema: dict) -> list[str]:
    """The DuckDB mirror of a schema_churn variant: string columns and
    the scalar keywords type, enum, minLength, maxLength, pattern."""
    terms = _required_sql()
    for col, sub in schema["properties"].items():
        for kw, arg in sub.items():
            if kw == "type":
                if arg != "string":
                    raise ValueError(f"unmirrored type {arg!r}")
                continue  # string columns always satisfy it
            if kw == "enum":
                cond = f"{col} NOT IN ({', '.join(map(_q, arg))})"
            elif kw == "minLength":
                cond = f"length({col}) < {int(arg)}"
            elif kw == "maxLength":
                cond = f"length({col}) > {int(arg)}"
            elif kw == "pattern":
                cond = f"NOT regexp_matches({col}, {_q(arg)})"
            else:
                raise ValueError(f"unmirrored keyword {kw!r}")
            terms.append(f"coalesce({cond}, false)::INT")
    return terms


def verdicts(path: str, checks: list[str],
             partitioned: bool = False) -> dict:
    """``{day: (rows_scanned, invalid_rows, violation_count)}``."""
    n_viol = " + ".join(checks)
    sql = f"""
        WITH checked AS (
          SELECT {_day_sql(partitioned)} AS day, {n_viol} AS n_viol
          FROM {_source(path, partitioned)})
        SELECT day, COUNT(*), SUM((n_viol > 0)::INT), SUM(n_viol)
        FROM checked GROUP BY day ORDER BY day"""
    with duckdb.connect() as con:
        rows = con.sql(sql).fetchall()
    return {day: (int(n), int(bad), int(v)) for day, n, bad, v in rows}


def duplicate_urls(path: str, partitioned: bool = False) -> int:
    sql = f"""SELECT COUNT(*) FROM (
                SELECT url FROM {_source(path, partitioned)}
                GROUP BY url HAVING COUNT(*) > 1)"""
    with duckdb.connect() as con:
        return int(con.sql(sql).fetchone()[0])


def parquet_rows(path: str) -> int:
    sql = (f"SELECT COUNT(*) FROM read_parquet("
           f"{_q(path + '/**/*.parquet')}, hive_partitioning = false)")
    with duckdb.connect() as con:
        return int(con.sql(sql).fetchone()[0])


def as_counts(rows) -> dict:
    """Collected verdict rows → the ``verdicts()`` shape."""
    out = {}
    for r in rows:
        day = r["partition_key"]
        if isinstance(day, dt.datetime):
            day = day.date()
        out[day] = (int(r["rows_scanned"]), int(r["invalid_rows"]),
                    int(r["violation_count"]))
    return out

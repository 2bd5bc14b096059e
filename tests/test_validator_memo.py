"""The per-validator memo of built Columns: one entry per ordered input
shape and live JVM, shared by ``apply`` and ``violation_prefilter``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from m3spark.columnar import ColumnarValidator

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = {
    "type": "object",
    "required": ["a"],
    "properties": {"b": {"type": "string", "minLength": 2}},
}


def _frame(spark):
    return spark.createDataFrame(
        [(1, None, "xy", 7), (2, "p", "x", 8), (3, None, "z", None),
         (4, "q", "xyz", 9)],
        "id long, a string, b string, c int")


def _violations(applied):
    return sorted(
        (r["id"], r["v"]["keyword"], r["v"]["value"])
        for r in applied.select("id", F.explode("violations").alias("v"))
                        .collect())


def _violating_ids(applied):
    return sorted(r["id"] for r in
                  applied.where(F.size("violations") > 0).collect())


def test_column_order_keys_the_memo(spark):
    """The top-level ``required`` render is ``to_json`` of the row in
    column order, so a validator applied to a reordered input must not
    reuse the expressions built for the first order."""
    df = _frame(spark)
    rev = df.select(*reversed(df.columns))
    cv = ColumnarValidator(SCHEMA)
    cv.apply(df).collect()
    got = _violations(cv.apply(rev))
    want = _violations(ColumnarValidator(SCHEMA).apply(rev))
    assert got == want
    assert (1, "required", '{"c":7,"b":"xy","id":1}') in got


def test_prefilter_keeps_exactly_the_violating_rows(spark):
    df = _frame(spark)
    cv = ColumnarValidator(SCHEMA)
    for frame in (df, df.select(*reversed(df.columns)), df):
        kept = sorted(r["id"] for r in
                      cv.violation_prefilter(frame).select("id").collect())
        assert kept == _violating_ids(cv.apply(frame)) == [1, 2, 3]


_RESTART = textwrap.dedent("""
    from pyspark import SparkContext

    from m3spark.pages import generate_pages
    from m3spark.pipeline import validate_pages
    from m3spark.session import get_spark


    def run():
        spark = get_spark("m3spark-restart", cores=1, shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        res = validate_pages(generate_pages(spark, 400))
        out = (sorted(map(tuple, res["partition_verdicts"].collect())),
               sorted(map(tuple, res["violations"].collect())))
        spark.stop()
        return out


    first = run()
    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()      # the old JVM exits when its stdin closes
    proc.wait()
    second = run()
    assert first == second, (first, second)
    assert first[0] and first[1]
    print("same verdicts after restart")
""")


def test_validate_pages_survives_jvm_restart():
    """Memoized Columns belong to the JVM that built them: after the
    gateway is shut down and a new session starts, ``validate_pages``
    must rebuild rather than hand the new JVM dead handles.  Runs in a
    subprocess, since it kills the gateway."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", _RESTART], cwd=ROOT,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "same verdicts after restart" in out.stdout

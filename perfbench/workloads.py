"""The benchmark workloads.

Each workload generates its seeded inputs in memory (``generate``, not
timed: that is the benchmark's work), writes and opens them
(``materialize``, part of set-up), runs one complete result per
``iteration`` and, after the timed loop, checks every recorded output
against an independent oracle (``check``).  Every call into the program
goes through ``ctx.tracer`` spans named after the layer it enters; with
``--trace 0`` those spans are inert.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import inputs
import oracle


class Iteration:
    """One timed operation: its wall time, documents validated, and
    whatever the oracle needs to check it afterwards."""

    def __init__(self, wall_s: float, docs: int, output, extra=None):
        self.wall_s = wall_s
        self.docs = docs
        self.output = output
        self.extra = extra or {}


class Workload:
    """``scale`` shrinks the inputs for the self-check; runs that report
    figures use 1.0."""

    pages = None
    # untimed iterations before the loop: the cold one, then as many as
    # the JVM's JIT needs to settle on this workload's code
    warmup = 2

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def cores(self, nproc: int) -> int:
        """Spark task threads for this workload on ``nproc`` CPUs."""
        return nproc

    def size(self, n: int) -> int:
        return max(1000, int(n * self.scale))

    def teardown(self, ctx):
        pass


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _storage_empty(spark) -> bool:
    """No cached plan and no persisted RDD left behind."""
    return (spark._jsparkSession.sharedState().cacheManager().isEmpty()
            and spark._jsc.getPersistentRDDs().isEmpty())


def _release(res: dict):
    for key in ("slim", "slim_heavy"):
        if res.get(key) is not None:
            res[key].unpersist()


class PagesCheckpointed(Workload):
    """The deployed job shape (``jobs/validate_pages_job.py``) from public
    calls: ``run_resumable_batched`` over the day partitions in chunks of
    ``BATCH``, chunk outputs to partitioned parquet, a global uniqueness
    write, then a restarted run that must skip every partition."""

    name = "pages_checkpointed"
    ROWS = 16_000
    DAYS = 8
    BATCH = 8
    warmup = 6      # the JIT settles over five iterations after the cold one

    def cores(self, nproc: int) -> int:
        # about 27 small jobs an iteration, bound by the driver's planning
        # and scheduling: half the CPUs keep that path off a full machine
        return max(1, nproc // 2)

    def generate(self, seed: int):
        self.table = inputs.pages_table(seed, self.size(self.ROWS),
                                        self.DAYS)

    def materialize(self, ctx, rep: int):
        from m3spark.tables import read_pages, snapshot_id

        path = _fresh(os.path.join(ctx.work, f"pages_ckpt_{rep}"))
        inputs.write_pages(self.table, path, partitioned=True)
        ctx.spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                           "dynamic")
        self.path = path
        self.pages = read_pages(ctx.spark, path)
        self.snapshot = snapshot_id(ctx.spark, path)
        self.n = 0

    def _validate_batch(self, ctx, out: str, totals: dict):
        from m3spark.checks import column_stats
        from m3spark.pipeline import validate_pages

        spark = ctx.spark

        def validate_batch(chunk_df):
            with ctx.tracer.span("validate_pages", "pipeline"):
                res = validate_pages(chunk_df, partition_expr="warc_day",
                                     with_uniqueness=False, persist=True)
            try:
                verdicts = ctx.action("collect verdicts", "exec",
                                      res["partition_verdicts"].collect)
                if ctx.tracer.enabled:
                    ctx.layer["exec.cache_bytes"] = (
                        ctx.layer.get("exec.cache_bytes", 0.0)
                        + ctx.status.cache_bytes())
                    # off the clock, over the same cache: noop computes
                    # every violation column, count() lets Catalyst
                    # prune the ones nobody reads
                    violations = res["violations"]
                    ctx.probe("noop violations", violations.write
                              .format("noop").mode("overwrite").save,
                              key="sink.noop_ms")
                    ctx.probe("count violations", violations.count,
                              key="sink.count_ms")
                ctx.action("write violations", "sink",
                           res["violations"].write.mode("overwrite")
                           .partitionBy("partition_key")
                           .parquet, f"{out}/violations")
                ctx.action("write verdicts", "sink",
                           spark.createDataFrame(verdicts).write
                           .mode("overwrite").partitionBy("partition_key")
                           .parquet, f"{out}/verdicts")
                with ctx.tracer.span("column_stats", "checks") as s:
                    stats = (column_stats(chunk_df, ["url", "text", "lang"],
                                          group_by="warc_day")
                             .withColumnRenamed("warc_day", "partition_key"))
                    ctx.action("write stats", "sink",
                               stats.write.mode("overwrite")
                               .partitionBy("partition_key").parquet,
                               f"{out}/stats")
                ctx.add_span("checks.stats_ms", s)
            finally:
                _release(res)
            totals.update(oracle.as_counts(verdicts))
            return {r["partition_key"]: (r["rows_scanned"],
                                         r["violation_count"])
                    for r in verdicts}

        return validate_batch

    def iteration(self, ctx) -> Iteration:
        from m3spark.checks import run_resumable_batched
        from m3spark.checks import uniqueness_violations

        self.n += 1
        ckpt = _fresh(os.path.join(ctx.work, f"ckpt_{self.n}"))
        out = _fresh(os.path.join(ctx.work, f"out_{self.n}"))
        store = ctx.checkpoint_store(ckpt)
        totals: dict = {}
        batch = self._validate_batch(ctx, out, totals)
        ctx.off_clock_s = 0.0
        t0 = time.perf_counter()
        with ctx.tracer.span("run_resumable_batched", "checks"):
            first = run_resumable_batched(self.pages, "warc_day", store,
                                          self.snapshot, batch,
                                          batch_size=self.BATCH)
        with ctx.tracer.span("uniqueness_violations", "checks") as s:
            uniq = uniqueness_violations(self.pages.select("url"), "url")
            n_dups = ctx.action("count duplicates", "exec", uniq.count)
            ctx.action("write uniqueness", "sink",
                       uniq.write.mode("overwrite").parquet,
                       f"{out}/uniqueness_violations")
        ctx.add_span("checks.uniqueness_ms", s)
        wall = time.perf_counter() - t0 - ctx.off_clock_s
        t1 = time.perf_counter()
        with ctx.tracer.span("run_resumable_batched (resume)", "checks"):
            again = run_resumable_batched(self.pages, "warc_day", store,
                                          self.snapshot, batch,
                                          batch_size=self.BATCH)
        resume_s = time.perf_counter() - t1
        released = _storage_empty(ctx.spark)
        rows = sum(n for n, _, _ in totals.values())
        return Iteration(wall, rows,
                         (totals, n_dups, first, again, released, ckpt, out),
                         {"resume_s": resume_s})

    def check(self, ctx, outputs) -> list[bool]:
        from m3spark.checks import CheckpointStore

        expected = oracle.verdicts(self.path, oracle.flagship_checks(),
                                   partitioned=True)
        dups = oracle.duplicate_urls(self.path, partitioned=True)
        days = len(expected)
        ok = []
        for totals, n_dups, first, again, released, ckpt, out in outputs:
            ok.append(released and totals == expected and n_dups == dups
                      and len(first["validated"]) == days
                      and not first["skipped"]
                      and not again["validated"]
                      and len(again["skipped"]) == days)
        # the written tables and the lineage of the last run
        totals, n_dups, first, again, released, ckpt, out = outputs[-1]
        lineage = CheckpointStore(ctx.spark, ckpt).lineage().count()
        n_viol = sum(v for _, _, v in expected.values())
        ok.append(lineage == days
                  and oracle.parquet_rows(f"{out}/violations") == n_viol
                  and oracle.parquet_rows(f"{out}/verdicts") == days
                  and oracle.parquet_rows(f"{out}/uniqueness_violations")
                  == dups)
        return ok


class SchemaChurn(Workload):
    """A seeded stream of ``validate_pages(sample, schema=variant)`` over a
    cached sample, cycling a pool of distinct ``PAGES_SCHEMA`` variants
    larger than the program's 32-entry validator memo."""

    name = "schema_churn"
    ROWS = 20_000
    POOL = 48
    warmup = 12     # every variant is new code to the JIT; 1.9 s -> 1.3 s

    def generate(self, seed: int):
        from m3spark.pages import PAGES_SCHEMA

        self.table = inputs.pages_table(seed, self.size(self.ROWS))
        self.pool = inputs.schema_variants(seed, self.POOL)
        self.pool.append(PAGES_SCHEMA)   # only the warm-up uses it
        self.next = len(self.pool) - 1
        self.expected: dict = {}

    def materialize(self, ctx, rep: int):
        path = _fresh(os.path.join(ctx.work, f"churn_{rep}"))
        inputs.write_pages(self.table, path, partitioned=False, files=4)
        if self.pages is not None:
            self.pages.unpersist()
        self.path = path
        self.pages = ctx.spark.read.parquet(path).cache()
        self.pages.count()

    def iteration(self, ctx) -> Iteration:
        from m3spark.pipeline import validate_pages

        k = self.next
        self.next = 0 if k == self.POOL else (k + 1) % self.POOL
        t0 = time.perf_counter()
        with ctx.tracer.span("validate_pages", "pipeline"):
            res = validate_pages(self.pages, schema=self.pool[k])
        verdicts = ctx.action("collect verdicts", "exec",
                              res["partition_verdicts"].collect)
        wall = time.perf_counter() - t0
        rows = sum(r["rows_scanned"] for r in verdicts)
        return Iteration(wall, rows, (k, verdicts))

    def check(self, ctx, outputs) -> list[bool]:
        ok = []
        for k, verdicts in outputs:
            if k not in self.expected:
                checks = (oracle.flagship_checks()
                          if k == len(self.pool) - 1
                          else oracle.variant_checks(self.pool[k]))
                self.expected[k] = oracle.verdicts(self.path, checks)
            ok.append(oracle.as_counts(verdicts) == self.expected[k])
        return ok

    def teardown(self, ctx):
        self.pages.unpersist()


class JsonDocs(Workload):
    """``sparkval.validate_json`` over seeded nested JSON documents: the
    Arrow boundary into the schema interpreter."""

    name = "json_docs"
    DOCS = 40_000
    warmup = 6

    def generate(self, seed: int):
        self.table, self.planted = inputs.json_docs(seed,
                                                    self.size(self.DOCS))

    def materialize(self, ctx, rep: int):
        path = _fresh(os.path.join(ctx.work, f"docs_{rep}"))
        inputs.write_docs(self.table, path)
        self.docs = ctx.spark.read.parquet(path)

    def iteration(self, ctx) -> Iteration:
        from m3spark.sparkval import validate_json

        t0 = time.perf_counter()
        with ctx.tracer.span("validate_json", "python"):
            out = validate_json(self.docs, inputs.DOC_SCHEMA)
        kinds = F.concat(
            F.when(~F.col("valid"), F.array(F.lit("invalid")))
             .otherwise(F.array().cast("array<string>")),
            F.col("violations.keyword"))
        counts = (out.select(F.explode(kinds).alias("k"))
                     .groupBy("k").count())
        rows = ctx.action("collect keyword counts", "exec", counts.collect)
        wall = time.perf_counter() - t0
        return Iteration(wall, self.table.num_rows,
                         {r["k"]: r["count"] for r in rows})

    def check(self, ctx, outputs) -> list[bool]:
        return [o == self.planted for o in outputs]


WORKLOADS = {w.name: w for w in (PagesCheckpointed, SchemaChurn, JsonDocs)}

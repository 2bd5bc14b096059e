"""m3spark benchmark: one seeded workload, timed end to end or traced.

    python3 perfbench/run.py --workload json_docs --seed 1 --seconds 15 \
        --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (deleted on exit); the traced run writes its spans
to ``.perfbench_out/``.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer
metrics (``--trace 1``); the lines before it report every metric,
including those specific to one workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MATERIALIZE_REPS = 3    # input materializations per run (median)
MIN_ITERS = 3           # timed iterations (of each kind when traced)
MAX_LOOP_S = 90         # hard stop of the timed loop
STOP_WAIT_S = 30        # grace for each started process to exit


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str):
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and fix the driver heap so memory figures compare."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM of the run (the spark-submit launcher too): temp files in
    # the checkout, and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow its last ')'
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    found, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == pid]
        found += kids
        frontier += kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] not in "ZX"


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)     # reap our own children
            except ChildProcessError:
                pass
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.05)


def _adopt_orphans():
    """Become the reaper of every process started below this one, so that
    one its parent leaves behind (the spark-submit launcher's subshell
    outlives the JVM that replaced its parent) is ended and reaped here
    rather than left to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_children():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_processes():
    """End the JVM that PySpark started and every process below it (its
    Python workers), and wait until each has ended.  ``spark.stop()``
    leaves the gateway JVM running until it sees end of file on its
    standard input, which would otherwise come only as this process
    exits, and it would go on running after the result is printed."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()          # the JVM exits on end of file
        try:
            proc.wait(STOP_WAIT_S)
        except Exception:
            proc.kill()
            proc.wait()
    # what the JVM left behind is now below this process
    pids = sorted(set(pids) | set(_descendants(os.getpid())))
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _wait_gone(pids, 0 if sig == signal.SIGTERM else STOP_WAIT_S)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    left = _wait_gone(pids, STOP_WAIT_S)
    _reap_children()
    if left:
        print(f"processes still running: {left}", file=sys.stderr)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail(samples: list[float]) -> tuple[float, float] | None:
    """Highest whole percentile with at least ten samples above it, and
    the sample value there (nearest rank)."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    best = None
    for p in range(50, 100):
        rank = -(-p * n // 100)          # nearest-rank index, 1-based
        if n - rank >= 10:
            best = (p, s[rank - 1])
    return best


class Context:
    """What a workload sees: the session, the tracer and the per-iteration
    layer accumulator."""

    def __init__(self, spark, work: str, trace: bool):
        from spans import Py4jCounter, Tracer

        self.spark = spark
        self.work = work
        self.trace = trace
        self.layer: dict = {}
        self.off_clock_s = 0.0
        self.listener = self.status = None
        self.counter = (Py4jCounter(spark.sparkContext._gateway
                                    ._gateway_client) if trace else None)
        self.tracer = Tracer(False, self.counter)
        self._restore: list = []
        if trace:
            self._install_layer_spans()

    # -- instruments -----------------------------------------------------

    def _install_layer_spans(self):
        """Span the columnar layer inside ``validate_pages`` (a subclass
        bound where the pipeline looks the class up) and the schema layer
        inside the validator constructor."""
        import m3spark.columnar.compiler as compiler
        import m3spark.pipeline as pipeline

        tracer = self.tracer
        base = pipeline.ColumnarValidator

        class SpannedValidator(base):
            def __init__(self, *args, **kwargs):
                with tracer.span("ColumnarValidator()", "columnar"):
                    super().__init__(*args, **kwargs)

            def apply(self, *args, **kwargs):
                with tracer.span("ColumnarValidator.apply", "columnar"):
                    return super().apply(*args, **kwargs)

            def violation_prefilter(self, *args, **kwargs):
                with tracer.span("ColumnarValidator.violation_prefilter",
                                 "columnar"):
                    return super().violation_prefilter(*args, **kwargs)

        meta = compiler.meta_validate_schema

        def meta_validate_schema(*args, **kwargs):
            with tracer.span("meta_validate_schema", "schema"):
                return meta(*args, **kwargs)

        pipeline.ColumnarValidator = SpannedValidator
        compiler.meta_validate_schema = meta_validate_schema
        self._restore += [(pipeline, "ColumnarValidator", base),
                          (compiler, "meta_validate_schema", meta)]

    def set_tracing(self, on: bool):
        """Switch the instruments on for the next iteration, or off."""
        from spans import PlanListener, StatusReader

        if on and self.listener is None:
            self.listener = PlanListener(self.spark)
            self.status = StatusReader(self.spark)
        if on and not self.tracer.enabled:
            # drop what untraced work left behind
            self.listener.drain()
            self.listener.active = True
            self.status.take()
        elif not on and self.tracer.enabled:
            self.listener.active = False
        self.tracer.enabled = on

    def close(self):
        for mod, name, value in self._restore:
            setattr(mod, name, value)
        if self.listener is not None:
            self.listener.close()
        if self.counter is not None:
            self.counter.uninstall()

    # -- helpers the workloads call ---------------------------------------

    def action(self, name: str, layer: str, fn, *args, key: str = None):
        """Run one Spark action in a span; when tracing, attach the plan
        phases of the executions it triggered."""
        with self.tracer.span(name, layer) as s:
            out = fn(*args)
            if s is not None:
                for _, phases in self.listener.drain():
                    for p, ms in phases.items():
                        s.plan_ms[p] += ms
        if key and s is not None:
            self.add_span(key, s)
        return out

    def probe(self, name: str, fn, key: str):
        """A traced-only sink action kept out of the iteration: off its
        clock, out of its ``exec.*`` and ``plan.*`` figures, and in the
        pseudo-layer ``probe`` rather than ``sink``."""
        t0 = time.perf_counter()
        self.absorb(self.status.take())
        self.action(name, "probe", fn, key=key)
        self.status.take()
        self.off_clock_s += time.perf_counter() - t0

    def absorb(self, figures: dict):
        for k, v in figures.items():
            self.layer[k] = self.layer.get(k, 0.0) + v

    def add_span(self, key: str, span):
        if span is not None:
            self.layer[key] = (self.layer.get(key, 0.0)
                               + (span.end - span.start) * 1e3)

    def checkpoint_store(self, path: str):
        from m3spark.checks import CheckpointStore

        if not self.trace:
            return CheckpointStore(self.spark, path)
        ctx = self

        class TimedCheckpointStore(CheckpointStore):
            def completed(self, snapshot_id):
                with ctx.tracer.span("CheckpointStore.completed",
                                     "checks") as s:
                    out = super().completed(snapshot_id)
                ctx.add_span("checks.completed_ms", s)
                return out

            def append_many(self, rows):
                with ctx.tracer.span("CheckpointStore.append_many",
                                     "checks") as s:
                    super().append_many(rows)
                ctx.add_span("checks.append_ms", s)
                if s is not None and rows:
                    ctx.layer["checks.append_files"] = (
                        ctx.layer.get("checks.append_files", 0.0) + 1)

        return TimedCheckpointStore(self.spark, path)


def _layer_metrics(ctx, it_index: int) -> dict:
    """Per-layer figures of one traced iteration."""
    tr = ctx.tracer
    for _, phases in ctx.listener.drain():
        ctx.absorb({f"plan.{p}_ms": ms for p, ms in phases.items()})
    for s in tr.spans:
        if s.iteration == it_index and s.layer != "probe":
            ctx.absorb({f"plan.{p}_ms": ms for p, ms in s.plan_ms.items()})
    ctx.absorb(ctx.status.take())
    m = dict(ctx.layer)
    rows_in = m.pop("exec.prefilter_rows_in")
    rows_out = m.pop("exec.prefilter_rows_out")
    m["exec.prefilter_pass_ratio"] = rows_out / rows_in if rows_in else 0.0
    # inclusive time and calls of the outermost span of each layer run
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans:
        if s.iteration != it_index:
            continue
        parent = by_id.get(s.parent)
        if parent is not None and parent.layer == s.layer:
            continue
        ms = (s.end - s.start) * 1e3
        if s.layer == "columnar":
            key = ("columnar.compile_ms" if s.name == "ColumnarValidator()"
                   else "columnar.build_ms")
            m[key] = m.get(key, 0.0) + ms
            m["columnar.py4j_calls"] = (m.get("columnar.py4j_calls", 0.0)
                                        + s.py4j)
        elif s.layer == "schema":
            m["schema.compile_ms"] = m.get("schema.compile_ms", 0.0) + ms
        elif s.layer == "sink" and s.name.startswith("write"):
            m["sink.write_ms"] = m.get("sink.write_ms", 0.0) + ms
    selfs = tr.self_times(it_index)
    for layer, (ms, calls) in selfs.items():
        m[f"{layer}.self_ms"] = ms
        if layer == "pipeline":
            m["pipeline.build_ms"] = ms
            m["pipeline.py4j_calls"] = float(calls)
    # everything the program does in driver-side Python to build plans
    m["driver.build_ms"] = sum(selfs.get(layer, (0.0, 0))[0] for layer in
                               ("schema", "columnar", "pipeline", "python"))
    return m


def _cold_apply_calls(ctx, frame) -> float:
    """py4j round trips of one cold ``PAGES_SCHEMA`` apply on ``frame``
    (a fresh validator, so no memo can serve it)."""
    from m3spark.columnar import ColumnarValidator
    from m3spark.pages import PAGES_SCHEMA

    cv = ColumnarValidator(PAGES_SCHEMA, format_assertion=True)
    before = ctx.counter.calls
    cv.apply(frame)
    return float(ctx.counter.calls - before)


def run(args) -> int:
    from workloads import WORKLOADS

    spec = _spec()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, ROOT)
    try:
        import m3spark.pipeline  # noqa: F401
        import m3spark.sparkval  # noqa: F401
        from m3spark.session import get_spark
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload](args.scale)
    spark = None
    _adopt_orphans()
    try:
        w.generate(args.seed)
        t0 = time.perf_counter()
        cores = w.cores(len(os.sched_getaffinity(0)))
        spark = get_spark(f"perfbench-{args.workload}", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        return _measure(args, spec, spark, w, work, session_s)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _stop_processes()
            shutil.rmtree(work, ignore_errors=True)


def _measure(args, spec, spark, w, work, session_s) -> int:
    ctx = Context(spark, work, bool(args.trace))
    outputs: list = []
    attempted = failed = 0

    def attempt():
        nonlocal attempted, failed
        attempted += 1
        try:
            it = w.iteration(ctx)
        except Exception:
            failed += 1
            traceback.print_exc()
            return None
        outputs.append(it.output)
        return it

    # set-up: inputs are materialized several times (setup_s takes the
    # median); session start and the warm-up happen once per process
    mats = []
    for rep in range(MATERIALIZE_REPS):
        t0 = time.perf_counter()
        w.materialize(ctx, rep)
        mats.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for _ in range(w.warmup):
        attempt()
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(mats) + warmup_s

    if ctx.trace:
        cold_calls = (_cold_apply_calls(ctx, w.pages)
                      if w.pages is not None else 0.0)

    # the timed loop; a traced run alternates untraced and traced
    # iterations, so both see the same point of the JIT's warm-up
    iters, traced_walls, layers = [], [], []
    loop_t0 = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - loop_t0
        enough = len(iters) >= MIN_ITERS and (
            not ctx.trace or len(traced_walls) >= MIN_ITERS)
        if (elapsed >= args.seconds and enough) or elapsed > MAX_LOOP_S:
            break
        on = ctx.trace and len(iters) > len(traced_walls)
        ctx.set_tracing(on)
        ctx.tracer.iteration = len(traced_walls)
        ctx.layer = {}
        it = attempt()
        if it is None:
            continue
        if on:
            traced_walls.append(it.wall_s)
            layers.append(_layer_metrics(ctx, ctx.tracer.iteration))
        else:
            iters.append(it)
    ctx.set_tracing(False)
    loop_s = time.perf_counter() - loop_t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)

    # oracle checks, outside every timed region
    t0 = time.perf_counter()
    try:
        verdicts = w.check(ctx, outputs)
    except Exception:
        traceback.print_exc()
        verdicts = [False]
    w.teardown(ctx)
    check_s = time.perf_counter() - t0
    attempted += len(verdicts) - len(outputs)
    failed += sum(1 for ok in verdicts if not ok)
    correct = failed == 0 and len(iters) > 0

    walls = [it.wall_s for it in iters]
    report: dict = {}
    if walls:
        report["iter_s_p50"] = (statistics.median(walls), "s")
        report["docs_per_s"] = (statistics.median(
            it.docs / it.wall_s for it in iters), "docs/s")
    report["setup_s"] = (setup_s, "s")
    report["fail_ratio"] = (failed / attempted if attempted else 1.0,
                            "ratio")
    report["peak_rss_mb"] = (peak_rss_mb, "MB")
    if w.name == "schema_churn" and walls:
        ms = [x * 1e3 for x in walls]
        report["schema_ready_ms_p50"] = (statistics.median(ms), "ms")
        tail = _tail(ms)
        if tail:
            report["schema_ready_ms_tail"] = (tail[1], "ms")
            report["schema_ready_ms_tail.percentile"] = (tail[0], "pct")
        report["schema_ready_ms.samples"] = (len(ms), "count")
    if w.name == "pages_checkpointed" and iters:
        report["resume_s"] = (statistics.median(
            it.extra["resume_s"] for it in iters), "s")

    if ctx.trace:
        per_layer = _summarize_layers(layers)
        per_layer["columnar.cold_apply_py4j_calls"] = cold_calls
        if traced_walls and walls:
            per_layer["trace.overhead_s"] = (
                statistics.median(traced_walls) - statistics.median(walls))
        metrics = {m["name"]: {"value": per_layer.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir,
                            f"trace-{w.name}-seed{args.seed}.json")
        ctx.tracer.dump(path, {"workload": w.name, "seed": args.seed,
                               "per_iteration": layers,
                               "summary": per_layer,
                               "end_to_end": {k: v[0] for k, v in
                                              report.items()}})
        for k in sorted(per_layer):
            print(f"{w.name} layer {k} = {per_layer[k]:.6g}")
        print(f"{w.name} trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {m["name"]: {"value": report[m["name"]][0],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in report}
    ctx.close()
    for k, (v, unit) in report.items():
        print(f"{w.name} {k} = {v:.6g} {unit}")
    print(f"{w.name} iterations = {len(iters)} in {loop_s:.3f} s "
          f"({' '.join(f'{x:.3f}' for x in walls)}); "
          f"attempted = {attempted}, failed = {failed}")
    print(f"{w.name} phases: session {session_s:.2f} s, materialize "
          f"{' '.join(f'{x:.2f}' for x in mats)} s, warm-up {warmup_s:.2f} s,"
          f" loop {loop_s:.2f} s, checks {check_s:.2f} s")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _summarize_layers(layers: list[dict]) -> dict:
    """Median over traced iterations of each per-iteration figure."""
    keys = sorted({k for m in layers for k in m})
    return {k: statistics.median(m.get(k, 0.0) for m in layers)
            for k in keys}


def _terminated(signum, frame):
    # run the clean-up of ``run`` when stopped from outside
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-check uses < 1)")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())

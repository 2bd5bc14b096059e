"""Small-scale self-check of the benchmark.

    python3 perfbench/selfcheck.py

For every workload of ``BENCHMARK.json``, and the ungated
``schema_churn``, it runs ``run.py`` on shrunken
inputs, untraced and traced, and asserts that the last line is the
result object, that every oracle passed, and that every end-to-end
(resp. per-layer) metric is printed with its declared unit.  It also
checks ``BENCHMARK.json`` against the benchmark's limits, and that
``run.py`` fails without printing a result in a directory that holds only
the benchmark (no program to measure), and that no run leaves a process
behind.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"
SECONDS = "1"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
UNGATED = ["schema_churn"]      # runnable, but not in BENCHMARK.json


def check_spec(spec: dict):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200, w
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    metrics = spec["end_to_end"] + spec["per_layer"]
    for m in metrics:
        assert m["better"] in ("higher", "lower"), m
        assert UNIT.match(m["unit"]), m
    names += [m["name"] for m in metrics]
    assert all(NAME.match(n) for n in names), names
    assert len(set(names)) == len(names), "names must be unique"
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" \
        and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _session_members(sid: int) -> list[int]:
    found = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getsid(int(entry)) == sid:
                    found.append(int(entry))
            except OSError:
                pass
    return found


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    """Run the benchmark in a session of its own, and assert that no
    process it started (the JVM, Python workers) outlives it."""
    with subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "7", "--seconds", SECONDS, "--trace", str(trace),
             "--scale", SCALE],
            cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, start_new_session=True) as proc:
        out, _ = proc.communicate(timeout=300)
    left = _session_members(proc.pid)
    assert not left, (workload, trace, "processes left running", left)
    return proc.returncode, out.strip().splitlines()


def check_result(lines: list[str], metrics: list[dict], where: str):
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, \
        where
    assert result["correct"] is True and result["failed"] == 0, \
        (where, result)
    assert isinstance(result["attempted"], int) \
        and result["attempted"] >= 1, where
    got = result["metrics"]
    assert set(got) == {m["name"] for m in metrics}, (where, sorted(got))
    for m in metrics:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (where, m["name"], v)
        assert isinstance(v["value"], (int, float)) \
            and math.isfinite(v["value"]), (where, m["name"], v)


def check_stripped_checkout(workload: str):
    """Without the program next to it, run.py must fail and print no
    result."""
    bare = os.path.join(ROOT, ".perfbench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(bare, workload, 0)
        assert rc != 0, "run.py succeeded without the program"
        assert not any(line.startswith("{") for line in lines), lines
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    check_stripped_checkout(spec["workloads"][0]["name"])
    for name in [w["name"] for w in spec["workloads"]] + UNGATED:
        for trace, metrics in ((0, spec["end_to_end"]),
                               (1, spec["per_layer"])):
            where = f"{name} --trace {trace}"
            rc, lines = run(ROOT, name, trace)
            assert rc == 0 and lines, (where, rc, lines[-5:])
            check_result(lines, metrics, where)
            print(f"ok  {where}")
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload once at the smallest sizes, untraced and traced,
and checks that each prints every metric by name with its unit; that a
deliberately corrupted output is caught (``failed`` > 0, ``correct``
false); that two seeds give different inputs and one seed the same;
and that without the engine next to it the harness exits non-zero
without printing a result.  Takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import PAGE_SLICE, WORKLOADS  # noqa: E402


def bench(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout


def test_inputs_follow_seed() -> None:
    def corpus(seed):
        rng = np.random.default_rng(seed)
        tables = datagen.relational_tables(rng, 0.001)
        docs, _ = datagen.documents_pdf(rng, 50)
        return tables["orders"], docs

    (o1, d1), (o1b, d1b), (o2, d2) = corpus(1), corpus(1), corpus(2)
    assert o1.equals(o1b) and d1.equals(d1b), "one seed, two inputs"
    assert not o1.equals(o2) and not d1.equals(d2), "two seeds, one input"
    starts = {(seed % 1000) * PAGE_SLICE for seed in (1, 2)}
    assert len(starts) == 2, "two seeds, one page slice"


def test_every_metric_printed() -> None:
    for workload in WORKLOADS:
        for trace, units in ((0, END_TO_END), (1, PER_LAYER)):
            code, result, out = bench(ROOT, "--workload", workload,
                                      "--seed", "7", "--size", "tiny",
                                      "--trace", str(trace))
            assert code == 0 and result and result["correct"], \
                f"{workload} trace={trace}: exit {code}\n{out}"
            assert result["failed"] == 0 and result["attempted"] > 0
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == units, f"{workload}: metrics {got}"
            for k, unit in units.items():
                assert any(line.split()[1:2] == [k] and line.endswith(unit)
                           for line in out.splitlines()
                           if line.startswith(("metric ", "layer "))), k


def test_corrupted_output_fails() -> None:
    code, result, out = bench(ROOT, "--workload", "pages", "--seed", "7",
                              "--size", "tiny", "--trace", "0", "--corrupt")
    assert code != 0 and result and not result["correct"], out
    assert result["failed"] > 0, result
    assert "WRONG" in out, out


def test_exits_without_program() -> None:
    bare = os.path.join(ROOT, ".perfbench_run", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, result, out = bench(bare, "--workload", "pages", "--seed", "1",
                                  "--trace", "0")
        assert code != 0 and result is None, out
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    failed = 0
    for test in (test_inputs_follow_seed, test_exits_without_program,
                 test_corrupted_output_fails, test_every_metric_printed):
        try:
            test()
            print(f"PASS {test.__name__}", flush=True)
        except AssertionError as e:
            failed += 1
            print(f"FAIL {test.__name__}: {e}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

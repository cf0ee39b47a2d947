"""Self-test of the benchmark: a toy-scale run of every workload with
the oracle checks on, plus consistency of the declared metrics.

    python3 perfbench/selftest.py     # about a minute; exit 0 when all pass

A plain script rather than a pytest module, so that a test run over the
whole repository never collects the benchmark's toy run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import tail  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from run import E2E_UNITS  # noqa: E402


def check_declared_metrics_are_produced():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    for m in decl["end_to_end"]:
        assert E2E_UNITS[m["name"]] == m["unit"], m
    layer = {n: (u, b) for n, u, b in PER_LAYER}
    for m in decl["per_layer"]:
        assert layer[m["name"]] == (m["unit"], m["better"]), m


def check_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    value, how = tail(xs)
    assert value == 10.0 and sum(x > value for x in xs) == 10, how
    value, how = tail([3.0, 1.0, 2.0])
    assert value == 3.0 and how.startswith("max")


def check_toy_run_of_every_workload_passes_the_oracle():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--seed", "7", "--seconds", "3", "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    for name in E2E_UNITS:  # every end-to-end metric printed by name
        assert f" {name} " in p.stdout, name


def main() -> int:
    checks = [check_declared_metrics_are_produced,
              check_tail_needs_ten_samples_beyond,
              check_toy_run_of_every_workload_passes_the_oracle]
    failed = 0
    for check in checks:
        try:
            check()
            print(f"ok    {check.__name__}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL  {check.__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

"""Smoke test of the benchmark itself, at small input sizes.

    python3 perfbench/smoke.py          # from the repository root, ~5 min

1. Runs ``run.py --tiny`` for every workload, untraced and traced, and
   checks the result line: the four keys, ``correct``, and every metric
   of BENCHMARK.json (end-to-end when untraced, per-layer when traced)
   present with its unit.
2. Corrupts one output of each workload and checks that the workload's
   own output check counts it as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_result_lines(spec: dict) -> None:
    from layers import PER_LAYER

    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert expected[1] == PER_LAYER, "BENCHMARK.json per_layer differs from layers.PER_LAYER"
    for name in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            assert proc.returncode == 0, f"{name} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == expected[trace], f"{name} trace={trace}: {got}"
            assert all(isinstance(v["value"], float) for v in out["metrics"].values())
            print(f"ok   {name} trace={trace}: {len(got)} metrics, {out['attempted']} operations")


def check_corruption_is_caught() -> None:
    import run

    work = os.path.join(ROOT, ".perfbench_work", "smoke")
    subprocess.run(["rm", "-rf", work], check=True)
    run._environment(work)
    import layers
    from pyspark.sql import Row
    from workloads import Catalog, Exposure

    spark, _, _ = run._start(run._conf(work, trace=False))
    try:
        exposure = Exposure(os.path.join(work, "exposure"), seed=3, n_points=40)
        exposure.prepare()
        ops = exposure.run_pass(spark, layers.NullTracer())
        assert exposure.check(spark, ops) == 0, "exposure: clean output rejected"
        wide = ops[0][1].copy()
        row = wide.index[wide["year"] == 2000][0]
        wide.loc[row, "D_Airport"] += 1.0
        assert exposure.check(spark, [("exposure", wide)]) == 1, "exposure: corrupted D_Airport accepted"
        print("ok   exposure: corrupted D_Airport is a failed operation")

        catalog = Catalog(os.path.join(work, "catalog"), seed=3)
        catalog.prepare()
        ops = dict(catalog.run_pass(spark, layers.NullTracer()))
        assert catalog.check(spark, ops.items()) == 0, "catalog: clean output rejected"
        rows = ops["q1_pricing_summary"]
        first = rows[0].asDict()
        col = next(c for c, v in first.items() if isinstance(v, float))
        shifted = [Row(**{**first, col: first[col] + 1})] + rows[1:]
        for bad in (rows[1:], shifted):
            corrupted = {**ops, "q1_pricing_summary": bad}.items()
            assert catalog.check(spark, corrupted) == 1, f"catalog: corrupted rows accepted: {bad[:2]}"
        print("ok   catalog: a missing row and a changed value are failed operations")
    finally:
        run._stop(spark)


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        check_result_lines(json.load(f))
    check_corruption_is_caught()
    print("smoke test passed")

"""duckpipe-spark benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload exposure --seed 1 --seconds 10 --trace 0

Run from the repository root. A run makes its inputs from ``--seed``,
starts the session three times (``setup_s`` is the median of
``get_spark`` plus its first action), runs one cold pass
(``first_pass_s``), then the workload's fixed number of warm passes
(``pass_s`` is the fastest of them; see NOTES.md) and, if ``--seconds``
have not yet passed, more warm passes that no metric but ``peak_rss_mb``
counts. It checks every output
and prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
line of stdout. ``--trace 1`` prints the per-layer metrics of layers.py
instead and writes them, with every pass time, to
``.perfbench_work/<workload>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def _environment(work: str) -> None:
    """Everything the session and its Python workers need, inside the
    checkout: workers import ``duckpipe_spark`` from PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed heap keeps peak_rss_mb steady; the traced run reports the
    # JVM's own heap use (jvm.*) since RSS cannot show it at a cap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [ROOT, HERE]


def _conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"])
    return conf


def _stop(spark) -> None:
    """Stop the session, end its JVM and wait until every process this one
    started has exited."""
    import proctree
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at end of its stdin
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(proctree.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in proctree.tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.time() + 10
    while len(proctree.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _start(conf: dict) -> tuple[object, float, float]:
    from duckpipe_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("duckpipe-perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, time.perf_counter() - t0, t1 - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input size (exposure)")
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    import duckpipe_spark  # noqa: F401 - fail before any output when the program is absent
    import layers
    import proctree
    from workloads import WORKLOADS

    tiny = {"exposure": {"n_points": 40}} if args.tiny else {}
    wl = WORKLOADS[args.workload](work, args.seed, **tiny.get(args.workload, {}))
    wl.prepare()
    trace = bool(args.trace)
    conf = _conf(work, trace)

    setup, get_spark_s = [], []
    for i in range(SETUPS):
        spark, total, build = _start(conf)
        setup.append(total)
        get_spark_s.append(build)
        if i < SETUPS - 1:
            _stop(spark)

    tr = layers.Tracer(spark) if trace else layers.NullTracer()
    ops, untraced, traced = [], [], []

    def one_pass(traced_pass: bool, phase: str, last: bool = False) -> float:
        if trace:
            tr.start_pass(traced_pass, phase)
        t0 = time.perf_counter()
        ops.extend(wl.run_pass(spark, tr))
        dt = time.perf_counter() - t0
        if traced_pass:
            tr.finish_pass()
            if last:
                tr.audit_plans(getattr(wl, "built", []))
                tr.time_parts_alone()  # while the pass's cached points are live
        spark.catalog.clearCache()
        return dt

    with proctree.PeakRss() as rss:
        first = one_pass(False, "cold")
        end = time.perf_counter() + args.seconds
        for i in range(wl.warm_passes):
            untraced.append(one_pass(False, "warm"))
            if trace:
                traced.append(one_pass(True, "traced", last=i == wl.warm_passes - 1))
        while time.perf_counter() < end:
            one_pass(False, "extra")

    failed = wl.check(spark, ops)
    app_id = spark.sparkContext.applicationId
    _stop(spark)

    pass_s = min(untraced)
    print(
        f"setup {[round(x, 3) for x in setup]} first {first:.3f} "
        f"warm {[round(x, 3) for x in untraced]} traced {[round(x, 3) for x in traced]} "
        f"rss_mb {[round(b / 2**20) for b in rss.at_peak]}",
        file=sys.stderr,
    )
    if trace:
        tr.add_event_log(conf["spark.eventLog.dir"], app_id)
        values = tr.metrics(statistics.median(get_spark_s), min(traced) - pass_s)
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.PER_LAYER.items()}
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"metrics": metrics, "first_pass_s": first, "warm_s": untraced, "traced_s": traced}, f, indent=1)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            "first_pass_s": {"value": first, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

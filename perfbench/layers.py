"""Per-layer tracing for the traced run (``--trace 1``).

Everything here wraps public functions of the program from the outside:
spans are timed at the benchmark's own call sites or by replacing a module
attribute with a timing wrapper for the duration of the run. Spark work is
tagged with one job group per step (read back through ``statusTracker``)
and the executor side is read from the session's event log after it stops.
Nothing inside ``duckpipe_spark`` changes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import sys
import time
from collections import defaultdict

import proctree

# name -> unit, in output order. Every traced run prints all of them; a layer
# the workload does not exercise reads 0 (the predicted "no change").
CATALOG_ROWS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_orders",
    "q21_waiting_supplier",
    "orders_rollup",
    "lineitem_column_stats",
    "features_within_radius",
    "sessionize_users",
    "asof_clicks_purchases",
    "doc_minhash_signatures",
    "doc_feature_hash_embed",
    "doc_lm_quality",
    "embedding_lsh_topk",
]
OPERATORS = [
    "coordinates",
    "nearest_distance",
    "landuse_area_ratio",
    "relative_elevation",
    "road_llw",
    "main_road_llw",
]
_EXEC = {"executor_run_s": "s", "executor_cpu_s": "s", "jvm_gc_s": "s", "shuffle_write_mb": "MB"}
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "sources.load_table_calls": "count",
    "sources.scan_memo_hit_ratio": "ratio",
    "queries.build_s": "s",
    "queries.collect_s": "s",
    "queries.py4j_calls": "count",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    **{f"queries.{k}": u for k, u in _EXEC.items()},
    **{f"queries.{row}.s": "s" for row in CATALOG_ROWS},
    "plans.exchanges": "count",
    "plans.python_nodes": "count",
    "calculator.add_point_with_table_s": "s",
    "calculator.chunk_s": "s",
    "calculator.calculate_s": "s",
    "calculator.get_result_s": "s",
    "calculator.partitions": "count",
    "calculator.jobs": "count",
    "calculator.stages": "count",
    "calculator.tasks": "count",
    **{f"calculator.{k}": u for k, u in _EXEC.items() if k != "executor_cpu_s"},
    "calculator.python_cpu_s": "s",
    "calculator.jvm_cpu_s": "s",
    "geo.chunk_rows_s": "s",
    "geo.transform_s": "s",
    **{f"operators.{op}_s": "s" for op in OPERATORS},
    "operators.long_rows": "count",
    "operators.assemble_overhead_ratio": "ratio",
    "jvm.heap_peak_mb": "MB",
    "jvm.heap_live_mb": "MB",
    "trace.overhead_s": "s",
}


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def step(self, metric: str, group: str | None = None):
        return contextlib.nullcontext()

    def timed(self, metric: str):
        return contextlib.nullcontext()

    def py4j(self):
        return contextlib.nullcontext()

    def transform_on_driver(self):
        return contextlib.nullcontext()

    def note(self, metric: str, value: float) -> None:
        pass


def _replace_everywhere(original, wrapper) -> None:
    """Point every ``duckpipe_spark`` module attribute bound to ``original``
    at ``wrapper`` (modules import these functions by name)."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("duckpipe_spark"):
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)


class Tracer(NullTracer):
    """Collects spans and counts for the traced passes of one run.

    ``active`` is False during untraced passes, so a wrapper installed for
    the run only passes calls through. Values are summed within a pass;
    ``finish_pass`` keeps the pass's totals."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.phase = "setup"
        self.pass_no = 0
        self.cur: dict[str, float] = defaultdict(float)
        self.groups: dict[str, list[str]] = defaultdict(list)  # metric prefix -> job groups
        self.parts: list[tuple[str, object]] = []
        self.loads: dict[str, list[int]] = defaultdict(lambda: [0, 0])  # phase -> [calls, hits]
        self._py4j_on = False
        self._install()

    # -- wrappers, installed for the rest of the process -----------------------
    def _install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway
        import py4j.protocol

        import duckpipe_spark.calculator as calc
        import duckpipe_spark.geo.cluster as cluster
        import duckpipe_spark.queries  # noqa: F401 - bind every load_table import first
        import duckpipe_spark.sources.tables as tables

        tracer = self
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            send = cls.send_command

            def counted(conn, command, _send=send, **kw):
                # object releases follow Python's garbage collector, not the plan
                if tracer._py4j_on and not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
                    tracer.cur["queries.py4j_calls"] += 1
                return _send(conn, command, **kw)

            cls.send_command = counted

        load_table = tables.load_table

        def traced_load_table(spark, sf_dir, name):
            memo = tables._SCAN_MEMO.get(spark, {})
            before = len(memo)
            df = load_table(spark, sf_dir, name)
            calls = tracer.loads[tracer.phase]
            calls[0] += 1
            calls[1] += len(tables._SCAN_MEMO.get(spark, {})) == before
            return df

        _replace_everywhere(load_table, traced_load_table)

        chunk_rows = cluster.chunk_rows

        def traced_chunk_rows(*a, **kw):
            with self.timed("geo.chunk_rows_s"):
                return chunk_rows(*a, **kw)

        _replace_everywhere(chunk_rows, traced_chunk_rows)

        for op in OPERATORS:
            fn = getattr(calc, op)

            def recorded(*a, _fn=fn, _op=op, **kw):
                df = _fn(*a, **kw)
                if tracer.active:
                    tracer.parts.append((_op, df))
                return df

            setattr(calc, op, recorded)

    @contextlib.contextmanager
    def timed(self, metric: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.active:
                self.cur[metric] += time.perf_counter() - t0

    # -- hooks used by the workloads -------------------------------------
    @contextlib.contextmanager
    def step(self, metric: str, group: str | None = None):
        if not self.active:
            yield
            return
        name = f"t{self.pass_no}:{group or metric}"
        groups = self.groups[metric.split(".")[0]]
        if name not in groups:
            groups.append(name)
        self.sc.setJobGroup(name, name)
        try:
            with self.timed(metric):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def py4j(self):
        self._py4j_on = self.active
        try:
            yield
        finally:
            self._py4j_on = False

    @contextlib.contextmanager
    def transform_on_driver(self):
        """Time the driver-side CRS transform of a pandas ingest. Patched
        only around that call: the distributed ingest ships ``transform``
        inside a pandas UDF, which must get the original function."""
        if not self.active:
            yield
            return
        import duckpipe_spark.calculator as calc

        original = calc.transform

        def timed(*a, **kw):
            with self.timed("geo.transform_s"):
                return original(*a, **kw)

        calc.transform = timed
        try:
            yield
        finally:
            calc.transform = original

    def note(self, metric: str, value: float) -> None:
        if self.active:
            self.cur[metric] = value

    # -- pass bookkeeping -------------------------------------------------
    def start_pass(self, traced: bool, phase: str) -> None:
        self.pass_no += 1
        self.active = traced
        self.phase = phase
        if traced:
            self.cur = defaultdict(float)
            self.groups = defaultdict(list)
            self.parts = []
            for pool in self._heap_pools():
                pool.resetPeakUsage()
            self._cpu0 = proctree.cpu_seconds()

    def finish_pass(self) -> None:
        if self.active:
            cpu = proctree.cpu_seconds()
            if self.groups.get("calculator"):
                self.cur["calculator.python_cpu_s"] = cpu["python"] - self._cpu0["python"]
                self.cur["calculator.jvm_cpu_s"] = cpu["jvm"] - self._cpu0["jvm"]
            self._status_counts()
            self._heap()
        self.active = False

    def _heap_pools(self) -> list:
        management = self.sc._jvm.java.lang.management.ManagementFactory
        return [p for p in management.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def _heap(self) -> None:
        """The JVM heap the pass used (the sum of each heap pool's peak),
        and what stays live after a full collection while the pass's
        cached data is still held."""
        jvm = self.sc._jvm
        self.cur["jvm.heap_peak_mb"] = sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20
        jvm.System.gc()
        used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        self.cur["jvm.heap_live_mb"] = used / 2**20

    def _status_counts(self) -> None:
        st = self.sc.statusTracker()
        for layer, groups in self.groups.items():
            jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
            stages = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
            ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
            self.cur[f"{layer}.jobs"] = len(jobs)
            self.cur[f"{layer}.stages"] = len(ran)
            self.cur[f"{layer}.tasks"] = sum(s.numCompletedTasks for s in ran)

    def time_parts_alone(self) -> None:
        """Collect each operator's long-form part of the last traced pass on
        its own, untagged by the pass's job groups."""
        for op, df in self.parts:
            t0 = time.perf_counter()
            n = len(df.collect())
            self.cur[f"operators.{op}_s"] += time.perf_counter() - t0
            self.cur["operators.long_rows"] += n
        total = sum(self.cur[f"operators.{op}_s"] for op in OPERATORS)
        if total:
            self.cur["operators.assemble_overhead_ratio"] = self.cur["calculator.get_result_s"] / total

    def audit_plans(self, dfs) -> None:
        from duckpipe_spark.plans.audit import audit_plan

        for df in dfs:
            a = audit_plan(df)
            self.cur["plans.exchanges"] += a.exchanges
            self.cur["plans.python_nodes"] += a.python_stages

    # -- after the session has stopped ----------------------------------------
    def add_event_log(self, log_dir: str, app_id: str) -> None:
        """Executor run/CPU/GC time and shuffle bytes of the last traced
        pass's job groups, from the stopped session's event log."""
        group_of_stage: dict[int, str] = {}
        wanted = {g: layer for layer, gs in self.groups.items() for g in gs}
        paths = glob.glob(f"{log_dir}/{app_id}*")  # one file: rolling is off
        if not paths:
            return
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in wanted:
                        for sid in ev.get("Stage IDs", []):
                            group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in group_of_stage:
                    layer = wanted[group_of_stage[ev["Stage ID"]]]
                    m = ev.get("Task Metrics") or {}
                    self.cur[f"{layer}.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    self.cur[f"{layer}.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    self.cur[f"{layer}.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    self.cur[f"{layer}.shuffle_write_mb"] += shuffle / 2**20

    def metrics(self, get_spark_s: float, overhead_s: float) -> dict[str, float]:
        cold = self.loads.get("cold", [0, 0])
        values = dict(self.cur)
        values["session.get_spark_s"] = get_spark_s
        values["sources.load_table_calls"] = cold[0]
        values["sources.scan_memo_hit_ratio"] = cold[1] / cold[0] if cold[0] else 0.0
        values["trace.overhead_s"] = overhead_s
        return {name: float(values.get(name, 0.0)) for name in PER_LAYER}

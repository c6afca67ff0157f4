"""Per-layer metrics from a traced run.

The traced run has the Spark event log on. The benchmark records a span
around each call it makes into a layer (and sets the call's job group, so
the event log names it too); after the session stops, the log is parsed
and every job is attributed to the span that was open when it was
submitted. Layer names follow the engine's modules.

Inside ``run_validation`` the benchmark cannot open spans (spans inside the
program are a later change), so its stages are attributed by the operators
they contain, first match wins:

    WriteFiles                      -> run.write_s
    a ``collect`` stage             -> run.metrics_fold_s
    SortAggregate                   -> engine.verdicts_s
    BroadcastExchange               -> operators.referential_s
    Generate or ArrowEvalPython     -> engine.scan_rules_s
    any other scan + Exchange       -> operators.uniqueness_s
    anything else                   -> engine.other_s
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

PHASES = (
    "engine.scan_rules_s",
    "operators.uniqueness_s",
    "operators.referential_s",
    "engine.verdicts_s",
    "run.write_s",
    "run.metrics_fold_s",
    "engine.other_s",
)

# name -> unit of every per-layer metric, in BENCHMARK.json order
LAYER_METRICS = {
    "functions.audio.kernel_ms_per_clip": "ms",
    "functions.audio.udf_body_ms_per_clip": "ms",
    "functions.audio.python_s": "s",
    "functions.audio.exec_share": "ratio",
    "functions.audio.udf_profile_s": "s",
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "engine.plan_build_s": "s",
    "engine.plan_nodes": "count",
    "engine.plan_exchanges": "count",
    **{p: "s" for p in PHASES},
    "manifest.snapshot_s": "s",
    "shuffle.bytes_written": "B",
    "shuffle.spill_bytes": "B",
    "write.files": "count",
    "dedup_state.sig_s": "s",
    "dedup.candidates": "count",
    "dedup.verified_ratio": "ratio",
    "dedup.hot_buckets_dropped": "count",
    "store.live_dirs": "count",
    "store.bytes": "B",
    "store.compact_s": "s",
    "stream.epoch_s": "s",
    "stream.jobs_per_epoch": "count",
    "stream.seen_log_partitions_read": "count",
    "jvm.gc_s": "s",
    "python.workers_spawned": "count",
    "trace.run_s": "s",
    "cold_run_s": "s",
}


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: spans and notes cost nothing."""

    def span(self, spark, name: str):
        return contextlib.nullcontext()

    def note(self, name: str, value: float) -> None:
        pass


def _now_ms() -> float:
    return time.time() * 1000.0


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


class Tracer(NullTracer):
    def __init__(self):
        self.units: list[tuple[int, float, float]] = []  # (unit, start ms, end ms)
        self.spans: list[tuple[str, int, float, float]] = []
        self.notes: list[dict[str, float]] = []
        self.driver: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self._unit = -1
        self._gc0 = 0
        self._t0 = 0.0

    @contextlib.contextmanager
    def span(self, spark, name: str):
        spark.sparkContext.setJobGroup(name, f"unit {self._unit}: {name}")
        t0 = _now_ms()
        try:
            yield
        finally:
            self.spans.append((name, self._unit, t0, _now_ms()))
            spark.sparkContext.setJobGroup(f"unit-{self._unit}", f"unit {self._unit}")

    def note(self, name: str, value: float) -> None:
        self.notes[-1][name] = self.notes[-1].get(name, 0.0) + value

    def begin_unit(self, spark, k: int) -> None:
        self._unit = k
        self.notes.append({})
        spark.sparkContext.setJobGroup(f"unit-{k}", f"unit {k}")
        if k == 0 and spark.conf.get("spark.sql.pyspark.udf.profiler", None):
            spark._profiler_collector.clear_perf_profiles()
        self._gc0 = _gc_ms(spark)
        self._t0 = _now_ms()

    def end_unit(self, spark, k: int, wall_s: float, out_files: int) -> None:
        self.units.append((k, self._t0, _now_ms()))
        self.note("jvm.gc_s", (_gc_ms(spark) - self._gc0) / 1000.0)
        self.note("write.files", out_files)
        self.note("trace.run_s", wall_s)
        spark.sparkContext.setJobGroup("perfbench", "outside units")

    def driver_spans(self, spark, wl) -> None:
        """Layer timings the benchmark takes in the driver, after the units."""
        self.driver.update(wl.driver_layers(spark))
        prof = spark.conf.get("spark.sql.pyspark.udf.profiler", None)
        if prof:
            results = spark._profiler_collector._perf_profile_results
            total = sum(st.total_tt for st in results.values())
            self.driver["functions.audio.udf_profile_s"] = total / max(1, len(self.units))

    # ------------------------------------------------------------ event log

    def metrics(self, event_dir: str, wl, rss, phases: list[str]) -> dict:
        log = EventLog(event_dir)
        per_unit: list[dict[str, float]] = []
        for (k, t0, t1), notes in zip(self.units, self.notes):
            m = dict.fromkeys(LAYER_METRICS, 0.0)
            m.update(log.unit_metrics(t0, t1, [s for s in self.spans if s[1] == k]))
            if not wl.audio:  # the only Python UDF in a unit is the decode check
                for name in ("functions.audio.python_s", "functions.audio.exec_share"):
                    m[name] = 0.0
            m.update(notes)
            if m["dedup.candidates"]:
                m["dedup.verified_ratio"] = m.get("dedup.verified_pairs", 0) / m["dedup.candidates"]
            per_unit.append(m)
        timed = [u for u, phase in zip(per_unit, phases) if phase == "timed"]
        out = {}
        for name, unit in LAYER_METRICS.items():
            vals = [u[name] for u in timed]
            self.samples[name] = [u[name] for u in per_unit]
            out[name] = {"value": float(statistics.median(vals)), "unit": unit}
        for name, value in self.driver.items():
            out[name] = {"value": float(value), "unit": LAYER_METRICS[name]}
            self.samples[name] = [value]
        out["python.workers_spawned"] = {"value": float(rss.python_pids()), "unit": "count"}
        # the first unit of a fresh session: JIT, class loading, first codegen
        out["cold_run_s"] = {"value": per_unit[0]["trace.run_s"], "unit": "s"}
        self.samples["cold_run_s"] = [per_unit[0]["trace.run_s"]]
        return out


class EventLog:
    """The parts of a Spark JSON event log the layer metrics need."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.task_sql: dict[int, dict[str, int]] = {}  # stage -> SQL metric name -> sum
        self.accums: dict[int, int] = {}  # accumulator id -> value
        self.plans: dict[int, dict] = {}  # execution id -> latest plan
        self.exec_start: dict[int, float] = {}
        files = [
            f
            for f in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
        ]
        for path in sorted(files):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "t": e["Submission Time"],
                "stages": e["Stage IDs"],
                "exec": props.get("spark.sql.execution.id"),
                "batch": props.get("streaming.sql.batchId"),
            }
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = set()
            for rdd in si.get("RDD Info", []):
                if rdd.get("Scope"):
                    scopes.add(json.loads(rdd["Scope"])["name"].strip())
            acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", []) if "Name" in a}
            self.stages[si["Stage ID"]] = {"name": si["Stage Name"], "scopes": scopes, "acc": acc}
        elif kind == "SparkListenerTaskEnd":
            sums = self.task_sql.setdefault(e["Stage ID"], {})
            for a in e["Task Info"].get("Accumulables", []):
                try:
                    upd = int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                self.accums[a["ID"]] = self.accums.get(a["ID"], 0) + upd
                name = a.get("Name", "")
                if not name.startswith("internal."):
                    sums[name] = sums.get(name, 0) + upd
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.accums[acc_id] = self.accums.get(acc_id, 0) + int(value)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
            if kind == "SparkListenerSQLExecutionStart":
                self.exec_start[e["executionId"]] = e["time"]

    def unit_metrics(self, t0: float, t1: float, spans: list) -> dict[str, float]:
        jobs = {j: v for j, v in self.jobs.items() if t0 <= v["t"] <= t1}
        # jobs of the dedup calls have spans of their own and no engine phase
        dedup = {
            j
            for j, v in jobs.items()
            for name, _, s0, s1 in spans
            if name.startswith(("dedup", "store")) and s0 <= v["t"] <= s1
        }
        stages = sorted({s for v in jobs.values() for s in v["stages"] if s in self.stages})
        phase_stages = {
            s for j, v in jobs.items() if j not in dedup for s in v["stages"] if s in self.stages
        }
        m: dict[str, float] = {p: 0.0 for p in PHASES}
        run_ms = py_ms = 0
        for s in stages:
            st = self.stages[s]
            ms = int(st["acc"].get("internal.metrics.executorRunTime") or 0)
            run_ms += ms
            if s in phase_stages:
                m[_phase(st)] += ms / 1000.0
            sql = self.task_sql.get(s, {})
            py_ms += sql.get("time to run Python workers", 0)
            m["arrow.bytes_to_python"] = m.get("arrow.bytes_to_python", 0) + sql.get(
                "data sent to Python workers", 0
            )
            m["arrow.bytes_from_python"] = m.get("arrow.bytes_from_python", 0) + sql.get(
                "data returned from Python workers", 0
            )
            acc = st["acc"]
            m["shuffle.bytes_written"] = m.get("shuffle.bytes_written", 0) + int(
                acc.get("internal.metrics.shuffle.write.bytesWritten") or 0
            )
            m["shuffle.spill_bytes"] = m.get("shuffle.spill_bytes", 0) + int(
                acc.get("internal.metrics.memoryBytesSpilled") or 0
            ) + int(acc.get("internal.metrics.diskBytesSpilled") or 0)
        m["functions.audio.python_s"] = py_ms / 1000.0
        m["functions.audio.exec_share"] = py_ms / run_ms if run_ms else 0.0

        execs = {e for e, t in self.exec_start.items() if t0 <= t <= t1}
        nodes = exchanges = 0
        # nested executions repeat plan nodes: sum each accumulator once
        partitions: set[int] = set()
        cand: set[int] = set()
        hot: set[int] = set()
        for e in execs:
            for node in _walk(self.plans.get(e, {})):
                name = node.get("nodeName", "")
                nodes += 1
                exchanges += "Exchange" in name
                simple = node.get("simpleString", "")
                # the seen-keys log, known by its columns (the path in the
                # node string may be abbreviated)
                if name.startswith("Scan") and "first_epoch#" in simple:
                    partitions.add(_acc_id(node, "number of partitions read"))
                if name == "BroadcastExchange":
                    agg = next(
                        (c for c in _walk(node, "BroadcastExchange") if c["nodeName"] == "HashAggregate"),
                        None,
                    )
                    # the distinct (a_id, b_id) candidate pairs of the verify join
                    if agg and "keys=[a_id" in agg.get("simpleString", ""):
                        cand.add(_acc_id(node, "number of output rows"))
                if name == "BroadcastHashJoin" and "LeftAnti" in simple:
                    # the hot buckets a hot-bucket cap drops
                    for c in node.get("children", []):
                        b = next((b for b in _walk(c) if b["nodeName"] == "BroadcastExchange"), None)
                        if b:
                            hot.add(_acc_id(b, "number of output rows"))
        m["engine.plan_nodes"] = nodes
        m["engine.plan_exchanges"] = exchanges
        m["dedup.candidates"] = sum(self.accums.get(a, 0) for a in cand)
        m["dedup.hot_buckets_dropped"] = sum(self.accums.get(a, 0) for a in hot)
        n_partitions = sum(self.accums.get(a, 0) for a in partitions)

        batches: dict[str, int] = {}
        for v in jobs.values():
            if v["batch"] is not None:
                batches[v["batch"]] = batches.get(v["batch"], 0) + 1
        if batches:
            m["stream.jobs_per_epoch"] = sum(batches.values()) / len(batches)
            m["stream.seen_log_partitions_read"] = n_partitions / len(batches)

        for name, _, s0, s1 in spans:
            if name == "dedup_state.sig":
                span_jobs = [v for v in jobs.values() if s0 <= v["t"] <= s1]
                m["dedup_state.sig_s"] = m.get("dedup_state.sig_s", 0) + sum(
                    int(self.stages[s]["acc"].get("internal.metrics.executorRunTime") or 0)
                    for v in span_jobs
                    for s in v["stages"]
                    if s in self.stages
                ) / 1000.0
            elif name == "store.compact":
                m["store.compact_s"] = m.get("store.compact_s", 0) + (s1 - s0) / 1000.0
        return m


def _walk(node: dict, stop: str | None = None):
    """Pre-order walk; below the root, do not enter nodes named ``stop``."""
    if not node:
        return
    yield node
    for c in node.get("children", []):
        if c.get("nodeName") != stop:
            yield from _walk(c, stop)


def _acc_id(node: dict, metric: str) -> int:
    return next((m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == metric), -1)


def _phase(stage: dict) -> str:
    s = stage["scopes"]
    if "WriteFiles" in s:
        return "run.write_s"
    if stage["name"].startswith("collect"):
        return "run.metrics_fold_s"
    if "SortAggregate" in s:
        return "engine.verdicts_s"
    if "BroadcastExchange" in s:
        return "operators.referential_s"
    if "Generate" in s or "ArrowEvalPython" in s:
        return "engine.scan_rules_s"
    if "Exchange" in s and any(x.startswith("Scan") for x in s):
        return "operators.uniqueness_s"
    return "engine.other_s"

"""Round-6 measurement harness (guide §1) — NOT the driver bench.

``bench.py`` is frozen for measurement; this file holds the extra
instrumentation the optimization round needs:

  --plans  [names...]   write .explain("formatted") for each query to
                        plans/r06/<name>_<tag>.txt (tag via --tag)
  --normalize           with --plans: strip expression ids (#NNN),
                        plan_id=NNN and lambda-variable names, so dumps
                        of two builds of the same plan diff byte-for-byte
  --time   [names...]   time each query with the bench protocol
                        (count + clearCache), N repeats via --repeats
  --noop   [names...]   time with the noop sink instead of count()
  --timeline            run the benchmark's clips_decode units (its session,
                        input and warm-up, seed via --seed) with the Spark
                        event log on, then print every job of the --units
                        warm units after the warm-up: wall, gap before it,
                        tasks, executor ms and operator scopes, plus each
                        unit's plan exchanges. The stage breakdown behind a
                        clips_decode perf claim; run it on both sides.

Same session config and env contract as bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS), except --timeline, which uses perfbench's.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (reuse the frozen session builder)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_LAMBDA_VAR = re.compile(r"\blambda \w+")


def normalize_plan(txt: str) -> str:
    """Drop the parts of an explain string that differ between two builds
    of the same plan: expression ids, plan ids and lambda-variable names
    (PySpark numbers its lambda variables, SQL text names them)."""
    txt = _EXPR_ID.sub("#", txt)
    txt = _PLAN_ID.sub("plan_id=", txt)
    return _LAMBDA_VAR.sub("lambda v", txt)


def timeline(seed: int, n_units: int) -> None:
    """Job timeline of ``n_units`` warm clips_decode units (see --timeline)."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import layers
    import session
    import workloads

    class Jobs(layers.EventLog):
        """The event log plus job ends, stage task counts and job groups."""

        def __init__(self, event_dir: str):
            self.ends: dict[int, float] = {}
            self.tasks: dict[int, int] = {}
            self.groups: dict[int, str] = {}
            super().__init__(event_dir)

        def _add(self, e: dict) -> None:
            super()._add(e)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobEnd":
                self.ends[e["Job ID"]] = e["Completion Time"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.groups[e["Job ID"]] = props.get("spark.jobGroup.id", "")
            elif kind == "SparkListenerStageCompleted":
                self.tasks[e["Stage Info"]["Stage ID"]] = e["Stage Info"]["Number of Tasks"]

    os.makedirs(os.path.join(REPO, ".bench_data"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="timeline-", dir=os.path.join(REPO, ".bench_data"))
    try:
        session.prepare_env(work)
        wl = workloads.clips_decode(seed, os.path.join(work, "in"))
        wl.prepare()
        events = os.path.join(work, "events")
        spark = session.build_session(work, events)
        units = []
        try:
            session.warm_up(spark)
            wl.stage(spark)
            wl.first_read(spark)
            for k in range(1 + wl.warm_up_units + n_units):
                out = os.path.join(work, "out", str(k))
                spark.sparkContext.setJobGroup(f"unit-{k}", f"unit {k}")
                t0 = time.time() * 1000.0
                wl.unit(spark, out, layers.NullTracer())
                units.append((k, t0, time.time() * 1000.0))
                workloads.clear(out)
        finally:
            session.stop_session(spark)
        log = Jobs(events)
        for k, t0, t1 in units[1 + wl.warm_up_units:]:
            jobs = sorted((v["t"], j) for j, v in log.jobs.items() if t0 <= v["t"] <= t1)
            exchanges = log.unit_metrics(t0, t1, [])["engine.plan_exchanges"]
            print(f"unit {k}: {t1 - t0:.0f} ms, {len(jobs)} jobs, {exchanges:.0f} plan exchanges")
            print(f"  {'job':>5} {'start':>6} {'wall':>6} {'gap':>5} {'tasks':>5} {'exec':>6}  group / scopes")
            done = t0  # the latest end of the jobs so far
            for start, j in jobs:
                stages = [s for s in log.jobs[j]["stages"] if s in log.stages]
                end = log.ends.get(j, start)
                scopes = sorted({x for s in stages for x in log.stages[s]["scopes"]})
                run_ms = sum(
                    int(log.stages[s]["acc"].get("internal.metrics.executorRunTime") or 0)
                    for s in stages
                )
                print(
                    f"  {j:>5} {start - t0:>6.0f} {end - start:>6.0f} {max(0.0, start - done):>5.0f}"
                    f" {sum(log.tasks.get(s, 0) for s in stages):>5} {run_ms:>6}"
                    f"  {log.groups.get(j, '')} / {', '.join(scopes)[:110]}"
                )
                done = max(done, end)
            print(f"  after the last job: {max(0.0, t1 - done):.0f} ms")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--normalize", action="store_true")
    ap.add_argument("--timeline", action="store_true")
    ap.add_argument("--seed", type=int, default=3, help="--timeline input seed")
    ap.add_argument("--units", type=int, default=3, help="--timeline warm units")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)
    if args.timeline:
        timeline(args.seed, args.units)
        return 0

    spark = bench.build_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs = e.queries()
    names = args.names or bench.QUERY_NAMES
    # same untimed warmup as bench.py
    spark.range(1_000_000).selectExpr("xxhash64(string(id)) AS h").agg(
        {"h": "max"}
    ).collect()

    plans_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)
    timings: dict[str, list[float]] = {}
    for name in names:
        if args.plans:
            df = qs[name](spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            if args.normalize:
                txt = normalize_plan(txt)
            with open(
                os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(txt)
            spark.catalog.clearCache()
        if args.time or args.noop:
            samples = []
            for _ in range(args.repeats):
                spark.sparkContext.setJobDescription(f"r06:{name}")
                t0 = time.monotonic()
                df = qs[name](spark, SF_DIR)
                if args.noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                samples.append(round(time.monotonic() - t0, 3))
                spark.sparkContext.setJobDescription(None)
                spark.catalog.clearCache()
            timings[name] = samples
            print(json.dumps({name: samples}), flush=True)
    if timings:
        print(json.dumps({"all": timings}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Closed-loop benchmark of anzlic_validator_spark on one host.

    python3 perfbench/run.py --workload clips_decode --seed 1 --seconds 12 --trace 0

One driver process runs Spark at ``local[nproc]`` and issues one Spark
action at a time (one client, closed loop). A run:

1. makes the workload's inputs from ``--seed`` under ``.bench_data/perfbench``;
2. times set-up: JVM launch, Python workers, a warm-up action and a first
   read of the staged input (fixture synthesis is excluded);
3. runs the first unit in the fresh session (``cold_run_s``, a traced
   metric: one sample per JVM launch is too noisy to bound) and a few
   untimed warm-up units, then times units until ``--seconds`` have
   passed (``run_s`` is their median);
4. checks every unit's output against the workload's census;
5. prints the samples behind each median, then, as the last line, one JSON
   object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with the
Spark event log on (and the Python UDF profiler for ``clips_decode``), tags
each call with a job group and reports the per-layer metrics instead.
``--smoke`` shrinks every workload for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


# the fewest timed units a run takes the median of, whatever ``--seconds``
MIN_TIMED = 2


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    import layers
    import session
    from workloads import WORKLOADS, clear

    started = time.perf_counter()
    work = os.path.join(ROOT, ".bench_data", "perfbench", f"{workload}-{seed}-{os.getpid()}")
    clear(work)
    os.makedirs(work)
    try:
        session.prepare_env(work)
        wl = WORKLOADS[workload](seed, os.path.join(work, "in"), smoke=smoke)
        wl.prepare()
        events = os.path.join(work, "events") if trace else None
        tracer = layers.Tracer() if trace else None
        with session.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = session.build_session(work, events, udf_profile=trace and wl.audio)
            try:
                t1 = time.perf_counter()
                session.warm_up(spark)
                t2 = time.perf_counter()
                wl.stage(spark)
                t3 = time.perf_counter()
                wl.first_read(spark)
                t4 = time.perf_counter()
                units = _units(spark, wl, os.path.join(work, "out"), seconds, tracer)
                if tracer:
                    tracer.driver_spans(spark, wl)
            finally:
                session.stop_session(spark)
        layer_metrics = tracer.metrics(events, wl, rss, [u["phase"] for u in units]) if tracer else None
    finally:
        clear(work)

    setup = (t2 - t0) + (t4 - t3)
    walls = [u["wall_s"] for u in units]
    ok = [u for u in units if not u["problems"]]
    failed = len(units) - len(ok)
    timed = [u["wall_s"] for u in units if u["phase"] == "timed"]
    run_s = statistics.median(timed)
    out_bytes = [u["bytes"] / wl.rows for u in ok]
    detail = {
        "workload": workload,
        "seed": seed,
        "rows_per_unit": wl.rows,
        "setup_s": setup,
        "setup_phases_s": {
            "launch_s": t1 - t0,
            "warm_up_s": t2 - t1,
            "stage_s": t3 - t2,
            "first_read_s": t4 - t3,
        },
        "unit_s": walls,
        "unit_phase": [u["phase"] for u in units],
        "output_bytes_per_row": out_bytes,
        "problems": [p for u in units for p in u["problems"]][:20],
        "total_s": time.perf_counter() - started,
    }
    if tracer:
        metrics = layer_metrics
        detail["layer_samples"] = tracer.samples
    else:
        metrics = {
            "setup_s": _metric(setup, "s"),
            "run_s": _metric(run_s, "s"),
            "rows_per_s": _metric(wl.rows / run_s, "rows/s"),
            "peak_rss_mb": _metric(rss.peak_kb / 1024.0, "MB"),
            "output_bytes_per_row": _metric(
                statistics.median(out_bytes) if out_bytes else 0.0, "B/row"
            ),
            "success_rate": _metric(len(ok) / len(units), "ratio"),
        }
    print(json.dumps({"detail": detail}))
    return {"correct": failed == 0, "attempted": len(units), "failed": failed, "metrics": metrics}


def _units(spark, wl, out_root: str, seconds: float, tracer) -> list[dict]:
    """The cold unit, ``wl.warm_up_units`` untimed units, then the timed
    window: units until ``seconds`` have passed and at least ``MIN_TIMED``
    units have run. Warm units keep getting faster for tens of seconds while
    the JVM compiles the hot paths; a warm-up counted in units puts the
    window at the same point of that curve in every run. Every output is
    checked against the census (untimed) and then deleted."""
    import layers
    from workloads import clear

    spans = tracer or layers.NullTracer()
    units: list[dict] = []
    n_timed, deadline = 0, None
    while n_timed < MIN_TIMED or time.perf_counter() < deadline:
        k = len(units)
        if k == 0:
            phase = "cold"
        elif k <= wl.warm_up_units:
            phase = "warm_up"
        else:
            phase = "timed"
            if deadline is None:
                deadline = time.perf_counter() + seconds
            n_timed += 1
        out = os.path.join(out_root, str(k))
        if tracer:
            tracer.begin_unit(spark, k)
        t = time.perf_counter()
        try:
            result = wl.unit(spark, out, spans)
            wall = time.perf_counter() - t
            problems = wl.check(result, out)
        except Exception as exc:  # a failed unit counts against success_rate
            wall = time.perf_counter() - t
            problems = [f"{type(exc).__name__}: {exc}"]
        nbytes, nfiles = wl.output_bytes(out)
        if tracer:
            tracer.end_unit(spark, k, wall, nfiles)
        units.append(
            {
                "phase": phase,
                "wall_s": wall,
                "bytes": nbytes,
                "problems": [f"unit {k}: {p}" for p in problems],
            }
        )
        clear(out)
    return units


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = ap.parse_args(argv)
    try:
        import anzlic_validator_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

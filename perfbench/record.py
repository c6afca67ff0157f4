"""Record a baseline: run every workload of BENCHMARK.json over several
seeds, untraced and traced, and write every sample and its quartiles.

    python3 perfbench/record.py --seeds 101-110 --traced-seeds 201-203 \\
        --out perfbench/BASELINE_4core.json

The spread of a metric is (q3 - q1) / median over the untraced runs, with
the quartiles of ``statistics.quantiles(values, n=4)``. The tracing
overhead is the traced ``run_s`` median minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    total = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: {detail['problems']}")
    print(workload, seed, trace, f"{total:.1f}s", file=sys.stderr, flush=True)
    return detail, result, total


def _summary(values: list[float], unit: str) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"unit": unit, "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "samples": values}


def record(spec: dict, workloads: list[str], seeds: list[int], traced: list[int]) -> dict:
    secs = spec["run_seconds"]
    out = {}
    for w in workloads:
        runs = [_run(w, s, secs, 0) for s in seeds]
        e2e = {m["name"]: _summary([r[1]["metrics"][m["name"]]["value"] for r in runs],
                                   m["unit"]) for m in spec["end_to_end"]}
        traces = [_run(w, s, secs, 1) for s in traced]
        layer = {}
        for m in spec["per_layer"]:
            vals = [r[1]["metrics"][m["name"]]["value"] for r in traces]
            layer[m["name"]] = {"unit": m["unit"], "median": statistics.median(vals), "samples": vals}
        out[w] = {
            "seeds": seeds,
            "rows_per_unit": runs[0][0]["rows_per_unit"],
            "end_to_end": e2e,
            "unit_s_per_run": [r[0]["unit_s"] for r in runs],
            "unit_phase_per_run": [r[0]["unit_phase"] for r in runs],
            "setup_phases_s_per_run": [r[0]["setup_phases_s"] for r in runs],
            "run_total_s": _summary([r[2] for r in runs], "s"),
            "traced_seeds": traced,
            "per_layer": layer,
            "tracing_overhead_s": layer["trace.run_s"]["median"] - e2e["run_s"]["median"],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--traced-seeds", default="201-203")
    ap.add_argument("--workloads", help="comma-separated; default: those of BENCHMARK.json")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    import pyspark

    doc = {
        "host": f"{os.cpu_count()} cores (nproc {len(os.sched_getaffinity(0))}), "
                f"{platform.system()} {platform.machine()}, Python {platform.python_version()}, "
                f"pyspark {pyspark.__version__}",
        "note": "numbers at local[nproc] on the host above; the BENCH_r0x figures were "
                "taken at local[32] on another host and are history, not a baseline",
        "command": " ".join(spec["command"]) + " --workload <w> --seed <s> "
                   f"--seconds {spec['run_seconds']} --trace <0|1>",
        "workloads": record(spec, workloads, _seeds(args.seeds), _seeds(args.traced_seeds)),
    }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

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

Same session config and env contract as bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
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


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--normalize", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)

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

"""One workload run in this process: start the pinned Spark session, run the
workload, stop the JVM, write the result JSON.

Started by perfbench/run.py as ``python3 -m perfbench.workload`` from the
repository root; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from statistics import median

from . import crawl_workload, query_workload, spark_env
from .trace import Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"crawl": crawl_workload, "query_suite": query_workload}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    with open(os.path.join(HERE, "spec.json")) as f:
        cfg = json.load(f)["workloads"][args.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tracer = Tracer(enabled=bool(args.trace))

    steal0 = spark_env.cpu_steal_s()
    t = time.time()
    spark = spark_env.start(args.tmp, root, trace=tracer.enabled)
    session_s = time.time() - t
    try:
        res = WORKLOADS[args.workload].run(
            spark, cfg, args.seed, args.seconds, args.tmp, tracer
        )
    finally:
        spark_env.stop(spark)

    setup_s = session_s + res["setup_s"]
    op_times = res["op_times"]
    measured = {
        "setup_s": setup_s,
        "wall_s": res["wall_s"],
        "op_p50_s": median(op_times) if op_times else 0.0,
        "items_per_s": res["items"] / res["wall_s"],
        "peak_rss_mb": sum(res["peak_rss"].values()),
    }
    report = list(res["report"])
    report.append(
        f"{args.workload}: peak RSS by process (MB): "
        + ", ".join(f"{k}={v:.0f}" for k, v in res["peak_rss"].items())
    )
    report.append(
        f"{args.workload}: session start {session_s:.2f}s, CPU time stolen by the "
        f"hypervisor {spark_env.cpu_steal_s() - steal0:.2f}s, "
        f"{spark_env.settings(args.tmp, tracer.enabled)}"
    )
    report.append(
        f"{args.workload}: {len(op_times)} ops, items {res['items']}; "
        + ", ".join(f"{k}={v:.4g}" for k, v in measured.items())
    )
    if tracer.enabled:
        layers = dict(res.get("layers", {}))
        layers["trace.wall_s"] = res["wall_s"]
        layers["trace.setup_s"] = setup_s
        spans = tracer.within(*res["timed"])
        lazy = {s["name"] for s in spans if s["lazy"]}
        report.append(
            "self time by span, timed region (s; * = returns a lazy DataFrame, "
            "the rest of its work is in the action that runs it): "
            + ", ".join(
                f"{k}{'*' if k in lazy else ''}={v:.2f}"
                for k, v in sorted(self_times(spans).items(), key=lambda kv: -kv[1])
            )
        )
        report.append(
            f"tracing overhead: compare trace.wall_s={res['wall_s']:.2f}s with the "
            "median wall_s of untraced runs"
        )
        # layers this workload never enters read 0
        wanted = bench["per_layer"]
        source = layers
    else:
        wanted = bench["end_to_end"]
        source = measured
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
        "report": report,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()

"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run from the repository root. Each workload runs in a fresh child process
(and so a fresh JVM) with its own temp dir under ``.perfbench_tmp/``; both are
removed afterwards, and every process the run started has ended before this
script exits. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with ``--trace 1``). A human-readable
report goes to stderr. ``--workload all`` runs every workload in turn and
prints a table; its JSON line prefixes each metric with the workload name.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.spark_env import children  # noqa: E402

WORKLOADS = ("crawl", "query_suite")
PR_SET_CHILD_SUBREAPER = 36


def child_timeout_s(seconds: float) -> float:
    """How long a workload child may run: set-up and verification take up
    to about 110 s on top of a timed region of a few times ``seconds``."""
    return 110 + 4 * seconds


def _descendants() -> list[int]:
    """Live processes below this one."""
    kids = children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap_all() -> None:
    """Kill whatever the child left behind and wait for it. As subreaper,
    orphaned grandchildren (the JVM, Python workers) are re-parented here."""
    deadline = time.time() + 20
    while True:
        left = _descendants()
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if time.time() > deadline:
            raise RuntimeError(f"processes did not exit: {left}")
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.workload", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--tmp", tmp, "--out", out,
    ]
    env = {**os.environ, "PYTHONPATH": ROOT}
    try:
        # the child's stdout carries Spark and engine chatter: keep it off ours
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
        timeout = child_timeout_s(seconds)
        try:
            rc = child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"{workload}: timed out after {timeout:.0f}s", file=sys.stderr)
            child.kill()
            child.wait()
            rc = -1
        _reap_all()
        if rc != 0 or not os.path.exists(out):
            print(f"{workload}: run failed (exit {rc})", file=sys.stderr)
            return None
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p for p in ("paperchase_crawler_spark", "oracle", "scripts", "__spark_entry__.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"not a paperchase-spark checkout (missing {missing}) at {ROOT}", file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        res = run_one(name, args.seed, args.seconds, args.trace)
        if res is None:
            return 1
        for line in res.pop("report"):
            print(line, file=sys.stderr)
        results[name] = res
    try:
        os.rmdir(os.path.join(ROOT, ".perfbench_tmp"))
    except OSError:  # another run's temp dir is still there
        pass

    if args.workload != "all":
        print(json.dumps(results[args.workload]))
        return 0
    for name, res in results.items():
        print(f"{name}: correct={res['correct']} ops attempted={res['attempted']} failed={res['failed']}")
        for m, v in res["metrics"].items():
            print(f"  {m:<40} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{m}": v for n, r in results.items() for m, v in r["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""In-memory spans around the engine's layer entry points, and a fold of the
Spark event log, for the traced run.

The engine is not modified: ``Tracer.wrap`` replaces a public function or
method with a wrapper for the life of the benchmark process only. A span
records its name, start, end, parent span, thread and attributes. A call that
returns a lazy DataFrame is marked ``lazy``: its span covers planning plus
any eager jobs the call runs itself, and the rest of its work is timed by the
span of the action that later runs it.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    the untraced runs execute the same workload code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads with no open span of their own
        # (the crawl's commit-pool threads): the op span open on the caller
        self.op_span: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, lazy: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else self.op_span,
            "thread": threading.current_thread().name,
            "lazy": lazy,
            "attrs": attrs,
            "start": time.time(),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, name: str):
        """A span for one benchmark op; spans opened on other threads while
        it is open (the crawl's commit pool) become its children."""
        with self.span(name) as rec:
            self.op_span = rec["id"] if rec else None
            try:
                yield
            finally:
                self.op_span = None

    def wrap(self, owner, attr: str, name: str, lazy: bool = False, attrs_fn=None):
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = attrs_fn(args, kwargs) if attrs_fn else {}
            with self.span(name, lazy=lazy, **attrs):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def within(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if s["start"] >= t0 and s["end"] <= t1]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the part of each span's interval that
    its child spans cover (children on other threads included)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        dur = s["end"] - s["start"]
        out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
    return out


def _timed_batches(fn, acc):
    """A mapInArrow function that runs ``fn`` and adds to accumulator
    ``acc`` the seconds spent inside ``fn``, not counting the time ``fn``
    waits for its input batches."""

    def run(batches):
        waited = 0.0

        def inputs():
            nonlocal waited
            it = iter(batches)
            while True:
                t = time.perf_counter()
                rb = next(it, None)
                waited += time.perf_counter() - t
                if rb is None:
                    return
                yield rb

        out = fn(inputs())
        while True:
            t, w = time.perf_counter(), waited
            rb = next(out, None)
            acc.add(time.perf_counter() - t - (waited - w))
            if rb is None:
                return
            yield rb

    return run


def _timed_call(fn, acc):
    """A one-argument pandas UDF function (BloomSeen.build's kernel) that
    runs ``fn`` and adds its seconds to ``acc``. It must keep the one named
    argument: Spark passes the group key to two-argument functions."""

    def run(pdf):
        t = time.perf_counter()
        try:
            return fn(pdf)
        finally:
            acc.add(time.perf_counter() - t)

    return run


def install_crawl_spans(tracer: Tracer, spark) -> dict:
    """Spans at the crawl's layer boundaries: every IceTable write method
    (sources.icetable), the zone-pruned SELECT (operators.frontier_select)
    and the Bloom operators (operators.seen).

    Returns the kernel clocks: accumulators of the seconds the executors
    spend inside the image-fetch kernel (functions.spark_udfs) and the
    Bloom shard-build kernel (operators.seen), summed over tasks. Spans on
    the driver cannot see that time: both kernels run lazily, inside the
    corpus and bloom_shards commits."""
    import os

    from pyspark.sql.group import GroupedData

    from paperchase_crawler_spark.operators import seen
    from paperchase_crawler_spark.plans import crawl
    from paperchase_crawler_spark.sources.icetable import IceTable

    clocks = {
        "fetch_images": spark.sparkContext.accumulator(0.0),
        "bloom_build": spark.sparkContext.accumulator(0.0),
    }
    fetch_images = crawl.fetch_images_map_in_arrow
    crawl.fetch_images_map_in_arrow = functools.wraps(fetch_images)(
        lambda *a, **k: _timed_batches(fetch_images(*a, **k), clocks["fetch_images"])
    )
    # BloomSeen.build hands its kernel to applyInPandas: while a build runs
    # on a thread, that thread's applyInPandas calls get the timed kernel
    in_build = threading.local()
    apply_in_pandas = GroupedData.applyInPandas

    @functools.wraps(apply_in_pandas)
    def timed_apply_in_pandas(self, func, schema):
        if getattr(in_build, "on", False):
            func = _timed_call(func, clocks["bloom_build"])
        return apply_in_pandas(self, func, schema)

    GroupedData.applyInPandas = timed_apply_in_pandas
    build = seen.BloomSeen.build

    @functools.wraps(build)
    def flagged_build(*args, **kwargs):
        in_build.on = True
        try:
            return build(*args, **kwargs)
        finally:
            in_build.on = False

    seen.BloomSeen.build = flagged_build

    def table_attrs(args, kwargs):
        meta = kwargs.get("meta") or {}
        return {"table": os.path.basename(args[0].path), "op": meta.get("op")}

    for method in (
        "append", "overwrite", "append_bucketed_delta", "overwrite_bucketed",
        "overwrite_buckets_partial", "commit_empty",
    ):
        tracer.wrap(IceTable, method, f"icetable.{method}", attrs_fn=table_attrs)
    # crawl.py binds these names at import, so they are wrapped where called
    tracer.wrap(crawl, "select_frontier_round", "frontier_select.select_frontier_round", lazy=True)
    tracer.wrap(crawl, "filter_new_bucketed", "seen.filter_new_bucketed", lazy=True)
    tracer.wrap(seen.BloomSeen, "build", "seen.BloomSeen.build", lazy=True)
    tracer.wrap(seen.BloomSeen, "probe", "seen.BloomSeen.probe", lazy=True)
    return clocks


def install_query_spans(tracer: Tracer) -> None:
    """Spans around the public DataFrame builders of operators.dedup and
    operators.similarity, which driver_queries calls through the module."""
    from paperchase_crawler_spark.operators import dedup, similarity

    for mod, names in (
        (dedup, ("jaccard_pairs", "minhash_lsh_pairs", "simhash_pairs",
                 "image_dup_pairs")),
        (similarity, ("cosine_topk_bruteforce", "lsh_bucketed_topk")),
    ):
        for name in names:
            tracer.wrap(mod, name, f"{mod.__name__.rsplit('.', 1)[-1]}.{name}", lazy=True)


# -- Spark event log -----------------------------------------------------------

PYTHON_METRICS = {
    "data sent to Python workers": "spark.python_sent_mb",
    "data returned from Python workers": "spark.python_returned_mb",
    "time to start Python workers": "spark.python_start_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_run_s",
}
SCALE = {"size": 2**-20, "timing": 1e-3, "nsTiming": 1e-9}


def _sql_metric_types(events: list[dict]) -> dict[int, str]:
    """accumulator id -> SQL metric type, from the physical plans."""
    out: dict[int, str] = {}
    todo = [
        e["sparkPlanInfo"] for e in events
        if e["Event"].endswith("SparkListenerSQLExecutionStart")
        or e["Event"].endswith("SparkListenerSQLAdaptiveExecutionUpdate")
    ]
    while todo:
        node = todo.pop()
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = m["metricType"]
        todo.extend(node.get("children", []))
    return out


def read_event_log(eventlog_dir: str) -> list[dict]:
    files = glob.glob(f"{eventlog_dir}/*")
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def fold_events(events: list[dict], t0: float, t1: float) -> dict:
    """Engine totals over jobs submitted in [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    jobs = [
        e for e in events
        if e["Event"] == "SparkListenerJobStart" and lo <= e["Submission Time"] <= hi
    ]
    stages = [
        e["Stage Info"] for e in events
        if e["Event"] == "SparkListenerStageCompleted"
        and lo <= e["Stage Info"].get("Submission Time", 0) <= hi
    ]
    tasks = [
        e for e in events
        if e["Event"] == "SparkListenerTaskEnd" and lo <= e["Task Info"]["Launch Time"] <= hi
    ]
    run_ms = cpu_ns = gc_ms = shuffle_b = out_b = 0
    types = _sql_metric_types(events)
    py = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    for e in tasks:
        m = e.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out_b += m.get("Output Metrics", {}).get("Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key is not None:
                scale = SCALE[types.get(acc["ID"], "size" if key.endswith("_mb") else "nsTiming")]
                py[key] += float(acc.get("Update", 0)) * scale
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.jvm_gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_b / 2**20,
        "spark.output_mb": out_b / 2**20,
        "max_stage_tasks": max((s.get("Number of Tasks", 0) for s in stages), default=0),
    }
    out.update(py)
    return out

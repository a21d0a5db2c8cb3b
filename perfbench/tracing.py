"""Traced runs: spans around the calls into each layer, Spark jobs per span.

Nothing in the engine is edited. ``Tracer.install`` wraps public
functions of the engine's modules at run time and ``uninstall`` puts
the originals back. Each span sets its own Spark job group, so the
jobs a span caused are read back afterwards from
``statusTracker().getJobIdsForGroup`` and the per-stage metrics from
the status store. Both work with ``spark.ui.enabled=false`` and run no
Spark job. Spans stay in memory until the run ends.

A span records name, start, end, parent span, operation id and job
group. Spans of one operation share the operation id, including the
spans the HTTP server's threads open: the client sends the id in the
``X-Perfbench-Op`` header.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JError

from common import median

OP_HEADER = "X-Perfbench-Op"
_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@contextmanager
def installed(tracer):
    """The tracer's wrappers in place for the block; no-op without one."""
    if tracer is None:
        yield
        return
    tracer.install()
    try:
        yield
    finally:
        tracer.uninstall()


def span(tracer, name: str, op: str | None = None):
    return nullcontext() if tracer is None else tracer.span(name, op=op)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._op_span: dict[str, int] = {}
        self._inflight: Counter = Counter()

    # ---- spans --------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]["id"]
        if op is None and stack:
            op = stack[-1]["op"]
        t_in = time.perf_counter()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "group": f"perfbench-{sid}", "thread": threading.current_thread().name}
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        prev_desc = self.sc.getLocalProperty(_DESC_KEY)
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        if op is not None and parent is None:
            self._op_span[op] = sid
        rec["start"] = time.time()
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            self.sc.setLocalProperty(_DESC_KEY, prev_desc)
            # time the span itself spends outside the traced call
            rec["bookkeeping_s"] = (t_body - t_in) + (time.perf_counter() - t_out)
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counters[name] += n

    # ---- run-time wrapping -----------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        traced.__wrapped__ = orig
        self._patch(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install(self) -> None:
        """Wrap every layer the workloads reach."""
        from blacklab_spark.corpus import Corpus
        from blacklab_spark.cql import engine, parser
        from blacklab_spark.index import build
        from blacklab_spark.search import bm25, cache, facade, results, server, webservice

        self.wrap(Corpus, "term_stats", "corpus.term_stats")
        self.wrap(bm25, "topk_bm25", "bm25.call")
        self.wrap(bm25, "topk_bm25_phrase", "bm25.call")
        self.wrap(parser, "parse", "cql.parse")
        self.wrap(engine, "translate", "cql.plan")
        self.wrap(facade, "search", "facade.search")
        self.wrap(webservice, "hits_response", "server.envelope")
        self.wrap(webservice, "docs_response", "server.envelope")
        self.wrap(server, "doc_contents_response", "server.envelope")
        self.wrap(build, "build_index", "build.index")
        self._wrap_results(results.Hits)
        self._wrap_collect(type(self.spark.range(1)))
        self._wrap_cache(cache.SearchCache)
        self._wrap_router(webservice)

    def _wrap_results(self, hits_cls) -> None:
        """DataFrames that ``Hits.window``/``Hits.kwic`` return are tagged;
        collecting a tagged frame is the results layer's collect."""
        window, kwic = hits_cls.__dict__["window"], hits_cls.__dict__["kwic"]

        def traced_window(h, *a, **kw):
            out = window(h, *a, **kw)
            out.df._perfbench_layer = "results"
            return out

        def traced_kwic(h, *a, **kw):
            out = kwic(h, *a, **kw)
            out._perfbench_layer = "results"
            return out

        self._patch(hits_cls, "window", traced_window)
        self._patch(hits_cls, "kwic", traced_kwic)

    def _wrap_collect(self, df_cls) -> None:
        collect = df_cls.__dict__["collect"]
        tracer = self

        def traced_collect(df):
            if getattr(df, "_perfbench_layer", None) != "results":
                return collect(df)
            with tracer.span("results.collect"):
                return collect(df)

        self._patch(df_cls, "collect", traced_collect)

    def _wrap_cache(self, cache_cls) -> None:
        """Counts lookups, hits, evictions and duplicate computes. A key
        is in flight from the miss that computes it until the request
        that missed ends; a second supplier call for a key in flight is
        a duplicate compute."""
        get_or_compute, drop = cache_cls.__dict__["get_or_compute"], cache_cls.__dict__["_drop"]
        tracer = self

        def traced_get(cache_obj, key, supplier):
            computed = []

            def counted_supplier():
                computed.append(True)
                with tracer._lock:
                    if tracer._inflight[key]:
                        tracer.counters["cache.duplicate_computes"] += 1
                    tracer._inflight[key] += 1
                held = getattr(tracer._local, "held_keys", None)
                if held is None:
                    held = tracer._local.held_keys = []
                held.append(key)
                return supplier()

            try:
                with tracer.span("cache.lookup"):
                    return get_or_compute(cache_obj, key, counted_supplier)
            finally:
                tracer.count("cache.lookups")
                if not computed:
                    tracer.count("cache.hits")
                if not tracer._stack():
                    tracer._release_keys()

        def traced_drop(cache_obj, key):
            tracer.count("cache.evictions")
            return drop(cache_obj, key)

        self._patch(cache_cls, "get_or_compute", traced_get)
        self._patch(cache_cls, "_drop", traced_drop)

    def _release_keys(self) -> None:
        held = getattr(self._local, "held_keys", None) or []
        with self._lock:
            for k in held:
                self._inflight[k] -= 1
        self._local.held_keys = []

    def _wrap_router(self, webservice) -> None:
        """``_Router.handle`` runs each request under a span (and so a job
        group) parented to the client's operation; the handler class
        hands the operation id from the request header to it."""
        handle = webservice._Router.__dict__["handle"]
        make_handler = webservice.__dict__["make_handler"]
        tracer = self

        def traced_handle(router, path, q, *a, **kw):
            op = getattr(tracer._local, "op", None)
            try:
                with tracer.span("webservice.handle", op=op, parent=tracer._op_span.get(op)):
                    return handle(router, path, q, *a, **kw)
            finally:
                tracer._release_keys()

        def traced_make_handler(*a, **kw):
            base = make_handler(*a, **kw)

            class Handler(base):
                def _respond(self, *ra, **rkw):
                    tracer._local.op = self.headers.get(OP_HEADER)
                    return super()._respond(*ra, **rkw)

            return Handler

        self._patch(webservice._Router, "handle", traced_handle)
        self._patch(webservice, "make_handler", traced_make_handler)

    # ---- read-back --------------------------------------------------------
    def read_jobs(self) -> dict[int, dict]:
        """Attach job ids to every span and return the job table, read
        from the status store once the listener bus has drained."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # not reachable through py4j on every version
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs: dict[int, dict] = {}
        for s in self.spans:
            s["jobs"] = sorted(tracker.getJobIdsForGroup(s["group"]))
            for j in s["jobs"]:
                if j not in jobs:
                    jobs[j] = _job_info(store, j)
        return jobs


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _job_info(store, job_id: int) -> dict:
    jd = store.job(job_id)
    sids = jd.stageIds()
    stages = []
    for i in range(sids.size()):
        try:
            sd = store.lastStageAttempt(sids.apply(i))
        except Py4JError:  # stage evicted or never attempted
            continue
        sub = _ms(sd.submissionTime())
        if sub is None:  # skipped: its output was reused
            continue
        launched = _ms(sd.firstTaskLaunchedTime())
        stages.append({
            "tasks": sd.numTasks(),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "output_bytes": sd.outputBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "scheduler_delay_s": (launched - sub) if launched is not None else 0.0,
        })
    return {"id": job_id, "start": _ms(jd.submissionTime()),
            "end": _ms(jd.completionTime()), "stages": stages}


# ---- aggregation -------------------------------------------------------------


class Trace:
    """Spans plus job table of one traced window, with the per-layer
    views the benchmark reports."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict], counters: Counter):
        self.spans = sorted(spans, key=lambda s: s["start"])
        self.jobs = jobs
        self.counters = counters
        self.by_id = {s["id"]: s for s in self.spans}
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] in self.by_id:
                self.children[s["parent"]].append(s)
        for s in self.spans:
            s["self_s"] = _self_time(s, self.children[s["id"]])

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s["id"]])
        return out

    def outermost(self, names: set[str]) -> list[dict]:
        """Spans named in ``names`` with no ancestor of the same set
        (a recursive call is part of its caller's span)."""
        out = []
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = self.by_id.get(s["parent"])
            while p is not None and p["name"] not in names:
                p = self.by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def job_ids(self, spans: list[dict]) -> set[int]:
        return {j for s in spans for sub in self.subtree(s) for j in sub.get("jobs", ())}

    def per_op(self, names: set[str], ops=None) -> dict[str, list[dict]]:
        grouped: dict[str, list[dict]] = defaultdict(list)
        for s in self.outermost(names):
            if ops is None or s["op"] in ops:
                grouped[s["op"]].append(s)
        return grouped

    def layer(self, names: set[str], ops=None) -> dict[str, float]:
        """Medians over operations (all, or those in ``ops``) of one
        layer's wall time, Spark work and driver gap (wall time with none
        of its jobs running). Zeros when no operation reached the layer."""
        rows = []
        for spans in self.per_op(names, ops).values():
            jobs = [self.jobs[j] for j in self.job_ids(spans) if j in self.jobs]
            stages = [st for j in jobs for st in j["stages"]]
            wall = sum(s["end"] - s["start"] for s in spans)
            busy = sum(
                _covered(s["start"], s["end"], [(j["start"], j["end"] or s["end"]) for j in jobs])
                for s in spans
            )
            rows.append({
                "s": wall,
                "jobs": len(jobs),
                "stages": len(stages),
                "tasks": sum(st["tasks"] for st in stages),
                "executor_run_s": sum(st["executor_run_s"] for st in stages),
                "shuffle_bytes": sum(st["shuffle_write_bytes"] for st in stages),
                "input_bytes": sum(st["input_bytes"] for st in stages),
                "output_bytes": sum(st["output_bytes"] for st in stages),
                "spill_bytes": sum(st["spill_bytes"] for st in stages),
                "driver_gap_s": wall - busy,
            })
        keys = ("s", "jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes",
                "input_bytes", "output_bytes", "spill_bytes", "driver_gap_s")
        return {k: median(r[k] for r in rows) for k in keys} | {"calls": len(rows)}

    def spark_totals(self, ops) -> dict[str, float]:
        """Over the operations in ``ops``: scheduler delay per operation
        (median), the most of their jobs running at once, and executor GC
        time per operation (mean)."""
        roots = [s for s in self.spans if s["parent"] is None and s["op"] in ops]
        delays, job_ids = [], set()
        for r in roots:
            ids = self.job_ids([r]) & self.jobs.keys()
            job_ids |= ids
            delays.append(sum(st["scheduler_delay_s"] for j in ids for st in self.jobs[j]["stages"]))
        jobs = [self.jobs[j] for j in job_ids]
        events = []
        for j in jobs:
            if j["start"] is not None and j["end"] is not None:
                events += [(j["start"], 1), (j["end"], -1)]
        running = peak = 0
        for _t, d in sorted(events, key=lambda e: (e[0], e[1])):
            running += d
            peak = max(peak, running)
        gc = sum(st["gc_s"] for j in jobs for st in j["stages"])
        return {"scheduler_delay_s": median(delays), "concurrent_jobs_max": peak,
                "gc_s": gc / max(1, len(roots))}

    def bookkeeping(self, ops) -> float:
        """Median per operation of the time spans spent on their own
        bookkeeping (job-group calls into the JVM)."""
        per_op: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                per_op[s["op"]] += s["bookkeeping_s"]
        return median(per_op.values())

    def self_times(self) -> dict[str, float]:
        """Median self time per span name."""
        by_name: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            by_name[s["name"]].append(s["self_s"])
        return {n: median(v) for n, v in sorted(by_name.items())}

    def dump(self, path: str) -> None:
        keep = ("id", "name", "start", "end", "parent", "op", "self_s", "jobs", "thread")
        with open(path, "w") as f:
            json.dump({"spans": [{k: s.get(k) for k in keep} for s in self.spans],
                       "jobs": list(self.jobs.values()),
                       "counters": dict(self.counters)}, f)


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals if s is not None):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part its child spans cover."""
    return (span["end"] - span["start"]) - _covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children]
    )

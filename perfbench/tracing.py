"""Per-layer tracing for the traced benchmark run.

Wraps the public functions of each layer from outside the package: the
defining module's attribute and every namespace that imported the name
are patched, so calls made through either path are seen. Each wrapper
records a span (layer, start, end, parent, request id) in memory and
tags the Spark jobs it launches with the job group ``"<request>|<layer>"``
(a local property of the calling thread; the benchmark's client is the
main thread). Right after a request the benchmark reads that
request's jobs and stages from the status tracker and the JVM status
store (which keeps only a bounded number of jobs, hence the immediate
read).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "project_gutenberg_full_text_search_spark"


@dataclass
class Span:
    layer: str
    req: int
    start: float
    end: float = 0.0
    parent: str | None = None


@dataclass
class Request:
    """Accounting of one traced request (all layers)."""

    rid: int
    kind: str
    start: float = 0.0
    end: float = 0.0
    groups: set = field(default_factory=set)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    sched_wait_ms: float = 0.0
    job_busy_ms: float = 0.0
    layer_jobs: dict = field(default_factory=dict)
    df_lookups: int = 0
    df_hits: int = 0
    dfs: dict = field(default_factory=dict)
    champion_served: bool = False
    contains_cands: list = field(default_factory=list)
    contains_cand_docs: int = 0
    total: int = 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.req: Request | None = None
        self.stack: list[str] = []
        self._ids = itertools.count(1)
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self.bookkeeping_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    # -- request scope ------------------------------------------------------
    @contextlib.contextmanager
    def request(self, kind: str):
        """Scope one request (or one write operation) on this thread."""
        req = self.req = Request(next(self._ids), kind, start=time.time())
        self._set_group(f"{req.rid}|{kind}")
        req.groups.add(f"{req.rid}|{kind}")
        try:
            yield req
        finally:
            req.end = time.time()
            self.req = None
            self._set_group(None)
            t0 = time.perf_counter()
            self.account(req)
            # prefilter size, counted outside the request's own jobs
            req.contains_cand_docs = sum(c.count() for c in req.contains_cands)
            req.contains_cands.clear()
            self.requests.append(req)
            self.bookkeeping_s += time.perf_counter() - t0

    def _set_group(self, g: str | None) -> None:
        if g is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(g, g)

    # -- wrapping -------------------------------------------------------------
    def span(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            req, stack = tracer.req, tracer.stack
            sp = Span(layer, req.rid if req else 0, time.time(),
                      parent=stack[-1] if stack else None)
            prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
            if req is not None:
                req.groups.add(f"{req.rid}|{layer}")
                tracer._set_group(f"{req.rid}|{layer}")
            stack.append(layer)
            try:
                return fn(*a, **kw)
            finally:
                stack.pop()
                sp.end = time.time()
                if req is not None:
                    tracer._set_group(prev)
                tracer.spans.append(sp)

        return wrapper

    def patch(self, layer: str, module: str, name: str, extra: tuple[str, ...] = ()):
        """Wrap ``module.name`` and the same object in each ``extra`` namespace."""
        mod = importlib.import_module(f"{PKG}.{module}")
        orig = getattr(mod, name)
        wrapped = self.span(layer, orig)
        for target in (mod, *(importlib.import_module(f"{PKG}.{m}") for m in extra)):
            if getattr(target, name, None) is orig:
                self._patched.append((target, name, orig))
                setattr(target, name, wrapped)

    def patch_method(self, layer: str, cls, name: str, hook=None):
        orig = getattr(cls, name)
        wrapped = self.span(layer, hook(orig) if hook else orig)
        self._patched.append((cls, name, orig))
        setattr(cls, name, wrapped)

    def install(self) -> None:
        """Wrap every layer's public entry points."""
        from project_gutenberg_full_text_search_spark.api import FullTextSearch
        from project_gutenberg_full_text_search_spark.operators.bm25 import IndexHandle
        from project_gutenberg_full_text_search_spark.opds.feeds import OpdsFeeds

        self.patch("plans", "plans.parser", "parse_websearch", ("api", "operators.bm25", "plans"))
        self.patch("bm25", "operators.bm25", "bm25_candidates", ("api",))
        self.patch("bm25", "operators.bm25", "bm25_match_docs", ("api",))
        self.patch_method("bm25.df", IndexHandle, "term_stats", self._df_hook)
        from project_gutenberg_full_text_search_spark.operators import champions

        self.patch_method("champions", champions, "champion_topk", self._champion_hook)
        self.patch("fuzzy", "operators.fuzzy", "fuzzy_candidates", ("api",))
        self.patch("contains", "operators.contains", "contains_candidates", ("api",))
        self._wrap_contains_result()
        for fn in ("all_bookshelves", "all_subjects", "subject_by_pk",
                   "top_subjects_for_docs", "locc_children"):
            self.patch("facets", "operators.facets", fn)
        self.patch("crosswalks", "crosswalks", "apply_crosswalk", ("api",))
        for m in ("search", "bookshelves", "subjects", "loccs"):
            self.patch_method("opds", OpdsFeeds, m)
        self.patch("build_index", "operators.build_index", "build_index",
                   ("api", "streaming.incremental"))
        self.patch("build_index.terms", "operators.build_index", "write_shard_terms",
                   ("streaming.incremental",))
        self.patch("champions.build", "operators.champions", "build_champions")
        self.patch("incremental", "streaming.incremental", "append_docs")
        self.patch("incremental.refresh_derived", "streaming.incremental", "refresh_derived")
        self.patch_method("api", FullTextSearch, "execute")

    def uninstall(self) -> None:
        for target, name, orig in reversed(self._patched):
            setattr(target, name, orig)
        self._patched.clear()

    def _df_hook(self, orig):
        tracer = self

        def term_stats(handle, terms):
            req = tracer.req
            if req is not None:
                req.df_lookups += len(terms)
                req.df_hits += sum(1 for t in terms if t in handle._df_cache)
            out = orig(handle, terms)
            if req is not None:
                req.dfs.update(out)
            return out

        return term_stats

    def _champion_hook(self, orig):
        tracer = self

        def champion_topk(*a, **kw):
            out = orig(*a, **kw)
            req = tracer.req
            if req is not None and out is not None:
                req.champion_served = True
            return out

        return champion_topk

    def _wrap_contains_result(self) -> None:
        """Keep each request's trigram-prefilter candidate DataFrame so its
        size can be counted after the request, outside its accounting."""
        from project_gutenberg_full_text_search_spark import api

        inner = api.contains_candidates
        tracer = self

        @functools.wraps(inner)
        def keep(handle, q):
            cands = inner(handle, q)
            req = tracer.req
            if req is not None and cands is not None:
                req.contains_cands.append(cands)
            return cands

        api.contains_candidates = keep
        self._patched.append((api, "contains_candidates", inner))

    # -- Spark accounting -------------------------------------------------------
    def account(self, req: Request) -> None:
        """Read the request's jobs and stages from the status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        intervals = []
        for g in req.groups:
            layer = g.split("|", 1)[1]
            for jid in tracker.getJobIdsForGroup(g):
                req.jobs += 1
                req.layer_jobs[layer] = req.layer_jobs.get(layer, 0) + 1
                jd = store.job(jid)
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime(), comp.get().getTime()))
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped stage: never attempted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    req.stages += 1
                    req.tasks += st.numTasks()
                    req.cpu_ns += st.executorCpuTime()
                    req.input_bytes += st.inputBytes()
                    req.shuffle_bytes += st.shuffleWriteBytes()
                    s, f = st.submissionTime(), st.firstTaskLaunchedTime()
                    if s.isDefined() and f.isDefined():
                        req.sched_wait_ms += max(0, f.get().getTime() - s.get().getTime())
        req.job_busy_ms = _union_ms(intervals)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def layer_time(spans: list[Span], layer: str) -> tuple[float, set[int]]:
    """(total seconds in outermost spans of ``layer``, request ids that entered it)."""
    total, seen = 0.0, set()
    for sp in spans:
        if sp.layer != layer or sp.parent == layer:
            continue
        total += sp.end - sp.start
        seen.add(sp.req)
    return total, seen


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer: Tracer, res: dict, session_s: float) -> dict:
    """Per-layer metrics of a traced run: name → (value, unit)."""
    reqs = tracer.requests
    build = [r for r in reqs if r.kind == "build"][-1]  # the measured build
    appends = [r for r in reqs if r.kind == "append"]
    served = [r for r in reqs if r.kind not in ("build", "append") and r.start >= res["setup_done"]]
    ids = {r.rid for r in served}
    spans = [sp for sp in tracer.spans if sp.req in ids]

    def in_layer(layer):
        t, seen = layer_time(spans, layer)
        return t, [r for r in served if r.rid in seen]

    def ms_per(layer):
        t, rs = in_layer(layer)
        return _div(t * 1000, len(rs))

    def mean(f, rs=served):
        return _div(sum(f(r) for r in rs), len(rs))

    def build_span(layer):
        return sum(sp.end - sp.start for sp in tracer.spans
                   if sp.req == build.rid and sp.layer == layer and sp.parent != layer)

    bm25_reqs = in_layer("bm25")[1]
    df_reqs = [r for r in served if r.df_lookups]
    contains_reqs = [r for r in in_layer("contains")[1] if r.total]
    epochs = max(1, len(appends))
    refresh_s = sum(sp.end - sp.start for sp in tracer.spans
                    if sp.layer == "incremental.refresh_derived"
                    and sp.req in {r.rid for r in appends})
    return {
        "session.start_s": (session_s, "s"),
        "session.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "build_index.s": (build.end - build.start, "s"),
        "build_index.executor_cpu_s": (build.cpu_ns / 1e9, "s"),
        "build_index.shuffle_bytes_per_input_byte": (
            _div(build.shuffle_bytes, res["base_content_bytes"]), "ratio"),
        "build_index.jobs": (build.jobs, "count"),
        "build_index.tasks": (build.tasks, "count"),
        "build_index.terms_s": (build_span("build_index.terms"), "s"),
        "champions.build_s": (build_span("champions.build"), "s"),
        "build_index.files": (res["base_files"], "count"),
        "incremental.files_per_epoch": (_div(res["files"] - res["base_files"], len(appends)), "count"),
        "incremental.jobs_per_epoch": (mean(lambda r: r.jobs, appends), "count"),
        "incremental.refresh_derived_s_per_epoch": (refresh_s / epochs, "s"),
        "api.jobs_per_request": (mean(lambda r: r.jobs), "count"),
        "api.stages_per_request": (mean(lambda r: r.stages), "count"),
        "api.tasks_per_request": (mean(lambda r: r.tasks), "count"),
        "api.driver_ms_per_request": (
            mean(lambda r: max(0.0, (r.end - r.start) * 1000 - r.job_busy_ms)), "ms"),
        "api.sched_wait_ms_per_request": (mean(lambda r: r.sched_wait_ms), "ms"),
        "api.executor_cpu_ms_per_request": (mean(lambda r: r.cpu_ns / 1e6), "ms"),
        "api.input_mb_per_request": (mean(lambda r: r.input_bytes / 1e6), "MB"),
        "api.shuffle_mb_per_request": (mean(lambda r: r.shuffle_bytes / 1e6), "MB"),
        "plans.parse_us_per_request": (_div(in_layer("plans")[0] * 1e6, len(served)), "us"),
        "bm25.plan_ms_per_request": (ms_per("bm25"), "ms"),
        "bm25.df_lookup_jobs_per_request": (
            mean(lambda r: r.layer_jobs.get("bm25.df", 0), df_reqs), "count"),
        "bm25.df_memo_hit_ratio": (
            _div(sum(r.df_hits for r in served), sum(r.df_lookups for r in served)), "ratio"),
        "bm25.executor_cpu_us_per_posting": (
            _div(sum(r.cpu_ns / 1e3 for r in df_reqs), sum(sum(r.dfs.values()) for r in df_reqs)),
            "us"),
        "champions.served_ratio": (
            _div(sum(r.champion_served for r in bm25_reqs), len(bm25_reqs)), "ratio"),
        "fuzzy.plan_ms_per_request": (ms_per("fuzzy"), "ms"),
        "fuzzy.jobs_per_request": (mean(lambda r: r.jobs, in_layer("fuzzy")[1]), "count"),
        "contains.plan_ms_per_request": (ms_per("contains"), "ms"),
        "contains.candidates_per_match": (
            _div(sum(r.contains_cand_docs for r in contains_reqs),
                 sum(r.total for r in contains_reqs)), "ratio"),
        "crosswalks.ms_per_request": (ms_per("crosswalks"), "ms"),
        "facets.ms_per_request": (ms_per("facets"), "ms"),
        "opds.jobs_per_request": (mean(lambda r: r.jobs, in_layer("opds")[1]), "count"),
        "trace.query_per_s": (_div(len(served), res["query_wall"]), "1/s"),
        "trace.bookkeeping_ms_per_request": (
            _div(tracer.bookkeeping_s * 1000, len(reqs)), "ms"),
    }

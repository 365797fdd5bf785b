"""The benchmark's workloads, their set-up, and their metrics."""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import check
import gen

# parquet files per generated table: two scan splits per core
N_FILES = 2 * len(os.sched_getaffinity(0))
PAGE = 25
OPDS_PAGE = 28  # OpdsFeeds.search's default limit
# corpus sizes: base docs plus appended epochs of EPOCH_DOCS each
TAIL_BASE_DOCS, TAIL_EPOCHS = 2_000, 1
INGEST_BASE_DOCS, INGEST_EPOCHS = 2_000, 2
EPOCH_DOCS = 100
CHECK_SAMPLE = 8
# timed search_tail requests: one unit of the mix per UNIT_SECONDS of
# --seconds (a unit of five requests takes 6-10 s on the reference box)
UNIT_SECONDS = 5
DIM_TABLES = ["subjects", "bookshelves", "loccs", "mn_docs_subjects", "mn_docs_bookshelves"]


@dataclass
class Outcome:
    """One served request: latency, answer summary, or the error."""

    req: tuple
    seconds: float
    total: int = -1
    ids: list = field(default_factory=list)
    error: str | None = None


class Env:
    """Session, generated tables and index for one run."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.data = os.path.join(work, "data")
        self.docs: list[dict] = []
        self.t0 = time.time()

    def mark(self, what: str) -> None:
        """Phase log on stderr: seconds since the run began."""
        print(f"[perfbench {time.time() - self.t0:7.2f}s] {what}", file=sys.stderr, flush=True)

    def scope(self, kind: str):
        """Traced request scope, or nothing when the run is not traced."""
        return self.tracer.request(kind) if self.tracer else contextlib.nullcontext()

    def write_corpus(self, base: int, epochs: int) -> None:
        self.docs = gen.write_tables(self.seed, base + epochs * EPOCH_DOCS, self.data,
                                     N_FILES, base, EPOCH_DOCS)

    def epoch_dir(self, e: int) -> str:
        return os.path.join(self.data, f"docs_epoch{e}")

    def read(self, *paths: str):
        return self.spark.read.parquet(*paths)

    def build(self, index_dir: str, docs_dir: str) -> float:
        from project_gutenberg_full_text_search_spark.operators import build_index as bi

        t = time.perf_counter()
        with self.scope("build"):
            bi.build_index(self.spark, self.read(docs_dir), index_dir,
                           input_fingerprint=f"perfbench-{self.seed}")
        return time.perf_counter() - t

    def append(self, index_dir: str, e: int) -> float:
        from project_gutenberg_full_text_search_spark.streaming import incremental

        t = time.perf_counter()
        with self.scope("append"):
            incremental.append_docs(self.spark, self.read(self.epoch_dir(e)), index_dir,
                                    shard_label=f"inc_{e}")
        return time.perf_counter() - t

    def open_fts(self, index_dir: str, epochs: int):
        from project_gutenberg_full_text_search_spark.api import FullTextSearch
        from project_gutenberg_full_text_search_spark.constants import SearchField

        docs = self.read(os.path.join(self.data, "docs"),
                         *(self.epoch_dir(e) for e in range(epochs)))
        return FullTextSearch(
            self.spark, docs, meta=self.read(os.path.join(self.data, "meta")),
            indexes={SearchField.CONTENT: index_dir},
            dims={t: self.read(os.path.join(self.data, t)) for t in DIM_TABLES},
        )


def serve(fts, req: tuple) -> tuple[int, list[int]]:
    """Run one request through the public surface → (total, page doc ids)."""
    from project_gutenberg_full_text_search_spark.constants import (
        Crosswalk, OrderBy, SearchField, SearchType)

    kind = req[1]
    if kind == "opds":
        from project_gutenberg_full_text_search_spark.opds.feeds import OpdsFeeds

        feed = OpdsFeeds(fts).search(query=req[2], field="fts_keyword")
        ids = [int(p["metadata"]["identifier"].rsplit(":", 1)[1]) for p in feed["publications"]]
        return feed["metadata"]["numberOfItems"], ids
    q = (fts.query(Crosswalk.FULL)
         .search(req[2], SearchField.CONTENT, SearchType(kind))
         .order_by(OrderBy.RELEVANCE)[1, PAGE])
    env = fts.execute(q)
    return env["total"], [r["doc_id"] for r in env["results"]]


def closed_loop(env: Env, fts, requests: list) -> tuple[list[Outcome], float]:
    """One client sending each request when the previous one has returned.
    → (outcomes, wall)."""
    out: list[Outcome] = []
    t0 = time.perf_counter()
    for req in requests:
        o = Outcome(req, 0.0)
        s = time.perf_counter()
        try:
            with env.scope(req[0]) as traced:
                o.total, o.ids = serve(fts, req)
                if traced is not None:
                    traced.total = o.total
        except Exception:  # a failed request is counted, the loop goes on
            o.error = traceback.format_exc(limit=3)
            print(o.error, file=sys.stderr)
        o.seconds = time.perf_counter() - s
        out.append(o)
    return out, time.perf_counter() - t0


def verify(env: Env, outcomes: list[Outcome]) -> int:
    """Check a sample of distinct answered requests; → number of mismatches."""
    oracle = check.oracle_for(env.docs)
    bad, seen, fuzzy_done = 0, set(), False
    for o in outcomes:
        if o.error or o.req in seen or len(seen) >= CHECK_SAMPLE:
            continue
        kind = "fts" if o.req[1] == "opds" else o.req[1]
        if kind == "fuzzy":
            # the pure-Python fuzzy oracle is slow: one per run
            if fuzzy_done:
                continue
            fuzzy_done = True
        seen.add(o.req)
        want = check.expected(oracle, env.docs, kind, o.req[2])
        why = check.mismatch(want, o.total, o.ids, OPDS_PAGE if o.req[1] == "opds" else PAGE)
        if why:
            bad += 1
            print(f"check failed: {o.req}: {why}", file=sys.stderr)
    return bad


def content_bytes(docs: list[dict]) -> int:
    return sum(len(d["content"].encode()) for d in docs)


def index_ratio(index_dir: str, docs: list[dict]) -> tuple[float, int]:
    """(index bytes ÷ UTF-8 content bytes of ``docs``, index file count)."""
    size = files = 0
    for root, _, names in os.walk(index_dir):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / content_bytes(docs), files


# ---------------------------------------------------------------------------


def search_tail(env: Env, seconds: float) -> dict:
    """Selective and approximate FTS / FUZZY / CONTAINS requests, closed loop."""
    env.write_corpus(TAIL_BASE_DOCS, TAIL_EPOCHS)
    env.mark("inputs written")
    idx = os.path.join(env.work, "index")
    build_s = env.build(idx, os.path.join(env.data, "docs"))
    env.mark(f"built in {build_s:.1f}s")
    _, base_files = index_ratio(idx, env.docs)
    append_s = sum(env.append(idx, e) for e in range(TAIL_EPOCHS))
    env.mark(f"appended in {append_s:.1f}s")
    fts = env.open_fts(idx, TAIL_EPOCHS)
    n_docs = len(env.docs)
    # warm-up: one request per search type, drawn from another stream, so
    # each code path's first-call cost stays out of the timed phase
    warm = {r[1]: r for r in gen.tail_requests(env.seed, 1, len(gen.TAIL_CYCLE), n_docs)}
    closed_loop(env, fts, list(warm.values()))
    env.mark("warmed up")
    setup_done = time.time()
    # a fixed request list, not a fixed duration: every run serves the same
    # mix whatever the host's speed
    n = gen.TAIL_UNIT * max(1, round(seconds / UNIT_SECONDS))
    outcomes, wall = closed_loop(env, fts, gen.tail_requests(env.seed, 0, n, n_docs))
    env.mark(f"{len(outcomes)} requests in {wall:.1f}s: " + ", ".join(
        f"{o.req[0]} {o.seconds:.2f}s" for o in outcomes))
    ratio, files = index_ratio(idx, env.docs)
    return {
        "setup_done": setup_done, "outcomes": outcomes, "query_wall": wall,
        "base_content_bytes": content_bytes(env.docs[:TAIL_BASE_DOCS]),
        "base_files": base_files, "files": files,
        "build_docs_per_s": TAIL_BASE_DOCS / build_s,
        "refresh_docs_per_s": TAIL_EPOCHS * EPOCH_DOCS / append_s,
        "index_bytes_per_input_byte": ratio,
    }


def ingest_refresh(env: Env, seconds: float) -> dict:
    """From-scratch build, then INGEST_EPOCHS appends; then the probe set
    runs through a freshly opened facade over every shard."""
    del seconds  # fixed work: one build plus INGEST_EPOCHS epochs
    env.write_corpus(INGEST_BASE_DOCS, INGEST_EPOCHS)
    env.mark("inputs written")
    setup_done = time.time()
    idx = os.path.join(env.work, "index")
    build_s = env.build(idx, os.path.join(env.data, "docs"))
    env.mark(f"built in {build_s:.1f}s")
    _, base_files = index_ratio(idx, env.docs[:INGEST_BASE_DOCS])
    append_s = sum(env.append(idx, e) for e in range(INGEST_EPOCHS))
    env.mark(f"appended {INGEST_EPOCHS} epochs in {append_s:.1f}s")
    # one probe round, after the last epoch, where appended shards cost
    # reads the most; a round per epoch does not fit the run-time budget
    outcomes, wall = probe(env, idx, INGEST_EPOCHS)
    ratio, files = index_ratio(idx, env.docs)
    return {
        "setup_done": setup_done, "outcomes": outcomes, "query_wall": wall,
        "base_content_bytes": content_bytes(env.docs[:INGEST_BASE_DOCS]),
        "build_docs_per_s": INGEST_BASE_DOCS / build_s,
        "refresh_docs_per_s": INGEST_EPOCHS * EPOCH_DOCS / append_s,
        "index_bytes_per_input_byte": ratio,
        "base_files": base_files, "files": files,
    }


def probe(env: Env, idx: str, epochs: int) -> tuple[list[Outcome], float]:
    """The probe set through a freshly opened facade over ``epochs`` epochs."""
    newest = INGEST_BASE_DOCS + epochs * EPOCH_DOCS - 1
    got, wall = closed_loop(env, env.open_fts(idx, epochs),
                            gen.probe_requests(env.seed, epochs, newest))
    env.mark(f"probed after {epochs} epochs: " + ", ".join(
        f"{o.req[0]} {o.seconds:.2f}s" for o in got))
    return got, wall


WORKLOADS = {"search_tail": search_tail, "ingest_refresh": ingest_refresh}

"""Output check: served answers against single-node oracles.

Runs outside the timed phase, over answers recorded while it ran. FTS
answers are checked against ``oracle.OracleIndex`` (totals, and each
page's score multiset — which ignores tie order), CONTAINS totals against
a substring scan of the generated corpus, FUZZY against
``OracleIndex.fuzzy``. Engine and oracle both round scores to 4 digits,
possibly on opposite sides of a half, so scores compare within 2e-4.
"""

from __future__ import annotations

import pandas as pd

from project_gutenberg_full_text_search_spark.oracle import OracleIndex
from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch

SCORE_TOL = 2e-4


def oracle_for(docs: list[dict]) -> OracleIndex:
    return OracleIndex(pd.DataFrame(docs, columns=["doc_id", "content"]))


def expected(oracle: OracleIndex, docs: list[dict], kind: str, text: str) -> dict[int, float]:
    """doc_id → rounded rank of every doc the request should match."""
    if kind == "fts":
        hits = oracle.search(text, k=oracle.N)
        return dict(zip(hits.doc_id.tolist(), hits.score.tolist()))
    if kind == "fuzzy":
        hits = oracle.fuzzy(text, k=oracle.N)
        return dict(zip(hits.doc_id.tolist(), hits.sim.tolist()))
    if kind == "contains":
        pq = parse_websearch(text)
        frag = text.lower()
        return {
            d["doc_id"]: round(oracle.score(pq, d["doc_id"]), 4)
            for d in docs
            if frag in d["content"].lower()
        }
    raise ValueError(kind)


def mismatch(want: dict[int, float], total: int, ids: list[int], page_size: int) -> str | None:
    """None when (total, page) agree with the expected match set."""
    if total != len(want):
        return f"total {total} != {len(want)}"
    if any(i not in want for i in ids):
        return "page holds a doc outside the match set"
    top = sorted(want.values(), reverse=True)[:page_size]
    got = sorted((want[i] for i in ids), reverse=True)
    if len(got) != len(top) or any(abs(a - b) > SCORE_TOL for a, b in zip(got, top)):
        return f"page scores {got[:5]}... != {top[:5]}..."
    return None

"""Driver-side replay of ``search()``'s layers, used as the exhaustive oracle
and, in traced runs, to time the compile and kernel layers on their own.

The replay calls the same public functions ``search()`` calls, in the same
order, with its default parameters (BM25, lucene precision, k1=1.2, b=0.75):
compile (parse_query → rewrite → expand_multiterm → apply_boosts →
query_terms), term statistics, scorers, then ``kernel.segment_topk`` per
segment on posting rows fetched to the driver, then the
(score desc, docid asc) reduce.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from lucene_spark.analysis import ENGLISH_STOP_WORDS
from lucene_spark.kernel import TermPostings, segment_topk
from lucene_spark.search import (
    apply_boosts,
    attach_scorers,
    expand_multiterm,
    index_fields,
    parse_query,
    query_terms,
    rewrite,
)
from lucene_spark.similarity import BM25Scorer, CollectionStats

K1, B, PRECISION = 1.2, 0.75, "lucene"


@dataclass
class Compiled:
    node: tuple | None  # None: the query matches nothing
    terms: list[str]


@dataclass
class Plan:
    node: tuple
    scorers: dict
    scan_terms: list[str]


def compile_query(index, query: str) -> Compiled:
    node = rewrite(parse_query(query, fields=index_fields(index)), ENGLISH_STOP_WORDS)
    if node is not None:
        node = expand_multiterm(node, index)
    if node is None:
        return Compiled(None, [])
    node, _ = apply_boosts(node)
    return Compiled(node, sorted(set(query_terms(node))))


def plan_query(index, compiled: Compiled, dfs: dict[str, int]) -> Plan | None:
    """Scorers + executable node, or None where search() returns empty."""
    if compiled.node is None:
        return None
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    terms = compiled.terms
    scorers = {
        t: BM25Scorer(dfs[t], stats, k1=K1, b=B, boost=1.0, precision=PRECISION)
        for t in terms if t in dfs
    }
    node = attach_scorers(compiled.node, dfs, stats, K1, B, PRECISION, BM25Scorer)
    if node is None or not scorers:
        return None
    if node[0] == "and" and any(t not in scorers for t in terms):
        return None
    return Plan(node, scorers, [t for t in terms if t in scorers])


class PostingCache:
    """Posting rows and tombstones fetched to the driver once per index."""

    def __init__(self, index):
        self.index = index
        self.rows: dict[int, dict[str, dict]] = {}
        self.fetched: set[str] = set()
        self.deny: dict[int, np.ndarray] | None = None
        if index.tombstones is not None:
            seg_size = index.seg_size
            dead = np.array(
                [r["docid"] for r in index.tombstones.select("docid").collect()], dtype=np.int64
            )
            self.tombstones = set(dead.tolist())
            self.deny = {}
            for seg in np.unique(dead // seg_size):
                sel = dead[dead // seg_size == seg]
                self.deny[int(seg)] = np.sort(sel - seg * seg_size)
        else:
            self.tombstones = set()

    def fetch(self, terms) -> None:
        need = sorted(set(terms) - self.fetched)
        if not need:
            return
        for r in self.index.postings.filter(F.col("term").isin(need)).collect():
            d = r.asDict()
            self.rows.setdefault(int(d["seg"]), {})[d["term"]] = d
        self.fetched.update(need)


def replay_topk(index, plan: Plan | None, cache: PostingCache, k: int, prune: bool):
    """→ (docids, scores, kernel_s, segments, postings_decoded)."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64), 0.0, 0, 0)
    if plan is None:
        return empty
    cache.fetch(plan.scan_terms)
    seg_size = index.seg_size
    out_d, out_s = [], []
    kernel_s, segments, decoded = 0.0, 0, 0
    for seg in sorted(cache.rows):
        sub = {t: cache.rows[seg][t] for t in plan.scan_terms if t in cache.rows[seg]}
        if not sub:
            continue
        segments += 1
        decoded += sum(int(r["df_local"]) for r in sub.values())
        deny = None
        if cache.deny is not None:
            deny = cache.deny.get(seg, np.empty(0, dtype=np.int64))
        tps = {t: TermPostings(r, seg_size) for t, r in sub.items()}
        t0 = time.perf_counter()
        d, s = segment_topk(plan.node, tps, plan.scorers, seg_size, k,
                            precision=PRECISION, prune=prune, deny=deny)
        kernel_s += time.perf_counter() - t0
        out_d.append(d + seg * seg_size)
        out_s.append(s)
    if not out_d:
        return (*empty[:2], kernel_s, segments, decoded)
    docids = np.concatenate(out_d).astype(np.int64)
    scores = np.concatenate(out_s).astype(np.float64)
    order = np.lexsort((docids, -scores))[:k]
    return docids[order], scores[order], kernel_s, segments, decoded


def same_topdocs(a_docids, a_scores, b_docids, b_scores) -> bool:
    return (len(a_docids) == len(b_docids)
            and np.array_equal(np.asarray(a_docids, dtype=np.int64), np.asarray(b_docids, dtype=np.int64))
            and np.array_equal(np.asarray(a_scores, dtype=np.float64), np.asarray(b_scores, dtype=np.float64)))

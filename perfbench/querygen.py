"""Seeded query streams for the benchmark workloads.

Each stream is drawn from document frequencies counted directly on the
generated corpus (whitespace tokens, lower-cased), so the inputs do not depend
on the index under test.  ``input_properties`` summarises what a stream
actually issued, so a later performance claim can quote the share of the
workload that has the property it relies on.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd

from lucene_spark.analysis import ENGLISH_STOP_WORDS

STOPWORD_QUERY = "the and of"  # every term is a stopword: expected empty
_PLAIN_TERM = re.compile(r"^[a-z][a-z0-9]{0,19}$")


def corpus_dfs(pages: pd.DataFrame) -> dict[str, int]:
    """Document frequency of every plain alphanumeric, non-stopword token."""
    tokens = pages["text"].str.lower().str.split().explode()
    pairs = tokens.reset_index().drop_duplicates()
    counts = pairs.iloc[:, 1].value_counts()
    return {
        t: int(n) for t, n in counts.items()
        if isinstance(t, str) and _PLAIN_TERM.match(t) and t not in ENGLISH_STOP_WORDS
    }


def df_band(df: int, n_docs: int) -> str:
    """head ≥ 20% of docs, mid 2–20%, tail 0.1–1%; 'other' covers the gaps."""
    if df >= 0.2 * n_docs:
        return "head"
    if df >= 0.02 * n_docs:
        return "mid"
    if max(5, n_docs // 1000) <= df <= max(20, n_docs // 100):
        return "tail"
    return "other"


def _bands(dfs: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {"head": [], "mid": [], "tail": [], "other": []}
    for t in sorted(dfs):
        out[df_band(dfs[t], n_docs)].append(t)
    return out


def _unknown_term(rng: np.random.Generator) -> str:
    # 'zq' + 8 letters never occurs in the corpus vocabulary
    return "zq" + "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 8))


# (shape, number of terms, k) of the head pool's slots, repeated in order; the
# seed picks the terms and the draws, not the mix of shapes and k
_HEAD_SLOTS = [("or", 2, 10), ("and", 2, 100), ("or", 3, 10), ("mixed", 3, 1000),
               ("or", 4, 100), ("and", 3, 10), ("or", 2, 1000), ("mixed", 3, 10)]


def head_stream(seed: int, dfs: dict[str, int], n_docs: int, pool_size: int = 48):
    """Endless stream of (query, k) drawn WITH repetition from a pool.

    The pool holds head- and mid-term OR / AND / mixed queries with
    k in {10, 100, 1000}, drawn with Zipf(0.8) popularity, so popular queries
    repeat and a result cache would be exercised.  Every 16th query is the
    stopword-only or an unknown-term query, so the expected-empty share does
    not depend on the seed."""
    rng = np.random.default_rng([seed, 1])
    bands = _bands(dfs, n_docs)
    head, mid = bands["head"], bands["mid"]
    pool: list[tuple[str, int]] = []
    seen: set[str] = set()
    while len(pool) < pool_size:
        shape, n_terms, k = _HEAD_SLOTS[len(pool) % len(_HEAD_SLOTS)]
        terms = [str(rng.choice(head if rng.random() < 0.6 else mid)) for _ in range(n_terms)]
        if shape == "or":
            q = " ".join(terms)
        elif shape == "and":
            q = " AND ".join(terms)
        else:
            q = f"({terms[0]} AND {terms[1]}) OR {terms[2]}"
        if len(set(terms)) < n_terms or q in seen:
            continue
        seen.add(q)
        pool.append((q, k))
    empties = [(STOPWORD_QUERY, 10), (_unknown_term(rng), 10)]
    weights = 1.0 / np.arange(1, len(pool) + 1) ** 0.8
    weights /= weights.sum()
    i = 0
    while True:
        i += 1
        if i % 16 == 0:
            yield empties[(i // 16) % 2]
        else:
            yield pool[int(rng.choice(len(pool), p=weights))]


def tail_stream(seed: int, dfs: dict[str, int], n_docs: int):
    """Endless stream of DISTINCT selective queries, k=10: OR of 1–3 tail
    terms, or a tail term ANDed with a head term; every 16th query is a
    stopword-only or unknown-term query."""
    rng = np.random.default_rng([seed, 2])
    bands = _bands(dfs, n_docs)
    tail, head = bands["tail"], bands["head"]
    seen: set[str] = set()
    i = 0
    while True:
        i += 1
        if i % 16 == 0:
            q = STOPWORD_QUERY if (i // 16) % 2 else _unknown_term(rng)
            if q == STOPWORD_QUERY and q in seen:
                q = STOPWORD_QUERY + " " + str(rng.choice(sorted(ENGLISH_STOP_WORDS)))
        elif rng.random() < 0.75:
            q = " ".join(str(t) for t in rng.choice(tail, int(rng.integers(1, 4)), replace=False))
        else:
            q = f"{rng.choice(tail)} AND {rng.choice(head)}"
        if q in seen:
            continue
        seen.add(q)
        yield q, 10


def query_terms_plain(q: str) -> list[str]:
    return [t for t in re.findall(r"[a-z0-9]+", q.lower()) if t not in ("and", "or")]


def expected_empty(q: str, dfs: dict[str, int]) -> bool:
    """Stopword-only or unknown-term queries (an AND with an unknown term
    included) must return no hits."""
    terms = [t for t in query_terms_plain(q) if t not in ENGLISH_STOP_WORDS]
    if not terms:
        return True
    known = [t for t in terms if t in dfs]
    return not known or (" AND " in q and len(known) < len(terms))


def input_properties(issued: list[tuple[str, int]], dfs: dict[str, int], n_docs: int) -> dict:
    """Shares of the issued stream that have each property a claim may rest on."""
    n = len(issued)
    if n == 0:
        return {"queries": 0}
    seen: set[tuple[str, int]] = set()
    repeats = 0
    for e in issued:
        repeats += e in seen
        seen.add(e)
    bands: Counter = Counter()
    n_terms = []
    for q, _ in issued:
        terms = [t for t in query_terms_plain(q) if t not in ENGLISH_STOP_WORDS]
        n_terms.append(len(terms))
        for t in terms:
            bands[df_band(dfs[t], n_docs) if t in dfs else "absent"] += 1
    total_terms = max(1, sum(bands.values()))
    ks = Counter(k for _, k in issued)
    return {
        "queries": n,
        "distinct": len(seen),
        "repeat_share": round(repeats / n, 4),
        "term_df_bands": {b: round(c / total_terms, 4) for b, c in sorted(bands.items())},
        "k_mix": {str(k): round(c / n, 4) for k, c in sorted(ks.items())},
        "expected_empty_share": round(sum(expected_empty(q, dfs) for q, _ in issued) / n, 4),
        "terms_per_query": round(float(np.mean(n_terms)), 3),
    }

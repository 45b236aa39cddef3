"""Correctness checks against ``oracle.OracleIndex``, run outside the clock.

``OracleRanker`` is the oracle's BM25 top-k (``OracleIndex.topk``,
mode="bm25") evaluated with numpy over the oracle's own postings: the
same per-posting expression in the same term order, so scores are the
oracle's to the last bit (``test_helpers.py`` checks this), at a cost
that lets every answer of a run be checked.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from searchengine_spark.functions.scoring import B, K1, idf_py
from searchengine_spark.functions.tokenize import tokenize_py
from searchengine_spark.oracle import OracleIndex

REL_TOL = 1e-9


class OracleRanker:
    def __init__(self, oracle: OracleIndex):
        self.o = oracle
        self.dl = np.array([oracle.dl[d] for d in range(oracle.n_docs)],
                           dtype=np.float64)
        self._lists: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def _postings(self, term: str):
        if term not in self._lists:
            plist = self.o.postings[term]
            self._lists[term] = (np.array([d for d, _ in plist], np.int64),
                                 np.array([t for _, t in plist], np.float64))
        return self._lists[term]

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        scores = np.zeros(self.o.n_docs)
        hit = np.zeros(self.o.n_docs, dtype=bool)
        for term, q in Counter(tokenize_py(query)).items():
            if not self.o.postings.get(term):
                continue
            docs, tf = self._postings(term)
            idf = idf_py(self.o.df[term], self.o.n_docs)
            w = idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * self.dl[docs] / self.o.avgdl))
            scores[docs] += q * w
            hit[docs] = True
        ids = np.flatnonzero(hit)
        order = np.lexsort((ids, -scores[ids]))[:k]
        return [(int(ids[i]), float(scores[ids[i]])) for i in order]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def answer_errors(got: list[tuple[int, float]], ranker: OracleRanker,
                  query: str, k: int, dead=frozenset()) -> list[str]:
    """Mismatches between an engine answer and the oracle's top-k.

    Deleted docs (``dead``) are dropped from the oracle's top-(k+|dead|):
    corpus statistics stay pinned at build time, so the survivors keep
    their scores and order. Docs whose scores tie within the tolerance may
    appear in either order (and either may fill the last slot)."""
    want = [(d, s) for d, s in ranker.topk(query, k + len(dead) + k)
            if d not in dead]
    n_want = min(k, len(want))
    if len(got) != n_want:
        return [f"{query!r}: {len(got)} results, oracle has {n_want}"]
    errs = []
    for i, (doc, score) in enumerate(got):
        if not _close(score, want[i][1]):
            errs.append(f"{query!r} rank {i}: score {score!r} != {want[i][1]!r}")
        elif doc != want[i][0]:
            tied = {d for d, s in want if _close(s, want[i][1])}
            if doc not in tied:
                errs.append(f"{query!r} rank {i}: doc {doc} != {want[i][0]}")
    return errs


def build_errors(index_dir: str, oracle: OracleIndex) -> list[str]:
    """n_docs, avgdl and every term's df and cf against the oracle."""
    with open(os.path.join(index_dir, "scalars.json")) as f:
        sc = json.load(f)
    errs = []
    if sc["n_docs"] != oracle.n_docs:
        errs.append(f"n_docs {sc['n_docs']} != {oracle.n_docs}")
    if not _close(sc["avgdl"], oracle.avgdl):
        errs.append(f"avgdl {sc['avgdl']!r} != {oracle.avgdl!r}")
    t = pq.read_table(os.path.join(index_dir, "term_stats.parquet"),
                      columns=["term", "df", "cf"]).to_pydict()
    got = {term: (df, cf) for term, df, cf in zip(t["term"], t["df"], t["cf"])}
    want = {term: (oracle.df[term], oracle.cf[term]) for term in oracle.df}
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:5]
        errs.append(f"term stats differ on {len(set(got) ^ set(want))} "
                    f"terms' presence; first diffs {bad}")
    return errs

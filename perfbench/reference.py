"""Exact answers in numpy, which the benchmark checks the engine against.

Scores are recomputed in float64 from the seeded float32 vectors, the
precision the engine scores in. Summation order differs from the
engine's left fold, so scores compare within `TOL`; ids whose exact
scores tie within `TOL` may come back in either order.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

TOL = 1e-9
ASCENDING = {"cosine": False, "dot": False, "l2": True}


def scores(x64: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    if metric == "dot":
        return x64 @ q
    if metric == "l2":
        return np.sqrt(((x64 - q) ** 2).sum(axis=1))
    if metric == "cosine":
        return (x64 @ q) / (np.sqrt((x64 * x64).sum(axis=1))
                            * math.sqrt(float(q @ q)))
    raise ValueError(metric)


def close(a: float, b: float, tol: float = TOL) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def ranked(cand_scores: np.ndarray, asc: bool) -> np.ndarray:
    return np.sort(cand_scores) if asc else -np.sort(-cand_scores)


def check_page(ret_ids, ret_scores, cand_ids, cand_scores, start: int,
               limit: int, asc: bool, tol: float = TOL) -> bool:
    """The returned rows are ranks [start, start+limit) of the candidates:
    each id is a candidate with its exact score, no id repeats, and the
    i-th row holds the i-th best exact score."""
    want = ranked(cand_scores, asc)[start:start + limit]
    if len(ret_ids) != len(want) or len(set(ret_ids)) != len(ret_ids):
        return False
    lookup = dict(zip(cand_ids.tolist(), cand_scores.tolist()))
    for i, (rid, rs) in enumerate(zip(ret_ids, ret_scores)):
        if rid not in lookup or rs is None:
            return False
        if not close(lookup[rid], rs, tol) or not close(rs, want[i], tol):
            return False
    return True


def recall(ret_ids, all_ids, all_scores, k: int, asc: bool) -> float:
    """Share of the exact top-k returned; an id tied with the k-th best
    exact score counts as a hit."""
    want = min(k, len(all_ids))
    if want == 0:
        return 1.0
    kth = ranked(all_scores, asc)[want - 1]
    lookup = dict(zip(all_ids.tolist(), all_scores.tolist()))
    hits = 0
    for rid in set(ret_ids):
        s = lookup.get(rid)
        if s is None:
            continue
        if (s <= kth + TOL * max(1.0, abs(kth))) if asc else \
           (s >= kth - TOL * max(1.0, abs(kth))):
            hits += 1
    return min(hits, want) / want


def check_groups(rows, cand_ids, cand_groups, cand_scores, limit: int,
                 group_size: int, asc: bool) -> bool:
    """Group search: groups ranked by their best hit, the top `limit`
    groups kept, each with its best `group_size` hits in rank order.
    `rows` are (id, group, score) in output order."""
    by_group: dict[int, list[float]] = {}
    for g, s in zip(cand_groups.tolist(), cand_scores.tolist()):
        by_group.setdefault(g, []).append(s)
    for g in by_group:
        by_group[g] = ranked(np.array(by_group[g]), asc).tolist()
    bests = ranked(np.array([v[0] for v in by_group.values()]), asc)
    order: list[int] = []
    for _, g, _ in rows:
        if not order or order[-1] != g:
            if g in order:
                return False
            order.append(g)
    if len(order) != min(limit, len(by_group)):
        return False
    lookup = dict(zip(cand_ids.tolist(), zip(cand_groups.tolist(),
                                               cand_scores.tolist())))
    for i, g in enumerate(order):
        if g not in by_group or not close(by_group[g][0], bests[i]):
            return False
        hits = [r for r in rows if r[1] == g]
        want = by_group[g][:group_size]
        if len(hits) != len(want) or len({h[0] for h in hits}) != len(hits):
            return False
        for (rid, _, rs), ws in zip(hits, want):
            if rid not in lookup or lookup[rid][0] != g:
                return False
            if not close(lookup[rid][1], rs) or not close(rs, ws):
                return False
    return True


def tokenize(text: str) -> list[str]:
    """The engine's tokenizer: split on single spaces after trim, drop
    empty tokens."""
    return [t for t in text.strip().split(" ") if t]


class BM25:
    """BM25 over a fixed corpus with the engine's k1/b and rounding."""

    def __init__(self, doc_ids, texts, k1: float, b: float):
        self.k1, self.b = k1, b
        self.ids = list(doc_ids)
        self.tf = [Counter(tokenize(t)) for t in texts]
        self.dl = [sum(c.values()) for c in self.tf]
        self.n = len(self.ids)
        self.avgdl = sum(self.dl) / self.n

    def scores(self, terms) -> dict[int, float]:
        df = {t: sum(1 for c in self.tf if c[t] > 0) for t in terms}
        out = {}
        for did, c, dl in zip(self.ids, self.tf, self.dl):
            total, hit = 0.0, False
            for t in terms:
                tf = c[t]
                if tf <= 0:
                    continue
                hit = True
                idf = math.log(1 + (self.n - df[t] + 0.5) / (df[t] + 0.5))
                total += (idf * tf * (self.k1 + 1.0)
                          / (tf + self.k1 * (1.0 - self.b
                                             + self.b * dl / self.avgdl)))
            if hit:
                out[did] = round(total, 6)
        return out

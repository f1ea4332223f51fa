"""NumPy references the benchmark checks the program's answers against.

- BM25 with k1=1.2, b=0.75 and Lucene's idf, over lower-cased alphanumeric
  tokens; a query's distinct terms each count once.
- Cosine over the hash-projection embedding (1024-d, float32 values, float64
  arithmetic).
- Weighted fusion 1.0 * bm25 + 0.8 * cosine over the union of the two legs.

Scores computed in another summation order differ in the last bits, and
documents with equal term statistics tie exactly. So a result is checked
as *a* valid top-k, not as one fixed list: every returned document must
have an admissible score equal (within ``TOL``) to the one returned, scores
must not increase down the list, and no document left out may have been
certain to score above the last one returned. Where a leg is cut at its
top-K, documents tied with the K-th are admissible both inside and outside
the leg.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75
TEXT_BOOST, VECTOR_BOOST = 1.0, 0.8
TOL = 1e-7
_SPLIT = re.compile(r"[^a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def embed(text: str, dim: int = 1024) -> np.ndarray:
    """Signed token-hash folding of whitespace tokens, L2-normalised, as
    float32 (the definition of the pipeline's ``hash`` embedding backend)."""
    v = np.zeros(dim)
    for tok in str(text).lower().split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        v[h % dim] += 1.0 if (h >> 59) & 1 else -1.0
    n = math.sqrt(float((v**2).sum()))
    return (v / n if n > 0 else v).astype(np.float32)


class Bm25:
    """BM25 over ``docs`` ({id: text}); docs without tokens are not indexed."""

    def __init__(self, docs: dict) -> None:
        self.postings: dict[str, list[tuple[object, int]]] = {}
        self.dl: dict = {}
        for d, text in docs.items():
            toks = tokenize(text)
            if not toks:
                continue
            self.dl[d] = len(toks)
            for t, tf in Counter(toks).items():
                self.postings.setdefault(t, []).append((d, tf))
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n if self.n else 0.0

    def scores(self, query: str) -> dict:
        out: dict = {}
        for t in set(tokenize(query)):
            post = self.postings.get(t)
            if not post:
                continue
            df = len(post)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for d, tf in post:
                norm = tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
                out[d] = out.get(d, 0.0) + idf * (tf * (K1 + 1.0) / norm)
        return out


class Vectors:
    """Row-normalised float64 copy of float32 embeddings, for cosine."""

    def __init__(self, ids: list, mat: np.ndarray) -> None:
        self.ids = list(ids)
        m = mat.astype(np.float64)
        self.mat = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)

    def cosine(self, q: np.ndarray, keep=None) -> dict:
        qn = q.astype(np.float64)
        qn = qn / max(float(np.linalg.norm(qn)), 1e-300)
        s = self.mat @ qn
        return {d: float(x) for d, x in zip(self.ids, s) if keep is None or d in keep}


# ---- admissible scores -----------------------------------------------------


class Leg:
    """One ranked leg: full scores, cut at its top ``k`` (None: no cut)."""

    def __init__(self, scores: dict, k: int | None) -> None:
        self.scores = scores
        self.kth = None  # the k-th best score, when the cut drops something
        if k is not None and len(scores) > k:
            self.kth = float(np.sort(np.fromiter(scores.values(), float, len(scores)))[-k])

    def membership(self, d) -> tuple[bool, bool]:
        """(may be in the leg, may be out of it)."""
        if d not in self.scores:
            return False, True
        if self.kth is None:
            return True, False
        s = self.scores[d]
        return s >= self.kth - TOL, s <= self.kth + TOL


def weighted_options(bm25: Leg, knn: Leg) -> dict:
    """{doc: (admissible fused scores, may be absent)}."""
    out = {}
    for d in set(bm25.scores) | set(knn.scores):
        b_in, b_out = bm25.membership(d)
        v_in, v_out = knn.membership(d)
        bs = ([bm25.scores[d]] if b_in else []) + ([None] if b_out else [])
        vs = ([knn.scores[d]] if v_in else []) + ([None] if v_out else [])
        vals = [TEXT_BOOST * (b or 0.0) + VECTOR_BOOST * (v or 0.0)
                for b in bs for v in vs if b is not None or v is not None]
        if vals:
            out[d] = (vals, b_out and v_out)
    return out


def leg_options(leg: Leg) -> dict:
    return {d: ([s], False) for d, s in leg.scores.items()}


def check_topk(got: list[tuple[object, float]], options: dict, k: int,
               min_score: float | None = None) -> str | None:
    """None if ``got`` is a valid top-``k`` under ``options``, else why not."""
    if len(got) > k:
        return f"{len(got)} rows > k={k}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate ids"
    for (_, a), (_, b) in zip(got, got[1:]):
        if b > a + TOL:
            return "scores not in descending order"
    for d, s in got:
        vals = options.get(d, ([], True))[0]
        if not any(abs(v - s) <= TOL * max(1.0, abs(v)) for v in vals):
            return f"id {d} scored {s!r}, admissible {vals!r}"
        if min_score is not None and s < min_score - TOL:
            return f"id {d} below min_score"
    returned = {d for d, _ in got}
    floor = got[-1][1] if len(got) == k else None  # below k rows, nothing may be left out
    for d, (vals, may_absent) in options.items():
        if d in returned or may_absent:
            continue
        if min_score is not None and min(vals) < min_score - TOL:
            continue
        if floor is None or min(vals) > floor + TOL * max(1.0, abs(floor)):
            return f"id {d} (score >= {min(vals)!r}) left out above {floor!r}"
    return None

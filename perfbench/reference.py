"""Independent reference answers for the correctness gate.

Nothing here goes through Spark: dense and filtered top-k are a numpy
brute-force cosine scan, BM25 is a pure-Python scorer over the generated
corpus, and curation is checked against the truth planted by the input
generator. Scores are rounded like Spark's ``round(x, 4)`` (HALF_UP on the
shortest decimal form of the double), and ties break on the smaller id as
in ``similarity.topk_cosine`` and ``lexical.bm25_topk_from_index``.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_Q4 = Decimal("0.0001")


def round4(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_Q4, rounding=ROUND_HALF_UP))


def _ranked(ids, raw: np.ndarray, k: int) -> list[tuple]:
    """Top-k of (id, raw score) by (rounded score desc, id asc). Only
    candidates within 2e-4 of the k-th raw score can reach the cut."""
    if len(raw) == 0:
        return []
    kth = np.partition(raw, max(len(raw) - k, 0))[max(len(raw) - k, 0)]
    cand = np.nonzero(raw >= kth - 2e-4)[0]
    scored = sorted(((-round4(raw[i]), ids[i]) for i in cand))
    return [(i, -s) for s, i in scored[:k]]


class DenseReference:
    """Brute-force cosine top-k over the chunk rows of a built index."""

    def __init__(self, rows: list[dict]):
        rows = sorted(rows, key=lambda r: r["chunk_id"])
        self.ids = [r["chunk_id"] for r in rows]
        self.doc_ids = {r["chunk_id"]: r["doc_id"] for r in rows}
        self.texts = {r["chunk_id"]: r["text"] for r in rows}
        self.langs = np.array([r["lang"] for r in rows])
        self.mat = np.array([r["embedding"] for r in rows], dtype=np.float32).astype(np.float64)
        self.norms = np.sqrt((self.mat * self.mat).sum(axis=1))

    def topk(self, qvec: list[float], k: int = 5, lang: str | None = None) -> list[tuple]:
        q = np.asarray(qvec, dtype=np.float64)
        qn = math.sqrt(float((q * q).sum()))
        denom = self.norms * qn
        dots = self.mat @ q
        raw = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
        if lang is None:
            return _ranked(self.ids, raw, k)
        sel = np.nonzero(self.langs == lang)[0]
        return _ranked([self.ids[i] for i in sel], raw[sel], k)

    def context(self, hits: list[tuple]) -> tuple[str, int]:
        """``retrieval.assemble_context`` output for ranked hits."""
        pieces = [
            f"Source [{rank}] ({self.doc_ids[cid]}): {self.texts[cid]}"
            for rank, (cid, _score) in enumerate(hits, start=1)
        ]
        return "\n\n".join(pieces), len(pieces)


class BM25Reference:
    """Lucene-variant BM25 over lowercase whitespace tokens."""

    def __init__(self, docs: list[dict], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, float] = {}
        self.postings: dict[str, list[int]] = defaultdict(list)
        for d in docs:
            toks = d["text"].lower().split()
            if not toks:
                continue
            c = Counter(toks)
            self.tf[d["doc_id"]] = c
            self.dl[d["doc_id"]] = float(len(toks))
            for t in c:
                self.postings[t].append(d["doc_id"])
        self.n = float(len(self.tf))
        self.avgdl = sum(self.dl.values()) / self.n

    def topk(self, terms: list[str], k: int = 5) -> list[tuple]:
        k1, b = self.k1, self.b
        scores: dict[int, float] = defaultdict(float)
        for t in sorted(set(terms)):
            docs = self.postings.get(t, [])
            df = float(len(docs))
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for d in docs:
                tf = float(self.tf[d][t])
                scores[d] += idf * (
                    tf * (k1 + 1.0)
                    / (tf + k1 * (1.0 - b + b * self.dl[d] / self.avgdl))
                )
        ids = sorted(scores)
        return _ranked(ids, np.array([scores[i] for i in ids]), k)


def same_ranking(got: list[tuple], want: list[tuple], tol: float = 1e-4) -> bool:
    """Same ids in the same order, scores equal up to one rounding step
    (summation order may move the last bit of a score)."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(float(g[1]) - float(w[1])) <= tol
        for g, w in zip(got, want)
    )


def curate_errors(truth: list[dict], kept_ids: set[int]) -> list[str]:
    """Mismatches between a curation result and the planted truth."""
    errors = []
    per_cluster: Counter = Counter()
    clusters = set()
    for t in truth:
        kept = t["doc_id"] in kept_ids
        if t["kind"] == "clean" and not kept:
            errors.append(f"clean doc {t['doc_id']} dropped")
        elif t["kind"] in ("bad", "contaminated") and kept:
            errors.append(f"{t['kind']} doc {t['doc_id']} kept")
        elif t["kind"] == "dup":
            clusters.add(t["cluster"])
            per_cluster[t["cluster"]] += int(kept)
    for c in sorted(clusters):
        if per_cluster[c] != 1:
            errors.append(f"cluster {c} kept {per_cluster[c]} docs, expected 1")
    return errors

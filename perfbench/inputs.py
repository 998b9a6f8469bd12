"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same triple
gives byte-identical files. Inputs are written once under the cache
directory and reused by later runs with the same triple, so generation is
never part of a measured phase or of ``setup_s``.

Text is ASCII only, with single spaces and newlines as the only
whitespace, so the engine's ``split(trim(lower(text)), '\\s+')`` and
Python's ``str.lower().split()`` give the same tokens. Stopwords never
sit next to each other, so random word 3-grams rarely repeat across
independent texts; the curate generator still checks each clean document
against the benchmark passages and the other clean documents in Python
and draws it again when it would collide.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Mirrors functions.text.STOPWORDS["en"]: the Gopher stopword gate counts
# these, so every clean document carries some.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
LANGS = ["en", "es", "fr", "de"]
LANG_WEIGHTS = [0.55, 0.2, 0.15, 0.1]
SOURCES = ["web", "news", "wiki", "forum", "docs"]
SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvwz"
    for v in ("a", "e", "i", "o", "u", "ar", "en", "is", "on", "ul")
]
INPUT_VERSION = 1
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
    ]
)


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one benchmark configuration."""

    serve_docs: int
    query_pool: int
    schedule: int
    curate_clean: int
    curate_clusters: int
    curate_cluster_size: int
    curate_bad: int
    curate_contaminated: int
    bench_passages: int
    median_tokens: int
    max_tokens: int


FULL = Sizes(
    serve_docs=1000,
    query_pool=400,
    schedule=240,
    curate_clean=280,
    curate_clusters=30,
    curate_cluster_size=3,
    curate_bad=40,
    curate_contaminated=20,
    bench_passages=20,
    median_tokens=220,
    max_tokens=3000,
)
TINY = Sizes(
    serve_docs=80,
    query_pool=120,
    schedule=60,
    curate_clean=24,
    curate_clusters=4,
    curate_cluster_size=3,
    curate_bad=5,
    curate_contaminated=3,
    bench_passages=4,
    median_tokens=120,
    max_tokens=900,
)


def _rng(workload: str, seed: int, salt: str = "") -> np.random.Generator:
    key = f"{workload}/{seed}/{salt}".encode()
    return np.random.default_rng(list(key))


class TextMaker:
    """Seeded ASCII prose: Zipf-distributed content words, one stopword
    between content-word runs, sentences, lines and paragraphs."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = 12000,
                 zipf_s: float = 0.9):
        self.rng = rng
        words: set[str] = set()
        while len(words) < vocab_size:
            n = int(rng.integers(2, 5))
            w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
            if w not in STOPWORDS:
                words.add(w)
        self.vocab = np.array(sorted(words))
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = ranks ** -zipf_s
        self.cum = np.cumsum(p / p.sum())

    def words(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cum, self.rng.random(n), side="right")
        return self.vocab[np.minimum(idx, len(self.vocab) - 1)].tolist()

    def sentence(self, n_tokens: int) -> list[str]:
        toks: list[str] = []
        content = self.words(n_tokens)
        for i, w in enumerate(content):
            toks.append(w)
            if i % 4 == 1 and len(toks) < n_tokens - 1:
                toks.append(STOPWORDS[int(self.rng.integers(0, len(STOPWORDS)))])
            if len(toks) >= n_tokens:
                break
        return toks[:n_tokens]

    def document(self, n_tokens: int) -> str:
        """About ``n_tokens`` whitespace tokens of prose. One paragraph in
        eight is a single long run without blank lines, so long documents
        also reach the splitter's line and sentence separators."""
        paras: list[str] = []
        left = n_tokens
        while left > 0:
            long_run = self.rng.random() < 0.125
            p_len = int(self.rng.integers(300, 900) if long_run
                        else self.rng.integers(20, 160))
            p_len = min(p_len, left)
            lines: list[str] = []
            sents: list[str] = []
            used = 0
            while used < p_len:
                s_len = min(int(self.rng.integers(6, 19)), p_len - used)
                toks = self.sentence(max(s_len, 1))
                end = "?" if self.rng.random() < 0.05 else "."
                sents.append(" ".join(toks) + end)
                used += len(toks)
                if not long_run and self.rng.random() < 0.15:
                    lines.append(" ".join(sents))
                    sents = []
            if sents:
                lines.append(" ".join(sents))
            paras.append("\n".join(lines))
            left -= used
        return "\n\n".join(paras)

    def length(self, median: int, max_tokens: int, min_tokens: int = 20) -> int:
        """Long-tailed (log-normal) document length in tokens."""
        n = int(round(median * float(np.exp(self.rng.normal(0.0, 1.0)))))
        return int(min(max(n, min_tokens), max_tokens))


def _corpus(tm: TextMaker, n_docs: int, sizes: Sizes) -> list[dict]:
    rng = tm.rng
    docs = []
    for i in range(n_docs):
        docs.append(
            {
                "doc_id": i + 1,
                "text": tm.document(tm.length(sizes.median_tokens, sizes.max_tokens)),
                "lang": LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))],
                "source": SOURCES[int(rng.integers(0, len(SOURCES)))],
            }
        )
    return docs


def _write_docs(docs: list[dict], path: str) -> None:
    table = pa.Table.from_pylist(docs, schema=DOC_SCHEMA)
    pq.write_table(table, path, compression="snappy")


def _zipf_index(rng: np.random.Generator, n: int, s: float = 1.1) -> int:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -s
    return int(rng.choice(n, p=p / p.sum()))


REQUEST_CYCLE = ("dense", "lexical", "dense", "filtered")


def make_serve(seed: int, sizes: Sizes) -> dict:
    """Corpus plus a request schedule. Kinds follow a fixed cycle — 50%
    dense, 25% filtered, 25% lexical — so every stretch of the schedule has
    the same mix. Every fourth request (rotating through the kinds)
    repeats an earlier request of its kind, picked Zipf-skewed by first
    appearance, so the repeat share is 25% in any window of a run; the
    others ask a query not asked before by that kind."""
    tm = TextMaker(_rng("serve", seed, "text"))
    docs = _corpus(tm, sizes.serve_docs, sizes)
    rng = _rng("serve", seed, "queries")
    pool = [" ".join(tm.words(int(rng.integers(3, 7)))) for _ in range(sizes.query_pool)]
    # the first six pool queries only warm the request paths in set-up;
    # each kind asks fresh queries from its own share of the rest
    warmup = [{"kind": k, "query": i, "lang": "en"}
              for i, k in enumerate(("dense", "lexical", "filtered") * 2)]
    kinds = sorted(set(REQUEST_CYCLE))
    perm = (rng.permutation(sizes.query_pool - len(warmup)) + len(warmup)).tolist()
    fresh = {k: perm[j::len(kinds)] for j, k in enumerate(kinds)}
    asked: dict[str, list[tuple]] = {k: [] for k in set(REQUEST_CYCLE)}
    schedule = []
    n = len(REQUEST_CYCLE)
    for i in range(sizes.schedule):
        kind = REQUEST_CYCLE[i % n]
        # one slot per cycle repeats; it moves back one place each cycle,
        # so the repeats rotate through the kinds
        if i % n == n - 1 - (i // n) % n and asked[kind]:
            query, lang = asked[kind][_zipf_index(rng, len(asked[kind]))]
        else:
            query = fresh[kind].pop()
            lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
            asked[kind].append((query, lang))
        schedule.append({"kind": kind, "query": query, "lang": lang})
    return {"docs": docs,
            "meta": {"queries": pool, "schedule": schedule, "warmup": warmup}}


def _ngrams(toks: list[str], n: int = 3) -> set[str]:
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def make_curate(seed: int, sizes: Sizes) -> dict:
    """Documents with planted truth for ``curation.curate_corpus``:

    * ``clean`` — pass every Gopher gate, share no 3-gram with the
      benchmark set and no near-duplicate with another document;
    * ``dup`` — clusters of ``curate_cluster_size`` documents: a clean
      base plus variants with ~4% of tokens replaced (3-gram Jaccard to
      the base well above the 0.5 threshold);
    * ``bad`` — each fails one Gopher gate (too short, symbol-heavy,
      repetitive, no stopwords, overlong words);
    * ``contaminated`` — a clean document with one benchmark passage of
      at least twelve tokens pasted into it.
    """
    tm = TextMaker(_rng("curate", seed, "text"), vocab_size=30000, zipf_s=0.6)
    rng = tm.rng
    bench = [" ".join(tm.sentence(int(rng.integers(40, 80)))) for _ in range(sizes.bench_passages)]
    bench_grams: set[str] = set()
    for b in bench:
        bench_grams |= _ngrams(b.lower().split())

    seen: list[set] = []

    def clean_text() -> str:
        while True:
            text = tm.document(tm.length(120, 600, min_tokens=40))
            grams = _ngrams(text.lower().split())
            if grams & bench_grams:
                continue
            if any(_jaccard(grams, g) >= 0.2 for g in seen):
                continue
            seen.append(grams)
            return text

    rows: list[tuple[str, str, int]] = []  # (kind, text, cluster)
    for _ in range(sizes.curate_clean):
        rows.append(("clean", clean_text(), 0))
    for c in range(1, sizes.curate_clusters + 1):
        base = clean_text()
        rows.append(("dup", base, c))
        toks = base.split(" ")
        for _ in range(sizes.curate_cluster_size - 1):
            var = list(toks)
            for j in rng.choice(len(var), size=max(1, len(var) // 25), replace=False):
                if "\n" not in var[j] and var[j][-1:] not in ".?":
                    var[j] = tm.words(1)[0]
            rows.append(("dup", " ".join(var), c))
    bad_makers = [
        lambda: " ".join(tm.sentence(12)) + ".",
        lambda: " ".join(w + " #@" for w in tm.sentence(40)),
        lambda: " ".join((tm.sentence(4) + ["the"]) * 12),
        lambda: " ".join(tm.words(60)),
        lambda: " ".join(w * 6 for w in tm.sentence(40)),
    ]
    for i in range(sizes.curate_bad):
        rows.append(("bad", bad_makers[i % len(bad_makers)](), 0))
    for _ in range(sizes.curate_contaminated):
        text = clean_text()
        b = bench[int(rng.integers(0, len(bench)))].split(" ")
        start = int(rng.integers(0, len(b) - 12))
        rows.append(("contaminated", text + "\n\n" + " ".join(b[start:start + 16]) + ".", 0))

    order = rng.permutation(len(rows)).tolist()
    docs, truth = [], []
    for new_id, i in enumerate(order, start=1):
        kind, text, cluster = rows[i]
        docs.append({"doc_id": new_id, "text": text, "lang": "en",
                     "source": SOURCES[new_id % len(SOURCES)]})
        truth.append({"doc_id": new_id, "kind": kind, "cluster": cluster})
    return {"docs": docs, "meta": {"benchmark": bench, "truth": truth}}


MAKERS = {"serve": make_serve, "curate": make_curate}


def materialize(cache_dir: str, workload: str, seed: int, sizes: Sizes,
                size_name: str) -> str:
    """Write (or reuse) the inputs of (workload, seed, sizes) and return
    their directory: ``docs.parquet`` plus ``meta.json``."""
    out = os.path.join(cache_dir, f"{workload}-{size_name}-{seed}-v{INPUT_VERSION}")
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    gen = MAKERS[workload](seed, sizes)
    _write_docs(gen["docs"], os.path.join(out, "docs.parquet"))
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(gen["meta"], f, sort_keys=True)
    with open(done, "w") as f:
        f.write("ok\n")
    return out


def load_docs(input_dir: str) -> list[dict]:
    return pq.read_table(os.path.join(input_dir, "docs.parquet")).to_pylist()


def load_meta(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "meta.json")) as f:
        return json.load(f)

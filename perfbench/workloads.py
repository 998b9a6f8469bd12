"""The benchmark workloads and the traced layer probe.

``serve``  — a closed loop with one client. Set-up runs the nightly ingest
             DAG (documents -> recursive chunks -> embeddings -> bucketed
             index, plus the BM25 postings index) and warms the query paths;
             the measured phase sends requests one after another.
``curate`` — repeated passes of ``curation.curate_corpus`` over documents
             with planted near-duplicate clusters, low-quality documents
             and benchmark contamination.

Every call into the engine sits inside a tracer span named
``<layer>.<call>``; with tracing off the spans cost nothing.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import reference
from spans import Tracer

from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark import pipeline
from building_a_rag_pipeline_with_airflow_spark.functions.embed import (
    embed_documents,
    embed_text,
)
from building_a_rag_pipeline_with_airflow_spark.operators import (
    chunking,
    curation,
    dedup,
    lexical,
    release_checkpoint,
    retrieval,
    similarity,
)

K = 5
PROBE_QUERIES = 2
PROBE_DEDUP_DOCS = 200


@dataclass
class Run:
    """State of one benchmark run."""

    spark: object
    tracer: Tracer
    input_dir: str
    work_dir: str
    docs: list[dict]
    meta: dict
    seconds: float
    corrupt: bool = False
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    items: int = 0
    report: dict = field(default_factory=dict)

    @property
    def docs_path(self) -> str:
        return os.path.join(self.input_dir, "docs.parquet")

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def take_corrupt(self) -> bool:
        """True once, for the first checked result, when the run was asked
        to corrupt a result (the gate's self-test)."""
        hit, self.corrupt = self.corrupt, False
        return hit


def _ms(values: list[float]) -> float:
    return statistics.median(values) * 1000.0 if values else 0.0


def _p90_ms(values: list[float]) -> float:
    return statistics.quantiles(values, n=10)[-1] * 1000.0 if len(values) >= 2 else _ms(values)


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------- ingest DAG


def ingest_dag(run: Run, index_path: str, postings_path: str) -> None:
    """Document acquisition -> chunk -> embed -> store, as the nightly DAG
    runs it: the chunk index in the doc-hash bucketed layout plus the BM25
    postings index."""
    t = run.tracer
    docs = run.spark.read.parquet(run.docs_path)
    with t.span("pipeline.write_index_bucketed"):
        index = pipeline.build_index(
            docs, strategy="recursive", keep_cols=("lang", "source")
        )
        pipeline.write_index_bucketed(index, index_path)
    with t.span("lexical.build_postings_index"):
        lexical.build_postings_index(docs, postings_path)


def check_ingest(run: Run, index_path: str, postings_path: str) -> None:
    """Chunks per document match ``recursive_split_py``; the postings index
    counts every document."""
    want = {
        d["doc_id"]: len(chunking.recursive_split_py(d["text"])) for d in run.docs
    }
    got = {
        r["doc_id"]: r["count"]
        for r in run.spark.read.parquet(index_path).groupBy("doc_id").count().collect()
    }
    if run.take_corrupt():
        got.pop(next(iter(got)), None)
    bad = [d for d in want if got.get(d) != want[d]]
    run.check(not bad, f"ingest: chunk counts differ for docs {bad[:5]}")
    n_docs = run.spark.read.parquet(f"{postings_path}/meta").first()["n_docs"]
    run.check(n_docs == len(run.docs), f"ingest: postings n_docs {n_docs} != {len(run.docs)}")


# --------------------------------------------------------------------- serve


class Serve:
    KINDS = ("dense", "filtered", "lexical")

    def __init__(self, run: Run):
        self.run = run
        self.index_path = run.path("index")
        self.postings_path = run.path("postings")
        self.queries = run.meta["queries"]
        self.schedule = run.meta["schedule"]

    def setup(self) -> None:
        run = self.run
        t0 = time.perf_counter()
        ingest_dag(run, self.index_path, self.postings_path)
        build_s = time.perf_counter() - t0
        self.index = pipeline.read_index_bucketed(run.spark, self.index_path)
        # warm the three request paths; these answers are not measured
        for req in run.meta["warmup"]:
            self.request(req)
        n_files, n_bytes = _dir_size(self.index_path)
        p_files, p_bytes = _dir_size(self.postings_path)
        text_bytes = sum(len(d["text"].encode()) for d in run.docs)
        run.report.update(
            ingest_docs=len(run.docs),
            ingest_docs_per_s=len(run.docs) / build_s,
            index_bytes_per_input_byte=(n_bytes + p_bytes) / text_bytes,
            index_files=n_files + p_files,
        )

    def references(self) -> None:
        run = self.run
        check_ingest(run, self.index_path, self.postings_path)
        rows = self.index.select("chunk_id", "doc_id", "text", "lang", "embedding").collect()
        self.dense_ref = reference.DenseReference([r.asDict() for r in rows])
        self.bm25_ref = reference.BM25Reference(run.docs)

    def request(self, req: dict, rid: int | None = None):
        q = self.queries[req["query"]]
        span = self.run.tracer.span
        if req["kind"] == "lexical":
            with span("lexical.bm25_topk_from_index", rid):
                return lexical.bm25_topk_from_index(
                    self.run.spark, self.postings_path, q.split(), k=K
                ).collect()
        prefilter = F.col("lang") == req["lang"] if req["kind"] == "filtered" else None
        name = "retrieval.rag_query" + ("_filtered" if prefilter is not None else "")
        with span(name, rid):
            return pipeline.rag_query(self.index, q, k=K, prefilter=prefilter).collect()

    def verify(self, req: dict, rows) -> bool:
        q = self.queries[req["query"]]
        if req["kind"] == "lexical":
            got = [(r["doc_id"], r["score"]) for r in rows]
            if self.run.take_corrupt():
                got = got[::-1]
            return reference.same_ranking(got, self.bm25_ref.topk(q.split(), K))
        lang = req["lang"] if req["kind"] == "filtered" else None
        want = self.dense_ref.context(self.dense_ref.topk(embed_text(q), K, lang))
        got = (rows[0]["context"], rows[0]["n_sources"]) if rows else ("", 0)
        if self.run.take_corrupt():
            got = (got[0] + " ", got[1])
        if req["kind"] == "dense":
            self.answers[q] = got
        return got == want

    def main(self) -> None:
        run = self.run
        self.answers: dict[str, tuple] = {}
        lat: dict[str, list[float]] = {k: [] for k in self.KINDS}
        seen: set[tuple] = set()
        repeats = 0
        deadline = time.perf_counter() + run.seconds
        i = 0
        while time.perf_counter() < deadline:
            req = self.schedule[i % len(self.schedule)]
            t0 = time.perf_counter()
            try:
                rows = self.request(req, rid=i)
            except Exception as e:  # a failed request counts, the loop goes on
                run.check(False, f"serve: request {i} raised {type(e).__name__}: {e}")
                rows = None
            dt = time.perf_counter() - t0
            i += 1
            key = (req["kind"], req["query"], req["lang"] if req["kind"] == "filtered" else "")
            repeats += key in seen
            seen.add(key)
            if rows is None:
                continue
            lat[req["kind"]].append(dt)
            run.op_s.append(dt)
            run.check(self.verify(req, rows), f"serve: {req['kind']} request {i - 1} differs from the reference")
        run.items = len(run.op_s)
        run.report.update(
            requests=i,
            op_ms=[round(x * 1000.0, 1) for x in run.op_s],
            repeat_share=repeats / max(i, 1),
            query_p50_ms=_ms(run.op_s),
            query_p90_ms=_p90_ms(run.op_s),
            **{f"{k}_p50_ms": _ms(v) for k, v in lat.items()},
            **{f"{k}_requests": len(v) for k, v in lat.items()},
        )

    def batch(self) -> None:
        """The run's distinct dense queries answered again in one
        ``knn_join``; each answer must equal the single-request answer."""
        run = self.run
        texts = sorted(self.answers)
        if not texts:
            return
        qdf = run.spark.createDataFrame(
            [(i, embed_text(q)) for i, q in enumerate(texts)],
            "q_id int, q_vec array<double>",
        )
        t0 = time.perf_counter()
        with run.tracer.span("similarity.knn_join"):
            rows = similarity.knn_join(qdf, self.index, k=K, c_id="chunk_id").collect()
        dt = time.perf_counter() - t0
        run.report["batch_queries_per_s"] = len(texts) / dt
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["q_id"], r["rank"])):
            by_q.setdefault(r["q_id"], []).append((r["chunk_id"], r["score"]))
        for i, q in enumerate(texts):
            got = by_q.get(i, [])
            want = self.dense_ref.topk(embed_text(q), K)
            ok = reference.same_ranking(got, want) and (
                self.dense_ref.context(got) == self.answers[q]
            )
            run.check(ok, f"serve: batch answer for query {i} differs")


# -------------------------------------------------------------------- curate


class Curate:
    def __init__(self, run: Run):
        self.run = run
        self.truth = run.meta["truth"]

    def setup(self) -> None:
        self.bench = self.run.spark.createDataFrame(
            [(b,) for b in self.run.meta["benchmark"]], "text string"
        )
        # one pass warms the JVM and the Python workers; it is not measured
        self.pass_once()

    def references(self) -> None:
        pass

    def batch(self) -> None:
        pass

    def pass_once(self) -> tuple[set[int], list]:
        run = self.run
        docs = run.spark.read.parquet(run.docs_path)
        with run.tracer.span("curation.curate_corpus"):
            kept, audit = curation.curate_corpus(
                docs, benchmark=self.bench, audit_checksum=True
            )
            ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
            stages = audit.collect()
        release_checkpoint(kept)
        return ids, stages

    def main(self) -> None:
        run = self.run
        deadline = time.perf_counter() + run.seconds
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            try:
                ids, stages = self.pass_once()
            except Exception as e:
                run.check(False, f"curate: pass raised {type(e).__name__}: {e}")
                continue
            run.op_s.append(time.perf_counter() - t0)
            run.items += len(run.docs)
            if run.take_corrupt():
                ids.add(next(t["doc_id"] for t in self.truth if t["kind"] == "bad"))
            errors = reference.curate_errors(self.truth, ids)
            last = stages[-1]
            xor = 0
            for i in ids:
                xor ^= i
            if last["rows_out"] != len(ids) or last["id_xor"] != xor:
                errors.append("curate: audit does not match the kept set")
            run.check(not errors, "; ".join(errors[:3]))
        run.report.update(
            passes=len(run.op_s),
            op_ms=[round(x * 1000.0, 1) for x in run.op_s],
            curate_docs=len(run.docs),
            curate_docs_per_s=len(run.docs) / statistics.median(run.op_s) if run.op_s else 0.0,
        )


WORKLOADS = {"serve": Serve, "curate": Curate}


# ---------------------------------------------------------------- layer probe


def probe(run: Run, queries: list[str], bench_texts: list[str]) -> dict:
    """Traced runs only: call each layer once, in isolation, on this run's
    documents, so every layer gets a self-contained measurement on every
    workload. Chunking and embedding are fused into the index write, so
    they are measured as prefixes into a ``noop`` sink."""
    spark, span = run.spark, run.tracer.span
    out: dict = {}
    docs = spark.read.parquet(run.docs_path)
    with span("chunking.chunk_recursive"):
        chunking.chunk_recursive(docs).write.format("noop").mode("overwrite").save()
    with span("embed.embed_documents"):
        embed_documents(chunking.chunk_recursive(docs)).write.format("noop").mode(
            "overwrite"
        ).save()
    out["chunks"] = chunking.chunk_recursive(docs).count()
    index_path, postings_path = run.path("probe_index"), run.path("probe_postings")
    with span("pipeline.write_index_bucketed"):
        pipeline.write_index_bucketed(
            pipeline.build_index(docs, strategy="recursive", keep_cols=("lang", "source")),
            index_path,
        )
    out["index_files"], out["index_bytes"] = _dir_size(index_path)
    with span("lexical.build_postings_index"):
        lexical.build_postings_index(docs, postings_path)
    out["postings_rows"] = spark.read.parquet(f"{postings_path}/postings").count()
    index = pipeline.read_index_bucketed(spark, index_path)
    for rid, q in enumerate(queries[:PROBE_QUERIES]):
        with span("embed.embed_text", rid):
            qvec = embed_text(q)
        with span("similarity.topk_cosine", rid):
            similarity.topk_cosine(index, qvec, k=K, id_col="chunk_id").collect()
        with span("retrieval.retrieve_chunks", rid):
            retrieval.retrieve_chunks(index, q, k=K).collect()
        with span("retrieval.rag_query", rid):
            pipeline.rag_query(index, q, k=K).collect()
        with span("retrieval.rag_query_filtered", rid):
            pipeline.rag_query(index, q, k=K, prefilter=F.col("lang") == "en").collect()
        with span("lexical.bm25_topk_from_index", rid):
            lexical.bm25_topk_from_index(spark, postings_path, q.split(), k=K).collect()
    qdf = spark.createDataFrame(
        [(i, embed_text(q)) for i, q in enumerate(queries[:PROBE_QUERIES])],
        "q_id int, q_vec array<double>",
    )
    with span("similarity.knn_join"):
        similarity.knn_join(qdf, index, k=K, c_id="chunk_id").collect()
    with span("curation.gopher_quality_flags"):
        curation.gopher_quality_flags(docs).write.format("noop").mode("overwrite").save()
    out["gopher_keep"] = curation.gopher_quality_flags(docs).where("keep").count()
    bench = spark.createDataFrame([(b,) for b in bench_texts], "text string")
    with span("curation.decontaminate"):
        curation.decontaminate(docs, bench).write.format("noop").mode("overwrite").save()
    sample = docs.where(F.col("doc_id") <= PROBE_DEDUP_DOCS)
    with span("dedup.ngram_jaccard_pairs"):
        out["pairs"] = dedup.ngram_jaccard_pairs(sample, threshold=0.5).count()
    with span("dedup.dedup_clusters"):
        comps = dedup.dedup_clusters(sample).select("component").distinct().collect()
    out["components"] = len(comps)
    out["n_docs"] = len(run.docs)
    return out

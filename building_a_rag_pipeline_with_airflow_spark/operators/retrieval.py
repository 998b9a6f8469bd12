"""Retrieval + context assembly (the reference's query-time RAG path).

Reference: retrieve top-k chunks (``chromadb_rag.py:127-140``), format
``Source [i] (src): chunk`` joined with blank lines (``:148-166``), then one
LLM call on the assembled context (``:168-181`` — external service, out of
the distributed plan; the engine returns the context DataFrame).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.functions.embed import embed_text
from building_a_rag_pipeline_with_airflow_spark.functions.vectors import (
    cosine_similarity,
    cosine_to_query,
)
from building_a_rag_pipeline_with_airflow_spark.operators.similarity import (
    TOP_K,
    _topk_carrying,
    topk_cosine,
)


def retrieve_chunks(
    index: DataFrame,
    query_text: str,
    k: int = TOP_K,
    dim: int = 64,
    vec_col: str = "embedding",
    prefilter=None,
) -> DataFrame:
    """Embed the query (driver-side, same embedder as the index) and return
    the top-k chunk rows: ``chunk_id, score, <other index columns>, rank``.
    ``prefilter`` = hybrid search (V3).

    One index scan, one Spark job: the index's other columns travel with
    each scored row through the top-k heap (TakeOrderedAndProject), so
    the k winners already hold their payload. Joining the top-k ids back
    to the index instead costs a second full scan, a broadcast and two
    more jobs — measured on a 4-core host over a 1701-row index: 3 jobs
    and 3402 rows read per request, against 1 job and 1701 rows.

    Plan building is part of the request too: it runs through py4j
    before any job starts, so the chain is built in a constant number of
    JVM calls (the query enters as one expression, see
    ``vectors.cosine_to_query``). On the same host this function's plan
    took ~190 ms and 681 py4j round trips with the join back and the
    Column-built query, and takes ~70 ms and 108 round trips now."""
    qvec = embed_text(query_text, dim)
    carry = [c for c in index.columns if c not in ("chunk_id", vec_col)]
    topk = _topk_carrying(index, qvec, k, vec_col, "chunk_id", prefilter, carry)
    # k rows at this point — the global window is trivially cheap.
    w = Window.orderBy(F.desc("score"), F.asc("chunk_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def mmr_topk(
    index: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    fetch_k: int = 4 * TOP_K,
    lambda_mult: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "chunk_id",
) -> DataFrame:
    """Maximal-marginal-relevance selection core: fetch ``fetch_k``
    candidates by cosine, then greedily select ``k`` balancing query
    relevance against redundancy with what's already selected
    (``lambda * rel - (1 - lambda) * max_sim_to_selected`` — the standard
    MMR objective, the diversity knob the reference's plain top-k lacks).
    Returns ``(id, rel, mmr_score, rank)``.

    Scale shape: the distributed part is the candidate scan (identical to
    :func:`retrieve_chunks`'s top-k — TakeOrderedAndProject, corpus never
    shuffles) plus the candidate×candidate cosine matrix (a fetch_k-row
    crossJoin — metadata-scale by construction, like the IVF probe's
    centroid collect, NOT a data-path collect). The greedy selection is
    inherently sequential in k, so it runs driver-side over the collected
    fetch_k rel values and fetch_k² pair sims. Payload columns stay
    distributed: the chosen ids join back against the index.

    Oracle determinism: ``rel`` and the pair sims are rounded to 6dp
    IN-PLAN (``F.round`` — the engine family every other oracle proves
    out). The greedy objective is then computed in FIXED POINT: 6dp
    inputs scaled by single-decimal weights live exactly on the 1e-7
    decimal grid, so ``m_e7 = round((lam·rel − (1−lam)·maxsim)·1e7)``
    is an exact integer on any engine, the argmax compares integers
    (tiebreak smaller id), and the reported ``mmr_score = m_e7/1e7`` is
    the bit-identical double on both sides. A straight ``round(m, 6)``
    is NOT oracle-safe here — the objective lands on decimal rounding
    half-boundaries structurally (measured at sf0.001: 0.19435550
    exactly), where correctly-rounded rounding (Spark/Python) and
    scale-then-``std::round`` (DuckDB) disagree on the last digit."""
    # NULL vectors are excluded BEFORE the candidate cut: cosine
    # propagates NULL, and when the corpus has fewer than fetch_k
    # non-null vectors the desc sort would still admit NULL-scored rows
    # — which then crash the greedy loop with float(None). A degenerate
    # index degrades to fewer candidates instead of raising.
    index = index.where(F.col(vec_col).isNotNull())
    # Narrow lazy checkpoint after the candidate cut: three downstream
    # references (the rel collect + both crossJoin sides) would each
    # re-run the corpus-scale TakeOrdered scan otherwise — the
    # phash_near_dups recompute-per-reference trap; the pinned blocks
    # are fetch_k (id, vector) rows.
    cands = (
        topk_cosine(index, query_vec, k=fetch_k, vec_col=vec_col, id_col=id_col)
        .join(index.select(id_col, vec_col), id_col)
        .localCheckpoint(eager=False)
    )
    rel_rows = cands.select(
        F.col(id_col),
        F.round(cosine_to_query(vec_col, query_vec), 6).alias("rel"),
    ).collect()
    spark = index.sparkSession
    id_type = index.schema[id_col].dataType.simpleString()
    if not rel_rows:
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, rel double, mmr_score double, rank int"
        )
    a = cands.select(F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"))
    b = cands.select(F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"))
    # fetch_k × fetch_k pair cosines: both crossJoin sides are bounded by
    # the candidate cut above — metadata-scale, never corpus-scale.
    sim_rows = (
        a.crossJoin(b)
        .where(F.col("_ia") < F.col("_ib"))
        .select(
            "_ia",
            "_ib",
            F.round(cosine_similarity("_va", "_vb"), 6).alias("s"),
        )
        .collect()
    )
    rel = {r[id_col]: float(r["rel"]) for r in rel_rows}
    sim: dict = {}
    for r in sim_rows:
        sim[(r["_ia"], r["_ib"])] = float(r["s"])
        sim[(r["_ib"], r["_ia"])] = float(r["s"])
    lam = float(lambda_mult)
    remaining = sorted(rel)  # id order = the argmax tiebreak order
    selected: list[tuple] = []  # (id, rel, mmr_score)
    while remaining and len(selected) < k:
        if not selected:
            # first pick is PURE relevance (the MMR definition, and the
            # oracle's ORDER BY rel) — keying on lam*rel would collapse
            # to the id tiebreak at lambda=0, which is a ranking
            # regression, not a rounding concern; rel is already 6dp so
            # the comparison is exact
            best = max(remaining, key=lambda i: rel[i])
            score_e7 = round(lam * rel[best] * 1e7)
        else:
            def _m_e7(i):
                return round(
                    (lam * rel[i]
                     - (1.0 - lam) * max(sim[(i, s[0])] for s in selected))
                    * 1e7
                )
            best = max(remaining, key=_m_e7)  # stable: smallest id wins ties
            score_e7 = _m_e7(best)
        selected.append((best, rel[best], score_e7 / 1e7))
        remaining.remove(best)
    return spark.createDataFrame(
        [(i, r, m, rank + 1) for rank, (i, r, m) in enumerate(selected)],
        f"{id_col} {id_type}, rel double, mmr_score double, rank int",
    )


def mmr_rerank(
    index: DataFrame,
    query_text: str,
    k: int = TOP_K,
    fetch_k: int = 4 * TOP_K,
    lambda_mult: float = 0.5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "chunk_id",
) -> DataFrame:
    """MMR retrieval over a chunk index: embed the query (driver-side, same
    embedder as the index), select via :func:`mmr_topk`, join the chosen
    ids back for the full rows."""
    qvec = embed_text(query_text, dim)
    order = mmr_topk(
        index,
        qvec,
        k=k,
        fetch_k=fetch_k,
        lambda_mult=lambda_mult,
        vec_col=vec_col,
        id_col=id_col,
    )
    return index.drop(vec_col).join(F.broadcast(order), id_col).orderBy("rank")


def expand_retrieved_window(
    retrieved: DataFrame,
    chunks: DataFrame,
    window: int = 1,
    id_col: str = "chunk_id",
) -> DataFrame:
    """Sentence-window expansion: for each retrieved hit, pull the
    neighboring chunks of the SAME document (``chunk_index`` within
    ``±window``) and merge them in document order — retrieval matches on
    the small focused chunk, the LLM context gets the surrounding
    passage (the standard small-to-big / sentence-window trick; the
    reference's top-k returns the bare hit chunk only). Window edges
    clip naturally at document start/end, so ``n_window_chunks`` ranges
    1..2·window+1. Overlapping chunkers (fixed 400/50) repeat their
    overlap at the seams — this expands, it does not re-segment.

    Scale shape: ``retrieved`` is k rows — broadcast it against the
    chunk table's doc_id (one equi-join, chunk side never shuffles, the
    range condition is a post-join filter on the broadcast row), then a
    k-group hash aggregate rebuilds each window in chunk order
    (``array_sort(collect_list(struct))``, the assemble_context
    pattern — no window function)."""
    if window < 0:
        raise ValueError(f"window must be >= 0, got {window}")
    hits = retrieved.select(
        F.col(id_col).alias("_hit_id"),
        F.col("doc_id").alias("_hit_doc"),
        F.col("chunk_index").alias("_hit_idx"),
        "rank",
    )
    j = chunks.join(
        F.broadcast(hits),
        (F.col("doc_id") == F.col("_hit_doc"))
        & (F.col("chunk_index") >= F.col("_hit_idx") - window)
        & (F.col("chunk_index") <= F.col("_hit_idx") + window),
    )
    return (
        j.groupBy("_hit_id", "rank")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_index", "text"))
                ).getField("text"),
                " ",
            ).alias("window_text"),
            F.count("*").cast("int").alias("n_window_chunks"),
        )
        .select(
            F.col("_hit_id").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            "window_text",
            "n_window_chunks",
        )
    )


def assemble_context(retrieved: DataFrame, source_col: str = "doc_id") -> DataFrame:
    """Collapse ranked chunks into one prompt-context row (reference T14
    format, chromadb_rag.py:148-166): 'Source [i] (src): text' + '\\n\\n'."""
    formatted = retrieved.select(
        F.format_string(
            "Source [%d] (%s): %s",
            F.col("rank"),
            F.col(source_col).cast("string"),
            F.col("text"),
        ).alias("piece"),
        "rank",
    )
    return formatted.agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("rank", "piece"))).getField("piece"),
            "\n\n",
        ).alias("context"),
        F.count("*").cast("int").alias("n_sources"),
    )


def token_overlap_scorer_udf():
    """Deterministic hermetic cross-scorer for tests and oracles: distinct
    lowercase-whitespace-token Jaccard between the query and the candidate
    text, as an Arrow-batched pandas_udf with the ``(query, text) ->
    double`` signature every :func:`rerank_with` scorer must have — the
    stand-in the test container uses where a real cross-encoder model
    would load (the ``try_sentence_transformer_udf`` seam discipline,
    functions/embed.py).

    Oracle determinism: the score is one IEEE division of two small
    integers (|A∩B| / |A∪B|) — bit-identical on any engine, so it needs
    NO rounding (rounding would *introduce* the half-boundary trap: set
    sizes include powers of two, and e.g. 1/128 sits exactly on the 6dp
    half grid where round-half-even and scale-then-round disagree).
    NULL/empty text scores 0.0."""

    @F.pandas_udf("double")
    def _score(q: pd.Series, t: pd.Series) -> pd.Series:
        def jac(a, b):
            aset = {w for w in (a or "").lower().split(" ") if w}
            bset = {w for w in (b or "").lower().split(" ") if w}
            union = len(aset | bset)
            return float(len(aset & bset)) / union if union else 0.0

        return pd.Series([jac(a, b) for a, b in zip(q, t)])

    return _score


# Per-python-worker model cache for try_cross_encoder_udf: Spark reuses
# python worker processes across tasks, but an iterator UDF's BODY
# re-runs every task — a `CrossEncoder(...)` inside the generator would
# reload hundreds of MB of weights per task (per query, in a lookup
# service). Keyed by model name; lives at module scope so cloudpickle
# serializes the accessor BY REFERENCE and every task in one worker
# process shares the entry.
_CE_MODEL_CACHE: dict = {}


def _cross_encoder_for(model_name: str):
    model = _CE_MODEL_CACHE.get(model_name)
    if model is None:
        from sentence_transformers import CrossEncoder

        model = _CE_MODEL_CACHE[model_name] = CrossEncoder(model_name)
    return model


def try_cross_encoder_udf(
    model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2",
):
    """Real-model cross-encoder scorer (the public two-stage retrieval
    recipe's precision stage). Returns None when sentence-transformers is
    not installed (it is not in the test container) — the same gated-seam
    discipline as ``functions.embed.try_sentence_transformer_udf``. The
    model loads lazily ONCE per python worker process via the
    module-level :data:`_CE_MODEL_CACHE` (the generator body itself
    re-runs per task, so construction cannot live there); batches arrive
    as Arrow-paired (query, text) series."""
    try:
        import sentence_transformers  # noqa: F401
    except Exception:
        return None

    @F.pandas_udf("double")
    def _score(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        model = _cross_encoder_for(model_name)
        for q, t in it:
            preds = model.predict(
                list(zip(q.fillna("").tolist(), t.fillna("").tolist()))
            )
            yield pd.Series([float(p) for p in preds])

    return _score


def rerank_with(
    index: DataFrame,
    query_text: str,
    scorer_udf,
    k: int = TOP_K,
    fetch_k: int = 4 * TOP_K,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "chunk_id",
    text_col: str = "text",
) -> DataFrame:
    """Two-stage retrieval (bi-encoder recall → cross-encoder precision),
    the standard public recipe the reference's single-stage top-k lacks
    (chromadb_rag.py:127-140 scores every hit with the SAME bi-encoder
    that built the index): stage 1 embeds the query driver-side and cuts
    ``fetch_k`` candidates by cosine; stage 2 scores each (query,
    candidate_text) PAIR with ``scorer_udf`` — any pandas_udf with the
    ``(query, text) -> double`` signature: the hermetic
    :func:`token_overlap_scorer_udf` in tests, a
    :func:`try_cross_encoder_udf` model in production — and returns the
    top ``k`` by that score. Output: (id, score, ce_score, rank) where
    ``score`` is the stage-1 cosine and ``rank`` orders by ``ce_score``
    desc with the id tiebreak.

    Scale shape (the candidate-bounded pin, tested): stage 1 is
    TakeOrderedAndProject — the corpus never shuffles; the fetch_k
    candidate ids BROADCAST back onto the index for text, so the
    expensive pair-scorer UDF runs on at most fetch_k rows, never the
    corpus; the final rank is a single-partition window over those same
    ≤fetch_k rows (metadata-scale by construction, the mmr_topk
    convention)."""
    if k < 1 or fetch_k < k:
        raise ValueError(f"need 1 <= k <= fetch_k, got k={k} fetch_k={fetch_k}")
    qvec = embed_text(query_text, dim)
    # NULL vectors are excluded BEFORE the stage-1 cut (the mmr_topk /
    # IVF boundary convention, r10 advice): cosine propagates NULL, and
    # when the corpus has fewer than fetch_k non-null vectors the desc
    # sort would admit NULL-scored rows that can then WIN the final
    # ranking on ce_score while reporting a NULL stage-1 score.
    index = index.where(F.col(vec_col).isNotNull())
    cands = topk_cosine(index, qvec, k=fetch_k, vec_col=vec_col, id_col=id_col)
    with_text = index.select(id_col, text_col).join(F.broadcast(cands), id_col)
    scored = with_text.withColumn(
        "ce_score", scorer_udf(F.lit(query_text), F.col(text_col))
    )
    w = Window.orderBy(F.desc("ce_score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(id_col, "score", "ce_score", F.col("rank").cast("int").alias("rank"))
    )

"""Similarity search: exact cosine top-k, k-NN join, and LSH-bucketed ANN.

Reference behavior: ChromaDB ``collection.query`` = cosine top-k of a query
vector against the stored collection (``Chunking_Strats/chromadb_rag.py:
127-140``, TOP_K=5 at :18), with metadata-filtered "hybrid" search (README
:35-36) realized as a pre-filter.

Scale design:
* ``topk_cosine`` — single query vector: one columnar scan + TakeOrdered
  (no shuffle of the corpus; the top-k heap merges per partition). Fine at
  any corpus size that one pass can scan.
* ``knn_join`` — small query set: broadcast the queries, score per corpus
  partition, per-query top-k via window. Corpus never shuffles; only the
  (tiny) scored candidate set does.
* ``lsh_knn_join`` — large×large: random-hyperplane signatures bucket both
  sides; candidates only join within a band bucket (the classic
  sign-LSH / banding trick). Trades recall for a bounded shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.functions.vectors import (
    cosine_to_query,
    dot_product,
    l2_norm,
)

TOP_K = 5  # reference default, chromadb_rag.py:18


def topk_cosine(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefilter=None,
) -> DataFrame:
    """Exact cosine top-k for one query vector (V2). ``prefilter`` is an
    optional Column predicate applied *before* scoring (V3 hybrid search —
    partition-prunable at scale)."""
    return _topk_carrying(corpus, query_vec, k, vec_col, id_col, prefilter, ())


def _topk_carrying(corpus, query_vec, k, vec_col, id_col, prefilter, carry):
    """:func:`topk_cosine` whose rows also carry the ``carry`` columns,
    read in the same scan (``retrieval.retrieve_chunks``)."""
    df = corpus if prefilter is None else corpus.where(prefilter)
    scored = df.select(
        F.col(id_col),
        F.round(cosine_to_query(vec_col, query_vec), 4).alias("score"),
        *carry,
    )
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition heaps,
    # no full sort, no corpus shuffle.
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def _per_query_topk(scored, q_id: str, c_id: str, k: int, n_shards: int = 16):
    """Salted two-phase per-query top-k over a (q, candidate, score)
    frame — the weighted_sample_per_group pattern. A single
    ``row_number() OVER (PARTITION BY q)`` sorts each query's WHOLE
    candidate set (corpus-scale for the exact tier, a hot band for LSH)
    in one task; phase 1 cuts top-k within (q, candidate-hash
    shard), phase 2 re-ranks the bounded q×shards×k survivors.
    Composition is exactly the per-query top-k — a query-wide winner
    also wins its shard; deterministic tiebreaks unchanged."""
    w1 = Window.partitionBy(
        q_id, F.pmod(F.xxhash64(F.col(c_id)), F.lit(int(n_shards)))
    ).orderBy(F.desc("score"), F.asc(c_id))
    survivors = (
        scored.withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") <= int(k))
        .drop("_rk")
    )
    w2 = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= int(k))
        .select(q_id, c_id, "score", F.col("rank").cast("int").alias("rank"))
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k neighbors in ``corpus`` for every row of ``queries`` (J3).

    Queries are broadcast (they are the small side by contract); the corpus
    is scanned once per partition with no shuffle; the only shuffle is the
    per-query window over scored candidates.

    Norms are projected once per row before the join so the per-pair work
    inside the nested loop is a single dot product.
    """
    qn = queries.withColumn("_qn", l2_norm(q_vec))
    cn = corpus.withColumn("_cn", l2_norm(c_vec))
    scored = cn.join(F.broadcast(qn)).select(
        F.col(q_id),
        F.col(c_id),
        F.round(
            dot_product(F.col(c_vec), F.col(q_vec)) / (F.col("_cn") * F.col("_qn")),
            4,
        ).alias("score"),
    )
    # scale-safe per-query cut — see _per_query_topk
    return _per_query_topk(scored, q_id, c_id, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic random hyperplanes (driver-side numpy, broadcast as
    literals — tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(float)


#: chance-collision budget constant of :func:`check_plane_budget` — per
#: band, random pairs collide at 2^-(planes/bands), so EXPECTED chance
#: candidates are ~C(n,2)·2^-(planes/bands) per band; requiring
#: planes/bands >= log2(n / _PLANE_BUDGET) caps them at ~n·_PLANE_BUDGET/2
#: per band (linear in corpus size). 256 is calibrated to the measured r7
#: scale curve (bench.py): planes=8 at n=2000 passes (measured fine,
#: 4.95 s), planes=8 at n=10000 raises (measured 72× melt), planes=12 at
#: n=10000 passes (measured re-tuned fix, 3.2× growth).
_PLANE_BUDGET = 256


def check_plane_budget(
    n: int, n_planes: int, n_bands: int, enforce: bool = True
) -> None:
    """The LSH planes-vs-corpus-size scaling rule, ENFORCED in code (the
    `max_block`/`max_bucket`/`max_items` convention) instead of living as
    bench-docstring prose: sign-LSH banding whose per-band bit width
    ``planes/bands`` is below ``log2(n / 256)`` lets chance collisions
    grow quadratically in corpus size (the asymptotic form of the
    measured planes ≈ 2·log₂(n) tuning rule — re-tune as the corpus
    grows, like IVF re-clustering).

    Scope (the r8 25× measurement, bench.py): the budget bounds the
    CANDIDATE superset — at 25× the compliant config carried 3.5× fewer
    candidates than the rejected one (12.2M vs 43.0M, the rejected mass
    ~86% chance collisions). It cannot bound the VERIFIED-edge mass:
    every pair genuinely at/above the cosine threshold is downstream
    work (verify shuffle + component depth) whatever the banding, so a
    corpus whose intrinsic pair density at the threshold is high — e.g.
    a loose threshold over noisy vectors — keeps its cost even at a
    compliant plane count. Banding parameters buy back only the chance
    term; the threshold buys the rest.

    Raises ``ValueError`` naming the minimum compliant ``n_planes``;
    ``enforce=False`` (the explicit caller override, e.g. a scale-curve
    repro of the under-provisioned configuration) downgrades to a
    ``UserWarning``."""
    import math
    import warnings

    n = int(n)
    if n <= _PLANE_BUDGET:
        return
    min_bits = math.log2(n / float(_PLANE_BUDGET))
    if n_planes / n_bands >= min_bits:
        return
    need = math.ceil(min_bits * n_bands)
    msg = (
        f"sign-LSH banding with n_planes={n_planes}, n_bands={n_bands} is "
        f"under-provisioned for a corpus of n={n}: planes/bands = "
        f"{n_planes / n_bands:g} bits/band < log2(n/{_PLANE_BUDGET}) = "
        f"{min_bits:.1f}, so CHANCE collisions exceed the linear candidate "
        f"budget and candidate generation goes quadratic (measured: 72× "
        f"wall-time at 5× data, bench.py r7 scale curve). Use n_planes >= "
        f"{need} (the planes ≈ 2·log₂(n) rule), or pass "
        f"enforce_plane_budget=False to run under-provisioned anyway."
    )
    if enforce:
        raise ValueError(msg)
    warnings.warn(msg, UserWarning, stacklevel=3)


def lsh_signature(vec_col, planes) -> "F.Column":
    """Sign-LSH bit signature as a string key: 1 bit per hyperplane."""
    bits = [
        F.when(dot_product(vec_col, F.array(*[F.lit(float(v)) for v in p])) >= 0,
               F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    cell_id: str = "cell_id",
    cell_vec: str = "cell_vec",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (IVF cell).

    Centroids are the small side by construction (√n to n/100 cells) and
    broadcast; the corpus is scanned once with no shuffle except the
    per-vector argmax window. Similarities are rounded to 4 decimals with
    cell-id tie-break so the assignment is reproducible bit-for-bit by any
    engine (the oracle requirement).

    At 100 TB the output is what you ``write.partitionBy(cell_id)`` — the
    probe path then prunes to nprobe partitions instead of scanning the
    corpus.

    Norms are projected once per side before the join (knn_join pattern) so
    the per-pair work in the corpus×centroids loop is one dot product, not
    five interpreted array aggregations — cosine's norm terms would
    otherwise be re-evaluated per pair inside the guard AND the division.

    NULL vectors are EXCLUDED here (the mmr_topk NULL-vector guard
    convention): their similarity to every centroid is NULL, so the
    argmax window ties and dumps them into the lowest cell id — dead
    rows no query can ever return (NULL cosine drops from every top-k),
    stored and scanned forever. Filtering at the assignment boundary
    keeps them out of the build, the streaming extension, and the
    recluster path at once."""
    cn = corpus.where(F.col(c_vec).isNotNull()).withColumn("_cn", l2_norm(c_vec))
    cent = centroids.withColumn("_celln", l2_norm(cell_vec))
    scored = cn.join(F.broadcast(cent)).select(
        corpus["*"],
        F.col(cell_id),
        F.round(
            dot_product(F.col(c_vec), F.col(cell_vec))
            / (F.col("_cn") * F.col("_celln")),
            4,
        ).alias("_csim"),
    )
    w = Window.partitionBy(c_id).orderBy(F.desc("_csim"), F.asc(cell_id))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_csim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    c_vec: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_per_cell: int = 256,
) -> DataFrame:
    """IVF centroids via MLlib KMeans (SURVEY §2.7 scale path).

    Fits on the vector column (array→ml Vector, distributed Lloyd's) and
    returns the centers as a (cell_id, cell_vec) DataFrame —
    broadcast-small by construction (n_cells ≪ corpus), drops straight
    into :func:`ivf_assign`. Deterministic for a fixed seed, but not
    reproducible by an external SQL oracle — the stride subsample remains
    the oracle-checked default.

    Centroid quality needs a bounded training sample, not the full corpus:
    IVF (FAISS-style) trains on ~O(100) vectors per cell, so the fit is
    capped at ``train_per_cell * n_cells`` rows via a seeded ``sample``
    whose fraction comes from an exact count of the corpus (one cheap
    count job — at 100 TB you'd pass the known table size instead).
    ``initMode=random`` + bounded ``maxIter``: kmeans|| spends several
    full passes picking seeds, which buys nothing for IVF cells where
    sampled-random seeds converge to comparable inertia in a handful of
    Lloyd iterations; each avoided pass is a full scan at scale."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # isNotNull: array_to_vector(NULL) would fail the fit mid-job (or a
    # NULL row would poison a center) — same NULL-vector guard as
    # ivf_assign and the stride pickers
    feats = corpus.where(F.col(c_vec).isNotNull()).select(
        array_to_vector(F.col(c_vec).cast("array<double>")).alias("features")
    )
    target = train_per_cell * n_cells
    n = feats.count()
    if n > target:
        feats = feats.sample(fraction=target / n, seed=seed)
    model = KMeans(
        k=n_cells,
        seed=seed,
        maxIter=max_iter,
        initMode="random",
        tol=1e-4,
    ).fit(feats)
    rows = [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        rows, "cell_id long, cell_vec array<double>"
    )


def ivf_topk_cosine(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    stride: int = 16,
    nprobe: int = 4,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    method: str = "stride",
    n_cells: int | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: bucket the corpus into cells by nearest centroid,
    probe only the ``nprobe`` cells whose centroids are closest to the query,
    exact-rank within the probed cells.

    ``method="stride"`` (default) selects centroids by deterministic
    subsampling (every ``stride``-th vector) so results are exactly
    reproducible by a SQL oracle; ``method="kmeans"`` uses MLlib KMeans
    centers (:func:`kmeans_centroids`) — the production path — behind the
    identical assign/probe plan. Scale shape: centroid set stays
    broadcast-small, the scan of non-probed cells is skipped entirely
    (partition pruning when the index is written partitioned by cell), and
    the final top-k is a per-partition heap (TakeOrderedAndProject), never a
    global sort."""
    if method == "kmeans":
        centroids = kmeans_centroids(
            corpus.select(c_id, c_vec),
            n_cells or max(2, nprobe * 4),
            c_vec=c_vec,
        )
    else:
        # isNotNull: a NULL vector drawn as a CENTROID is a dead cell —
        # every similarity against it is NULL, so nothing assigns there
        # and the probe never selects it. Guarded in BOTH stride pickers
        # (in-plan and durable build) so the two stay result-identical
        # on NULL-bearing corpora; ivf_assign guards the corpus side.
        centroids = corpus.where(
            (F.col(c_id) % stride == F.lit(1)) & F.col(c_vec).isNotNull()
        ).select(
            F.col(c_id).alias("cell_id"), F.col(c_vec).alias("cell_vec")
        )
    assigned = ivf_assign(corpus, centroids, c_id, c_vec)

    # Query norm is a constant: fold it on the driver with the same
    # left-to-right double summation Spark's aggregate uses, so the literal
    # is bit-identical to what an in-plan l2_norm(q) would produce — but
    # costs zero per-row work.
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    q_norm = F.lit(qn**0.5)
    probed = (
        centroids.select(
            "cell_id",
            F.round(
                dot_product(F.col("cell_vec"), q) / (l2_norm("cell_vec") * q_norm),
                4,
            ).alias("_qsim"),
        )
        .orderBy(F.desc("_qsim"), F.asc("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    return (
        assigned.join(F.broadcast(probed), "cell_id")
        .select(
            F.col(c_id),
            F.col("cell_id"),
            F.round(
                dot_product(F.col(c_vec), q) / (l2_norm(c_vec) * q_norm), 4
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(c_id))
        .limit(k)
    )


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    n_planes: int = 8,
    n_bands: int = 2,
    dim: int = 64,
    seed: int = 42,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    n_est: "int | None" = None,
    enforce_plane_budget: bool = True,
) -> DataFrame:
    """Approximate k-NN join for large×large inputs: both sides get sign-LSH
    signatures split into bands; candidate pairs share at least one band
    bucket (equi-join per band — a co-partitioned shuffle join, never a cross
    join); exact cosine re-ranks candidates.

    Banding parameters must keep pace with corpus size or chance
    collisions go quadratic: :func:`check_plane_budget` (the coded
    planes ≈ 2·log₂(n) rule) runs against ``n_est`` (pass the known
    corpus size, or leave ``None`` for one ``count()`` on the corpus
    side) and RAISES when under-provisioned;
    ``enforce_plane_budget=False`` downgrades to a warning."""
    check_plane_budget(
        corpus.count() if n_est is None else n_est,
        n_planes,
        n_bands,
        enforce=enforce_plane_budget,
    )
    planes = _hyperplanes(dim, n_planes, seed)
    band_size = n_planes // n_bands

    def with_bands(df, vec, out_prefix):
        sig = lsh_signature(F.col(vec), planes)
        df = df.withColumn("_sig", sig)
        bands = F.array(
            *[
                F.concat(F.lit(f"{b}:"), F.substring("_sig", b * band_size + 1, band_size))
                for b in range(n_bands)
            ]
        )
        return df.withColumn(f"{out_prefix}band", F.explode(bands)).drop("_sig")

    qb = with_bands(queries, q_vec, "")
    cb = with_bands(corpus, c_vec, "")
    cand = (
        qb.join(cb, "band")
        .select(q_id, c_id, q_vec, c_vec)
        .dropDuplicates([q_id, c_id])
    )
    scored = cand.select(
        q_id,
        c_id,
        F.round(
            dot_product(F.col(c_vec), F.col(q_vec))
            / (l2_norm(F.col(c_vec)) * l2_norm(F.col(q_vec))),
            4,
        ).alias("score"),
    )
    # scale-safe per-query cut — see _per_query_topk
    return _per_query_topk(scored, q_id, c_id, k)


def brp_similarity_join(
    queries: DataFrame,
    corpus: DataFrame,
    dist_threshold: float,
    bucket_length: float = 1.0,
    num_hash_tables: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Distance-threshold similarity join via MLlib
    ``BucketedRandomProjectionLSH.approxSimilarityJoin`` (SURVEY §2.7 V2/J3
    scale alternative to the hand-rolled sign-LSH).

    Euclidean-distance semantics; for unit-normalized embeddings a cosine
    threshold ``t`` maps to ``dist_threshold = sqrt(2 - 2 t)``. Approximate
    recall (pairs must collide in at least one of ``num_hash_tables``
    hashes) traded for a bucketed equi-join — never all-pairs. Output:
    (q_id, c_id, dist) for every located pair within the threshold."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    fa = queries.select(
        F.col(q_id).alias("id"),
        array_to_vector(F.col(q_vec).cast("array<double>")).alias("features"),
    )
    fb = corpus.select(
        F.col(c_id).alias("id"),
        array_to_vector(F.col(c_vec).cast("array<double>")).alias("features"),
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(fb)
    joined = model.approxSimilarityJoin(fa, fb, dist_threshold, distCol="dist")
    return joined.select(
        F.col("datasetA.id").alias(q_id),
        F.col("datasetB.id").alias(c_id),
        F.round("dist", 4).alias("dist"),
    )


def brp_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    bucket_length: float = 1.0,
    num_hash_tables: int = 3,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Single-query ANN top-k via MLlib
    ``BucketedRandomProjectionLSH.approxNearestNeighbors`` (the SURVEY §2.7
    V2 scale alternative to the exact TakeOrdered scan). Returns
    (c_id, dist) rows, nearest first, Euclidean distance — on normalized
    vectors rank order equals cosine rank order."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    fb = corpus.select(
        F.col(c_id).alias("id"),
        array_to_vector(F.col(c_vec).cast("array<double>")).alias("features"),
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(fb)
    hits = model.approxNearestNeighbors(
        fb, Vectors.dense([float(x) for x in query_vec]), k, distCol="dist"
    )
    return hits.select(F.col("id").alias(c_id), F.round("dist", 4).alias("dist"))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    method: str = "stride",
    stride: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    quantize: bool = False,
) -> None:
    """Materialize an IVF index on storage: vectors partitioned by cell.

    This is the durable form of :func:`ivf_topk_cosine`'s in-plan index —
    the assign step runs ONCE at build time, and the layout does the work
    at query time: ``<path>/vectors/cell_id=N/`` directories mean a probe
    reads exactly the ``nprobe`` cells it needs via partition PRUNING (the
    scan never opens the other cells' files), which is the difference
    between O(corpus) and O(corpus/n_cells·nprobe) IO at 100 TB. Centroids
    land beside the vectors (``<path>/centroids``) — they are the
    broadcast-small query-time metadata.

    Per-vector norms are precomputed into the layout (``_vnorm``) so every
    future query skips the norm pass entirely — storage pays once what
    each query would otherwise recompute.

    ``quantize=True`` stores int8 codes + a per-vector scale
    (:func:`~building_a_rag_pipeline_with_airflow_spark.functions.vectors.quantize_int8`)
    instead of float vectors — a quarter of the probe IO, which at 100 TB
    is usually the whole query cost. ``_vnorm`` is computed over the
    DEQUANTIZED vector so stored norm and reconstructed vector are
    self-consistent at scoring time; :func:`query_ivf_index` detects the
    coded layout from the schema and dequantizes in-plan (pure Catalyst
    transform, no Python). Recall impact is pinned by test (≥0.8@10 on
    the test corpus)."""
    from building_a_rag_pipeline_with_airflow_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    from building_a_rag_pipeline_with_airflow_spark.operators import require_nonempty

    if method == "kmeans":
        centroids = kmeans_centroids(corpus.select(c_id, c_vec), n_cells, c_vec=c_vec)
    else:
        # isNotNull: a NULL vector drawn as a CENTROID is a dead cell —
        # every similarity against it is NULL, so nothing assigns there
        # and the probe never selects it. Guarded in BOTH stride pickers
        # (in-plan and durable build) so the two stay result-identical
        # on NULL-bearing corpora; ivf_assign guards the corpus side.
        centroids = corpus.where(
            (F.col(c_id) % stride == F.lit(1)) & F.col(c_vec).isNotNull()
        ).select(
            F.col(c_id).alias("cell_id"), F.col(c_vec).alias("cell_vec")
        )
    # an empty centroid set (e.g. a stride that misses every id in a
    # filtered corpus) would silently write an EMPTY index; fail loudly
    require_nonempty(centroids, "ivf centroids")
    assigned = ivf_assign(corpus, centroids, c_id, c_vec)
    if quantize:
        assigned = (
            assigned.withColumn("_q", quantize_int8(c_vec))
            .withColumn("_codes", F.col("_q").getField("codes"))
            .withColumn("_scale", F.col("_q").getField("scale"))
            .withColumn("_vnorm", l2_norm(dequantize_int8("_q")))
            .drop("_q", c_vec)
        )
    else:
        assigned = assigned.withColumn("_vnorm", l2_norm(c_vec))
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # family-shared layout write (sources.index_layout): base build =
    # batch -1; streaming_extend_ivf_index appends under its own
    # _batch_id values so a replayed batch overwrites itself
    from building_a_rag_pipeline_with_airflow_spark.sources import index_layout

    index_layout.write_index_rows(
        assigned, f"{path}/vectors", partition_cols=("cell_id",)
    )


def ivf_balance_report(spark, path: str) -> DataFrame:
    """Per-cell health of a :func:`build_ivf_index` layout: one row per
    cell with ``n_vectors`` and ``n_batches`` (how many streamed
    extensions landed there), plus the global share each cell holds.

    This is the drift signal the IVF docstrings' maintenance contract
    keys on ("recompute/re-cluster offline when balance drifts, never
    per arrival"): streamed extensions assign to the NEAREST EXISTING
    centroid, so a shifting corpus piles into few cells and probe cost
    degrades toward O(corpus/nprobe-fraction-of-one-cell). The scan
    reads only partition/metadata-class columns (cell_id is a partition
    value); output is n_cells rows. Decide with
    ``max(n_vectors) / avg(n_vectors)`` — the imbalance factor a
    balanced index holds near 1 — then run :func:`recluster_ivf_index`."""
    rows = spark.read.parquet(f"{path}/vectors")
    per_cell = rows.groupBy("cell_id").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.count_distinct("_batch_id").cast("int").alias("n_batches"),
    )
    total = F.sum("n_vectors").over(Window.partitionBy())  # n_cells rows only
    return per_cell.select(
        "cell_id",
        "n_vectors",
        "n_batches",
        F.round(F.col("n_vectors") / total, 4).alias("share"),
    ).orderBy(F.desc("n_vectors"), F.asc("cell_id"))


def recluster_ivf_index(
    spark,
    path: str,
    out_path: str,
    n_cells: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> None:
    """Offline IVF re-cluster: read every stored vector (ALL batches —
    base build plus streamed extensions), fit fresh k-means centroids
    over the corpus as it exists NOW, and write a NEW index at
    ``out_path`` — the maintenance operation every IVF docstring defers
    to when :func:`ivf_balance_report` shows drift.

    Contract points:

    * **Swap-then-expire, never in-place** (the `compact_parquet`
      rule): the old index keeps serving concurrent readers; the caller
      swaps the path via
      :func:`~building_a_rag_pipeline_with_airflow_spark.sources.index_layout.publish_index`
      (readers resolve through ``current_index``) and later expires the
      old directory with ``expire_index_versions``.
    * **Quantized layouts re-cluster losslessly-enough**: int8 codes are
      dequantized in-plan (pure Catalyst) for the fit/assign, and the
      rebuilt index is re-quantized — set by whether the source layout
      stored codes.
    * **The rebuild is a fresh BASE build** (every vector lands under
      batch -1): streamed extension history is consolidated, so an
      extension stream must restart with a FRESH checkpoint against the
      new path — the same freeze-or-rebaseline contract as
      ``streaming_psi`` (a replayed old batch id would overwrite rows
      that now belong to the consolidated base).

    Delegates the fit/assign/write to :func:`build_ivf_index` — one
    implementation of the layout mechanics (the `index_layout` family
    rule)."""
    rows = spark.read.parquet(f"{path}/vectors")
    quantized = "_codes" in rows.columns
    if quantized:
        corpus = rows.select(
            F.col(c_id),
            F.transform(
                F.col("_codes"), lambda c: c.cast("double") * F.col("_scale")
            ).alias(c_vec),
        )
    else:
        corpus = rows.select(c_id, c_vec)
    build_ivf_index(
        corpus,
        out_path,
        n_cells=n_cells,
        method="kmeans",
        c_id=c_id,
        c_vec=c_vec,
        quantize=quantized,
    )


def query_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = TOP_K,
    nprobe: int = 4,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    prefilter=None,
) -> DataFrame:
    """Top-k cosine against a :func:`build_ivf_index` layout, reading ONLY
    the probed cells.

    The nprobe cell ids are resolved on the driver from the centroids
    parquet (index METADATA — a few KB, the same class of driver work as
    reading a footer; the data path stays fully distributed) so the cell
    predicate is literal at plan time and Catalyst turns it into partition
    pruning: the FileScan's ``PartitionFilters`` drops every other
    ``cell_id=N`` directory without opening it. Scoring reuses the stored
    ``_vnorm`` — no per-query norm recomputation — and top-k compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    q_norm = F.lit(qn**0.5)

    centroids = spark.read.parquet(f"{path}/centroids")
    probe_cells = [
        r["cell_id"]
        for r in centroids.select(
            "cell_id",
            F.round(
                dot_product(F.col("cell_vec"), q) / (l2_norm("cell_vec") * q_norm),
                4,
            ).alias("_qsim"),
        )
        .orderBy(F.desc("_qsim"), F.asc("cell_id"))
        .limit(nprobe)
        .collect()
    ]
    vectors = spark.read.parquet(f"{path}/vectors").where(
        F.col("cell_id").isin(probe_cells)
    )
    if prefilter is not None:
        # hybrid search (V3) on the durable index: the metadata predicate
        # composes with the cell predicate at the same scan, so it prunes
        # row groups inside the probed partitions (parquet min/max stats)
        vectors = vectors.where(prefilter)
    if "_codes" in vectors.columns:
        # quantized layout: reconstruct in-plan (Catalyst transform, no
        # Python) — the scan reads int8 codes + one float, a quarter of
        # the float32 probe IO; _vnorm was stored over the dequantized
        # vector so the cosine is self-consistent
        vec_expr = F.transform(
            F.col("_codes"), lambda c: c.cast("double") * F.col("_scale")
        )
    else:
        vec_expr = F.col(c_vec)
    return (
        vectors.select(
            F.col(c_id),
            F.col("cell_id"),
            F.round(
                dot_product(vec_expr, q) / (F.col("_vnorm") * q_norm), 4
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(c_id))
        .limit(k)
    )


def blocked_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    ndigits: int = 4,
    n_blocks: "int | None" = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via DISTRIBUTED blocked BLAS —
    the textbook block-matrix formulation of brute-force similarity:

    1. hash every vector into one of ``n_blocks`` blocks and pack each
       block into ONE row holding its ids + matrix (``applyInPandas``;
       block rows are KB-to-MB scale);
    2. cross-join the ``B·(B+1)/2`` ordered block pairs — a tiny frame —
       so each TASK owns one block-pair tile and computes its full
       similarity sub-matrix with one numpy/BLAS matmul (vectorized,
       ~100× the throughput of per-pair interpreted higher-order
       functions: 22.3 s → ~2 s measured at sf0.1, 12.5M pairs);
    3. keep CANDIDATES at ``threshold − 5·10^-ndigits`` slack (BLAS
       reassociates sums, so tile scores differ from the engine's
       sequential fold by ~1e-13 — the slack is 9 orders of magnitude
       wider), then re-score the few survivors with the engine's own
       sequential `dot/(‖a‖·‖b‖)` and round — so the OUTPUT is
       bit-identical to the naive HOF join and oracles unchanged.

    Work is O(n²/B²) per task across B² tasks — the quadratic cost is
    inherent to exactness (the LSH/IVF paths are the sub-quadratic
    answers); this operator makes the exact tier pay it at matmul speed
    with no driver collect and no broadcast of the full corpus.

    ``n_blocks=None`` (the default since r16) derives B from the corpus
    size — ``max(4, ⌈√(n/60)⌉, ⌈n/4000⌉)`` — so blocks stay big enough
    for the matmul to amortize the per-tile Python/Arrow overhead while
    the ``n/4000`` floor caps any tile's score matrix at ~128 MB. The
    OUTPUT is provably invariant to B: tiles only produce CANDIDATES at
    the fixed slack (any true pair passes under any blocking), and the
    engine-exact re-score decides membership pair-by-pair. Measured at
    sf0.1 (n=2,000): fixed B=16 → derived B=6 reads 1.80 s → 0.87 s
    warm solo, byte-identical pairs (the 125-row blocks at B=16 left
    every matmul too small to amortize its task). Deriving B costs one
    ``count()`` of the input — a parquet-metadata count when ``emb`` is
    a bare scan, but a FULL execution of any derived upstream pipeline
    (which then runs again when the pairs compute): callers with an
    expensive unpersisted upstream should persist ``emb`` or pass
    ``n_blocks`` explicitly.

    Tile tasks are capped (r17, ADVICE r16): past n≈267k the ``n/4000``
    memory floor grows B linearly, so the B(B+1)/2 tile count grows
    quadratically — n=1M would schedule ~31k single-tile tasks, where
    per-task overhead swamps the matmul win. The tile→partition
    repartition is therefore bounded at ``max(8·defaultParallelism,
    256)`` partitions; past the bound tiles SHARE partitions (several
    matmuls per task — output unaffected, B-invariance above). Local
    plans are unchanged (21 tiles at sf0.1, far under any bound).
    """
    import math

    import numpy as np
    import pandas as pd

    src = emb.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    )
    if n_blocks is None:
        n = src.count()
        n_blocks = max(4, math.isqrt(max(int(n) // 60, 0)) + 1, -(-int(n) // 4000))

    # Pack each block ONCE into (ids, row-major float64 matrix bytes):
    # the per-vector list→numpy conversion happens n times total here,
    # not n×blocks times inside every tile, and tiles ship one compact
    # binary cell instead of an Arrow list-of-lists.
    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        M = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
        )
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        return pd.DataFrame(
            {
                "_blk": [int(pdf["_blk"].iloc[0])],
                "_ids": [pdf["_id"].to_numpy(dtype=np.int64)],
                "_mat": [M.tobytes()],
                "_d": [M.shape[1]],
            }
        )

    packed = (
        src.withColumn(
            "_blk",
            F.pmod(F.crc32(F.col("_id").cast("string")), F.lit(n_blocks)).cast("int"),
        )
        .groupBy("_blk")
        .applyInPandas(pack, "_blk int, _ids array<long>, _mat binary, _d int")
    )
    tiles = (
        packed.select(
            F.col("_blk").alias("_ba"), F.col("_ids").alias("_ids_a"),
            F.col("_mat").alias("_mat_a"), "_d",
        )
        .join(
            packed.select(
                F.col("_blk").alias("_bb"), F.col("_ids").alias("_ids_b"),
                F.col("_mat").alias("_mat_b"),
            ),
            F.col("_ba") <= F.col("_bb"),
        )
        # one tile per task while tiles are few; past the cap, tiles
        # share partitions (several matmuls per task) so the task count
        # cannot grow quadratically with B (docstring, ADVICE r16)
        .repartition(
            min(
                n_blocks * (n_blocks + 1) // 2,
                max(8 * emb.sparkSession.sparkContext.defaultParallelism, 256),
            )
        )
    )
    slack = float(threshold) - 5.0 * (10.0 ** -int(ndigits))

    def score_tiles(batches):
        for pdf in batches:
            out_a, out_b = [], []
            for _, row in pdf.iterrows():
                d = int(row["_d"])
                ids_a = np.asarray(row["_ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["_ids_b"], dtype=np.int64)
                A = np.frombuffer(row["_mat_a"], dtype=np.float64).reshape(-1, d)
                B = np.frombuffer(row["_mat_b"], dtype=np.float64).reshape(-1, d)
                C = A @ B.T
                ia, ib = np.nonzero(C >= slack)
                if row["_ba"] == row["_bb"]:
                    keep = ids_a[ia] < ids_b[ib]
                else:
                    keep = np.ones(len(ia), dtype=bool)
                pa, pb = ids_a[ia[keep]], ids_b[ib[keep]]
                out_a.append(np.minimum(pa, pb))
                out_b.append(np.maximum(pa, pb))
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    cand = tiles.mapInPandas(score_tiles, "id_a long, id_b long")
    # engine-exact re-score of the (few) candidates: output rounding and
    # threshold semantics identical to the naive pair join / SQL oracle
    a = src.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                   l2_norm("_v").alias("_na"))
    b = src.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                   l2_norm("_v").alias("_nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")),
                int(ndigits),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= float(threshold))
    )


def binary_topk_cosine(
    corpus: DataFrame,
    query_vec: "list[float]",
    k: int = TOP_K,
    shortlist: int = 100,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Binary-quantization ANN tier: 1-bit sign signatures
    (``vectors.binary_signature`` — 32× smaller than float storage)
    shortlisted by hamming distance (one codegen'd
    ``bit_count(sig XOR qsig)`` per row, TakeOrdered heap), then EXACT
    cosine re-rank of the ``shortlist`` rows only — the coarse tier
    every production vector store ships between brute force and IVF.
    The query signature packs driver-side (metadata); scores/tiebreaks
    match the exact scan on whatever the shortlist retains (recall is
    the quality knob: raise ``shortlist`` to trade IO for recall;
    pinned in tests/test_mllib_ann.py)."""
    from building_a_rag_pipeline_with_airflow_spark.functions.vectors import (
        binary_signature,
    )

    if k < 1 or shortlist < k:
        raise ValueError(
            f"need shortlist >= k >= 1, got k={k} shortlist={shortlist}"
        )
    qsig = 0
    for i, x in enumerate(query_vec[: int(dim)]):
        if float(x) >= 0:
            qsig |= 1 << i
    if qsig >= 1 << 63:
        qsig -= 1 << 64  # two's-complement long
    sigged = corpus.withColumn(
        "_sig", binary_signature(c_vec, int(dim))
    ).withColumn(
        "_ham",
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig).cast("long"))),
    )
    short = sigged.orderBy(F.asc("_ham"), F.asc(c_id)).limit(int(shortlist))
    return (
        short.select(
            c_id,
            F.round(cosine_to_query(c_vec, query_vec), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(c_id))
        .limit(int(k))
    )

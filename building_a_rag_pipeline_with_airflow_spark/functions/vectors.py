"""Vector math as Catalyst expressions over ``array<float/double>`` columns.

The reference delegates all vector math to ChromaDB's HNSW index
(``Chunking_Strats/chromadb_rag.py:96-140``). Here the exact path is pure
SQL: ``zip_with`` + ``aggregate`` are higher-order functions — JVM-side
*interpreted* expressions, NOT whole-stage-codegen'd — so a brute-force
cosine scan is a single columnar pass with no Python, but not a fused
codegen loop. Measured alternatives (2M rows × dim 64, local[32],
median of 3, r3):

* interpreted HOF (this module's default)          1.65 s
* per-element ``getItem`` expansion (codegen'd)    3.07 s  — the 64-term
  expression tree codegens but never vectorizes; 2x SLOWER than the HOF
* Arrow ``pandas_udf`` + numpy BLAS (:func:`cosine_scores_pandas`)
                                                   1.23 s warm, 5.4 s cold

The pandas form wins warm bulk throughput by ~25% and is exposed below for
scan-the-corpus workloads on long-running executors. The HOF form stays
the default for the parity-checked exact path: it adds no Python workers,
and its sequential fold order is bit-reproducible by the DuckDB oracles
(BLAS reassociates the sum). Computation is in double regardless of
storage type (float storage halves IO; double math keeps scores stable).

A constant query vector enters a plan only through
:func:`cosine_to_query`: one SQL expression parsed JVM-side in a single
py4j call, because on the request path building the Column form through
py4j cost more than the scan (numbers in its docstring)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: Column | str) -> Column:
    return _c(col).cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize (normalize-at-write so retrieval is a pure dot)."""
    arr = _d(a)
    norm = l2_norm(arr)
    return F.when(norm == 0, arr).otherwise(
        F.transform(arr, lambda x: x / norm)
    )


def cosine_scores_pandas(query_vec: list[float]):
    """Arrow-batched bulk cosine scorer against one query vector — the
    measured warm-path winner for full-corpus scans (module docstring has
    the numbers). Returns a pandas_udf ``array<float/double> -> double``;
    zero/empty vectors score 0.0, null stays null (pandas NaN→null).

    Not used by the oracle-checked queries: BLAS reassociates the dot-sum,
    so last-ulp results can differ from the sequential fold the inlined
    DuckDB oracles reproduce."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn_acc = 0.0
    for x in q:
        qn_acc += x * x
    qn = float(np.sqrt(qn_acc))

    @F.pandas_udf("double")
    def _score(s: pd.Series) -> pd.Series:
        mask = s.notna()
        out = pd.Series(np.nan, index=s.index, dtype=np.float64)
        if mask.any():
            mat = np.array(s[mask].tolist(), dtype=np.float64)
            dots = mat @ q
            norms = np.sqrt((mat * mat).sum(axis=1))
            denom = norms * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                out[mask] = np.where(denom > 0, dots / denom, 0.0)
        return out

    return _score


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Three array aggregations per pair (dot + one norm per side) — the
    zero-denominator case rides on ``try_divide`` returning NULL (in ANSI
    and legacy modes alike), coalesced to 0.0, instead of a ``when`` guard
    that would re-evaluate both norms and double the per-row work. Null
    inputs stay null via the (cheap, non-aggregating) isNull gate."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(
        _c(a).isNull() | _c(b).isNull(), F.lit(None).cast("double")
    ).otherwise(F.coalesce(F.try_divide(dot_product(a, b), denom), F.lit(0.0)))


def _sql_double(x: float) -> str:
    # repr() is the shortest round-tripping decimal and Java's parser is
    # correctly rounded, so the literal is the same double bit for bit.
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def cosine_to_query(col: str, query_vec: "list[float]") -> Column:
    """Cosine of the vector column named ``col`` against a constant query
    vector — the one way a constant query enters a plan. Bit-identical to
    ``cosine_similarity(F.col(col), F.array(*[F.lit(x) for x in q]))``:
    NULL for a NULL row, 0.0 for a zero norm on either side or a length
    mismatch (``zip_with`` pads with NULL, the dot goes NULL, coalesced).

    Why one ``F.expr``: a request pays for its plan through py4j before
    any job starts. Measured on a 4-core host (PySpark 4.1.2, dim 64,
    median of 25), the Column form costs ~28 ms for the 64 ``F.lit``
    calls of the query and ~60 ms for the four higher-order-function
    lambdas, against ~0.5 ms for this expression — the Column form alone
    took longer than the top-k job over a few thousand rows. Here the
    query is inlined as an ``array(…D)`` literal and the whole expression
    is parsed JVM-side in one call. The query norm is folded on the
    driver with the same left-to-right double sum ``aggregate`` runs
    (then a correctly rounded ``sqrt``, as ``Math.sqrt``), so it is the
    literal an in-plan ``l2_norm`` would produce and costs no per-row
    work."""
    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    c = "`" + col.replace("`", "``") + "`"
    q = "array(" + ", ".join(_sql_double(x) for x in query_vec) + ")"
    v = f"CAST({c} AS ARRAY<DOUBLE>)"
    dot = f"aggregate(zip_with({v}, {q}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    norm = f"sqrt(aggregate({v}, 0D, (acc, x) -> acc + x * x))"
    return F.expr(
        f"CASE WHEN {c} IS NULL THEN CAST(NULL AS DOUBLE) ELSE coalesce("
        f"try_divide({dot}, {norm} * {_sql_double(math.sqrt(qn))}), 0D) END"
    )


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 scalar quantization:
    ``struct(codes array<tinyint>, scale float)`` with
    ``scale = max(|x|) / 127`` and ``code = round(x / scale)``.

    Vector storage at 100 TB is IO-bound; int8 codes cut the embedding
    column to a quarter of float32 (scale rides along as one float). Pure
    Catalyst ``transform``/``aggregate`` — map-only, no Python, no
    shuffle. Per-element reconstruction error is bounded by ``scale/2``;
    the companion test pins recall@k of cosine over dequantized vectors
    against the full-precision ranking. All-zero vectors quantize to
    scale 0 with zero codes and dequantize back to zeros."""
    arr = _d(a)
    amax = F.aggregate(arr, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = (amax / F.lit(127.0)).cast("float")
    codes = F.when(scale == 0, F.transform(arr, lambda x: F.lit(0).cast("byte"))
    ).otherwise(
        F.transform(arr, lambda x: F.round(x / scale).cast("byte"))
    )
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: ``array<float>`` ≈ the original
    vector (max per-element error ``scale/2``)."""
    qc = _c(q)
    return F.transform(
        qc.getField("codes"),
        lambda c: (c.cast("double") * qc.getField("scale")).cast("float"),
    )


def binary_signature(a: "Column | str", dim: int = 64) -> Column:
    """1-bit (sign) quantization of a ≤64-dim vector packed into ONE
    long: bit i set iff component i ≥ 0 — 32× smaller than float storage
    and comparable with a single codegen'd ``bit_count(a XOR b)``.

    Unlike the 8-plane sign-LSH signature (random projections), this is
    per-DIMENSION sign: for mean-centered embeddings the hamming
    distance between packed signs tracks angular distance closely enough
    to serve as the COARSE shortlist tier (the "binary quantization"
    mode every production vector store ships); exact re-ranking of the
    shortlist restores true scores. Pure Catalyst fold — no UDF."""
    if not 1 <= dim <= 64:
        raise ValueError(f"dim must be in [1, 64], got {dim}")
    c = F.col(a) if isinstance(a, str) else a
    # static per-dimension expansion with PYTHON-computed bit literals:
    # shiftleft() only takes a literal shift and pow(2, i) loses
    # exactness past 2^53; bit 63 is the long's sign bit (two's
    # complement literal). dim is a schema constant, so the 64-term OR
    # tree is built once at plan time and codegens.
    sig = F.lit(0).cast("long")
    for i in range(int(dim)):
        bit = (1 << i) if i < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(c.getItem(i) >= 0, F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig

"""Vector math over ``array<float|double>`` columns as built-in expressions.

No UDFs: dot products and norms are ``zip_with`` + ``aggregate`` folds, which
stay inside whole-stage codegen. The fold is *sequential in array order*,
which makes results bit-reproducible — the DuckDB oracles replicate the same
left-fold so comparisons are exact, not tolerance-based.

The numpy side of the same contract lives here too: :func:`fold_dot_rows`
and :func:`fold_dot_matrix` are the one sequential per-dimension fold every
Arrow-batched vector operator (cosines, SRP signatures, norms) runs on, so
its values are bit-identical to the JVM fold and the oracle's.

Scale: these are per-row map-side expressions; the cost model is O(dim) per
pair with zero shuffle. Pair-generation strategy (broadcast, LSH buckets,
IVF cells) is the responsibility of the calling operator.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F


def fold_dot_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise ``a·b`` of two (n x dim) matrices as a sequential left fold:
    ``out[r] = ((0.0 + A[r,0]*B[r,0]) + A[r,1]*B[r,1]) + ...`` — vectorized
    ACROSS rows, ordered WITHIN each dot. ``0.0 + x == x`` exactly in IEEE,
    so every value is bit-identical to :func:`dot`'s fold and to the
    oracle's ``list_reduce``; ``np.sum``'s pairwise reduction and a BLAS
    matmul (blocked/SIMD/FMA order) are not."""
    out = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        out += A[:, d] * B[:, d]
    return out


def fold_dot_matrix(A: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n x m) ``A·Cᵀ`` of an (n x dim) and an (m x dim) matrix with the
    same sequential per-dimension fold as :func:`fold_dot_rows`: one
    outer-product accumulation per dimension, so cell (r, c) is the exact
    left fold of ``A[r]·C[c]``."""
    out = np.zeros((A.shape[0], C.shape[0]))
    for d in range(A.shape[1]):
        out += A[:, d, None] * C[None, :, d]
    return out


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-fold dot product: ((a1*b1) + a2*b2) + ...

    With ``dim`` given, the sum is unrolled into a flat expression tree that
    whole-stage codegen compiles (higher-order-function lambdas never are —
    the interpreted path is 10-30x slower under JIT megamorphism). The
    unrolled left-association is bit-identical to the lambda fold and to the
    DuckDB oracle's list_reduce.
    """
    if dim is not None:
        terms = [
            F.element_at(a, i) * F.element_at(b, i) for i in range(1, dim + 1)
        ]
        return functools.reduce(lambda x, y: x + y, terms)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    # try_divide: a zero-norm vector yields NULL instead of throwing under
    # ANSI (DIVIDE_BY_ZERO fires even for doubles) — matching cosine_arrow,
    # whose NaN becomes null through pandas->Arrow; ranking sites filter
    # null scores, so degenerate vectors drop out of top-k on every path.
    # Bit-identical to plain division whenever the norms are non-zero.
    return F.try_divide(dot(a, b, dim), norm(a, dim) * norm(b, dim))


def cosine_arrow(a: Column, b: Column) -> Column:
    """Pairwise cosine as ONE Arrow-batched numpy pass per partition —
    bit-identical to :func:`cosine` (sequential per-dimension fold from a
    0.0 start, norms multiplied before the divide; pinned in
    tests/test_similarity.py) for pair-scored hot paths where the
    interpreted higher-order-function fold dominates and the corpus is
    too small to amortize the unrolled form's one-time Janino/JIT cost.

    Null in either array yields null (like the fold form). Caveat: a
    zero-norm vector yields NaN under the fold form but null here
    (pandas->Arrow maps NaN to null); ANN callers guarantee non-zero
    embeddings. Arrays must have uniform length within a batch (fixed-dim
    embedding columns)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        n = len(av)
        if not n:
            return pd.Series(np.empty(0, dtype=np.float64))
        valid = np.fromiter(
            ((x is not None and y is not None) for x, y in zip(av, bv)),
            dtype=bool,
            count=n,
        )
        out = np.full(n, np.nan)
        if valid.any():
            try:
                A = np.stack(av[valid].to_numpy()).astype(np.float64, copy=False)
                B = np.stack(bv[valid].to_numpy()).astype(np.float64, copy=False)
                if A.shape[1] != B.shape[1]:
                    raise ValueError("length mismatch between sides")
            except ValueError:
                # Diagnostic path only: uniform batches never pay this
                # scan (r11 advice — the eager pre-scan cost interpreter
                # time per batch on the hot path). np.stack raises on
                # ragged rows; the shape check catches uniform-but-unequal
                # sides, which would otherwise IndexError mid-fold.
                a_lens = {len(x) for x in av[valid]}
                b_lens = {len(x) for x in bv[valid]}
                raise ValueError(
                    "cosine_arrow: vector columns must be uniform, equal "
                    f"length within a batch; got lengths a={sorted(a_lens)} "
                    f"b={sorted(b_lens)}"
                ) from None
            na, nb = fold_dot_rows(A, A), fold_dot_rows(B, B)
            out[valid] = fold_dot_rows(A, B) / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(out)

    # asNondeterministic stops the optimizer DUPLICATING the evaluation
    # (guide §4.4): every ranking site filters on the score column
    # (isNotNull & ~isnan), and Catalyst pushes that filter below the
    # projection by copying the UDF — the r15 plan audit showed TWO
    # ArrowEvalPython nodes per scoring site (similarity_topk, LSH and
    # IVF verify stages), i.e. every candidate pair crossed the Python
    # boundary and was scored twice. The function is pure (same inputs →
    # same outputs); the marker only forbids re-ordering/duplication, so
    # results are unchanged — measured plans drop to ONE ArrowEvalPython.
    return _cos.asNondeterministic()(a, b)

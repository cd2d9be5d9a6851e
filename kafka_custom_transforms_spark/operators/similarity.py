"""Similarity search over embedding columns.

Plans for nearest-neighbor top-k:

  - :func:`topk_neighbors` — the entry point. ``method='exact'`` is
    brute-force cosine top-k: the query set is broadcast; candidate
    scoring is a map-side nested loop over each partition of the base
    table, so the base table is never shuffled — the only shuffle is the
    final per-query top-k, bounded by |queries| * k rows after partial
    aggregation. This is the exactness baseline and the verification
    oracle for the ANN variants. ``method='auto'`` (default) keeps that
    plan below the measured pair-count crossover and dispatches to IVF
    above it (:func:`_ivf_wins`) — brute force is O(n*q) compute, a
    scale-killer once the query set grows with the corpus.
  - :func:`hyperplane_buckets` / :func:`lsh_topk_neighbors` — random
    hyperplane (SRP) LSH: sign-pattern signatures put similar vectors in the
    same bucket; the join is an equi-join on (table, bucket) instead of a
    cross join. Hyperplane weights are derived from the md5-prefix hash, so
    signatures are deterministic across runs and engines. The 100 TB path:
    bucket cardinality ~2^bits_per_table * tables, each bucket joined
    independently — shuffle keys uniform, no broadcast of the base side.

Top-k determinism: ranking orders by (cosine DESC, neighbor id ASC) so exact
score ties break reproducibly; cosine itself is a sequential fold
(functions/vector.py) and bit-identical to the DuckDB oracle's.
"""

from __future__ import annotations

import functools
import warnings

from pyspark.sql import Column, DataFrame, Window, functions as F

from kafka_custom_transforms_spark.functions.skew import PYTHON_FANOUT_CAP
from kafka_custom_transforms_spark.functions.vector import as_double, cosine, cosine_arrow


def _pair_cosine(qv: Column, bv: Column, cos_dim: int | None) -> Column:
    """Candidate-pair scoring cosine: Arrow-batched numpy below the unroll
    threshold (where the alternative is the interpreted lambda fold —
    10-30x slower per element), unrolled codegen above it (a huge corpus
    amortizes the one-time Janino/JIT compile and skips the Arrow
    transfer of both vectors per pair). Both branches are bit-equal to
    the sequential fold on well-formed vectors; a ZERO-NORM vector is NaN
    under the fold but null under Arrow (pandas->Arrow maps NaN to null),
    so every ranking site filters undefined scores out BEFORE the window
    — a degenerate vector is excluded from top-k under either branch
    instead of NaN-sorting to rank 1 (r9 review)."""
    if cos_dim is None:
        return cosine_arrow(qv, bv)
    return cosine(qv, bv, cos_dim)


def topk_neighbors(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    dim: int | None = None,
    n_rows: int | None = None,
    method: str = "auto",
) -> DataFrame:
    """Cosine top-k: (query_id, neighbor_id, rank), rank 1..k.

    ``method`` picks the physical plan:

    - ``"exact"`` — brute-force broadcast scoring: every (query, base)
      pair is evaluated. O(n*q) compute with the base table never
      shuffled; the exactness yardstick both ANN variants are verified
      against, and the right plan when the query set is small relative
      to sqrt(corpus).
    - ``"ivf"`` — delegate to :func:`ivf_topk_neighbors` (approximate:
      recall < 1 by design).
    - ``"auto"`` (default) — dispatch on PLAN-STATISTICS size estimates
      (no Spark job): brute force below the measured pair-count
      crossover, IVF above it (see :func:`_ivf_wins`). The user-facing
      default must not be the O(n*q) scale-killer when q grows with the
      corpus (the registry workload shape: measured 47x wall at a 10x
      data step) — same promote-the-measured-crossover move as
      ``AND_BAND_CROSSOVER`` / ``UNROLL_MIN_ROWS`` /
      ``ORDINAL_WINDOW_MAX_BYTES``. NOTE: above the crossover the
      result is the IVF approximation; callers that need exactness
      regardless of cost (verification oracles) must pin
      ``method="exact"``. ``include_self=True`` always takes the exact
      path (the IVF plan excludes self-pairs), as does an
      unsized/stats-less input (a mis-dispatch to an O(n^1.5) index
      build on a tiny corpus is worse than a slow exact scan).

    The cosine is unrolled into a flat codegen expression only when the base
    table is large enough to amortize the one-time Janino/JIT compile of the
    ~600-node tree (see :data:`UNROLL_MIN_ROWS`); the interpreted fold is
    bit-equal, so results never depend on the choice. ``n_rows`` is an
    optional corpus-size hint; without it the size is estimated from plan
    statistics — no Spark job either way."""
    if method not in ("auto", "exact", "ivf"):
        raise ValueError(f"topk_neighbors: unknown method {method!r}")
    if method == "auto":
        n = n_rows if n_rows is not None else _estimate_vec_rows(base, dim)
        q = _estimate_vec_rows(queries, dim)
        if (
            not include_self
            and n is not None
            and q is not None
            and _ivf_wins(n, q)
        ):
            # Surface the plan switch: above the crossover the caller
            # gets the IVF APPROXIMATION (recall < 1) with no other
            # runtime signal — and the n/q numbers driving the dispatch
            # are plan-statistics estimates, which can misread derived/
            # filtered frames (r14 advice). warnings dedups per call
            # site, so a loop over topk_neighbors warns once.
            warnings.warn(
                f"topk_neighbors(method='auto'): estimated n={n}, q={q} "
                "is past the exact/IVF crossover — dispatching to the "
                "approximate IVF plan (recall < 1). Pin method='exact' "
                "for exhaustive results or method='ivf' to silence.",
                stacklevel=2,
            )
            method = "ivf"
    if method == "ivf":
        n = n_rows if n_rows is not None else _estimate_vec_rows(base, dim)
        n_centroids = n_probe = None
        if n is not None:
            n_centroids, n_probe = ivf_params(n)
        return ivf_topk_neighbors(
            base, queries, k=k, id_col=id_col, vec_col=vec_col,
            n_centroids=n_centroids,
            **({"n_probe": n_probe} if n_probe is not None else {}),
            dim=dim,
            n_rows=n,
        )
    cos_dim = _auto_cos_dim(base, dim, n_rows)
    b = base.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("bv"))
    # Degenerate scan parallelism guard (r15 optimization, guide §2): a
    # small parquet corpus is one file with one row group — ONE scan
    # task, which serializes the broadcast-NLJ pair generation AND the
    # Arrow scoring stage on a single core/Python worker no matter how
    # many the session has. ensure_min_partitions fans the base side out
    # locally (trivial shuffle of the raw vectors, exactly when the
    # corpus is small) and is a guaranteed no-op at cluster scale, so
    # "the base table never shuffles" still holds where it matters.
    # The target is capped at PYTHON_FANOUT_CAP, not the session's full
    # parallelism: each Python-stage task costs ~6 ms of serialized
    # dispatch, and the fanned stage here is one numpy matmul per batch
    # (sf0.1 idle 7-sample sweep: 0.92 s at 8 parts, 0.78 at 16, 0.84 at
    # 24, 0.94 at 32). No-op at cluster scale (the guard only ADDS
    # partitions, never removes them).
    from kafka_custom_transforms_spark.functions.skew import ensure_min_partitions

    spark_ctx = base.sparkSession.sparkContext
    b = ensure_min_partitions(
        b, min(PYTHON_FANOUT_CAP, spark_ctx.defaultParallelism)
    )
    q = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    scored = b.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id") if not include_self else F.lit(True))
    scored = scored.select(
        "query_id", "neighbor_id", _pair_cosine(F.col("qv"), F.col("bv"), cos_dim).alias("cos")
    ).filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _auto_cos_dim(
    base: DataFrame, dim: int | None, n_rows: int | None = None
) -> int | None:
    """Unroll the cosine only when the base corpus amortizes the compile
    cost (see UNROLL_MIN_ROWS). None stays None.

    Decides WITHOUT running a Spark job: callers that know the corpus
    size pass ``n_rows``; otherwise rows are estimated from Catalyst's
    ``optimizedPlan().stats().sizeInBytes`` (a plan statistic — for a
    parquet scan, the file span to read) divided by the vector payload
    (8 bytes per dimension). An estimate is exactly right here: both
    branches evaluate the identical left-fold and are bit-equal, so the
    choice is purely a compile-vs-throughput trade and a scan-sized
    heuristic cannot affect results. The old form ran ``base.count()``
    on every top-k call — a wasted full scan per query at 100 TB."""
    if dim is None:
        return None
    if n_rows is None:
        try:
            size = int(
                base._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes().toString()
            )
            # Catalyst reports UNKNOWN stats as defaultSizeInBytes
            # (Long.MaxValue) — e.g. mapInPandas/RDD-backed plans. That is
            # a sentinel, not a size: treat it as unknown and take the
            # cheap fold branch rather than paying the codegen compile
            # for what may be a tiny corpus.
            if size >= 1 << 62:
                return None
            n_rows = size // max(8 * dim, 1)
        except Exception:  # stats unavailable: take the cheap branch
            return None
    return dim if n_rows >= UNROLL_MIN_ROWS else None


def _estimate_vec_rows(df: DataFrame, dim: int | None) -> int | None:
    """Row-count estimate for a vector frame from Catalyst's
    optimizedPlan sizeInBytes (no Spark job — same pattern as
    ``_auto_cos_dim`` / ``dedup._estimate_rows``), assuming ~8 bytes per
    vector element. None when ``dim`` is unknown or statistics are the
    UNKNOWN sentinel (Long.MaxValue, e.g. mapInPandas-backed plans)."""
    if dim is None:
        return None
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return None
    if size >= 1 << 62:
        return None
    return size // max(8 * dim, 1)


# Measured per-pair cost of the IVF path relative to the brute broadcast
# path (r14, local[32], dim=64, orthogonal-transform decorrelated replicas
# of the sf0.1 embeddings, q = n/50, interleaved fresh-plan A/B, median of
# 2-3 after warm-up):
#
#   n=10k,  q=200:  exact 25.0 s vs ivf  4.3 s (5.9x) -> margin 0.29
#   n=20k,  q=400:  exact 64.1 s vs ivf  7.5 s (8.6x) -> margin 0.28
#   n=50k,  q=1000: exact 563 s  vs ivf 21.6 s (26x)  -> margin 0.15
#   n=100k, q=2000: ivf 62.9 s (exact extrapolates ~2200 s)
#
# margin = (ivf wall / ivf model pairs) / (exact wall / exact model
# pairs); it FALLS with scale (the Arrow-batched matmul amortizes better
# than the broadcast-NLJ per-pair scoring), so pinning the largest
# measured value is the conservative-toward-exact choice.
IVF_DISPATCH_MARGIN = 0.3
# Below this corpus size the dispatch stays exact regardless of the
# model: the smallest decisively A/B-measured IVF win above is 10k REAL
# rows, and _estimate_vec_rows undercounts by up to ~2x on float32
# parquet (it assumes 8 B/element against ~4 B stored), so 5k in
# estimate space is that same boundary. Under it both plans finish in
# single-digit seconds on any hardware and the exact answer is
# effectively free.
IVF_DISPATCH_MIN_ROWS = 5_000


def _ivf_wins(n: int, q: int, n_probe: int = 8) -> bool:
    """Pair-count dispatch model for method='auto': brute force scores
    n*q candidate pairs; IVF scores ~n*sqrt(n) assignment pairs plus
    ~q*n_probe*sqrt(n) probe/verify pairs (n_centroids = sqrt(n), so
    each probed cell holds ~sqrt(n) vectors). IVF wins when

        n * q > IVF_DISPATCH_MARGIN * (n^1.5 + q*(n_probe+1)*sqrt(n))

    i.e. roughly when q grows past ~margin*50/sqrt(n) of the corpus — for
    a constant small query set the LINEAR brute scan is asymptotically
    cheaper than the O(n^1.5) index build and stays the auto choice at
    any corpus size. The margin folds in the measured per-pair cost
    ratio of the two plans' machinery (broadcast NLJ + Arrow pair
    scoring vs Arrow-batched matmul assignment) — table above."""
    if n < IVF_DISPATCH_MIN_ROWS:
        return False
    root = max(n, 1) ** 0.5
    return n * q > IVF_DISPATCH_MARGIN * (n * root + q * (n_probe + 1) * root)


def _hyperplane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1) from the md5 hash of
    the (plane, dim) coordinate — reproducible across runs and engines.
    Computed in Python at plan time (it is a constant): embedding the md5
    derivation as column expressions made the plan tree ~100k nodes and
    OOM'd the driver at 64 planes x 64 dims."""
    import hashlib

    h = int(hashlib.md5(f"hp:{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 2_000_000 - 1_000_000) / 1_000_000.0


def hyperplane_signature(vec: Column, dim: int, bits: int = 16) -> Column:
    """SRP signature: bit j = sign(<vec, w_j>). Returns a non-negative int."""
    sig = F.lit(0).cast("long")
    for j in range(bits):
        terms = [
            F.element_at(vec, i + 1) * F.lit(_hyperplane_weight(j, i))
            for i in range(dim)
        ]
        d = functools.reduce(lambda x, y: x + y, terms)
        sig = sig.bitwiseOR(
            # shiftleft, not a 2**j literal: j=63 overflows a long literal
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 4,
    bits_per_table: int = 8,
    method: str = "numpy",
    fan_out: bool = True,
) -> DataFrame:
    """(id, table, bucket) assignments: ``tables`` independent SRP tables of
    ``bits_per_table`` bits each. Vectors land in one bucket per table;
    similar vectors collide in >= 1 table with high probability.

    ``fan_out`` (default True) repartitions a degenerately-partitioned
    input (one-file/one-row-group parquet scans read as a single task)
    before the Arrow assignment pass so it parallelizes locally; a
    guaranteed no-op at cluster scale (guard in ensure_min_partitions).
    Pass False for frames that are about to be broadcast anyway (the
    LSH query side) — the extra exchange would only add latency there.

    ``method="numpy"`` (default): Arrow-batched sign(V @ W^T) — the
    (bits x dim) projection as one matmul per batch. The expression variant
    (``method="expr"``, pure JVM) builds a bits*dim-term projection that is
    correct but costs tens of seconds of analysis+interpretation per query
    at 48x64; use it only where Python workers are unavailable."""
    bits = tables * bits_per_table
    if method == "expr":
        v = as_double(F.col(vec_col))
        # Materialize the signature as a named column before slicing:
        # inlining the expression once per table would multiply the plan
        # tree by `tables` and blow up analysis.
        sig_df = df.select(
            F.col(id_col).alias("id"),
            hyperplane_signature(v, dim, bits).alias("hsig"),
        )
        mask = (1 << bits_per_table) - 1
        assignments = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    F.shiftright(F.col("hsig"), t * bits_per_table)
                    .bitwiseAND(F.lit(mask))
                    .alias("bucket"),
                )
                for t in range(tables)
            ]
        )
        return sig_df.select("id", F.explode(assignments).alias("tb")).select(
            "id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
        )

    import numpy as np
    import pandas as pd

    W = np.array(
        [[_hyperplane_weight(j, i) for i in range(dim)] for j in range(bits)]
    )
    pow2 = 1 << np.arange(bits_per_table, dtype=np.int64)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # keep the original dtype: ids may be string/UUID (the block
            # dedup path supports them and auto-dispatches here at scale);
            # a forced int64 cast would crash or silently truncate floats
            ids = pdf["id"].to_numpy()
            a = np.stack(pdf["v"].to_numpy())
            # Sequential per-dimension fold, NOT a @ W.T: BLAS matmul sums
            # in blocked/SIMD order, but the DuckDB oracle recomputes these
            # dots as a sequential list_reduce — the explicit left fold
            # (((0 + x1) + x2) + ...; 0 + x1 == x1 exactly in IEEE) makes
            # every dot bit-identical across engines, so sign decisions at
            # the bucket boundary can never diverge. Still vectorized: one
            # outer-product accumulation per dimension.
            dots = np.zeros((len(ids), bits))
            for i in range(dim):
                dots += a[:, i : i + 1] * W.T[i : i + 1, :]
            sig_bits = dots > 0  # n x bits
            frames = []
            for t in range(tables):
                chunk = sig_bits[:, t * bits_per_table : (t + 1) * bits_per_table]
                bucket = (chunk * pow2[None, :]).sum(axis=1)
                frames.append(
                    pd.DataFrame({"id": ids, "table": t, "bucket": bucket})
                )
            yield pd.concat(frames, ignore_index=True)

    vecs = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    if fan_out:
        from kafka_custom_transforms_spark.functions.skew import ensure_min_partitions

        # Capped at the same measured Python-dispatch knee as the exact
        # scorer (r16: the r15 "capping loses 1.80x" claim for this path
        # was taken in a steal era and did not reproduce — two idle-ish
        # interleaved re-runs had cap=16 winning 11/12 pairs, with every
        # steal-clean capped sample under every uncapped one). A cluster
        # scan already exceeds the cap, so this only ever ADDS partitions.
        vecs = ensure_min_partitions(
            vecs,
            min(PYTHON_FANOUT_CAP, df.sparkSession.sparkContext.defaultParallelism),
        )
    id_type = df.schema[id_col].dataType.simpleString()
    return vecs.mapInPandas(_assign, schema=f"id {id_type}, table int, bucket long")


def lsh_topk_neighbors(
    base: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 8,
    bits_per_table: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """ANN top-k: score only candidates sharing an SRP bucket with the query
    in at least one table, then exact-cosine rank. Same output schema as
    :func:`topk_neighbors`; recall < 1 by design — tests measure it against
    the brute-force baseline.

    ``bits_per_table=None`` (default) derives the bucket width from the
    corpus size (plan statistics, no job — ``dedup._occupancy_bits``):
    FIXED bits are a hidden quadratic, the exact growth law the repo's
    shuffle audit flagged on the registry row. Chance (non-neighbor)
    candidates per query are ~``tables * n / 2^bits``, so with constant
    bits they grow linearly in n — and the registry workload's query
    count grows with the corpus too, making candidate/shuffle rows
    ~quadratic (measured 12.3x over the 10x step at pinned
    ``tables=12, bits=4``, i.e. ~3/4 of the corpus per query at 16
    buckets/table). Occupancy-derived bits keep per-table bucket size
    constant: candidates ~``tables * occupancy`` per query — LINEAR
    total shuffle even with q ∝ n. More bits lower per-table recall;
    raise ``tables`` to compensate (recall for a pair with per-bit
    agreement p is 1-(1-p^bits)^tables).

    REPRODUCIBILITY: with ``bits_per_table=None`` the derived width
    depends on the input's plan-statistics row estimate — the same
    logical corpus can get DIFFERENT bucket widths (hence different
    candidate sets and recall) across environments or after a cache/
    filter changes the estimate; an unsized, stats-less input falls back
    to 6 bits (the historical default) with a warning. Callers comparing
    runs across environments should pass ``n_rows`` (deterministic
    derivation from the stated size) or pin ``bits_per_table``
    explicitly — the registry row pins ``bits_per_table=4`` for oracle
    byte-identity for exactly this reason."""
    if bits_per_table is None:
        # function-local import: dedup imports similarity at module level
        from kafka_custom_transforms_spark.operators.dedup import _occupancy_bits

        n = n_rows if n_rows is not None else _estimate_vec_rows(base, dim)
        if n is None:
            warnings.warn(
                "lsh_topk_neighbors: input has no usable plan-statistics "
                "row estimate — falling back to bits_per_table=6. Pass "
                "n_rows or bits_per_table for a deterministic, "
                "environment-independent bucket width.",
                stacklevel=2,
            )
        bits_per_table = _occupancy_bits(n) if n is not None else 6
    cos_dim = _auto_cos_dim(base, dim, n_rows)
    # fan_out=False on the base side too: measured (r15 interleaved 4-variant
    # A/B, n=5, sf0.1) the fan-out exchange LOSES here — 1.78 s median
    # without vs 1.89 s with (nondeterministic cosine in both arms). The
    # SRP assignment is one numpy matmul per batch (cheap enough that 32
    # small batches cost more overhead than one big batch saves), and the
    # bucket join that follows broadcasts qb, so bb's partitioning never
    # constrains parallelism of a shuffle. The embedding-dedup caller keeps
    # the default fan_out=True (0.50 vs 0.78 s median there — its verify
    # join consumes the buckets via a shuffle, where scan parallelism DOES
    # carry through).
    bb = hyperplane_buckets(base, dim, id_col, vec_col, tables, bits_per_table, fan_out=False)
    # fan_out=False: qb is broadcast two lines down — repartitioning the
    # (small-by-contract) query side first would only add an exchange in
    # front of the broadcast build.
    qb = hyperplane_buckets(
        queries, dim, id_col, vec_col, tables, bits_per_table, fan_out=False
    )
    # Broadcast the query-side buckets: queries are the small side by
    # contract (same principle as topk_neighbors), so the base bucket
    # frame NEVER shuffles — at cluster scale the bucket join moves only
    # the ~|Q| x tables rows. Local sf0.1 A/B is neutral (1.732 vs
    # 1.738 s medians, r11) — this is a scale-shape decision, not a
    # microbench one. The cand->bvec join below is deliberately
    # UNhinted: cand's size is corpus-dependent (hot buckets), and AQE
    # reads its true post-distinct size at the shuffle boundary.
    cand = (
        F.broadcast(qb).alias("q")
        .join(bb.alias("b"), ["table", "bucket"])
        .filter(F.col("q.id") != F.col("b.id"))
        .select(F.col("q.id").alias("query_id"), F.col("b.id").alias("neighbor_id"))
        .distinct()
    )
    bvec = base.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("bv"))
    qvec = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    scored = (
        cand.join(bvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", _pair_cosine(F.col("qv"), F.col("bv"), cos_dim).alias("cos"))
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _seed_centroids(vecs: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic pseudo-random centroid seeds: the ``n_centroids`` rows
    first in md5(id) order. A hash order is independent of id assignment and
    data layout, so seeds spread across the corpus — first-k ids (the naive
    seed) inherit whatever clustering the id order carries. orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-k, k-row driver
    merge), so seeding never global-sorts the table."""
    return (
        vecs.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_centroids)
        .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    )


# Cap for pulling a quantizer local to the driver for the Arrow assignment
# path. At the standard sqrt(n) sizing, 65536 centroids covers a ~4e9-vector
# corpus; the matrix is 65536 x 64 doubles = 32 MB — the same memory class
# the JVM path already ships as a broadcast join side. Above the cap the
# assignment falls back to the broadcast-join expression form.
MAX_LOCAL_CENTROIDS = 65536


def _local_centroid_matrix(centroids: DataFrame, id_field: str, vec_field: str):
    """(ids, C, cnorm) with ids ASCENDING (so np.argmax's first-max rule
    reproduces max_by's min-id tie-break; degenerate cosines — zero-norm
    NULLs vs genuine NaNs — are ordered by :func:`_rank_cosines` to match
    the join form exactly). ``None`` when the
    quantizer exceeds :data:`MAX_LOCAL_CENTROIDS` (bounded limit+collect,
    never an unbounded pull). ``cnorm`` is the same sequential per-dimension
    fold the JVM/DuckDB norm computes — bit-identical inputs to the cosine."""
    import numpy as np

    rows = (
        centroids.select(id_field, vec_field)
        .limit(MAX_LOCAL_CENTROIDS + 1)
        .collect()
    )
    if len(rows) > MAX_LOCAL_CENTROIDS or not rows:
        return None
    rows.sort(key=lambda r: r[0])
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    cn = np.zeros(len(rows))
    for i in range(C.shape[1]):
        cn += C[:, i] * C[:, i]
    return ids, C, np.sqrt(cn)


def _fold_cosines(A, C, cnorm):
    """(n x m) cosine matrix, every value bit-identical to the JVM/DuckDB
    sequential left-fold: accumulation runs dimension-by-dimension from a
    0.0 start (0 + x1 == x1 exactly in IEEE), and the denominator
    multiplies norm(a) * norm(c) before dividing — the exact operation
    order of functions.vector.cosine. Vectorized ACROSS rows/centroids,
    sequential WITHIN each dot, like the dedup map-form signatures."""
    import numpy as np

    n, dim = A.shape
    dots = np.zeros((n, C.shape[0]))
    na = np.zeros(n)
    for i in range(dim):
        a_i = A[:, i]
        dots += a_i[:, None] * C[None, :, i]
        na += a_i * a_i
    return dots / (np.sqrt(na)[:, None] * cnorm[None, :])


def _rank_cosines(A, C, cnorm):
    """Ranking-key matrix for centroid choice, replicating the join/window
    form's ordering of DEGENERATE cosines exactly (measured, r10):

    - ``try_divide`` yields NULL when the norm product is exactly 0 (a
      zero-norm vector or centroid), and NULL loses to every value in
      max_by's (ccos, -cid) ordering struct and sorts LAST under the probe
      window's ``ccos DESC`` → mapped to -inf here, so a zero-norm
      centroid can never capture a normal vector;
    - a genuine NaN (NaN vector elements with a non-zero denominator, so
      try_divide does divide) is ordered ABOVE every double by Spark →
      mapped to +inf here.

    Ties — an all-(-inf) row (zero-norm vector) or several +inf cells —
    break on min cid via argmax-first / stable argsort, matching the
    (-cid) tiebreak / ``cid ASC`` secondary ordering: a zero-norm vector
    is still assigned (to the lowest cid), not dropped, exactly like the
    join form. Values on non-degenerate cells are bit-identical to
    :func:`_fold_cosines` (same sequential fold, same norm product)."""
    import numpy as np

    n, dim = A.shape
    dots = np.zeros((n, C.shape[0]))
    na = np.zeros(n)
    for i in range(dim):
        a_i = A[:, i]
        dots += a_i[:, None] * C[None, :, i]
        na += a_i * a_i
    denom = np.sqrt(na)[:, None] * cnorm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / denom
    # Fast path: a NaN can only arise from a 0/0 (zero-norm row/centroid —
    # an exactly-zero denom forces exactly-zero dots) or NaN operands, so
    # a NaN-free matrix needs no degenerate remapping; skip the two
    # np.where passes the common all-finite batch would otherwise pay
    # (measured +33% on similarity_topk_ivf before this gate, r10).
    if not np.isnan(cos).any():
        return cos
    return np.where(denom == 0.0, -np.inf, np.where(np.isnan(cos), np.inf, cos))


def _assign_cells_arrow(vecs: DataFrame, local, cid_type: str) -> DataFrame:
    """(id, v, cid) via one Arrow-batched numpy pass per partition: the
    n x n_centroids scored PAIR ROWS of the join form never materialize —
    each batch of vectors meets the local centroid matrix in numpy and only
    the argmax row survives. No join, no aggregation, no shuffle; the r8
    MinHash/SimHash map-form treatment applied to IVF assignment."""
    import numpy as np
    import pandas as pd

    cids, C, cnorm = local
    # Bound the (rows x centroids) cosine intermediate to ~32 MB: at the
    # sqrt(n) quantizer sizing of a 1e9-vector corpus (m ~ 32k) a full
    # 10k-row Arrow batch would otherwise materialize a ~2.5 GB matrix
    # per batch. Rows are independent, so chunking is bit-neutral.
    row_chunk = max(1, (4 << 20) // max(len(cids), 1))

    def _assign(batches):
        for pdf in batches:
            # drop null-vector rows: the join form carried them with a
            # null cid, which no downstream equi-join on cid matches —
            # output-equivalent, and np.stack cannot hold a None
            pdf = pdf[pdf["v"].notna().to_numpy()]
            if not len(pdf):
                continue
            best = np.empty(len(pdf), dtype=np.int64)
            for lo in range(0, len(pdf), row_chunk):
                chunk = pdf["v"].iloc[lo : lo + row_chunk].to_numpy()
                A = np.stack(chunk).astype(np.float64, copy=False)
                best[lo : lo + len(A)] = np.argmax(
                    _rank_cosines(A, C, cnorm), axis=1
                )
            out = pdf[["id", "v"]].copy()
            out["cid"] = cids[best]
            yield out

    id_t = dict(vecs.dtypes)["id"]
    return vecs.mapInPandas(_assign, schema=f"id {id_t}, v array<double>, cid {cid_type}")


def _assign_cells(
    vecs: DataFrame,
    centroids: DataFrame,
    dim: int | None,
    method: str = "arrow",
) -> DataFrame:
    """(id, v, cid): each vector assigned to its max-cosine centroid
    (ties break on cid asc).

    ``method="arrow"`` (default): the quantizer (bounded — sqrt(n) by
    construction) is pulled local and each vector batch scores against it
    in one numpy pass (:func:`_assign_cells_arrow`) — the r8-proven map
    form; bit-identical to the join form (pinned in tests). Falls back to
    the join form when the quantizer exceeds MAX_LOCAL_CENTROIDS.

    ``method="expr"`` join form: broadcast cross join + max_by with a
    (ccos, -cid) ordering struct instead of a window rank — the
    n x n_centroids scored rows collapse map-side (partial aggregation
    keeps one buffer per id per partition), so the shuffle carries one row
    per vector. Correct at any quantizer size, but materializes every
    scored pair as a row through codegen."""
    if method == "arrow":
        local = _local_centroid_matrix(centroids, "cid", "cv")
        if local is not None:
            return _assign_cells_arrow(vecs, local, dict(centroids.dtypes)["cid"])
    best = F.max_by(
        F.struct(F.col("v"), F.col("cid")),
        F.struct(F.col("ccos"), (-F.col("cid")).alias("nc")),
    ).alias("m")
    return (
        vecs.join(F.broadcast(centroids), how="cross")
        .select("id", "v", "cid", cosine(F.col("v"), F.col("cv"), dim).alias("ccos"))
        .groupBy("id")
        .agg(best)
        .select("id", F.col("m.v").alias("v"), F.col("m.cid").alias("cid"))
    )


# Below this quantizer size the flat n x n_centroids assignment does FEWER
# cosines than the two-level machinery (per vector: n_centroids flat vs
# n_coarse + n_centroids*replicas/n_coarse two-level — with replicas
# capped at 16 the two-level term only drops below n_centroids past
# ~250 cells) and skips its extra joins; above it the coarse level cuts
# assignment cosines from n*sqrt(n) to n*O(n^(1/4)). r8: raised 20 -> 256
# after measuring the sf0.1 configuration (45 cells) doing ~98 cosines/
# vector two-level vs 45 flat — the old threshold engaged the machinery
# exactly where it was a pessimization by its own arithmetic. The value
# also gates the ORACLE's pipeline (the SQL degenerates to the flat form
# via n_coarse = 1 below the threshold — the literal in _IVF_ORACLE_SQL
# must move together with this), so the two sides always agree.
TWO_LEVEL_MIN_CENTROIDS = 256


def two_level_params(n_centroids: int) -> tuple[int, int]:
    """Coarse-quantizer sizing for two-level IVF assignment:
    ``n_coarse = max(8, round(sqrt(n_centroids)))`` coarse cells over the
    fine centroids, and each fine centroid registered in its
    ``fine_replicas = clamp(n_coarse // 2, 2, n_coarse)`` nearest coarse
    cells (replication substitutes for multi-probe on the heavy side: the
    n base vectors probe exactly ONE coarse cell — a map-side max_by, one
    row per vector over the shuffle — while the sqrt(n) fine centroids,
    which are cheap, spread into several cells to keep recall).
    ``n_coarse = 1`` below :data:`TWO_LEVEL_MIN_CENTROIDS`, which makes
    the two-level pipeline degenerate to exactly the flat assignment
    (every fine centroid registers in the single coarse cell, so the
    final max_by scans all of them — bit-identical, test-pinned).

    Replica sizing: 3/4 of the coarse cells while the quantizer is small
    (dense replication keeps small-corpus recall near flat: measured
    0.76 vs 0.80 at 500 vectors), capped at 16 as n grows — at n = 1e9
    (n_coarse ~ 178) a vector scores ~178 coarse + ~n_centroids*16/178
    ~ 2.8k fine cosines instead of the flat ~31.6k, and the registration
    table stays n_centroids * 16 rows."""
    if n_centroids < TWO_LEVEL_MIN_CENTROIDS:
        return 1, 1
    n_coarse = max(8, int(round(n_centroids**0.5)))
    return n_coarse, min(max(4, (3 * n_coarse) // 4), 16, n_coarse)


def _two_level_frames(
    vecs: DataFrame, centroids: DataFrame, n_centroids: int, dim: int | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coarse, reg, vec_coarse) intermediates of the two-level assignment,
    factored out so tests can count assignment cosines directly.

    - ``coarse``: (gid, gv) — the first n_coarse fine centroids in
      md5(cid) order (same deterministic seeding rule as the fine level),
      restricted to cells holding >= 1 registration so no vector can land
      in a fine-less cell and drop out of the assignment.
    - ``reg``: (gid, cid, cv) — each fine centroid registered under its
      ``fine_replicas`` max-cosine coarse cells (window over
      sqrt(n) x n_coarse rows — centroid-sized data, never the corpus).
    - ``vec_coarse``: (id, v, gid) — each vector's single max-cosine
      active coarse cell; map-side partial max_by, one row per vector
      crosses the shuffle."""
    n_coarse, replicas = two_level_params(n_centroids)
    coarse = _seed_centroids(
        centroids.select(F.col("cid").alias("id"), F.col("cv").alias("v")), n_coarse
    ).select(F.col("cid").alias("gid"), F.col("cv").alias("gv"))
    reg_w = Window.partitionBy("cid").orderBy(F.col("gcos").desc(), F.col("gid").asc())
    reg = (
        centroids.crossJoin(F.broadcast(coarse))
        .select(
            "gid", "cid", "cv", cosine(F.col("cv"), F.col("gv"), dim).alias("gcos")
        )
        .withColumn("_grank", F.row_number().over(reg_w))
        .filter(F.col("_grank") <= replicas)
        .select("gid", "cid", "cv")
    )
    active = coarse.join(reg.select("gid").distinct(), "gid")
    local = _local_centroid_matrix(active, "gid", "gv")
    if local is not None:
        vec_coarse = _assign_cells_arrow(
            vecs, local, dict(active.dtypes)["gid"]
        ).withColumnRenamed("cid", "gid")
    else:
        best_g = F.max_by(
            F.struct(F.col("v"), F.col("gid")),
            F.struct(F.col("gcos"), (-F.col("gid")).alias("ng")),
        ).alias("mg")
        vec_coarse = (
            vecs.join(F.broadcast(active), how="cross")
            .select("id", "v", "gid", cosine(F.col("v"), F.col("gv"), dim).alias("gcos"))
            .groupBy("id")
            .agg(best_g)
            .select("id", F.col("mg.v").alias("v"), F.col("mg.gid").alias("gid"))
        )
    return coarse, reg, vec_coarse


def _assign_cells_two_level(
    vecs: DataFrame, centroids: DataFrame, n_centroids: int, dim: int | None
) -> DataFrame:
    """(id, v, cid) like :func:`_assign_cells`, but via a coarse quantizer
    over the centroids so the per-vector cosine count is
    O(n_coarse + registered-per-cell) ~ O(n^(1/4)) instead of the flat
    sqrt(n): vector -> top-1 coarse cell (map-side max_by) -> best fine
    centroid among those registered in that cell (map-side max_by on an
    equi-join keyed by the coarse cell). Below
    :data:`TWO_LEVEL_MIN_CENTROIDS` this IS the flat path (call
    delegated; the oracle's uniform SQL degenerates identically via
    n_coarse = 1). Assignment becomes approximate above the threshold —
    a vector's true nearest fine centroid is found iff that centroid
    registered in the vector's coarse cell (replication keeps this
    probable); recall is measured against brute force either way."""
    n_coarse, _ = two_level_params(n_centroids)
    if n_coarse <= 1:
        return _assign_cells(vecs, centroids, dim)
    _, reg, vec_coarse = _two_level_frames(vecs, centroids, n_centroids, dim)
    reg_local = _collect_registrations(reg)
    if reg_local is not None:
        return _assign_fine_arrow(
            vec_coarse, reg_local, dict(reg.dtypes)["cid"]
        )
    best_f = F.max_by(
        F.struct(F.col("v"), F.col("cid")),
        F.struct(F.col("fcos"), (-F.col("cid")).alias("nc")),
    ).alias("m")
    return (
        vec_coarse.join(F.broadcast(reg), "gid")
        .select("id", "v", "cid", cosine(F.col("v"), F.col("cv"), dim).alias("fcos"))
        .groupBy("id")
        .agg(best_f)
        .select("id", F.col("m.v").alias("v"), F.col("m.cid").alias("cid"))
    )


def _collect_registrations(reg: DataFrame):
    """{gid: (cids, C, cnorm)} for the fine assignment step, or None when
    the registration table (n_centroids x fine_replicas rows, replicas
    capped at 16) exceeds the local cap. Per-cell matrices are sorted by
    cid ascending for the argmax tie-break, same rule as the flat path."""
    import numpy as np

    rows = reg.select("gid", "cid", "cv").limit(MAX_LOCAL_CENTROIDS + 1).collect()
    if len(rows) > MAX_LOCAL_CENTROIDS or not rows:
        return None
    by_gid: dict = {}
    for r in rows:
        by_gid.setdefault(r[0], []).append((r[1], r[2]))
    out = {}
    for gid, pairs in by_gid.items():
        pairs.sort(key=lambda p: p[0])
        cids = np.asarray([p[0] for p in pairs], dtype=np.int64)
        C = np.stack([np.asarray(p[1], dtype=np.float64) for p in pairs])
        cn = np.zeros(len(pairs))
        for i in range(C.shape[1]):
            cn += C[:, i] * C[:, i]
        out[gid] = (cids, C, np.sqrt(cn))
    return out


def _assign_fine_arrow(vec_coarse: DataFrame, reg_local: dict, cid_type: str) -> DataFrame:
    """(id, v, cid): the two-level FINE step as an Arrow map — each batch
    groups by its (single-probe) coarse cell and scores only that cell's
    registered fine centroids in numpy. Replaces the gid equi-join +
    per-id max_by: no join fan-out rows, no aggregation shuffle."""
    import numpy as np
    import pandas as pd

    def _assign(batches):
        for pdf in batches:
            # rows with a null vector or null coarse cell cannot be
            # assigned (the join form dropped them via the gid equi-join)
            pdf = pdf[(pdf["v"].notna() & pdf["gid"].notna()).to_numpy()]
            if not len(pdf):
                continue
            cid_out = np.empty(len(pdf), dtype=np.int64)
            for gid, idx in pdf.groupby("gid", sort=False).indices.items():
                cids, C, cnorm = reg_local[gid]
                A = np.stack(pdf["v"].iloc[idx].to_numpy()).astype(np.float64, copy=False)
                best = np.argmax(_rank_cosines(A, C, cnorm), axis=1)
                cid_out[idx] = cids[best]
            out = pdf[["id", "v"]].copy()
            out["cid"] = cid_out
            yield out

    id_t = dict(vec_coarse.dtypes)["id"]
    return vec_coarse.mapInPandas(
        _assign, schema=f"id {id_t}, v array<double>, cid {cid_type}"
    )


def ivf_params(n: int, n_probe: int = 8) -> tuple[int, int]:
    """Derived IVF quantizer size for an ``n``-vector corpus:
    ``n_centroids = max(16, round(sqrt(n)))`` (the standard IVF sizing —
    cells hold ~sqrt(n) vectors, so probe work per query is
    ``n_probe * sqrt(n)`` instead of ``n``), and ``n_probe`` capped to half
    the centroids so the scored-candidate fraction n_probe/n_centroids is
    always < 1/2 and shrinks as 1/sqrt(n). At sf0.1 (60k vectors):
    (245, 8) — ~3% of the table scored per query; the old fixed (16, 8)
    scored HALF the table, defeating the pruning entirely."""
    import math

    n_centroids = max(16, int(round(math.sqrt(max(n, 1)))))
    return n_centroids, max(1, min(n_probe, n_centroids // 2))


# Below this base-table size the one-shot Janino/JIT compile of the unrolled
# cosine (~600 expression nodes appearing in 3-4 distinct stages; measured
# 14s of one-time cost per cold stage at dim=64) costs more than the
# interpreted higher-order-function fold's per-row penalty saves. Both
# evaluate the identical sequential left-fold, so results are bit-equal —
# this is purely a compile-vs-throughput trade.
UNROLL_MIN_ROWS = 500_000


def _ivf_candidates(
    base: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None,
    n_probe: int,
    dim: int | None,
    lloyd_iters: int,
    train_fraction: float,
    cos_dim: int | None = None,
    train_on: DataFrame | None = None,
) -> DataFrame:
    """(query_id, qv, id, v): the candidate set each query scores — every
    vector assigned to one of the query's ``n_probe`` nearest cells.
    ``train_on`` restricts quantizer DERIVATION (seeds + Lloyd) to a
    sub-corpus while assignment still covers every ``base`` vector — the
    frozen-quantizer upsert: an index built on yesterday's corpus absorbs
    today's batch without retraining (see :func:`ivf_upsert_topk_neighbors`).
    Factored out so tests can measure the scored-candidate fraction
    directly (the whole point of IVF is that this is ≪ |base|).
    ``cos_dim`` controls unrolling of the cosine expressions only (None =
    interpreted fold, bit-equal values); ``dim`` is still required for
    Lloyd's per-dimension mean aggregates."""
    if lloyd_iters and dim is None:
        raise ValueError("ivf_topk_neighbors: lloyd_iters > 0 requires dim")
    vecs = base.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    if n_centroids is None:
        n = vecs.count()
        n_centroids, n_probe = ivf_params(n, n_probe)
        cos_dim = dim if n >= UNROLL_MIN_ROWS else None
    train = vecs if train_on is None else train_on.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    if lloyd_iters and train_fraction < 1.0:
        # Sample from the ALREADY-RESTRICTED frame: with train_on= this
        # must stay inside the caller's training sub-corpus — sampling
        # from vecs here would silently retrain the "frozen" quantizer on
        # the full base (r14 advice, medium).
        buckets = max(int(round(1.0 / train_fraction)), 1)
        train = train.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(buckets)) == 0)
    centroids = _seed_centroids(train, n_centroids)
    for _ in range(lloyd_iters):
        step = _assign_cells(train, centroids, cos_dim).groupBy("cid").agg(
            F.array(*[F.avg(F.element_at("v", i + 1)) for i in range(dim)]).alias("cv")
        )
        # Tiny (n_centroids rows) but consumed by both the base assignment
        # and the query probes — materialize so the Lloyd chain (broadcast
        # join + wide agg over the sample) runs once, not per consumer.
        centroids = step.localCheckpoint(eager=True)
    qvecs = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    n_coarse, _ = two_level_params(n_centroids)
    local = _local_centroid_matrix(centroids, "cid", "cv")
    if local is not None:
        # ONE bounded centroid pull feeds both sides: base vectors assign
        # in an Arrow map (flat below the two-level threshold), queries
        # pick their n_probe cells in an Arrow map — the crossJoin +
        # window probe stage disappears. Above the threshold the
        # two-level machinery still does the assignment (its stages are
        # Arrow maps too); probes stay flat either way (queries are small).
        cid_t = dict(centroids.dtypes)["cid"]
        if n_coarse <= 1:
            assigned = _assign_cells_arrow(vecs, local, cid_t)
        else:
            assigned = _assign_cells_two_level(vecs, centroids, n_centroids, cos_dim)
        probes = _probe_cells_arrow(qvecs, local, n_probe, cid_t)
    else:
        assigned = _assign_cells_two_level(vecs, centroids, n_centroids, cos_dim)
        probe_w = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cid").asc())
        probes = (
            qvecs.join(F.broadcast(centroids), how="cross")
            .select("query_id", "qv", "cid", cosine(F.col("qv"), F.col("cv"), cos_dim).alias("ccos"))
            .withColumn("crank", F.row_number().over(probe_w))
            .filter(F.col("crank") <= n_probe)
            .select("query_id", "qv", "cid")
        )
    # The probe side is |queries| x n_probe rows — broadcast it so the
    # base-side assignment is NEVER shuffled for the join.
    return F.broadcast(probes).join(assigned, "cid").filter(F.col("query_id") != F.col("id"))


def _probe_cells_arrow(
    qvecs: DataFrame, local, n_probe: int, cid_type: str
) -> DataFrame:
    """(query_id, qv, cid): each query's ``n_probe`` max-cosine cells as an
    Arrow map — replaces the broadcast crossJoin + row_number window stage.
    Ranking replicates the window's (ccos DESC, cid ASC) exactly via
    :func:`_rank_cosines`: zero-norm NULL-like cells sort last (the
    window orders try_divide's NULLs last under DESC), genuine NaN sorts
    first (Spark orders NaN above every double), and the stable argsort
    over cid-ascending columns breaks exact ties on min cid."""
    import numpy as np

    cids, C, cnorm = local

    def _probe(batches):
        for pdf in batches:
            # a null query vector has no meaningful probe cells — drop it
            pdf = pdf[pdf["qv"].notna().to_numpy()]
            if not len(pdf):
                continue
            A = np.stack(pdf["qv"].to_numpy()).astype(np.float64, copy=False)
            key = _rank_cosines(A, C, cnorm)
            order = np.argsort(-key, axis=1, kind="stable")[:, :n_probe]
            out = pdf.loc[
                pdf.index.repeat(order.shape[1]), ["query_id", "qv"]
            ].copy()
            out["cid"] = cids[order].reshape(-1)
            yield out

    qid_t = dict(qvecs.dtypes)["query_id"]
    return qvecs.mapInPandas(
        _probe, schema=f"query_id {qid_t}, qv array<double>, cid {cid_type}"
    )


def ivf_topk_neighbors(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 8,
    dim: int | None = None,
    lloyd_iters: int = 0,
    train_fraction: float = 0.1,
    train_on: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-flat ANN: hash-sampled deterministic centroid seeds refined by
    ``lloyd_iters`` rounds of Lloyd's algorithm (assign each vector to its
    max-cosine cell, recenter each cell on its element-wise mean), then
    queries probe the ``n_probe`` nearest cells.

    ``n_centroids=None`` (default) derives the quantizer size from the
    corpus: ``max(16, round(sqrt(n)))`` cells (one cheap count of the base
    table at plan time). This keeps the scored-candidate fraction
    ``n_probe/n_centroids ~ n_probe/sqrt(n)`` — at 60k vectors ~3%, at 10^9
    ~0.03% — whereas any FIXED n_centroids eventually probes a constant
    fraction of the table and the "ANN" degenerates to brute force plus
    join overhead (the round-2 regression: 16 cells / 8 probes = half the
    table scored). Assignment cost is n*sqrt(n) broadcast-join cosines —
    map-side, no shuffle, embarrassingly parallel; for n where that term
    matters (>10^8) shard the assignment or raise train_fraction sampling.

    Hash-sampled seeds alone lift recall over first-k-ids seeding (measured
    0.74 vs the prior 0.5 floor at sf0.001) at zero extra cost, so Lloyd
    refinement is opt-in: each round adds ~1.4x wall at sf0.1 for a further
    ~+0.04 recall per round (measured 0.78 at one round). When enabled, the
    quantizer trains on a deterministic hash sample of the base
    (``train_fraction``; the standard IVF practice — FAISS trains on a
    sample too): cell means converge with the sample, so the Lloyd rounds
    cost a fraction of a full pass and only the final assignment touches
    every vector. At 100 TB: seeding is a bounded TakeOrderedAndProject;
    each Lloyd round is one broadcast join plus one groupBy(cid) with
    ``dim`` avg-aggregates over the sample (single shuffle, map-side
    partial aggregation, stays in codegen); the probe join shuffles only by
    cell id — bounded fan-out, no cross join. Recall is tested against the
    brute-force baseline; the scored fraction is pinned by
    test_ivf_scored_fraction.
    """
    if n_centroids is None:
        n = base.count()
        n_centroids, n_probe = ivf_params(n, n_probe)
        cos_dim = dim if n >= UNROLL_MIN_ROWS else None
    else:
        # Explicit n_centroids must not silently force the unrolled cosine
        # (the r16 ivf_upsert finding: the 64-wide codegen costs ~1.8 s of
        # compile the corpus does not amortize below UNROLL_MIN_ROWS —
        # same values either way, the branches are bit-equal). Callers
        # that know the corpus size pass n_rows; otherwise the
        # plan-statistics estimate decides, exactly like topk_neighbors.
        cos_dim = _auto_cos_dim(base, dim, n_rows)
    scored = _ivf_candidates(
        base, queries, id_col, vec_col, n_centroids, n_probe, dim, lloyd_iters,
        train_fraction, cos_dim, train_on,
    ).select(
        "query_id", F.col("id").alias("neighbor_id"), _pair_cosine(F.col("qv"), F.col("v"), cos_dim).alias("cos")
    ).filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_upsert_topk_neighbors(
    indexed: DataFrame,
    arriving: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 8,
    dim: int | None = None,
    n_indexed: int | None = None,
) -> DataFrame:
    """IVF index MAINTENANCE: top-k over ``indexed`` ∪ ``arriving`` with
    the quantizer FROZEN on the indexed corpus — seeds, (n_centroids,
    n_probe) sizing, and the two-level registration all derive from
    ``indexed`` alone, and the arriving batch is only ASSIGNED to the
    existing cells.

    This is the incremental path a 100 TB pipeline actually runs: the
    index was built once (an O(n*sqrt(n)) assignment pass); each new
    batch costs |batch| * sqrt(n) assignment cosines plus the bounded
    probe join — no retraining, no touch of the already-assigned corpus
    (here the old assignment is recomputed because the engine is
    stateless across calls; with a persisted assignment table the old
    side is a plain scan — the PLAN is what this operator pins). The
    mirror of dedup's store-vs-batch incremental MinHash
    (``dedup_minhash_incremental``). Deterministic end to end, so a
    DuckDB oracle can replay the whole frozen-quantizer pipeline
    bit-exactly (seeds from the indexed subset, assignment over the
    union). Drift caveat: a frozen quantizer degrades as the arriving
    distribution shifts — recall against brute force is the retrain
    signal, pinned in tests.

    ``n_indexed`` skips the sizing count when the caller knows it."""
    n = n_indexed if n_indexed is not None else indexed.count()
    n_centroids, n_probe = ivf_params(n, n_probe)
    base = indexed.select(id_col, vec_col).unionByName(
        arriving.select(id_col, vec_col)
    )
    return ivf_topk_neighbors(
        base, queries, k=k, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, n_probe=n_probe, dim=dim,
        train_on=indexed,
        n_rows=n,
    )

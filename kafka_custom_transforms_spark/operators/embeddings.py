"""Embedding-column utilities for training-data pipelines: int8
quantization and fixed-point centroid aggregation.

No reference counterpart (the reference is an SMT library, SURVEY.md §2.4);
driver-mandated LLM-data-pipeline extension operators.

Determinism contract (shared with operators/similarity.py): no
order-dependent float accumulation ever reaches an output. Quantization is
elementwise (IEEE double ops are bit-identical across engines), and
centroids aggregate FIXED-POINT integers (floor(v * scale)), whose sums are
exact and order-independent — so a DuckDB oracle hash-matches, and more
importantly the operator is deterministic across cluster topologies,
retries, and AQE re-plans (a float sum is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["quantize_embeddings", "label_centroids", "linear_scores"]


def linear_scores(
    df: DataFrame,
    weights: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bias: float = 0.0,
) -> DataFrame:
    """Batch inference with a linear model as a pure Catalyst expression:
    margin = w . x + b, emitted fixed-point (floor(margin * 1e6)) plus the
    sign — the cheapest useful classifier shape (fastText-style quality
    gates, routing, filtering) run at full scan speed with ZERO Python in
    the row path.

    Determinism: the dot product is an UNROLLED left-to-right sum
    (x0*w0 + x1*w1 + ...), i.e. a sequential fold — bit-identical to a
    DuckDB expression written in the same order, and independent of Spark
    partitioning (it is per-row). Weights are plan-time double literals.
    Models with thousands of dims should switch to a vectorized Pandas UDF
    (see similarity.UNROLL_MIN_ROWS for the same trade measured); at
    embedding dims (<= few hundred) the flat expression stays inside
    whole-stage codegen and wins.
    """
    v = F.col(vec_col)
    margin = F.lit(float(bias)).cast("double")
    for j, w in enumerate(weights):
        margin = margin + v[j].cast("double") * F.lit(float(w))
    return df.select(
        F.col(id_col),
        F.floor(margin * 1_000_000).cast("long").alias("margin_ppm"),
        (margin > 0).alias("pos"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric max-abs quantization to ``bits``-bit signed
    integers — the standard storage/bandwidth reduction before ANN indexing
    (4x for float32 -> int8). Output per row:

      - ``scale_ppm``: floor(max|v| * 1e6) as bigint (the dequantization
        scale, fixed-point so it hash-compares exactly),
      - ``q``: comma-joined quantized values floor(v * qmax / max|v|),
        each in [-qmax-1, qmax] for qmax = 2^(bits-1) - 1.

    Zero vectors quantize to all-zeros with scale 0. Pure elementwise
    Catalyst expressions — zero shuffle, fully parallel; floor(double) is
    bit-identical in the DuckDB oracle (no rounding-mode divergence, unlike
    round's half-up vs half-even).
    """
    qmax = (1 << (bits - 1)) - 1
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        absmax > 0,
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") * F.lit(float(qmax)) / absmax).cast(
                "long"
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return df.select(
        F.col(id_col),
        F.floor(absmax * 1_000_000).cast("long").alias("scale_ppm"),
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))).alias("q"),
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label centroid in fixed-point: one output row per (label, dim)
    with the mean component as floor-scaled ppm. The building block for
    class-balanced sampling, cluster pruning (SemDeDup uses exactly these
    means), and drift monitoring.

    Why fixed-point: a float sum's value depends on accumulation order, so
    a groupBy().sum() over doubles is NOT deterministic across partitionings
    — unacceptable for an operator whose output feeds dedup decisions. Each
    component is floored to an integer (floor(v * scale), elementwise,
    deterministic) and the INTEGER sums are exact and order-independent;
    ``centroid_ppm = floor_div(sum, n)`` stays integer. Quantization error
    is <= 1/scale per element — 1e-6 at the default, far below any
    embedding-space noise floor.

    Plan shape: posexplode(dim rows per vector) -> ONE shuffle on
    (label, dim) with map-side partial sums. At 100 TB the explode
    multiplies rows by dim but the shuffle carries only
    (label, dim, partial_sum, partial_n) per map task — cardinality
    #labels * dim, tiny.
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.transform(
                F.slice(F.col(vec_col), 1, dim),
                lambda x: F.floor(x.cast("double") * scale).cast("long"),
            )
        ).alias("dim", "v_fp"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(F.sum("v_fp").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            F.floor(F.col("s") / F.col("n")).cast("long").alias("centroid_ppm"),
            F.col("n").cast("long").alias("n"),
        )
    )


def arrow_vector_norms(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Squared L2 norms via ``mapInArrow`` — the zero-copy Python surface:
    Arrow RecordBatches flow straight into numpy with no pandas
    materialization and no per-row objects (vs mapInPandas, which builds
    a pandas Series of Python lists for array columns).

    Exactness contract: the float32 column is cast to double JVM-side
    (exact), and the fold is the shared dimension-sequential kernel
    (``functions.vector.fold_dot_rows``: vectorized ACROSS rows, ordered
    WITHIN the vector) — bit-identical to a SQL left fold ``list_reduce``
    over the same doubles, which is what the oracle computes. np.sum's
    pairwise reduction would NOT match.

    Scale: embarrassingly parallel; one Arrow batch in, one out; memory
    bounded by the Arrow batch size knob like every decode in this
    engine."""
    import pyarrow as pa

    from kafka_custom_transforms_spark.functions.vector import fold_dot_rows

    cast_df = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )

    def _norms(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column(0)
            v = batch.column(1)
            flat = np.asarray(v.flatten(), dtype=np.float64)
            offsets = np.asarray(v.offsets)
            widths = np.diff(offsets)
            if len(widths) and (widths != widths[0]).any():
                raise ValueError("ragged embedding lengths")
            dim = int(widths[0]) if len(widths) else 0
            n_rows = len(widths)
            mat = flat.reshape(n_rows, dim)
            acc = fold_dot_rows(mat, mat)  # sequential fold == SQL list_reduce
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array([dim] * len(acc), type=pa.int32()), pa.array(acc)],
                [id_col, "n_dims", "norm_sq"],
            )

    return cast_df.mapInArrow(
        _norms, schema=f"{id_col} long, n_dims int, norm_sq double"
    )


def arrow_label_centroids(
    df: DataFrame,
    dims: int = 2,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label fixed-point centroids over the first ``dims`` dimensions
    via ``applyInArrow`` — the grouped-Arrow surface (whole group as one
    Arrow Table per call, no pandas). Arithmetic is integer fixed-point
    (floor(v * scale) summed as int64) so the result is independent of
    row order within the group — float sums would drift with the
    nondeterministic group ordering. Same determinism contract as the
    codegen ``label_centroids``; this is the Arrow-native formulation.

    Scale: one shuffle on the label; each group must fit one Arrow Table
    (bounded labels — same caveat as any grouped-map API)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    # the group key keeps ITS OWN type (string labels, bigints > 2^31 —
    # the codegen label_centroids supports them, so must this path)
    label_dt = df.schema[label_col].dataType
    label_arrow = to_arrow_type(label_dt)
    label_sql = label_dt.simpleString()

    # NOTE: no type annotations — applyInArrow infers the eval type from
    # the function's hints and errors out on partially-annotated ones
    def _centroid(key, table):
        import numpy as np

        flat = np.asarray(table.column(vec_col).combine_chunks().flatten(),
                          dtype=np.float64)
        n = table.num_rows
        dim = len(flat) // n if n else 0
        mat = flat.reshape(n, dim)
        label = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
        arrays = [
            pa.array([label], type=label_arrow),
            pa.array([n], type=pa.int64()),
        ]
        names = ["label", "n"]
        for d in range(dims):
            if d < dim:
                fp = np.floor(mat[:, d] * scale).astype(np.int64)
                s = int(fp.sum())
                # truncate toward zero: SQL integer division (DuckDB //,
                # Spark div) truncates, Python // floors — they differ on
                # negative sums
                q = abs(s) // n
                val = q if s >= 0 else -q
            else:
                val = None  # vectors shorter than `dims`: null centroid
            arrays.append(pa.array([val], type=pa.int64()))
            names.append(f"c{d}_ppm")
        return pa.Table.from_arrays(arrays, names)

    out_schema = f"label {label_sql}, n long, " + ", ".join(
        f"c{d}_ppm long" for d in range(dims)
    )
    return df.select(label_col, vec_col).groupBy(label_col).applyInArrow(
        _centroid, schema=out_schema
    )

"""Similarity search tests: determinism, ANN recall vs brute force, plan
shape (query side broadcast, no shuffle of the base table scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_custom_transforms_spark.operators import similarity
from kafka_custom_transforms_spark.plans.explain import broadcast_join_count
from kafka_custom_transforms_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def queries_df(emb):
    return emb.filter(F.col("vec_id") % 100 == 0)


def _rows(df):
    return sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())


def test_topk_shape_and_determinism(emb, queries_df):
    out = similarity.topk_neighbors(emb, queries_df, k=5, dim=64)
    rows = _rows(out)
    nq = queries_df.count()
    assert len(rows) == nq * 5
    per_query = {}
    for q, n, r in rows:
        per_query.setdefault(q, []).append((r, n))
        assert n != q  # self excluded
    for q, rs in per_query.items():
        assert sorted(r for r, _ in rs) == [1, 2, 3, 4, 5]
    assert rows == _rows(similarity.topk_neighbors(emb, queries_df, k=5, dim=64))


def test_topk_broadcasts_queries(emb, queries_df):
    out = similarity.topk_neighbors(emb, queries_df, k=5, dim=64)
    assert broadcast_join_count(out) >= 1


def test_lsh_recall_against_brute_force(emb, queries_df):
    """SRP-LSH is approximate; require >= 60% top-5 recall at these params
    on the synthetic corpus (no planted near-dup structure, so this is the
    hard case for LSH)."""
    exact = {(q, n) for q, n, _ in _rows(similarity.topk_neighbors(emb, queries_df, k=5, dim=64))}
    approx = {
        (q, n)
        for q, n, _ in _rows(
            similarity.lsh_topk_neighbors(emb, queries_df, dim=64, k=5, tables=12, bits_per_table=4)
        )
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f}"


def test_ivf_recall_against_brute_force(emb, queries_df):
    exact = {(q, n) for q, n, _ in _rows(similarity.topk_neighbors(emb, queries_df, k=5, dim=64))}
    # Derived quantizer (n_centroids=None -> ~sqrt(n) cells): the shipped
    # configuration of the similarity_topk_ivf query.
    approx = {
        (q, n)
        for q, n, _ in _rows(
            similarity.ivf_topk_neighbors(emb, queries_df, k=5, n_probe=8, dim=64)
        )
    }
    recall = len(exact & approx) / len(exact)
    # hash-sampled seeds measure 0.74 on this corpus (first-k seeding
    # measured lower; old bound was 0.5); margin for corpus variation.
    assert recall >= 0.65, f"IVF recall {recall:.2f}"
    lloyd = {
        (q, n)
        for q, n, _ in _rows(
            similarity.ivf_topk_neighbors(
                emb, queries_df, k=5, n_centroids=16, n_probe=8, dim=64, lloyd_iters=1
            )
        )
    }
    lloyd_recall = len(exact & lloyd) / len(exact)
    # sampled-Lloyd refinement measured +0.04 recall; bound only pins that
    # the refined quantizer stays in the same quality band (cell means are
    # float-order nondeterministic).
    assert lloyd_recall >= 0.65, f"IVF+Lloyd recall {lloyd_recall:.2f}"


def test_ivf_params_scale_down_scored_fraction():
    """The derived quantizer keeps n_probe/n_centroids shrinking ~1/sqrt(n):
    a FIXED n_centroids eventually probes a constant fraction of the table
    (the round-2 16-cell config scored HALF of it)."""
    nc, np_ = similarity.ivf_params(2_000)
    assert (nc, np_) == (45, 8)
    nc, np_ = similarity.ivf_params(60_000)
    assert nc == 245 and np_ == 8 and np_ / nc < 0.04
    nc, np_ = similarity.ivf_params(1_000_000_000)
    assert np_ / nc < 0.0003
    # tiny corpora: n_probe capped to half the cells, never more
    nc, np_ = similarity.ivf_params(10, n_probe=64)
    assert nc == 16 and np_ == 8


def test_ivf_scored_fraction(emb, queries_df):
    """The candidate set each query scores must be a minority of the base
    table — the entire point of IVF pruning. Round 2 shipped 16 cells /
    8 probes = 50% scored; the derived quantizer stays well under."""
    n = emb.count()
    nq = queries_df.count()
    n_centroids, n_probe = similarity.ivf_params(n)
    cand = similarity._ivf_candidates(
        emb, queries_df, "vec_id", "embedding",
        n_centroids=n_centroids, n_probe=n_probe, dim=64, lloyd_iters=0,
        train_fraction=0.1,
    )
    frac = cand.count() / (nq * (n - 1))
    assert frac < 0.45, f"scored fraction {frac:.2f} — IVF is not pruning"


def test_hyperplane_buckets_string_ids(spark):
    """The numpy path must keep the caller's id dtype (block dedup supports
    string ids and auto-dispatches to LSH at scale)."""
    from kafka_custom_transforms_spark.operators.similarity import (
        hyperplane_buckets,
    )

    df = spark.createDataFrame(
        [("u-1", [1.0] * 8), ("u-2", [-1.0] * 8)],
        "vec_id string, embedding array<float>",
    )
    out = hyperplane_buckets(df, dim=8, id_col="vec_id", vec_col="embedding",
                             tables=2, bits_per_table=4)
    rows = out.collect()
    assert {r["id"] for r in rows} == {"u-1", "u-2"}
    assert dict(out.dtypes)["id"] == "string"


def test_two_level_assignment_cosine_budget(spark):
    """100 TB guard (r3 verdict #3): the final IVF assignment must NOT
    score n x n_centroids cosines. Count the actual scored pairs of the
    two-level path — coarse probes (n x n_coarse) plus within-cell fine
    scores — and pin them well under the flat n x n_centroids. The
    quantizer must be large for the asymptotics to show (the saving is
    ~n_coarse + 16 * n_centroids / n_coarse vs n_centroids), so this uses
    a synthetic corpus with a 1024-cell quantizer: per vector ~32 coarse
    + ~512 registered-fine cosines instead of the flat 1024."""
    n, nc = 4000, 1024
    vecs = spark.range(n).select(
        F.col("id"),
        F.array(
            *[((F.col("id") * 7 + i * 31) % 13 + 1).cast("double") for i in range(8)]
        ).alias("v"),
    )
    centroids = similarity._seed_centroids(vecs, nc)
    coarse, reg, vec_coarse = similarity._two_level_frames(vecs, centroids, nc, None)
    n_coarse = coarse.count()
    fine_scored = vec_coarse.join(reg, "gid").count()
    scored = n * n_coarse + fine_scored
    flat = n * nc
    assert scored < flat * 0.8, f"two-level scored {scored} vs flat {flat}"
    # every vector must still receive an assignment (no fine-less cells)
    assigned = similarity._assign_cells_two_level(vecs, centroids, nc, None)
    assert assigned.count() == n


def test_two_level_degenerates_to_flat_below_threshold(emb):
    """Below TWO_LEVEL_MIN_CENTROIDS the two-level entry point must be the
    flat assignment exactly (same cells, same tie-breaks)."""
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).limit(200)
    nc = similarity.TWO_LEVEL_MIN_CENTROIDS - 1
    centroids = similarity._seed_centroids(vecs, nc)
    flat = sorted(
        (r.id, r.cid) for r in similarity._assign_cells(vecs, centroids, None).collect()
    )
    two = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells_two_level(vecs, centroids, nc, None).collect()
    )
    assert flat == two


def test_topk_plan_construction_runs_no_job(emb, queries_df, monkeypatch):
    """Pin VERDICT r4 item 7: building the exact top-k plan must not run
    a Spark job (the old _auto_cos_dim called base.count() on every call
    — a wasted full scan per query at 100 TB). Any action during plan
    construction trips the monkeypatched methods."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("plan construction ran a Spark job")

    for action in ("count", "collect", "take", "head", "first", "toPandas"):
        monkeypatch.setattr(DataFrame, action, _boom)
    out = similarity.topk_neighbors(emb, queries_df, k=5, dim=64)
    out.explain(extended=False)  # plan materializes without any action
    monkeypatch.undo()
    assert len(_rows(out)) > 0


def test_auto_cos_dim_hint_and_estimate(emb):
    """n_rows hint decides directly; the no-hint path must agree with an
    explicit count (plan-statistics estimate picks the same branch for a
    small parquet scan) and never run a job."""
    assert similarity._auto_cos_dim(emb, 64, n_rows=10) is None
    assert (
        similarity._auto_cos_dim(emb, 64, n_rows=similarity.UNROLL_MIN_ROWS)
        == 64
    )
    assert similarity._auto_cos_dim(emb, None) is None
    # sf0.001/sf0.01 embeddings are far below 500k rows: estimate says fold
    assert similarity._auto_cos_dim(emb, 64) is None


def test_assign_cells_arrow_matches_expr(emb, monkeypatch):
    """The Arrow map-form flat assignment must be BIT-identical to the
    broadcast-join + max_by expression form (forced by
    MAX_LOCAL_CENTROIDS=0): same cells, same min-cid tie-breaks (r9 — the
    r8 MinHash map-form treatment applied to IVF)."""
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    centroids = similarity._seed_centroids(vecs, 32)
    arrow = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells(vecs, centroids, None).collect()
    )
    monkeypatch.setattr(similarity, "MAX_LOCAL_CENTROIDS", 0)
    expr = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells(vecs, centroids, None).collect()
    )
    assert arrow == expr and len(arrow) > 0


def test_two_level_arrow_matches_jvm_pipeline(spark, monkeypatch):
    """Forcing MAX_LOCAL_CENTROIDS=0 routes every assignment through the
    JVM join pipeline; the default Arrow route must produce the identical
    (id, cid) assignment on a quantizer big enough to engage two-level."""
    n, nc = 1500, similarity.TWO_LEVEL_MIN_CENTROIDS + 44
    vecs = spark.range(n).select(
        F.col("id"),
        F.array(
            *[((F.col("id") * 7 + i * 31) % 13 + 1).cast("double") for i in range(8)]
        ).alias("v"),
    )
    centroids = similarity._seed_centroids(vecs, nc)
    arrow = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells_two_level(vecs, centroids, nc, None).collect()
    )
    monkeypatch.setattr(similarity, "MAX_LOCAL_CENTROIDS", 0)
    jvm = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells_two_level(vecs, centroids, nc, None).collect()
    )
    monkeypatch.undo()
    assert arrow == jvm and len(arrow) == n


def test_cosine_arrow_bit_equals_fold(emb):
    """cosine_arrow must be BIT-identical to the sequential fold on real
    embedding pairs (the dispatch in _pair_cosine must never change a
    ranking), and null inputs must yield null like the fold form."""
    from kafka_custom_transforms_spark.functions.vector import (
        as_double,
        cosine,
        cosine_arrow,
    )

    b = emb.select(F.col("vec_id").alias("i"), as_double(F.col("embedding")).alias("bv")).limit(60)
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("j"), as_double(F.col("embedding")).alias("qv")
    )
    pairs = b.join(F.broadcast(q), F.col("i") != F.col("j"))
    rows = pairs.select(
        "i", "j",
        cosine(F.col("qv"), F.col("bv")).alias("fold"),
        cosine_arrow(F.col("qv"), F.col("bv")).alias("arrow"),
    ).collect()
    assert rows and all(r.fold == r.arrow for r in rows)

    spark = emb.sparkSession
    nulls = spark.createDataFrame(
        [([1.0, 2.0], None), (None, [1.0, 2.0]), ([3.0, 4.0], [1.0, 2.0])],
        "a array<double>, b array<double>",
    )
    got = nulls.select(
        cosine(F.col("a"), F.col("b")).alias("fold"),
        cosine_arrow(F.col("a"), F.col("b")).alias("arrow"),
    ).collect()
    assert [r.fold is None for r in got] == [r.arrow is None for r in got]


def test_cosine_arrow_names_ragged_lengths(spark):
    """Ragged/mismatched vector pairs must fail with a descriptive
    ValueError naming the lengths, not np.stack's opaque executor error
    (r10 advice item)."""
    from kafka_custom_transforms_spark.functions.vector import cosine_arrow

    df = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0]), ([1.0], [1.0, 2.0])],
        "a array<double>, b array<double>",
    )
    with pytest.raises(Exception, match="uniform, equal"):
        df.select(cosine_arrow(F.col("a"), F.col("b"))).collect()


def test_degenerate_vectors_are_excluded_not_ranked_first(spark):
    """A zero-norm or null embedding must be EXCLUDED from top-k under
    both cosine dispatch branches (r9 review: the fold form's NaN used to
    sort above every real score and rank the zero vector #1)."""
    rows = [(i, [float(i + 1), 1.0]) for i in range(6)]
    rows.append((97, [0.0, 0.0]))  # zero norm
    rows.append((98, None))        # null embedding
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 1.0])], "vec_id long, embedding array<double>")
    for n_rows in (10, similarity.UNROLL_MIN_ROWS):  # arrow and unrolled paths
        out = similarity.topk_neighbors(base, q, k=10, dim=2, n_rows=n_rows)
        ids = {r.neighbor_id for r in out.collect()}
        assert 97 not in ids and 98 not in ids and len(ids) == 5  # 6 minus self


def test_assign_cells_arrow_drops_null_vectors(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "id long, v array<double>",
    )
    centroids = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], "cid long, cv array<double>"
    )
    got = sorted((r.id, r.cid) for r in similarity._assign_cells(vecs, centroids, None).collect())
    assert got == [(1, 10), (2, 20)]


def test_zero_norm_parity_between_arrow_and_join_forms(spark, monkeypatch):
    """r10 (advice item): the Arrow assignment/probe kernels and the
    expr/window fallbacks must agree on DEGENERATE inputs — a zero-norm
    centroid must never capture a normal vector (try_divide's NULL loses
    every max_by/window comparison), and a zero-norm vector is still
    assigned/probed with a min-cid tie-break, not dropped. Before the
    _rank_cosines fix the Arrow path ranked the zero-norm centroid's NaN
    as +inf and assigned BOTH normal vectors to it."""
    from pyspark.sql import Window

    from kafka_custom_transforms_spark.functions.vector import cosine

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "id long, v array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, [0.0, 0.0])], "cid long, cv array<double>"
    )
    arrow_assign = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells(vecs, cents, None).collect()
    )
    qvecs = vecs.select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    local = similarity._local_matrices(cents, "cid", "cv")[None]
    monkeypatch.setattr(similarity, "MAX_LOCAL_CENTROIDS", 0)
    expr_assign = sorted(
        (r.id, r.cid)
        for r in similarity._assign_cells(vecs, cents, None).collect()
    )
    monkeypatch.undo()
    assert arrow_assign == expr_assign == [(1, 10), (2, 10), (3, 10)]

    arrow_probes = sorted(
        (r.query_id, r.cid)
        for r in similarity._probe_cells_arrow(qvecs, local, 1, "bigint").collect()
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cid").asc()
    )
    window_probes = sorted(
        (r.query_id, r.cid)
        for r in (
            qvecs.join(F.broadcast(cents), how="cross")
            .select(
                "query_id",
                "cid",
                cosine(F.col("qv"), F.col("cv"), None).alias("ccos"),
            )
            .withColumn("crank", F.row_number().over(probe_w))
            .filter(F.col("crank") <= 1)
            .select("query_id", "cid")
        ).collect()
    )
    assert arrow_probes == window_probes == [(1, 10), (2, 10), (3, 10)]


def test_rank_cosines_orders_nan_elements_above_and_nulls_below():
    """The two degenerate sources rank OPPOSITE ways, like the JVM: a
    genuine NaN element (denominator non-zero) maps to +inf (Spark sorts
    NaN above every double); an exactly-zero denominator maps to -inf
    (try_divide yields NULL, which loses). Non-degenerate cells stay
    bit-equal to the sequential-fold cosine."""
    import math

    import numpy as np

    A = np.array([[1.0, 0.0], [np.nan, 1.0], [0.0, 0.0]])
    C = np.array([[1.0, 1.0], [0.0, 0.0]])
    cnorm = np.array([math.sqrt(2.0), 0.0])
    key = similarity._rank_cosines(A, C, cnorm)
    assert key[0, 0] == 1.0 / (1.0 * math.sqrt(2.0))  # normal cell: bit-equal
    assert key[0, 1] == -np.inf             # zero-norm centroid: loses
    assert key[1, 0] == np.inf              # NaN element: wins (Spark NaN order)
    assert key[1, 1] == np.inf              # NaN elements: denom NaN -> NaN result
    assert (key[2] == -np.inf).all()        # zero-norm vector: all lose, tie on cid


def test_vector_fold_property_bit_equal_to_scalar_fold():
    """Property test: the shared fold kernel under every Arrow vector map
    (functions.vector: the n x m ``fold_dot_matrix`` and the row-wise
    ``fold_dot_rows``) must be BIT-identical to a scalar sequential
    left-fold for arbitrary float inputs — including magnitudes near the
    double extremes and dims past numpy's 8-way unrolled pairwise sum,
    where a blocked/SIMD/FMA summation order would diverge — and the
    production cosine (:func:`similarity._rank_cosines` over
    :func:`similarity._local_matrices`-style norms) must equal the scalar
    cosine on every finite cell."""
    import math

    import numpy as np
    from hypothesis import given, settings, strategies as st

    from kafka_custom_transforms_spark.functions.vector import (
        fold_dot_matrix,
        fold_dot_rows,
    )

    finite = st.floats(
        min_value=-1e150, max_value=1e150, allow_nan=False, allow_infinity=False
    )

    def scalar_dot(x, y):
        acc = 0.0
        for i in range(len(x)):
            acc += x[i] * y[i]
        return acc

    def same(g, want):
        return (g == want) or (math.isnan(g) and math.isnan(want))

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=24),  # dim
        st.integers(min_value=1, max_value=4),   # n vectors
        st.integers(min_value=1, max_value=4),   # m centroids
        st.data(),
    )
    def check(dim, n, m, data):
        A = np.array(
            [[data.draw(finite) for _ in range(dim)] for _ in range(n)]
        )
        C = np.array(
            [[data.draw(finite) for _ in range(dim)] for _ in range(m)]
        )
        B = np.array(
            [[data.draw(finite) for _ in range(dim)] for _ in range(n)]
        )
        dots = fold_dot_matrix(A, C)
        rows = fold_dot_rows(A, B)
        cnorm = np.sqrt(fold_dot_rows(C, C))
        key = similarity._rank_cosines(A, C, cnorm)
        for r in range(n):
            assert same(rows[r], scalar_dot(A[r], B[r])), (r, rows[r])
            na = scalar_dot(A[r], A[r])
            for c in range(m):
                dot = scalar_dot(A[r], C[c])
                assert same(dots[r, c], dot), (r, c, dots[r, c], dot)
                den = math.sqrt(na) * math.sqrt(scalar_dot(C[c], C[c]))
                if den != 0.0 and math.isfinite(dot / den):
                    assert key[r, c] == dot / den, (r, c, key[r, c], dot / den)

    check()


def test_probe_cells_arrow_matches_window_form(emb):
    """The Arrow probe map must reproduce the crossJoin + row_number
    window exactly: same (query, cell) set, same (ccos DESC, cid ASC)
    tie-breaks — pinned directly, not just via the e2e oracle."""
    from pyspark.sql import Window
    from kafka_custom_transforms_spark.functions.vector import as_double, cosine

    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    centroids = similarity._seed_centroids(vecs, 40)
    qvecs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    n_probe = 7
    local = similarity._local_matrices(centroids, "cid", "cv")[None]
    arrow = sorted(
        (r.query_id, r.cid)
        for r in similarity._probe_cells_arrow(qvecs, local, n_probe, "bigint").collect()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cid").asc())
    jvm = sorted(
        (r.query_id, r.cid)
        for r in qvecs.join(F.broadcast(centroids), how="cross")
        .select("query_id", "cid", cosine(F.col("qv"), F.col("cv"), None).alias("ccos"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_probe)
        .collect()
    )
    assert arrow == jvm and len(arrow) > 0


def test_ivf_wins_dispatch_model_directions():
    """The method='auto' pair-count model (r14): a constant small query
    set keeps the LINEAR brute scan at any corpus size (the index build
    is O(n^1.5)); a query set growing with the corpus crosses to IVF."""
    # q fixed at 10: brute n*q grows linearly, index build n^1.5 faster —
    # exact stays the choice even at a billion rows
    assert not similarity._ivf_wins(n=1_000_000_000, q=10)
    # the registry workload shape (q = n/50) at bench scale and above
    assert similarity._ivf_wins(n=10_000, q=200)
    assert similarity._ivf_wins(n=1_000_000, q=20_000)
    # the x10 stress replica's ACTUAL plan-stats estimate (the parquet
    # compresses to ~200 B/row, so 20k real rows estimate as ~7.9k):
    # must fire, or STRESS.md's auto row silently tracks the quadratic
    # yardstick instead of IVF — the exact miss the first r14 stress run
    # caught when the floor sat above this estimate
    assert similarity._ivf_wins(n=7_870, q=157)
    # tiny corpus: brute wins regardless of ratio
    assert not similarity._ivf_wins(n=500, q=10)


def test_topk_auto_small_corpus_equals_exact(emb, queries_df):
    """Below the crossover the auto path must be byte-identical to the
    pinned-exact plan (same rows, same ranks)."""
    auto = similarity.topk_neighbors(emb, queries_df, k=5, dim=64, method="auto")
    exact = similarity.topk_neighbors(emb, queries_df, k=5, dim=64, method="exact")
    assert _rows(auto) == _rows(exact)


def test_topk_auto_dispatches_to_ivf_above_crossover(emb):
    """Forcing the corpus-size hint above the crossover must reproduce the
    IVF plan's rows exactly (the same derived (n_centroids, n_probe)) —
    the dispatch boundary test the r13 verdict asked for. The full table
    as the query set gives the q-grows-with-n workload shape."""
    q = emb
    n_hint = 200_000
    assert similarity._ivf_wins(n_hint, q=500)  # the hint crosses the model
    auto = similarity.topk_neighbors(emb, q, k=3, dim=64, method="auto", n_rows=n_hint)
    nc, np_ = similarity.ivf_params(n_hint)
    ivf = similarity.ivf_topk_neighbors(
        emb, q, k=3, dim=64, n_centroids=nc, n_probe=np_
    )
    assert _rows(auto) == _rows(ivf)


def test_topk_method_validation():
    with pytest.raises(ValueError):
        similarity.topk_neighbors(None, None, method="fast")


def test_lsh_default_bits_derive_from_corpus(emb, queries_df):
    """bits_per_table=None derives occupancy-constant bits (the
    anti-quadratic default, r14): the call must equal an explicit call
    with dedup._occupancy_bits(n)."""
    from kafka_custom_transforms_spark.operators.dedup import _occupancy_bits

    n = 5_000
    derived = similarity.lsh_topk_neighbors(
        emb, queries_df, dim=64, k=5, n_rows=n
    )
    explicit = similarity.lsh_topk_neighbors(
        emb, queries_df, dim=64, k=5, bits_per_table=_occupancy_bits(n), n_rows=n
    )
    assert _rows(derived) == _rows(explicit)
    # and the derivation is corpus-sized: bigger corpus, more bits
    assert _occupancy_bits(100_000_000) > _occupancy_bits(10_000) >= 4


def test_train_on_with_lloyd_sampling_stays_inside_train_on(emb, queries_df):
    """Frozen-quantizer contract (r14 advice, medium): train_on= with
    lloyd_iters>0 and train_fraction<1.0 must sample seeds/refinement
    from the TRAIN_ON subset, never the full base. Pinned by equivalence:
    passing train_on=T with train_fraction=0.5 must produce exactly the
    result of passing the pre-sampled T' (the same pmod(xxhash64) bucket
    filter applied by the operator) with train_fraction=1.0 — identical
    training frames imply identical centroids, cells, and neighbors. The
    pre-fix code sampled from the full base here, which yields different
    centroids and fails this equality."""
    train = emb.filter(F.col("vec_id") % 3 == 0)
    got = _rows(
        similarity.ivf_topk_neighbors(
            emb, queries_df, k=5, n_centroids=24, n_probe=6, dim=64,
            lloyd_iters=1, train_fraction=0.5, train_on=train,
        )
    )
    presampled = train.filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0
    )
    want = _rows(
        similarity.ivf_topk_neighbors(
            emb, queries_df, k=5, n_centroids=24, n_probe=6, dim=64,
            lloyd_iters=1, train_fraction=1.0, train_on=presampled,
        )
    )
    assert got == want


def test_auto_dispatch_to_ivf_warns(emb):
    """The silent plan switch r14 advice flagged: when method='auto'
    crosses to the approximate IVF plan the caller gets a UserWarning
    naming the estimates and the escape hatches; below the crossover
    (and on explicit method=) no warning fires."""
    import warnings as w

    big_q = emb  # q == n is far past the crossover at any n
    with pytest.warns(UserWarning, match="crossover.*IVF|IVF.*crossover"):
        similarity.topk_neighbors(big_q, big_q, k=3, dim=64, n_rows=60_000)

    small_q = emb.limit(5)
    with w.catch_warnings():
        w.simplefilter("error")  # any warning -> test failure
        similarity.topk_neighbors(emb, small_q, k=3, dim=64, n_rows=500)
        similarity.topk_neighbors(emb, big_q, k=3, dim=64, n_rows=60_000,
                                  method="ivf")


def test_lsh_statsless_fallback_warns(spark):
    """bits_per_table=None on a stats-less input falls back to 6 bits —
    r14 advice: that fallback must be LOUD (reproducibility hazard),
    and passing n_rows must silence it."""
    import warnings as w

    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # an RDD-backed frame has no usable row estimate
    statsless = spark.createDataFrame(df.rdd, df.schema)
    q = statsless.limit(3)
    with pytest.warns(UserWarning, match="no usable plan-statistics"):
        similarity.lsh_topk_neighbors(statsless, q, dim=8, k=2, tables=2)
    with w.catch_warnings():
        w.simplefilter("error")
        similarity.lsh_topk_neighbors(statsless, q, dim=8, k=2, tables=2,
                                      n_rows=40)

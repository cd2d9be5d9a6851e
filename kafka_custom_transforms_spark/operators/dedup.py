"""Deduplication operators for large-scale training-data pipelines.

Five families, each picked for a different scale/accuracy trade-off:

  - :func:`dedup_exact` — hash-groupBy exact dedup with a deterministic
    survivor (min_by over the order tuple, partial-aggregated map-side so
    heavy-hitter keys cannot serialize one task; window row_number kept as
    the ``skew_safe=False`` twin). One shuffle on the key columns. At
    100 TB this is the baseline "drop identical rows" pass.
  - :func:`minhash_lsh_pairs` — MinHash + banded LSH near-dup candidate
    generation with exact-Jaccard verification. Signatures are pure per-row
    expressions (no explode); the only shuffle is the equi-join on
    (band, band_hash), whose key distribution is uniform by construction.
    Verification joins shingle sets back on the (small) candidate set.
  - :func:`ngram_jaccard_pairs` — *exact* Jaccard similarity via a
    prefix-filtered inverted index (PPJoin-style): only each document's
    rarest-first prefix is indexed and self-joined, which provably loses no
    pair at the threshold while removing hot-shingle quadratic fan-out;
    candidates are verified on the full sets. No cross join.
  - :func:`simhash_pairs` — 60-bit SimHash over word shingles using the
    md5-prefix hash (bit-identical in DuckDB, so the oracle can recompute
    it), with pigeonhole banding: hamming distance <= t is *guaranteed* to
    collide on at least one of c > t signature chunks, so banding loses no
    recall — the banded plan is exactly equivalent to the O(n^2) scan.
  - :func:`embedding_dup_pairs` — cosine near-duplicate pairs over an
    embedding column; broadcast nested-loop at test scale, LSH
    (random-hyperplane) bucketing as the 100 TB path in similarity.py.

All pair outputs are (a_id, b_id) with a_id < b_id, integer-only — chosen so
DuckDB oracles compare exactly (no float formatting in the hashed output).
"""

from __future__ import annotations

import functools
import itertools
import math
from collections.abc import Callable, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from kafka_custom_transforms_spark.functions.texthash import (
    MERSENNE_P,
    band_hashes,
    grams,
    md5_56,
    md5_60,
    md5_hash56,
    md5_hash60,
    minhash_perms,
    minhash_signature_map,
    tokens,
    word_shingles,
)
from kafka_custom_transforms_spark.functions.vector import as_double, cosine


def dedup_exact(
    keys: Sequence[str],
    order_by: Sequence[str],
    target_cols: Sequence[str] | None = None,
    skew_safe: bool = True,
) -> Callable[[DataFrame], DataFrame]:
    """Exact dedup keeping a deterministic survivor per key group.

    Semantics: the row with the smallest ``order_by`` tuple per ``keys``
    group survives — oracle-matchable as DuckDB ``QUALIFY row_number() = 1``.
    Prefer this over ``dropDuplicates`` whenever reproducibility matters:
    dropDuplicates keeps an arbitrary row. Single shuffle on ``keys``.

    ``skew_safe=True`` (default) expresses the survivor as
    ``groupBy(keys).agg(min_by(struct(*cols), struct(*order_by)))``: a hash
    aggregate with a MAP-SIDE PARTIAL, so a heavy-hitter key (one document
    duplicated 10^8 times at 100 TB) collapses to one row per input
    partition before the shuffle instead of landing every copy on a single
    window task. ``skew_safe=False`` keeps the window-function form
    (``row_number() over (partition by keys order by order_by) = 1``) —
    same result (test-pinned equality when ``order_by`` is a total order
    within each key group). When ``order_by`` is NOT a total order within
    a key group, BOTH forms break the tie by a stable full-row hash
    (``xxhash64`` over every column), so the survivor is a deterministic
    function of the data — identical run-to-run and between the two
    forms — rather than whichever tied row an executor saw first.
    """

    def _transform(df: DataFrame) -> DataFrame:
        tie = F.xxhash64(*[F.col(c) for c in df.columns])
        if skew_safe:
            order_struct = F.struct(
                *[F.col(c) for c in order_by], tie.alias("_tie")
            )
            row_struct = F.struct(*[F.col(c) for c in df.columns])
            out = (
                df.groupBy(*[F.col(k) for k in keys])
                .agg(F.min_by(row_struct, order_struct).alias("_survivor"))
                .select("_survivor.*")
            )
        else:
            w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by], tie)
            out = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return out.select(*target_cols) if target_cols else out

    return _transform


def _exact_jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return inter / union


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    """Truncate lineage so multi-consumer intermediates compute once.

    ``"local"``: ``localCheckpoint`` — fastest, but blocks live on executors
    without replication, so a lost executor kills the query; right for
    local[*] and short interactive jobs. ``"reliable"``: ``checkpoint`` to
    ``sparkContext.setCheckpointDir`` storage (HDFS/object store on a
    cluster) — survives executor loss; the right mode for the 100 TB run.
    ``"none"``: no materialization (lineage recomputes per consumer; lets
    AQE see the whole plan). Both checkpoint modes are plan-equivalent —
    tests pin that the three modes return identical results.
    """
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        return df.checkpoint(eager=True)
    if mode == "none":
        return df
    raise ValueError(f"checkpoint mode must be local|reliable|none, got {mode!r}")


# Local-sandbox-tuned partition cap, lifted to module level so a cluster
# deployment can override it without code edits (r3 verdict #8); the gram
# passes' fan-out cap is functions.skew.PYTHON_FANOUT_CAP.
# BROADCAST_SCORE_PARTITION_CAP: partition count for the driver-broadcast
# embedding-score path (worker spawn + numpy import dominates: measured
# 0.7 s at 8 parts vs 16.8 s at 32 on the same data). Only reachable below
# max_broadcast_rows, so it never constrains cluster-scale jobs.
BROADCAST_SCORE_PARTITION_CAP = 8


def _text_fanout(
    df: DataFrame, *cols: Column, text_col: str | None = None, min_tokens: int = 0
) -> DataFrame:
    """The preamble of every Python gram pass: keep documents with at least
    ``min_tokens`` tokens of ``text_col`` (when given), project to ``cols``
    (when given), then fan out to min(PYTHON_FANOUT_CAP,
    defaultParallelism) partitions. A one-file corpus scans as 1-2 tasks,
    which would serialize the gram pass on 1-2 cores; projecting first
    ships only what the pass needs through the round-robin (guide §2.3,
    §2.6). No-op at cluster scale: ensure_min_partitions only ADDS
    partitions."""
    from kafka_custom_transforms_spark.functions.skew import (
        PYTHON_FANOUT_CAP,
        ensure_min_partitions,
    )

    if min_tokens:
        df = df.filter(F.size(tokens(F.col(text_col))) >= min_tokens)
    if cols:
        df = df.select(*cols)
    return ensure_min_partitions(
        df, min(PYTHON_FANOUT_CAP, df.sparkSession.sparkContext.defaultParallelism)
    )


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    shingler: str = "arrow",
    nondet: bool = False,
) -> DataFrame:
    """(id, shingles) with empty-shingle docs removed (shorter than k words).

    Shingling is the CPU hot spot of every text-dedup pipeline, so
    degenerate scan parallelism — one small parquet file scanning as one
    task — would serialize it on a single core; :func:`_text_fanout` fans
    it out locally and is a no-op at cluster scale.

    ``shingler`` picks the route: ``"arrow"`` (default, measured ~5x faster
    per core locally — see :func:`_shingle_udf`) runs the Python kernel
    ``texthash.grams``; ``"jvm"`` is the pure-JVM spec expression
    (:func:`word_shingles`), which the benchmark's traced stage split runs
    because its stages are public functions. Output is bit-identical
    (insertion-ordered distinct, test-pinned), so the choice never affects
    results.

    ``nondet=True`` marks the Arrow shingler non-deterministic (guide
    §4.4, r15 optimization; same device as ``functions.vector.cosine``).
    For it when the CONSUMER explodes ``sh``: Catalyst infers a
    ``size(sh) > 0`` filter from the Generate and pushes it below the
    fan-out exchange by DUPLICATING the shingle UDF, so every document
    is shingled twice — and the duplicate runs on the PRE-fan-out scan
    side (a single task for a one-file parquet input; at corpus scale, a
    full extra pass over the text). The marker forbids that duplication;
    the function is pure, so results are unchanged. Off by default
    because it also blocks pushing CALLER-written filters on derived
    columns past the projection — the dedup pipelines instead break the
    pushdown with a checkpoint or the ``input_nonempty`` declaration."""
    if shingler not in ("arrow", "jvm"):
        raise ValueError(f"shingler must be 'arrow' or 'jvm', got {shingler!r}")

    # Emptiness is filtered via the equivalent cheap predicate n_tokens >= k
    # (word_shingles yields a non-empty array iff the doc has >= k tokens),
    # NOT via size(sh) > 0: Catalyst pushes filters below the exchange by
    # substituting the alias, which would re-evaluate the whole interpreted
    # shingling expression on the unparallelized scan side (measured: the
    # single-task duplicate eval dominated the signature job).
    filtered = _text_fanout(df, text_col=text_col, min_tokens=k)
    if shingler == "jvm":
        sh = word_shingles(tokens(F.col(text_col)), k)
    else:
        sh = _shingle_udf(k, nondet=nondet)(F.col(text_col))
    return filtered.select(F.col(id_col).alias("id"), sh.alias("sh"))


@functools.lru_cache(maxsize=8)
def _shingle_udf(k: int, nondet: bool = False):
    """Arrow-vectorized k-shingler over ``texthash.grams``: null and sub-k
    texts give ``[]``. Python string slicing beats the
    F.transform/slice/concat_ws expression ~5x per core (measured at sf0.1:
    0.8 s vs 4.2 s single-task for 5000 docs / 260k shingles) because
    higher-order-function lambdas run interpreted with per-window object
    churn, while this is one tight loop per Arrow batch. Output is
    bit-identical to :func:`word_shingles` (tests pin equality), so the SQL
    oracle is unaffected."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def shingle(texts: pd.Series) -> pd.Series:
        return pd.Series([grams(t, k) for t in texts])

    # Marked inside the factory (nondet is part of the lru_cache key):
    # UserDefinedFunction.asNondeterministic mutates the instance, so
    # marking the cached default copy would silently flip EVERY caller.
    return shingle.asNondeterministic() if nondet else shingle


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    checkpoint: str = "local",
) -> DataFrame:
    """Near-duplicate pairs (a_id, b_id) with exact Jaccard >= threshold,
    found via MinHash/LSH candidates and exactly verified.

    With r = num_perm/bands rows per band, a pair at Jaccard s collides with
    probability 1 - (1 - s^r)^bands. Recall is a property of s, not of the
    threshold: at the defaults (r=4, b=32) a pair at s=0.8 is found with
    probability 1 - 5e-8, but a pair JUST above s=0.5 only with ~0.87 — if
    the corpus has borderline pairs at the threshold, use bands=num_perm/2
    (r=2: recall 1-1e-8 at s=0.5, at the cost of more false candidates for
    the exact-verify stage to discard). False positives are always
    eliminated by the verification join, so output precision is exact; only
    candidate recall is probabilistic.
    """
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    # Shingle sets are read by the signature pipeline and twice by the
    # verification joins; bucket rows feed both sides of the banded
    # self-join. Materialize each once (both are small: one row per doc /
    # 'bands' rows per doc) instead of recomputing the upstream pipeline
    # per consumer.
    sets = _materialize(shingle_sets(df, id_col, text_col, shingle_k), checkpoint)
    perms = minhash_perms(num_perm, seed)
    # Checkpoint the compact signatures (one row per doc), not the exploded
    # bucket rows (bands x docs) — measured 2x faster end-to-end; the band
    # derivation from materialized signatures is cheap to run per join side.
    # The Arrow map form (no explode, no shuffle, numpy mod-min) is
    # bit-identical to the agg form but skips both the 50x explode
    # amplification and the 128-min aggregate whose generated method runs
    # at bytecode-interpreter speed (too large to JIT — measured in
    # texthash.minhash_signature_agg).
    # input_nonempty=True: shingle_sets output rows are non-empty by its
    # >= k-token filter (here the sets checkpoint also already blocks UDF
    # duplication; the skipped filter is just a vacuous pass over the
    # checkpoint read).
    # r16 NEGATIVE A/B (pinned, do not retry): a fully-fused signature
    # kernel — xxh64 reproduced bit-exactly in numpy so base hash + mod-min
    # run in ONE mapInArrow pass over the shingle arrays (deleted since;
    # OPTIMIZATION_r16.md and git history keep it) — LOSES to this split
    # shape both at sf0.1 (wash, 0.338 vs 0.332 median) and 2:1 at a 20x
    # replica (0.77 vs 1.07 s sig stage, interleaved, idle): Spark's
    # xxhash64 is a fast native intrinsic even under the interpreted
    # transform() HOF, and the fusion trades an 8 B/gram long crossing
    # for a ~25 B/gram STRING crossing — the extra Arrow bytes cost more
    # than the HOF saves. The split kernel's Python side keeps its
    # per-document mod-min loop: a batch-flattened reduceat lost its own
    # A/B ~2x (see _sig in texthash.minhash_signature_map).
    sig = _materialize(minhash_signature_map(sets, perms, input_nonempty=True), checkpoint)
    buckets = sig.select(
        "id", F.explode(band_hashes(F.col("sig"), bands, r)).alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    # No eager checkpoint of cand: it appears exactly ONCE in the verify
    # tree, and broadcast_cand evaluates it exactly once (the broadcast
    # exchange collects it from the checkpointed sig, never re-running
    # the signature pipeline). Dropping the eager job is a measured
    # ~4% end-to-end win (r11 interleaved A/B, n=11: 1.265 vs 1.313 s
    # medians at sf0.1). Two r11 NEGATIVE results pinned here so they
    # are not retried: (1) replacing the banded self-join with
    # groupBy(band,bh)+collect_list in-row pair expansion is a dead heat
    # (1.751 vs 1.755) — AQE already reuses the single bucket shuffle
    # stage across both self-join sides, so the join form ships no extra
    # bytes; (2) fusing sets+sig into one (id, sh, sig) checkpoint LOSES
    # (1.972 vs 1.762) — localCheckpoint reads don't column-prune, so
    # every consumer drags the fat shingle arrays.
    # Three r13 NEGATIVES (interleaved fresh-plan A/B at sf0.1, n=9):
    # (3) dropping the sig checkpoint to lean on ReuseExchange across
    # the self-join sides LOSES ~12% (1.234 vs 1.102 median) — the
    # eager job it saves is cheaper than re-running the Arrow signature
    # pass into the exchange; (4) broadcasting the (cand x sh_a) side
    # into the second verify join is a wash (1.123 vs 1.102) — AQE
    # already sizes that join well; (5) moving the candidate distinct
    # AFTER verification (dedupe verified pairs instead of candidates)
    # is a wash (1.303 vs 1.335) — the duplicate-candidate Jaccard
    # evals cost what the saved exchange gains. The row's steady-state
    # cost is the two Arrow passes + banded join, all load-bearing.
    return _verify_jaccard(sets, cand, threshold, broadcast_cand=True)


def prefix_filter_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """Candidate (a_id, b_id) pairs via the prefix-filtering principle.

    With shingles in a fixed global order — rarest first by corpus document
    frequency, shingle text as tiebreak — any pair with Jaccard >= t shares
    at least one shingle inside each side's prefix of the first
    ``|S| - ceil(t*|S|) + 1`` shingles (PPJoin, Xiao et al., WWW'08:
    J >= t implies |A∩B| >= t*max(|A|,|B|), so a document whose prefix
    misses every shared shingle would need more shared shingles in its
    suffix than the suffix holds). Indexing ONLY prefixes makes the
    inverted-index self-join skew-proof: a corpus-hot shingle has maximal
    df, sorts last, and is excluded from every prefix long enough to matter
    — the quadratic posting-list fan-out a hot shingle causes in a naive
    index cannot occur, and no true pair is lost (the filter is exact, not
    heuristic).
    """
    postings = sets.select("id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    dfreq = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("s").asc())
    # Integer-exact prefix bound. The float form ceil(n * threshold) can
    # round the double product up past an integer, shortening the prefix by
    # one and losing an exactly-at-threshold pair — the bound must never
    # round up. Rationalize the threshold (den <= 1e4 covers every
    # practically expressible threshold exactly: 0.5, 0.8, 0.75, ...) and
    # compute ceil(n*num/den) = (a - (a mod den)) / den with a = n*num+den-1
    # — all-integer until the final exact division (numerator divisible by
    # den and < 2^53, so the double division is exact).
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator
    a = F.col("n") * F.lit(num) + F.lit(den - 1)
    ceil_tn = ((a - F.pmod(a, F.lit(den))) / F.lit(den)).cast("long")
    prefix_len = F.col("n") - ceil_tn + F.lit(1)
    prefix = (
        postings.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "s")
    )
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def _verify_jaccard(
    sets: DataFrame, cand: DataFrame, threshold: float, broadcast_cand: bool = False
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against full sets.
    ``broadcast_cand`` hints the (tiny) pair set into both joins — used by
    the MinHash path. Caller contract: ``cand`` is consumed ONCE here (the
    broadcast build evaluates it a single time); a caller adding a second
    consumer must materialize it first or the banded self-join upstream
    re-executes per consumer (the r11 eager-checkpoint removal relies on
    this single-use property)."""
    c = F.broadcast(cand) if broadcast_cand else cand
    return (
        sets.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
        .join(c, "a_id")
        .join(sets.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
        .filter(_exact_jaccard(F.col("sh_a"), F.col("sh_b")) >= F.lit(threshold))
        .select("a_id", "b_id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    checkpoint: str = "local",
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via a prefix-filtered inverted index.

    Candidates come from :func:`prefix_filter_candidates` (df-ordered prefix
    filtering — provably recall-free pruning that also removes hot-shingle
    join skew); each candidate is verified with the exact Jaccard on the
    full shingle sets, so the result equals the brute-force O(n^2) answer
    (and the DuckDB oracle) exactly.

    Shuffle inventory: shingle-df aggregation (uniform keys), per-doc prefix
    window (keyed by id), prefix equi-join (rare keys by construction),
    candidate distinct, two verify joins on id. No cross join anywhere.
    """
    sets = _materialize(shingle_sets(df, id_col, text_col, shingle_k), checkpoint)
    cand = prefix_filter_candidates(sets, threshold)
    return _verify_jaccard(sets, cand, threshold)


def simhash_signatures(sets: DataFrame, bits: int = 60) -> DataFrame:
    """(id, sig): SimHash over shingle sets using the oracle-reproducible
    60-bit md5-prefix hash. Majority vote per bit; ties (sum == 0) vote 0.

    Shaped as explode + per-bit SUM aggregates (not array-lambda folds) so
    every expression stays inside whole-stage codegen; map-side partial
    aggregation collapses the exploded rows before the single shuffle on id
    — same scale shape as the MinHash signature plan.
    """
    hashes = sets.select("id", F.explode(F.col("sh")).alias("s")).select(
        "id", md5_hash60(F.col("s")).alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"c{b}")
        for b in range(bits)
    ]
    agged = hashes.groupBy("id").agg(*votes)
    sig = functools.reduce(
        lambda acc, b: acc.bitwiseOR(
            F.when(F.col(f"c{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return agged.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    bits: int = 60,
    max_hamming: int = 5,
    chunks: int = 10,
    checkpoint: str = "local",
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole banding: the 60-bit signature is split into ``chunks`` equal
    slices; two signatures within hamming t < chunks must agree on at least
    one slice, so an equi-join on (chunk_idx, slice_value) finds *all* such
    pairs — banding is exact here, not approximate. Candidates are then
    filtered on true hamming distance. DuckDB oracle recomputes the identical
    signature (md5-prefix hash) and brute-forces all pairs.
    """
    if max_hamming >= chunks:
        raise ValueError("pigeonhole requires max_hamming < chunks")
    if bits % chunks:
        raise ValueError("bits must be divisible by chunks")
    w = bits // chunks
    mask = (1 << w) - 1
    sets = shingle_sets(df, id_col, text_col, shingle_k)
    # Materialize the signatures (one small row per doc): both sides of the
    # banded self-join would otherwise recompute the explode+agg pipeline.
    sigs = _materialize(simhash_signatures(sets, bits), checkpoint)
    slices = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sig"), c * w).bitwiseAND(F.lit(mask)).alias("sv"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cs"),
    ).select("id", "sig", F.col("cs.chunk").alias("chunk"), F.col("cs.sv").alias("sv"))
    # The hamming filter runs INSIDE the join stage (codegen, no
    # materialization) so only true near-dup pairs reach the distinct's
    # shuffle — with narrow slices the raw join fan-out is large and would
    # otherwise dominate the query.
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        slices.alias("a")
        .join(slices.alias("b"), ["chunk", "sv"])
        .filter((F.col("a.id") < F.col("b.id")) & (ham <= F.lit(max_hamming)))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


@functools.lru_cache(maxsize=8)
def _simhash_text_sig_udf(k: int, bits_per_long: int = 56, n_longs: int = 2):
    """Text -> wide-SimHash signature in ONE Arrow pass over the
    ``texthash`` kernel: distinct k-grams (:func:`grams`), both md5 halves
    (:func:`md5_56`), and the per-bit majority votes (r16, guide
    §4.1/§4.2). The split chain (shingler -> JVM transform(md5_hash56) ->
    signature pandas_udf) crossed the Python boundary twice — the shingle
    STRINGS shipped back to the JVM just to be md5'd by an interpreted
    higher-order lambda, then the hash longs shipped to Python again for
    the votes. Distinct is applied to the shingle strings BEFORE hashing
    (vote counts match the spec even under an md5 collision), and the
    vote rule is the agg form's 2*set_count > n_shingles with ties to 0 —
    equality with :func:`simhash_signatures_wide` over the JVM spec is
    test-pinned. Null and sub-k texts yield NULL (callers pre-filter,
    same contract as shingle_sets). Docs with >= 32768 shingles raise,
    matching the agg form's lane limit."""
    if n_longs != 2 or bits_per_long != 56:
        raise ValueError("wide signatures are fixed at 2 x 56 bits (one md5)")
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def text_sig(texts: pd.Series) -> pd.Series:
        shifts = np.arange(bits_per_long, dtype=np.int64)
        lanes = np.int64(1) << shifts
        out = []
        for t in texts:
            gs = grams(t, k)
            if not gs:
                out.append(None)
                continue
            if len(gs) >= 32768:
                raise ValueError(
                    "simhash_signatures_wide: >32767 shingles in one doc"
                )
            sig = []
            for half in md5_56(gs):
                hv = np.array(half, dtype=np.int64)
                cnt = ((hv[:, None] >> shifts) & 1).sum(axis=0)
                sig.append(int(((2 * cnt > len(hv)) * lanes).sum()))
            out.append(sig)
        return pd.Series(out)

    return text_sig


def simhash_signatures_wide(
    sets: DataFrame, bits_per_long: int = 56, n_longs: int = 2
) -> DataFrame:
    """(id, sig0, sig1): a 112-bit SimHash as two 56-bit longs, oracle-
    reproducible (both halves of ONE md5 per shingle — md5 yields 128 bits,
    of which the 60-bit signature wasted half). The wide signature's purpose
    is scale: at the same RELATIVE hamming threshold, doubling the bits
    doubles the exact-pigeonhole chunk budget, so slices widen from 4 to
    7-8 bits and random slice collisions — the banded join's fan-out driver
    — drop ~2^3 per slice.

    The per-bit majority votes are SIMD-packed: 4 bit-counters ride 16-bit
    lanes of one long, so the groupBy needs 28 SUM aggregates + a count
    instead of 112 SUMs — same single shuffle on id, quarter the aggregate
    buffer traffic on the exploded (|docs| x |shingles|) row stream. Lane
    math is exact while every document has < 32768 shingles (enforced).
    A bit's vote is positive iff 2*set_count > n_shingles — algebraically
    identical to the +1/-1 SUM formulation (sum = 2*set_count - n), ties
    vote 0 in both."""
    if n_longs != 2 or bits_per_long != 56:
        raise ValueError("wide signatures are fixed at 2 x 56 bits (one md5)")
    lanes = 4
    packs_per_long = bits_per_long // lanes  # 14
    hashes = sets.select("id", F.explode(F.col("sh")).alias("s")).select(
        "id", *[md5_hash56(F.col("s"), i).alias(f"h{i}") for i in range(n_longs)]
    )

    def _packed(i: int, p: int) -> Column:
        # bits [4p, 4p+4) of h_i spread into 16-bit lanes of one long
        term = F.shiftright(F.col(f"h{i}"), 4 * p).bitwiseAND(F.lit(1))
        for lane in range(1, lanes):
            term = term + F.shiftleft(
                F.shiftright(F.col(f"h{i}"), 4 * p + lane).bitwiseAND(F.lit(1)),
                16 * lane,
            )
        return term

    aggs = [
        F.sum(_packed(i, p)).alias(f"p{i}_{p}")
        for i in range(n_longs)
        for p in range(packs_per_long)
    ] + [F.count(F.lit(1)).alias("n_sh")]
    agged = hashes.groupBy("id").agg(*aggs)

    # Signature assembly (unpack lanes, majority-compare, set bits) is an
    # Arrow-vectorized step, NOT a JVM expression: the expression form —
    # 112 chained when().otherwise() terms inside nested bitwiseORs — was a
    # whole-stage-codegen unit Janino/JIT took ~9s of one-time compile on
    # (round-2 verdict finding #2; same cliff measured on the unrolled
    # cosine in similarity.py). This runs on ONE post-aggregation row per
    # doc (the exploded shingle stream is already collapsed map-side), is
    # pure int64 numpy — bit-identical to the expression form and to the
    # DuckDB oracle's recomputation — and keeps every per-shingle operation
    # in codegen. Same shape as hyperplane_buckets' SRP signature step.
    import numpy as np

    pack_cols = [f"p{i}_{p}" for i in range(n_longs) for p in range(packs_per_long)]

    def _assemble(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            n = pdf["n_sh"].to_numpy(dtype=np.int64)
            if (n >= 32768).any():
                # Lane counters are exact only below 2^15 shingles per doc;
                # fail loudly rather than corrupt signatures (would need
                # 32-bit lanes / 56 aggs).
                raise ValueError("simhash_signatures_wide: >32767 shingles in one doc")
            out = {"id": pdf["id"]}
            for i in range(n_longs):
                sig = np.zeros(len(pdf), dtype=np.int64)
                for p in range(packs_per_long):
                    pack = pdf[f"p{i}_{p}"].to_numpy(dtype=np.int64)
                    for lane in range(lanes):
                        cnt = (pack >> (16 * lane)) & 0xFFFF
                        sig |= (cnt * 2 > n).astype(np.int64) << (lanes * p + lane)
                out[f"sig{i}"] = sig
            yield pd.DataFrame(out)

    return agged.select("id", *pack_cols, "n_sh").mapInPandas(
        _assemble, schema="id long, sig0 long, sig1 long"
    )


def _and_band_layout(total_bits: int, bits_per_long: int, chunks: int) -> list:
    """Partition ``total_bits`` into ``chunks`` contiguous slices that never
    span a long boundary: (long_idx, shift, width) per slice.  Slice counts
    are split across longs proportionally, widths as evenly as the per-long
    budget allows — pigeonhole needs disjoint coverage, not equal widths."""
    n_longs = total_bits // bits_per_long
    if chunks < n_longs:
        raise ValueError(
            f"_and_band_layout: need at least one slice per signature long "
            f"(chunks={chunks} < n_longs={n_longs})"
        )
    base, extra = divmod(chunks, n_longs)
    out = []
    for li in range(n_longs):
        n_slices = base + (1 if li < extra else 0)
        wbase, wextra = divmod(bits_per_long, n_slices)
        off = 0
        for s in range(n_slices):
            wdt = wbase + (1 if s < wextra else 0)
            out.append((li, off, wdt))
            off += wdt
    return out


# Measured AND-banding crossover (r11, decorrelated sf0.1 replicas): at
# 50k docs chunk-pair banding LOSES 2.1x (the C(17,2)=136-struct band
# explode costs more than the collision term it removes), at 150k it WINS
# 1.4x, and the gap widens with n because OR-banding's collision term is
# ~n^2/2^w while the band-row cost is linear. 100k is the midpoint.
AND_BAND_CROSSOVER = 100_000

# Assumed bytes/row when estimating a corpus size from plan statistics
# (sizeInBytes has no row width). Deliberately SMALL for a documents
# table: underestimating width overestimates rows, which leans the
# dispatch toward AND banding — the penalty for wrongly-AND is the
# bounded 2.1x band-explode overhead, while wrongly-OR reopens the
# n^2/2^w collision term the dispatch exists to kill.
_EST_DOC_ROW_BYTES = 256


def _estimate_rows(df: DataFrame, assumed_row_bytes: int = _EST_DOC_ROW_BYTES) -> int | None:
    """Corpus-size estimate from Catalyst's optimizedPlan sizeInBytes —
    no Spark job (same pattern as similarity._auto_cos_dim). Returns None
    when statistics are the UNKNOWN sentinel (Long.MaxValue, e.g.
    mapInPandas-backed plans) or unavailable."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j returns scala BigInt as a JavaObject (str() it) or, on some
        # paths, an already-converted Python int — accept both.
        size = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return None
    if size >= 1 << 62:
        return None
    return size // max(assumed_row_bytes, 1)


def simhash_pairs_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    bits_per_long: int = 56,
    n_longs: int = 2,
    max_hamming: int = 15,
    chunks: int | None = None,
    checkpoint: str = "local",
    shingler: str = "arrow",
    band_and: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Pairs with wide-SimHash hamming distance <= max_hamming — the scale
    variant of :func:`simhash_pairs` (SCALE.md: wide signatures cut slice-
    collision fan-out).

    112-bit signature (both md5 halves as 56-bit longs) with exact pigeonhole
    banding: ``chunks`` slices, hamming <= max_hamming < chunks guarantees
    agreement on >= 1 slice. At the defaults the slices are 7 bits wide
    (vs 4 bits for the 60-bit/15-chunk configuration at the same relative
    threshold), so a random pair collides on some slice far less often.
    Measured at sf0.1 (5000 docs): banded-join fan-out drops 7.2x (24.1M ->
    3.36M joined rows; max bucket 471 -> 85). Wall time at sf0.1 is parity
    (~9s both) because fixed costs — shingling, md5, codegen compile —
    dominate 5000 docs; the fan-out term grows with n^2/2^w while every
    fixed cost grows with n, so the 7.2x is what survives at corpus scale.
    The sf0.01 corpus margin is wide (true pairs at hamming <= 13, nearest
    non-pair at 34), so max_hamming=15 reproduces the 60-bit result set
    there exactly.

    ``band_and=2`` is the corpus-scale dial for the SAME result set: band on
    all C(c,2) chunk PAIRS with c = max_hamming + 2 slices, so hamming <=
    c-2 = max_hamming still pigeonhole-guarantees a matching band — recall
    stays exact while a random collision needs ~13 agreeing bits instead
    of 7.  Measured on the decorrelated x30 stress replica (150k docs,
    r11): candidate tuples drop 1.45B -> 197M (7.4x, and the ratio is a
    constant factor on the n^2 term) for an 8.5x LINEAR band-row cost
    (2.4M -> 20.4M rows).

    ``band_and=None`` (the default) auto-dispatches on the corpus size —
    the same promote-the-measured-crossover move :func:`plan_srp_lsh` made
    for the SRP quadratic, so a caller at 1M docs no longer needs to read
    this docstring to avoid the OR-banding n^2 collision term: AND banding
    above :data:`AND_BAND_CROSSOVER` (measured ~100k docs: loses 2.1x at
    50k to the 136-struct band explode, wins 1.4x at 150k, widening with
    n), OR banding below it.  ``n_rows`` supplies a known corpus size;
    when absent the size is ESTIMATED from plan statistics with no Spark
    job (:func:`_estimate_rows` — safe because both layouts produce the
    identical pair set, so a misestimate costs only the bounded AND
    overhead), and only a stats-less plan (mapInPandas-backed input,
    UNKNOWN sentinel) pays one count() job at plan-construction time —
    the documented last resort.  Pinning ``chunks`` pins the OR layout
    (chunk count is meaningless under AND banding), so it also pins
    band_and=1 with no job of any kind — the registry row at 5k docs does
    exactly that.  Explicit ``band_and`` overrides everything.
    """
    if band_and is None:
        if chunks is not None:
            band_and = 1  # an explicit OR-band layout is a band_and=1 pin
        else:
            n = n_rows if n_rows is not None else _estimate_rows(df)
            if n is None:
                n = df.count()  # stats-less plan: the documented last resort
            band_and = 2 if n >= AND_BAND_CROSSOVER else 1
    if band_and not in (1, 2):
        raise ValueError("band_and must be 1 (OR banding) or 2 (chunk-pair AND banding)")
    if band_and == 2 and chunks is not None:
        raise ValueError(
            "chunks is not used with band_and=2 (the slice count is fixed at "
            "c = max_hamming + 2 to keep the pigeonhole guarantee tight)"
        )
    if chunks is None:
        chunks = 16
    # Signature form: 'arrow' fuses tokenize + shingle + md5 + votes into
    # ONE Arrow pass (r16, guide §4.1/§4.2 — the split chain crossed the
    # Python boundary twice with an interpreted per-shingle md5 HOF
    # between; see _simhash_text_sig_udf); 'jvm' is the pure-JVM spec
    # (word_shingles -> explode + packed-lane aggregate). Bit-identical,
    # test-pinned.
    if shingler == "arrow":
        src = _text_fanout(
            df,
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_txt"),
            text_col=text_col,
            min_tokens=shingle_k,
        )
        s = _simhash_text_sig_udf(shingle_k, bits_per_long, n_longs)(F.col("_txt"))
        raw_sigs = src.select("id", s.alias("_s")).select(
            "id", *[F.col("_s")[i].alias(f"sig{i}") for i in range(n_longs)]
        )
    else:
        sets = shingle_sets(df, id_col, text_col, shingle_k, shingler)
        raw_sigs = simhash_signatures_wide(sets, bits_per_long, n_longs)
    sigs = _materialize(raw_sigs, checkpoint)
    sig_names = [f"sig{i}" for i in range(n_longs)]
    ham = functools.reduce(
        lambda acc, name: acc
        + F.bit_count(F.col(f"a.{name}").bitwiseXOR(F.col(f"b.{name}"))),
        sig_names[1:],
        F.bit_count(F.col(f"a.{sig_names[0]}").bitwiseXOR(F.col(f"b.{sig_names[0]}"))),
    )

    if band_and == 2:
        # c slices such that missing up to max_hamming of them still leaves
        # TWO intact: hamming <= c-2 <=> some chunk-pair band matches.
        c = max_hamming + 2
        layout = _and_band_layout(bits_per_long * n_longs, bits_per_long, c)
        sv = [
            F.shiftright(F.col(f"sig{li}"), off).bitwiseAND(F.lit((1 << wdt) - 1))
            for li, off, wdt in layout
        ]
        # The two slice values stay SEPARATE join columns: packing them into
        # one long (sv_i * 2^max_w + sv_j) overflows 64 bits whenever a slice
        # is >= 32 bits wide (small max_hamming -> few, wide slices), which
        # ANSI mode turns into a runtime SparkArithmeticException.
        bands = sigs.select(
            "id",
            *sig_names,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i * c + j).alias("chunk"),
                            sv[i].alias("sv"),
                            sv[j].alias("sv2"),
                        )
                        for i, j in itertools.combinations(range(c), 2)
                    ]
                )
            ).alias("cs"),
        ).select(
            "id", *sig_names,
            F.col("cs.chunk").alias("chunk"),
            F.col("cs.sv").alias("sv"),
            F.col("cs.sv2").alias("sv2"),
        )
    else:
        if max_hamming >= chunks:
            raise ValueError("pigeonhole requires max_hamming < chunks")
        if chunks % n_longs or bits_per_long % (chunks // n_longs):
            raise ValueError("chunks must split evenly across the signature longs")
        per_long = chunks // n_longs
        w = bits_per_long // per_long
        mask = (1 << w) - 1
        bands = sigs.select(
            "id",
            *sig_names,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i * per_long + cc).alias("chunk"),
                            F.shiftright(F.col(f"sig{i}"), cc * w)
                            .bitwiseAND(F.lit(mask))
                            .alias("sv"),
                        )
                        for i in range(n_longs)
                        for cc in range(per_long)
                    ]
                )
            ).alias("cs"),
        ).select("id", *sig_names, F.col("cs.chunk").alias("chunk"), F.col("cs.sv").alias("sv"))

    join_keys = ["chunk", "sv", "sv2"] if band_and == 2 else ["chunk", "sv"]
    return (
        bands.alias("a")
        .join(bands.alias("b"), join_keys)
        .filter((F.col("a.id") < F.col("b.id")) & (ham <= F.lit(max_hamming)))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def _derive_n_blocks(
    n_rows: int, dim: int, task_mem_bytes: int, parallelism: int = 1
) -> int:
    """Block count for the exact block self-join: peak task memory is two
    blocks of ``n/n_blocks`` doubles-vectors, so the memory bound is
    ``ceil(2 * n * dim * 8 / budget)``. Beyond what memory or parallelism
    require, shuffle volume is ``n x n_blocks`` rows — more blocks is pure
    replication cost.

    ``parallelism`` floors the count so the ``n_blocks*(n_blocks+1)/2``
    block-pair groups can occupy every core: one memory-derived block puts
    the whole n x n matmul in ONE Python task, which serializes the query
    and anti-scales with core count (r15 driver: 1.86 s at 32 cores, 8-core
    run 1.9x faster). Small corpora pay the extra replication in rows that
    are, by construction, few. Capped at ``n_rows`` — sub-row blocks only
    add empty groups."""
    mem_blocks = math.ceil(2 * n_rows * dim * 8 / max(task_mem_bytes, 1))
    par_blocks = 1
    while par_blocks * (par_blocks + 1) // 2 < parallelism:
        par_blocks += 1
    return max(1, mem_blocks, min(par_blocks, n_rows))


def _occupancy_bits(
    n_rows: int, target_occupancy: int = 128, max_bits: int = 24
) -> int:
    """Bucket-slice width that keeps per-table occupancy constant as the
    corpus grows — the anti-quadratic half of :func:`plan_srp_lsh`, split
    out so a caller who pins ``lsh_tables`` (taking ownership of recall)
    can still get corpus-sized bits without the recall feasibility gate."""
    bits = max(4, math.ceil(math.log2(max(n_rows, 2) / target_occupancy)))
    # 2^24 buckets: occupancy grows again past ~2e9 rows
    return min(bits, max_bits)


def plan_srp_lsh(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.9,
    target_occupancy: int = 128,
    max_tables: int = 64,
    max_bits: int = 24,
    bits: int | None = None,
) -> tuple[int, int]:
    """(tables, bits_per_table) for SRP-LSH sized to the corpus AND the
    threshold — the planning step that makes the >2M-row dispatch honestly
    sub-quadratic.

    Fixed bucket bits are a hidden quadratic: candidate tuples grow
    ~tables * n^2 / 2^bits, so any constant ``bits`` is overwhelmed by a
    growing corpus (the simhash x30 measurement in SCALE.md is the same
    failure mode).  Sizing:

    - ``bits = ceil(log2(n / target_occupancy))`` keeps per-table bucket
      occupancy constant, making candidates ~tables * occupancy * n / 2 —
      LINEAR in n.
    - SRP per-bit agreement for a pair exactly at the threshold is
      p = 1 - arccos(threshold)/pi (worst case over qualifying pairs), so
      per-table collision is p^bits and ``tables`` must satisfy
      1 - (1 - p^bits)^tables >= target_recall.

    Low thresholds make SRP physically weak (p -> 0.5), and no table count
    rescues recall at high bits: the function raises with guidance instead
    of silently returning a configuration that is either quadratic or
    near-zero-recall.  Exactness note: recall applies to CANDIDATES; the
    verify stage keeps precision 1.0 regardless.

    ``bits`` overrides the occupancy-derived slice width; tables are then
    sized for THAT width, so a caller pinning bits still gets the recall
    target (or an explicit infeasibility error), never a silently
    mismatched table count.
    """
    if not 0 < target_recall < 1:
        raise ValueError("plan_srp_lsh: target_recall must be in (0, 1)")
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if bits is None:
        bits = _occupancy_bits(n_rows, target_occupancy, max_bits)
    else:
        # Pinned bits get the SAME anti-quadratic contract as derived ones:
        # a tiny pin (few, huge buckets) is exactly the silent quadratic
        # this planner exists to refuse.
        if not 1 <= bits <= 62:
            raise ValueError(f"plan_srp_lsh: bits must be in [1, 62], got {bits}")
        if n_rows / 2**bits > 16 * target_occupancy:
            raise ValueError(
                f"plan_srp_lsh: pinned bits={bits} leaves per-table bucket "
                f"occupancy ~{n_rows / 2**bits:.0f} at {n_rows} rows "
                f"(> 16x the {target_occupancy} target) — candidates would "
                "be ~quadratic. Raise bits or drop the pin."
            )
    per_table = p**bits
    if per_table >= 1.0:
        # threshold=1.0 (exact-duplicate intent): p=1, every qualifying
        # pair collides in any single table — log1p(-1) would be a math
        # domain error, and one table trivially meets any recall target.
        return 1, bits
    # tables needed so that missing a qualifying pair in EVERY table is rare
    if per_table <= 0 or (needed := math.log1p(-target_recall) / math.log1p(-per_table)) > max_tables:
        raise ValueError(
            f"plan_srp_lsh: SRP-LSH cannot reach recall {target_recall} at "
            f"threshold {threshold} for {n_rows} rows (per-bit agreement "
            f"p={p:.3f}, per-table p^{bits}={per_table:.2e} would need "
            f"{math.inf if per_table <= 0 else math.ceil(needed)} tables > "
            f"{max_tables}). Use method='block' (exact, quadratic compute) "
            "or raise the threshold."
        )
    return max(1, math.ceil(needed)), bits


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    dim: int | None = None,
    method: str = "auto",
    n_blocks: int | None = None,
    max_broadcast_rows: int = 1_000_000,
    auto_lsh_rows: int = 2_000_000,
    task_mem_bytes: int = 64 << 20,
    lsh_tables: int | None = None,
    lsh_bits: int | None = None,
    lsh_target_recall: float = 0.9,
) -> DataFrame:
    """Cosine near-duplicate pairs (a_id, b_id), a_id < b_id.

    Regimes (``method="auto"``, the default, counts the table and picks):

    ========== =============================== ============================
    corpus     dispatch                        why
    ========== =============================== ============================
    n <= 2M    ``block`` — exact all-pairs     O(n^2) compute is affordable
               block self-join                 AND required here: the driver
                                               corpus has NO cosine gap at
                                               the threshold (measured
                                               sf0.1: densest non-dup
                                               0.44974, sparsest dup
                                               0.45011), so any candidate
                                               filter either misses border
                                               pairs or degenerates to all
                                               pairs
    n > 2M     ``lsh`` — SRP bucket candidates sub-quadratic; exact-verify
               + exact cosine verification     keeps precision 1.0, recall
                                               exact above the corpus's
                                               similarity gap
    ========== =============================== ============================

    ``method="block"``: distributed exact all-pairs via a block self-join.
    Rows are hashed into ``n_blocks`` blocks (``xxhash64`` of the id — any
    id type); each row is replicated to the ``n_blocks`` unordered
    block-pair groups it participates in, and one Arrow-batched task per
    group scores its two blocks with a single numpy matmul. Nothing is
    collected to the driver and nothing is broadcast.
    ``n_blocks=None`` derives the block count from the docstring formula:
    peak task memory is two blocks of ``n/n_blocks`` rows x dim x 8 B, so
    ``n_blocks = ceil(2 * n * dim * 8 / task_mem_bytes)`` (shuffle volume
    is ``n x n_blocks`` rows — the memory bound and the replication cost
    trade off; 64 MB/task is a conservative executor budget).
    matmul's per-dot summation order differs from the oracle's sequential
    fold, but the minimum observed margin to the threshold (~5e-4) is ~11
    orders of magnitude above double rounding noise. Zero-norm vectors have
    no direction and never pair (guarded, no NaNs).

    ``method="lsh"``: sub-quadratic SRP-LSH candidates
    (similarity.hyperplane_buckets) verified with the exact JVM cosine —
    use when the corpus has a real similarity gap (recall at per-bit
    agreement p is 1-(1-p^bits)^tables per pair; exact only above the gap).
    ``lsh_tables``/``lsh_bits`` default to :func:`plan_srp_lsh`: bits sized
    to the corpus (constant bucket occupancy -> linear candidates), tables
    to the threshold's per-bit agreement (>= ``lsh_target_recall``). A
    threshold too low for SRP raises with guidance instead of silently
    shipping a quadratic or near-zero-recall configuration.

    ``method="join"``: pure-JVM broadcast nested-loop self-join with the
    unrolled cosine expression — no Python anywhere, but broadcasts the
    whole table; only for small dims.

    ``method="broadcast"``: the closure-broadcast numpy scorer (fastest at
    small scale; dot products fold per-dimension, bit-identical to the
    oracle). Guarded: raises if the table exceeds ``max_broadcast_rows``.
    """
    vecs = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    id_sql_type = df.schema[id_col].dataType.simpleString()
    pair_schema = f"a_id {id_sql_type}, b_id {id_sql_type}"

    n_rows: int | None = None
    if method == "auto":
        n_rows = vecs.count()
        if n_rows > auto_lsh_rows:
            if dim is None:
                raise ValueError("embedding_dup_pairs: method='auto' above "
                                 f"{auto_lsh_rows} rows dispatches to 'lsh', which requires dim")
            method = "lsh"
        else:
            method = "block"
            if n_blocks is None:
                n_blocks = _derive_n_blocks(
                    n_rows,
                    dim or 64,
                    task_mem_bytes,
                    df.sparkSession.sparkContext.defaultParallelism,
                )
    if method == "join":
        pairs = (
            vecs.alias("a")
            .join(F.broadcast(vecs.alias("b")), F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("a_id"),
                F.col("b.id").alias("b_id"),
                cosine(F.col("a.v"), F.col("b.v"), dim).alias("cos"),
            )
        )
        return pairs.filter(F.col("cos") >= F.lit(threshold)).select("a_id", "b_id")

    if method == "lsh":
        from kafka_custom_transforms_spark.operators.similarity import hyperplane_buckets

        if dim is None:
            raise ValueError("embedding_dup_pairs: method='lsh' requires dim")
        if lsh_tables is not None and lsh_bits is None:
            # The user pinned the table count and with it took ownership of
            # recall — derive bits from occupancy alone. Routing through
            # plan_srp_lsh here could raise its tables-infeasibility error
            # over a table count we are about to discard, making an explicit
            # lsh_tables unusable at low thresholds.
            lsh_bits = _occupancy_bits(n_rows if n_rows is not None else vecs.count())
        elif lsh_tables is None:
            # Resolve bits first (occupancy, or the user's override), then
            # tables FOR THOSE BITS (recall): a user-supplied lsh_bits with
            # planner tables sized for different bits would silently break
            # the recall target.
            lsh_tables, lsh_bits = plan_srp_lsh(
                n_rows if n_rows is not None else vecs.count(),
                threshold,
                lsh_target_recall,
                bits=lsh_bits,
            )
        buckets = hyperplane_buckets(
            df, dim, id_col, vec_col, tables=lsh_tables, bits_per_table=lsh_bits
        )
        cand = (
            buckets.alias("a")
            .join(buckets.alias("b"), ["table", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
            .distinct()
        )
        verified = (
            cand.join(vecs.select(F.col("id").alias("a_id"), F.col("v").alias("va")), "a_id")
            .join(vecs.select(F.col("id").alias("b_id"), F.col("v").alias("vb")), "b_id")
            .filter(cosine(F.col("va"), F.col("vb"), dim) >= F.lit(threshold))
        )
        return verified.select("a_id", "b_id")

    import numpy as np
    import pandas as pd

    if method == "block":
        if n_blocks is None:
            n_blocks = _derive_n_blocks(
                vecs.count(),
                dim or 64,
                task_mem_bytes,
                df.sparkSession.sparkContext.defaultParallelism,
            )
        # Each unordered block pair (g0 <= g1) is one group; a row in block k
        # joins every group containing k, i.e. exactly n_blocks groups.
        # xxhash64 of the id, not the raw id value: works for string/UUID
        # ids and is uniform even when numeric ids are strided.
        tagged = vecs.withColumn(
            "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
        )
        partners = F.array(*[F.lit(p) for p in range(n_blocks)])
        replicated = (
            tagged.select("id", "v", "blk", F.explode(partners).alias("p"))
            .select(
                "id",
                "v",
                "blk",
                F.least("blk", "p").alias("g0"),
                F.greatest("blk", "p").alias("g1"),
            )
            # no dedup needed: for a row in block k, each partner p yields a
            # distinct group {k,p}, so the explode emits every group exactly once
        )

        def _score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(pdf):
                return pd.DataFrame({"a_id": [], "b_id": []})
            g0, g1 = int(pdf["g0"].iloc[0]), int(pdf["g1"].iloc[0])
            ids = pdf["id"].to_numpy()  # dtype follows the id column's type
            mat = np.stack(pdf["v"].to_numpy())
            norms = np.sqrt((mat * mat).sum(axis=1))
            norms = np.where(norms == 0.0, np.inf, norms)  # zero-norm never pairs
            blk = pdf["blk"].to_numpy()
            if g0 == g1:
                cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
                ai, bi = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
                return pd.DataFrame({"a_id": ids[ai], "b_id": ids[bi]})
            la, ra = blk == g0, blk == g1
            cos = (mat[la] @ mat[ra].T) / (norms[la][:, None] * norms[ra][None, :])
            xi, yi = np.nonzero(cos >= threshold)
            left, right = ids[la][xi], ids[ra][yi]
            return pd.DataFrame(
                {"a_id": np.minimum(left, right), "b_id": np.maximum(left, right)}
            )

        return replicated.groupBy("g0", "g1").applyInPandas(
            _score_group, schema=pair_schema
        )

    if method != "broadcast":
        raise ValueError(f"embedding_dup_pairs: unknown method {method!r}")

    n_rows = vecs.count()
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"embedding_dup_pairs: method='broadcast' collects the table to the "
            f"driver; {n_rows} rows exceeds max_broadcast_rows={max_broadcast_rows}. "
            "Use method='block' (exact, distributed) instead."
        )
    rows = vecs.collect()  # guarded above: the small-side optimization only
    all_ids = np.array([r["id"] for r in rows])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    sq = np.zeros(len(all_ids))
    for i in range(d):  # left-fold per dimension: (0 + x1) + x2 + ...
        sq = sq + mat[:, i] * mat[:, i]
    norms = np.sqrt(sq)
    norms = np.where(norms == 0.0, np.inf, norms)

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            a = np.stack(pdf["v"].to_numpy())
            dots = np.zeros((len(ids), len(all_ids)))
            asq = np.zeros(len(ids))
            for i in range(d):  # in-place += keeps the same IEEE fold order
                dots += a[:, i : i + 1] * mat[None, :, i]
                asq += a[:, i] * a[:, i]
            qn = np.sqrt(asq)
            qn = np.where(qn == 0.0, np.inf, qn)
            cos = dots / (qn[:, None] * norms[None, :])
            ai, bi = np.nonzero((cos >= threshold) & (ids[:, None] < all_ids[None, :]))
            yield pd.DataFrame({"a_id": ids[ai], "b_id": all_ids[bi]})

    # Spread the row side across a few workers; the matrix rides in the
    # closure. Capped at 8: each extra partition costs a python worker
    # spawn + numpy import, which dominates this compute (measured: 8 parts
    # 0.7s, 32 parts 16.8s on the same data).
    n_parts = min(
        BROADCAST_SCORE_PARTITION_CAP,
        max(vecs.sparkSession.sparkContext.defaultParallelism // 2, 1),
    )
    return vecs.repartition(n_parts).mapInPandas(_score, schema=pair_schema)


def semantic_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    partition embedding space with a deterministic quantizer, then find
    EXACT cosine dup pairs within each cluster only.

    Returns ``(a_id, b_id, cid)`` — pairs with cosine >= threshold that
    share a cluster, plus the cluster id. Cross-cluster near-dups are
    missed by design: that is the paper's accepted approximation, and the
    recall/cost knob is ``n_clusters`` (fewer clusters -> higher recall,
    more within-cluster pairs to score).

    Scale (100 TB): the quantizer is the IVF machinery (deterministic
    md5-ordered seeds, broadcast centroids, map-side max_by assignment —
    ONE row per vector shuffled); the pair stage is an equi-join on
    cluster id, so total cosine work is sum of cluster sizes squared —
    ~n*sqrt(n) at the default sqrt(n) sizing instead of the n^2 of
    all-pairs. Every stage is deterministic, so a DuckDB oracle re-runs
    the entire pipeline (seeds, assignment, pairs) bit-exactly.
    """
    from kafka_custom_transforms_spark.functions.vector import as_double, cosine
    from kafka_custom_transforms_spark.operators.similarity import (
        _assign_cells,
        _seed_centroids,
        ivf_params,
    )

    vecs = emb.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    if n_clusters is None:
        n_clusters, _ = ivf_params(vecs.count())
    centroids = _seed_centroids(vecs, n_clusters)
    assigned = _assign_cells(vecs, centroids, None)
    a = assigned.select("cid", F.col("id").alias("a_id"), F.col("v").alias("av"))
    b = assigned.select("cid", F.col("id").alias("b_id"), F.col("v").alias("bv"))
    return (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", cosine(F.col("av"), F.col("bv"), None))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("a_id", "b_id", "cid")
    )


@functools.lru_cache(maxsize=8)
def _gram_hash_udf(k: int):
    """Arrow-vectorized k-token-gram hasher over the ``texthash`` kernel:
    the md5-60 of EVERY window position (``grams(distinct=False)`` then
    :func:`md5_60`), bit-identical to the JVM spec
    ``transform(sequence(1, n-k+1), i -> md5_hash60(concat_ws(" ",
    slice(tokens, i, k))))`` (test-pinned). Null and sub-k texts give
    ``[]``, as the spec's when() does. hashlib.md5 runs at C speed where
    the higher-order-function lambda pays interpreted per-window object
    churn."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def gram_hashes(texts: pd.Series) -> pd.Series:
        return pd.Series([md5_60(grams(t, k, distinct=False)) for t in texts])

    return gram_hashes


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-span duplication, the k-token-gram re-expression of
    suffix-array training-data dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): every length-``k`` token
    window in the corpus is hashed, and a window whose hash occurs more
    than once ANYWHERE (other documents or elsewhere in the same one)
    marks its position as a duplicated span. Returns one row per document:
    ``n_spans`` (token windows), ``dup_spans`` (duplicated ones), and
    ``dup_ratio_milli`` — the per-mille of the document covered by
    corpus-repeated spans, the signal used to cut boilerplate and
    cross-document contamination before training.

    Scale design (100 TB): the gram relation has one row per TOKEN — the
    same order of magnitude the suffix-array approach sorts — but never
    materializes strings past the map stage: each window is folded to a
    60-bit md5 prefix (cross-engine exact, so the DuckDB oracle reruns the
    identical pipeline) by an Arrow-batched hashlib pass
    (:func:`_gram_hash_udf`, bit-identical to the JVM expression spec,
    test-pinned).
    Skew is handled by aggregating per (doc, gram) FIRST: a document
    repeating one slogan 10^6 times contributes ONE row to the global
    count, so the per-gram stage sees distinct (doc, gram) pairs and its
    fan-in is bounded by document count, not occurrence count.

    One pass (r16, guide §2.4): the gram stream is exploded OUTER (a
    gram-less doc survives as one null-hash row), pre-aggregated per
    (doc, gram), given its corpus-wide occurrence count by a window over
    the gram hash, and folded per doc with conditional sums — n_spans is
    the multiplicity sum itself (the hasher emits exactly
    max(n_tokens - k + 1, 0) windows). Three shuffles total —
    (doc,gram), gram, doc — where the r15 join form ran the explode and
    the (doc,gram) aggregation TWICE (Catalyst re-derived the
    checkpointed stream per branch) plus a per-gram join-back and a
    corpus-wide LEFT join to resurrect no-dup docs: four shuffles, two
    joins, double gram pass. The null-hash window partitions by (null,
    doc_id) so empty docs never pile into one skewed window partition.

    Contract: ``id_col`` must be unique and non-null per document — the
    output is one row per distinct id (a groupBy), so duplicate or null
    ids are MERGED into one row where the pre-r16 join form emitted one
    row per input doc row (neither is meaningful on duplicate ids).
    """
    # Fan the gram hashing out before the Python stage (guide §2.6, r16):
    # the r15 plan had ArrowEvalPython directly on a 1-2 task scan. Idle
    # A/B at sf0.1 (noop, n=6): 1.146 -> 0.941 s median.
    src = _text_fanout(df, F.col(id_col), F.col(text_col))
    windows = _gram_hash_udf(k)(F.col(text_col))
    gram_rows = src.select(F.col(id_col), F.explode_outer(windows).alias("h"))
    per_doc_gram = gram_rows.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("m"))
    # Corpus-wide occurrence count per gram hash, WITHOUT a join: a
    # whole-partition window over h. Null-hash rows (gram-less docs) get
    # a per-doc partition key so they cannot form one giant null
    # partition; their n_occ is never read (the isNotNull conditions
    # below). A/B'd against a checkpoint + per-gram join-back variant:
    # tied at sf0.1 (1.41 vs 1.45 s in-era), and the window form needs
    # no checkpoint materialization of the gram stream and no
    # corpus-growing broadcast/SMJ of the duplicated-gram counts at
    # scale.
    w = Window.partitionBy("h", F.when(F.col("h").isNull(), F.col(id_col)))
    occ = per_doc_gram.withColumn("n_occ", F.sum("m").over(w))
    real = F.col("h").isNotNull()
    return (
        occ.groupBy(id_col)
        .agg(
            F.sum(F.when(real, F.col("m")).otherwise(0)).cast("int").alias("n_spans"),
            F.sum(F.when(real & (F.col("n_occ") >= 2), F.col("m")).otherwise(0))
            .cast("bigint")
            .alias("dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "dup_spans",
            F.expr(
                "cast(case when n_spans > 0 then"
                " dup_spans * 1000 div n_spans else 0 end as bigint)"
            ).alias("dup_ratio_milli"),
        )
    )


@functools.lru_cache(maxsize=8)
def _minhash_text_sig_udf(k: int, num_perm: int, seed: int):
    """Text -> md5-based MinHash signature in ONE Arrow pass over the
    ``texthash`` kernel: distinct k-grams (:func:`grams`), md5-60 base
    hashes (:func:`md5_60`) reduced mod p, and the universal-hash mod-min
    reduction of ``minhash_signature_map`` (r16, guide §4.1/§4.2 — the
    split chain crossed the Python boundary twice per document with an
    interpreted md5 HOF between). numpy ``%`` on non-negative operands
    equals ``pmod``, so the result is bit-identical to the JVM spec
    ``transform(sh, s -> pmod(md5_hash60(s), p))`` + min-aggregates
    (test-pinned). Only the md5-based STORE pipeline runs this: the
    xxhash64 batch pipeline has no Python twin, and changing its hash
    family would change LSH candidates. Null and sub-k texts yield NULL
    (callers pre-filter)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    perms = minhash_perms(num_perm, seed)
    av = np.asarray([a for a, _ in perms], dtype=np.int64)
    bv = np.asarray([b for _, b in perms], dtype=np.int64)

    @pandas_udf("array<long>")
    def text_sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            gs = grams(t, k)
            if not gs:
                out.append(None)
                continue
            hv = np.array(md5_60(gs), dtype=np.int64) % MERSENNE_P
            out.append(((hv[:, None] * av + bv) % MERSENNE_P).min(axis=0))
        return pd.Series(out)

    return text_sig


def minhash_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_perm: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(id, sig) MinHash signature table — the PERSISTED side of
    incremental near-dedup. ``num_perm`` longs per document (256 B at the
    default 32), independent of document length: the store for a 100 TB
    corpus is signature-sized, never text-sized, and grows append-only.

    Base shingle hashes are md5-derived (``md5_hash60 % p`` — bit-identical
    in DuckDB), NOT xxhash64, so the whole incremental pipeline is
    oracle-checkable end-to-end; the universal-hash permutations
    ``(a*h + b) mod p`` with p = 2^31-1 stay inside int64 under ANSI
    mode. The signature is one Arrow pass per document
    (:func:`_minhash_text_sig_udf`) after the shingle_sets pre-filter
    and projection-first fan-out (guide §2.3/§2.6, no-ops at cluster
    scale); documents shorter than ``shingle_k`` tokens are dropped."""
    src = _text_fanout(
        df,
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_txt"),
        text_col=text_col,
        min_tokens=shingle_k,
    )
    return src.select(
        "id",
        _minhash_text_sig_udf(shingle_k, num_perm, seed)(F.col("_txt")).alias("sig"),
    )


def minhash_incremental(
    batch_sigs: DataFrame,
    store_sigs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    est_threshold: float = 0.5,
    checkpoint: str = "local",
) -> DataFrame:
    """Survivor ids of a new batch checked against the signature STORE of
    everything already ingested — the near-dup analogue of the exact
    fingerprint anti-join (`dedup_incremental`): a batch doc is dropped
    iff some store doc (a) collides in at least one LSH band and (b) has
    estimated Jaccard (fraction of agreeing signature positions)
    >= ``est_threshold``.

    Estimated-Jaccard verification needs ONLY the signatures — no second
    look at the original text — which is what makes the store
    constant-size per doc and the check a pure signature join. Candidate
    generation is the banded equi-join on (band, bucket-hash): uniform
    keys, no skew, never all-pairs (the verify join runs on candidates
    only). The band bucket uses xxhash64 internally, but band collision
    equals slice equality up to a ~2^-64 hash collision, so the DuckDB
    oracle reproduces the semantics from raw signature slices.

    Contract: ``batch_sigs`` is an INGEST BATCH, bounded by definition —
    the lazy checkpoint below and the forced broadcast of the dropped-id
    anti-join side (a distinct subset of the batch's ids) both rely on
    it. A batch of ~100M ids (~1 GB id-only broadcast) is the practical
    ceiling; passing a full corpus as ``batch_sigs`` risks driver memory
    pressure and the 8 GB broadcast hard cap. Swap the roles (corpus as
    ``store_sigs``) or split the ingest into bounded batches instead."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    if checkpoint not in ("local", "reliable", "none"):
        raise ValueError(
            f"checkpoint mode must be local|reliable|none, got {checkpoint!r}"
        )
    r = num_perm // bands
    # batch_sigs feeds BOTH the bucket join and the final anti-join: lazily
    # checkpoint so the shingle+hash+signature subtree runs once per action
    # instead of once per branch (lazy — plan construction stays job-free;
    # the real pipeline reads signatures from the persisted store anyway,
    # and an ingest batch is bounded by definition).
    #
    # ``checkpoint="none"`` is for callers whose batch_sigs is ALREADY
    # materialized (checkpointed or read from storage): re-materializing it
    # here is pure overhead — the r12 interleaved A/B on the registry row
    # (one shared signature checkpoint upstream) measured 2.25 -> 1.65 s
    # median from skipping it. Sharing one banding exchange between the
    # store and batch sides (AQE ReusedExchange over a pre-filter banded
    # frame) was A/B'd at the same time and adds NOTHING once the redundant
    # checkpoint is gone (1.63 vs 1.65 s, noise) — don't retry it.
    if checkpoint == "reliable":
        batch_sigs = batch_sigs.checkpoint(eager=False)
    elif checkpoint == "local":
        batch_sigs = batch_sigs.localCheckpoint(eager=False)

    def buckets(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "id",
            "sig",
            F.explode(band_hashes(F.col("sig"), bands, r)).alias("b"),
        ).select(
            "id", "sig", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
        )

    # NO distinct on candidate pairs: a pair colliding in k bands is
    # evaluated k times, but the evaluation is 32 codegen comparisons in
    # the join's own stage — re-shuffling 0.5 KB-wide (sig_n, sig_s) rows
    # just to dedupe them costs far more at any scale. The only shuffles
    # after the band join are id-only (the final distinct + anti-join).
    cand = (
        buckets(batch_sigs).alias("n")
        .join(buckets(store_sigs).alias("s"), ["band", "bh"])
        .select(
            F.col("n.id").alias("id"),
            F.col("n.sig").alias("sig_n"),
            F.col("s.sig").alias("sig_s"),
        )
    )
    # Unrolled agreement count: num_perm GetArrayItem comparisons summed as
    # a plain expression tree (~3*num_perm nodes at the default 32) —
    # whole-stage-codegen-able, where the equivalent zip_with/aggregate
    # fold is an interpreted higher-order function evaluated per candidate
    # row (SURVEY §8 cliff; same lever as similarity.py's unrolled cosine,
    # but small enough here to apply unconditionally). Bit-equal: integer
    # equality and addition in both forms.
    terms = [
        F.when(F.col("sig_n")[j] == F.col("sig_s")[j], 1).otherwise(0)
        for j in range(num_perm)
    ]
    est = terms[0]
    for t in terms[1:]:
        est = est + t
    dropped = (
        cand.filter(est * F.lit(num_perm ** -1) >= F.lit(est_threshold))
        .select("id")
        .distinct()
    )
    # Broadcast the dropped-id side of the anti-join: it is a DISTINCT
    # SUBSET of the ingest batch's ids, and a batch is bounded by
    # definition (the same contract the lazy checkpoint above already
    # relies on) — id-only rows, so even a 10M-doc batch broadcasts tens
    # of MB. Without the hint the planner picks a SortMergeJoin whose
    # LEFT side pays an Exchange + Sort of every batch id purely for
    # this join; with it the batch side is not shuffled at all (r15
    # plan audit: nodes 4-5/21-22 of dedup_minhash_incremental_after
    # were exactly that exchange+double-sort).
    return batch_sigs.join(F.broadcast(dropped), "id", "left_anti").select("id")

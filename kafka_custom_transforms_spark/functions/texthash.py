"""Tokenization, shingling, and deterministic hashing expressions.

Two hash families, chosen per use:
  - ``xxhash64`` (Spark built-in): the hot path for MinHash permutations and
    LSH band hashes. Fast, JVM-only; correctness of the operators using it is
    established by *exact verification* of candidates, so the oracle never
    needs to reproduce xxhash64.
  - md5-prefix (``conv(substr(md5(x),1,15),16,10)`` -> 60-bit non-negative
    bigint): bit-identical in Spark and DuckDB (verified), used wherever the
    DuckDB oracle must recompute the same hash (SimHash, fingerprinting).

ANSI-mode care (Spark 4 default): all modular arithmetic is kept below 2^62
so bigint multiplication never overflows; ``sequence()`` is guarded so a
short document can't produce a descending sequence.

The JVM expressions ``tokens``, ``word_shingles``, ``md5_hash60`` and
``md5_hash56`` are the gram-format spec the DuckDB oracles mirror. Their
Python twins :func:`grams`, :func:`md5_60` and :func:`md5_56` are the one
kernel that every Arrow-side gram pass in the operators reduces over, so
each engine encodes the format once.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under future-annotations
from pyspark.sql import Column, functions as F

# Mersenne prime 2^31-1: keeps a*h+b < 2^62 under ANSI overflow checking.
MERSENNE_P = 2_147_483_647


def tokens(text: Column) -> Column:
    """Whitespace tokens. Single-space split matches the oracle's
    string_split; use ``tokens_re`` for real-world text."""
    return F.split(text, " ")


def tokens_re(text: Column) -> Column:
    """BPE-ish tokenizer: words, numbers, or single punctuation marks."""
    return F.regexp_extract_all(text, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), 0)


def word_shingles(toks: Column, k: int) -> Column:
    """Distinct k-word shingles. Documents shorter than k words yield an
    empty array (guarded: Spark's sequence(1, 0) would be descending)."""
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, F.array_distinct(windows)).otherwise(
        F.array().cast("array<string>")
    )


def md5_hash60(s: Column) -> Column:
    """60-bit non-negative bigint from the md5 prefix — bit-identical to
    DuckDB's ('0x' || substr(md5(s), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def md5_hash56(s: Column, part: int = 0) -> Column:
    """56-bit non-negative bigint from md5 hex chars [1+14*part, 14+14*part]
    — bit-identical to DuckDB's
    ('0x' || substr(md5(s), 1 + 14*part, 14))::BIGINT.

    One md5 call yields 128 bits = two independent 56-bit longs (parts 0/1)
    — half the hashing cost of salted re-hashing for multi-long signatures.
    14 hex chars = 56 bits keeps 8-bit slice boundaries exact (56 = 7 x 8)
    and the value comfortably inside a signed bigint."""
    if part not in (0, 1):
        raise ValueError("md5 yields 32 hex chars: part must be 0 or 1")
    return F.conv(F.substring(F.md5(s), 1 + 14 * part, 14), 16, 10).cast("long")


def grams(text, k: int, distinct: bool = True) -> list[str]:
    """Python twin of ``word_shingles(tokens(text), k)``: the k-token windows
    of ``text`` split on single spaces, joined by one space. ``distinct``
    keeps each window's first occurrence, in order (the spec's
    ``array_distinct``); ``distinct=False`` keeps every window position.
    Null text and texts with fewer than k tokens give ``[]``, so for
    k >= 1 an empty result means exactly "null or shorter than k"."""
    if not isinstance(text, str):
        return []
    w = text.split(" ")
    g = (" ".join(w[i : i + k]) for i in range(len(w) - k + 1))
    return list(dict.fromkeys(g) if distinct else g)


def md5_60(strs) -> list[int]:
    """Python twin of :func:`md5_hash60` over each string: md5 of the UTF-8
    bytes (what the JVM ``md5`` hashes), first 15 hex chars as a long."""
    md5 = hashlib.md5
    return [int(md5(s.encode()).hexdigest()[:15], 16) for s in strs]


def md5_56(strs) -> tuple[list[int], list[int]]:
    """Python twin of ``md5_hash56(s, 0)`` and ``md5_hash56(s, 1)`` over each
    string, from ONE md5 per string: hex chars [0, 14) and [14, 28)."""
    md5 = hashlib.md5
    hexes = [md5(s.encode()).hexdigest() for s in strs]
    return [int(h[:14], 16) for h in hexes], [int(h[14:28], 16) for h in hexes]


def minhash_perms(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_j(x) = (a_j * x + b_j) mod p, a_j in [1, p)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(num_perm)]


def shingle_hashes(shingles: Column) -> Column:
    """Base hashes of each shingle, reduced into [0, p)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P)))


def minhash_signature(shingles: Column, perms: list[tuple[int, int]]) -> Column:
    """Array of num_perm minima as a single per-row expression.

    NOTE: fine up to ~32 permutations; beyond that the generated code for the
    nested lambdas exceeds the JIT/codegen budget and Catalyst falls back to
    interpreted evaluation (~100x slower). ``minhash_lsh_pairs`` runs
    ``minhash_signature_map`` (JVM base hashes + numpy mod-min, shuffle-free)
    for the full-width signature; ``minhash_signature_agg`` (explode + 128
    independent min-aggregates) is the pure-JVM reference — both
    bit-identical to this expression form (test-pinned).
    """
    base = shingle_hashes(shingles)
    perms_lit = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in perms
        ]
    )
    return F.transform(
        perms_lit,
        lambda ab: F.array_min(
            F.transform(base, lambda x: F.pmod(ab.a * x + ab.b, F.lit(MERSENNE_P)))
        ),
    )


def minhash_signature_agg(
    sets,  # DataFrame with (id, sh) columns
    perms: list[tuple[int, int]],
    id_col: str = "id",
    shingle_col: str = "sh",
):
    """(id, sig) via explode + per-permutation min aggregates.

    The classic MinHash plan for large corpora: the explode produces
    |docs| x |shingles| narrow rows, map-side partial aggregation collapses
    them to one 128-long row per (partition, id) before the single shuffle
    on id. CAVEAT (measured, r8): the stage IS whole-stage-codegen'd
    (final adaptive plan shows the `*(n)` markers), but at num_perm=128
    the per-row cost measures ~0.25us per min-term — interpreter-range,
    consistent with the generated consume() exceeding the JVM's
    huge-method JIT limit: 27k exploded rows took 1.3-1.6s warm where
    JIT'd arithmetic would take ~10ms. ``minhash_signature_map`` avoids
    the question entirely (and the shuffle) and is what the operators
    run; this form remains the pure-JVM reference the tests pin it to.
    """
    p = F.lit(MERSENNE_P)
    exploded = sets.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_hashes(F.col(shingle_col))).alias("h"),
    )
    mins = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), p)).alias(f"m{j}")
        for j, (a, b) in enumerate(perms)
    ]
    agged = exploded.groupBy("id").agg(*mins)
    return agged.select("id", F.array(*[F.col(f"m{j}") for j in range(len(perms))]).alias("sig"))


def minhash_signature_map(
    sets,  # DataFrame with (id, sh) columns
    perms: list[tuple[int, int]],
    id_col: str = "id",
    shingle_col: str = "sh",
    base_hashes=shingle_hashes,
    input_nonempty: bool = False,
):
    """(id, sig) as a pure per-doc MAP — no explode, no shuffle.

    Base hashes stay JVM-side (``base_hashes`` builds the array<long> from
    the shingle array — xxhash64 by default, md5-derived for the
    oracle-replayable store pipeline), so hash bit-parity with the SQL
    oracle is untouched; only the (n_shingles x num_perm) mod-min
    reduction moves into one numpy pass per Arrow batch. Bit-identical to
    :func:`minhash_signature_agg` (pinned in tests/test_dedup.py), but:

      - the agg form's 128 min-aggregates generate a method so large the
        JIT never compiles it, so the per-row work runs at bytecode-
        interpreter speed (~1.4 s for 27k exploded rows measured at
        sf0.001 — pure fixed overhead; see the agg docstring);
      - the agg form needs explode (50x row amplification before map-side
        partials) + one hash shuffle on id; this form needs neither — the
        signature stage becomes embarrassingly parallel at any scale.

    Rows with empty shingle sets are dropped, matching the agg form
    (explode of an empty array emits no rows, so groupBy never sees the
    id).

    ``input_nonempty=True`` declares every input row already has a
    non-empty shingle set (true by construction for ``shingle_sets``
    output: only docs with >= k tokens survive, and those always shingle
    to >= 1 window) and skips the empty-set filter. Plan rationale (r15
    optimization, guide §4.4): on an UN-checkpointed Arrow-shingler
    input, Catalyst pushes ``size(sh) > 0`` below the projection by
    duplicating the shingle UDF, shingling every document twice (measured
    on the r15 simhash map form: dedup_simhash 1.78 -> 1.36 s median at
    sf0.1, n=5, once the duplicate eval was gone).
    Results are identical on inputs honoring the declaration."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a_list = [ab[0] for ab in perms]
    b_list = [ab[1] for ab in perms]

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        av = np.asarray(a_list, dtype=np.int64)
        bv = np.asarray(b_list, dtype=np.int64)
        out = []
        # Deliberately a per-document loop (r16 NEGATIVE A/B, pinned): a
        # batch-flattened chunked ``minimum.reduceat`` over the whole
        # Arrow batch is bit-identical but ~2x SLOWER — numpy's reduceat
        # has no SIMD fast path, while the ~(50-100 x num_perm) per-doc
        # matrices here are small enough that the vectorized min(axis=0)
        # dominates the per-call overhead (0.30 vs 0.57 s per 3k docs
        # measured standalone; 0.78 vs 1.83 s sig stage at a 20x corpus
        # replica, interleaved idle).
        for h in hs:
            hv = np.asarray(h, dtype=np.int64)
            # hv < p and av < p, so hv*av < 2^62 stays inside int64; numpy
            # % on non-negative operands equals Spark's pmod. The agg form
            # would fail loudly under ANSI overflow on a non-reduced base;
            # numpy would wrap silently, so enforce the precondition here.
            if hv.size and (hv.max() >= MERSENNE_P or hv.min() < 0):
                raise ValueError(
                    "minhash_signature_map: base_hashes must emit values "
                    "already reduced into [0, MERSENNE_P); got a value "
                    "outside that range"
                )
            out.append(((hv[:, None] * av + bv) % MERSENNE_P).min(axis=0))
        return pd.Series(out)

    hashed = (
        (sets if input_nonempty else sets.filter(F.size(F.col(shingle_col)) > 0))
        .select(F.col(id_col).alias("id"), base_hashes(F.col(shingle_col)).alias("hs"))
    )
    return hashed.select("id", _sig(F.col("hs")).alias("sig"))


def band_hashes(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of (band, hash) structs: hash of each signature slice. Banding
    turns near-duplicate detection into an equi-join on (band, hash) — the
    shuffle key is uniform by construction, so no skew at scale.

    Deliberately the higher-order-function form, NOT a statically
    unrolled array (measured r10, interleaved A/B on the full
    minhash_lsh query at sf0.1): the unrolled 32-band expression tree
    (~400 nodes, duplicated across both self-join sides) pays plan
    analysis + codegen on EVERY fresh query construction — 1.82 s vs
    3.23 s medians end-to-end — even though a reused-plan microbench
    shows the unrolled bucket STAGE 2x faster per row. A direct
    xxhash64-on-longs variant lost the same way (2.20 vs 3.25 s). The
    per-row interpreter cost here is ~1 us x bands per doc — never the
    banded pipeline's bottleneck (the band JOIN is); re-visit with a
    size-dispatched unroll (the similarity.UNROLL_MIN_ROWS pattern) only
    if a profiled corpus shows this stage dominating."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.concat_ws(",", F.transform(F.slice(sig, b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string"))),
                b,
            ).alias("bh"),
        ),
    )

"""Benchmark decontamination: flag training documents that share n-grams
with an evaluation/benchmark corpus.

The standard pre-training hygiene step (see e.g. the GPT-3 and PaLM papers'
"contamination" appendices): any training document containing a long n-gram
that also appears in a benchmark is suspect and gets dropped or audited.
No reference counterpart (the reference is an SMT library, SURVEY.md §2.4);
this is a driver-mandated LLM-data-pipeline extension operator.

Scale design (100 TB corpus, small benchmark): benchmarks are tiny
(thousands of documents), so their distinct n-gram set is broadcast and the
training corpus is NEVER shuffled — the gram join is a map-side broadcast
hash join pruned to (id, gram) pairs. The only shuffle is the per-doc hit
count, on (id) after map-side partial aggregation. If the benchmark gram
set outgrows the broadcast budget (~10s of MB), pre-hash grams to 64-bit
(xxhash64) before broadcast — 8-word grams compress ~10x; collisions only
ever over-flag, and only at ~2^-64 per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_custom_transforms_spark.functions.texthash import grams, md5_60
from kafka_custom_transforms_spark.operators.dedup import _text_fanout, shingle_sets

__all__ = ["contamination_flags", "bloom_contamination_flags"]


def _bloom_bits(g, k_hashes: int, m_bits: int):
    """The ``k_hashes`` bit positions of gram ``g`` in an ``m_bits`` Bloom
    filter. md5-derived (the cross-engine hash family: Spark
    ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(x),1,15))::BIGINT``), so an oracle can recompute
    every bit — including the false positives — deterministically."""
    from kafka_custom_transforms_spark.functions.texthash import md5_hash60

    return [
        md5_hash60(F.concat(F.lit(f"{i}:"), g)) % m_bits
        for i in range(1, k_hashes + 1)
    ]


def _bloom_probe_rows(k: int, m_bits: int, k_hashes: int):
    """mapInPandas generator: one (id, b1..bk) row per distinct k-gram of
    each document — tokenize, shingle, and ALL k md5 bit probes in one
    Arrow pass over the ``texthash`` kernel (r16, guide §4.1/§4.2).
    ``md5_60(f"{j}:" + g) % m_bits`` equals the JVM spec
    ``md5_hash60(concat(lit(f"{j}:"), g)) % m_bits`` (both operands
    non-negative) — the exact :func:`_bloom_bits` values, so the oracle's
    bit replay is untouched. Replaces the shape that shipped the gram
    STRINGS back to the JVM just to explode them and hash each three
    times in codegen. Null and sub-k docs emit nothing (the caller's
    resurrection join zero-fills them)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = []
            cols: dict[str, list[int]] = {f"b{j}": [] for j in range(1, k_hashes + 1)}
            for did, t in zip(pdf["id"], pdf["_txt"]):
                gs = grams(t, k)
                ids.extend([did] * len(gs))
                for j in range(1, k_hashes + 1):
                    cols[f"b{j}"].extend(
                        h % m_bits for h in md5_60(f"{j}:{g}" for g in gs)
                    )
            if ids:
                yield pd.DataFrame({"id": ids, **cols})

    return gen


def bloom_contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    ngram: int = 8,
    m_bits: int = 8192,
    k_hashes: int = 3,
    count_alias: str = "n_bloom_grams",
) -> DataFrame:
    """Bloom-filter variant of :func:`contamination_flags`: (id, count of the
    doc's distinct grams whose ``k_hashes`` bits are ALL set in an
    ``m_bits`` Bloom filter built from the benchmark's grams).

    This is the constant-size-broadcast scale path: the filter is at most
    ``m_bits`` bits no matter how large the benchmark grows (vs the raw /
    hashed gram set, which grows linearly). Bloom membership can only
    OVER-flag (false-positive rate ~(set_fraction)^k per clean gram), never
    under-flag — every truly contaminated gram is counted, so
    ``n_bloom_grams >= n_bench_grams`` row-wise (test-pinned). The correct
    failure direction for a hygiene filter; callers needing exactness
    re-check flagged docs with the raw-gram join (two-pass, both sides tiny
    after the Bloom prune).

    Plan shape (r16): the set-bit table (<= m_bits rows of one long) is
    built with one distinct over the (small) benchmark gram fan-out and
    broadcast; the corpus side emits one (id, b1..bk) row per distinct
    gram from ONE Arrow pass (tokenize + shingle + all k md5 probes —
    :func:`_bloom_probe_rows`; the pre-r16 shape shipped gram strings
    back to the JVM, exploded them, hashed each k times in codegen, and
    paid a per-(id, gram) shuffle to reassemble the all-probes-set
    check), and a gram is a hit iff each probe column survives a LEFT
    SEMI broadcast join against the set bits. ONE shuffle: the per-id hit
    count, map-side-combined on uniformly-hashed ids. The corpus text is
    never shuffled and never recrosses the Python boundary.

    Contract: ``id_col`` should be unique per document — duplicate ids
    are counted per input row here, where the pre-r16 per-(id, gram)
    probe count silently zeroed grams shared by duplicate-id rows
    (neither form is meaningful on duplicate ids; same contract as
    importance_scores / duplicate_spans).
    """
    bench_text = bench_text_col or text_col
    # The BENCH side runs the same fused probe kernel as the corpus side
    # (r16, guide §2.4): tokenize + shingle + all k md5 bit positions in
    # one Arrow pass, then one distinct over the exploded bit columns.
    # The previous shape (Arrow shingle pass -> explode -> DISTINCT GRAMS
    # -> JVM md5 bit expressions -> distinct bits) paid a whole extra
    # exchange + aggregate for the gram distinct, which is redundant for
    # a Bloom build: duplicate grams produce duplicate BITS, and the bit
    # distinct already removes those. hashlib md5 here is bit-identical
    # to the JVM md5_hash60 family (probe-kernel docstring; test-pinned),
    # so the filter — false positives included — is byte-for-byte the
    # oracle's.
    bench_probes = _text_fanout(
        benchmark, F.lit(0).alias("id"), F.col(bench_text).alias("_txt")
    ).mapInPandas(
        _bloom_probe_rows(ngram, m_bits, k_hashes),
        schema=", ".join(
            ["id int"] + [f"b{j} long" for j in range(1, k_hashes + 1)]
        ),
    )
    # Lazily localCheckpoint-ed (within-query only; bench rebuilds the DF
    # per sample): the k semi-joins below each broadcast this table, and
    # without the pin each broadcast would re-derive the benchmark probe
    # pass (the same duplication family the corpus side's nondet markers
    # used to guard). The checkpoint is <= m_bits rows of one long; the
    # bench probe kernel runs exactly once, at first materialization
    # inside the query (test-pinned).
    set_bits = (
        bench_probes.select(
            F.explode(
                F.array(*[F.col(f"b{j}") for j in range(1, k_hashes + 1)])
            ).alias("bit")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    id_t = docs.schema[id_col].dataType.simpleString()
    src = _text_fanout(docs, F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    probe_schema = ", ".join(
        [f"id {id_t}"] + [f"b{j} long" for j in range(1, k_hashes + 1)]
    )
    doc_probes = src.mapInPandas(
        _bloom_probe_rows(ngram, m_bits, k_hashes), schema=probe_schema
    )
    # A gram passes the Bloom filter iff EVERY probe column finds a set bit
    # — one LEFT SEMI broadcast join per probe (each tests independently;
    # duplicate positions within a gram's probes pass/fail together, the
    # same AND the old multiplicity count enforced). All k joins reference
    # the SAME set_bits plan via an expression condition (no per-join
    # rename), so ReuseExchange builds the benchmark-side broadcast — and
    # runs its shingle pass — exactly once (test-pinned).
    sb = F.broadcast(set_bits)
    hits = doc_probes
    for j in range(1, k_hashes + 1):
        hits = hits.join(sb, F.col(f"b{j}") == sb["bit"], "left_semi")
    hits = hits.groupBy("id").agg(F.count(F.lit(1)).alias(count_alias))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col(count_alias), F.lit(0)).cast("long").alias(count_alias),
        )
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    ngram: int = 8,
    count_alias: str = "n_bench_grams",
    hash_grams: bool = False,
) -> DataFrame:
    """(id, n_bench_grams): for every document in ``docs``, how many of its
    distinct ``ngram``-word shingles appear anywhere in ``benchmark``
    (0 = clean). Documents shorter than ``ngram`` words are clean by
    definition. Threshold/boolean policy is the caller's (``> 0`` is the
    conservative "any hit" rule).

    ``hash_grams=True`` joins on ``xxhash64`` of the gram instead of the raw
    string — the broadcast-budget path for big benchmarks (8-word grams
    compress ~10x; a 50 MB raw gram set becomes ~5 MB of longs). Collisions
    can only OVER-flag (a clean doc counted as contaminated at ~2^-64 per
    gram pair), never under-flag — the correct failure direction for a
    hygiene filter; exact equality with the raw path is test-pinned on this
    corpus.
    """
    bench_text = bench_text_col or text_col
    # `_bid` is only a placeholder id for shingle_sets's contract; the
    # benchmark side is reduced to its distinct gram set immediately.
    # nondet=True: same explode-inferred-filter UDF duplication as the
    # Bloom variant (see bloom_contamination_flags) — one shingle eval
    # per side instead of two.
    bench_grams = (
        shingle_sets(
            benchmark.select(F.lit(0).alias("_bid"), F.col(bench_text).alias("_btext")),
            "_bid",
            "_btext",
            ngram,
            nondet=True,
        )
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    doc_grams = shingle_sets(docs, id_col, text_col, ngram, nondet=True).select(
        "id", F.explode("sh").alias("g")
    )
    if hash_grams:
        # distinct raw grams hash to distinct longs (mod collisions, which
        # over-flag only); per-doc distinctness is preserved the same way.
        bench_grams = bench_grams.select(F.xxhash64("g").alias("g")).distinct()
        doc_grams = doc_grams.select("id", F.xxhash64("g").alias("g"))
    # Per-doc shingles are already distinct (shingle_sets contract), so a
    # plain count after the broadcast semi-side join is the distinct-gram
    # hit count.
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias(count_alias))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col(count_alias), F.lit(0)).cast("long").alias(count_alias),
        )
    )

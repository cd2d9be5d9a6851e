"""DSIR-style importance scoring: content-based data targeting.

Data Selection via Importance Resampling (Xie et al., 2023, public) selects
pretraining documents whose hashed n-gram feature distribution looks like a
target corpus: per-document importance weight ~ prod p_target(f)/p_raw(f)
over the document's features. This module implements the
frequency-ratio form with EXACT integer arithmetic so the score is
order-independent and cross-engine reproducible (no float log sums, whose
value depends on reduction order):

    bucket(g)     = md5_60(g) mod n_buckets      (engine-exact hash)
    ratio_milli(b) = (ct[b] * scale * Nr) div (cr[b] * Nt)
    score_milli(d) = sum over d's distinct grams of ratio_milli(bucket)

ct/cr are bucket occurrence counts over the target/raw gram streams, Nt/Nr
their totals; ratio_milli is the per-mille likelihood ratio (log-free:
monotone in the true ratio per bucket, which is what selection needs).

Scale design: one explode+groupBy pass builds the bucket table
(<= n_buckets rows — CONSTANT in corpus size, like the Bloom filter);
it broadcasts to the per-doc scoring join, so the corpus shuffles once
(per-doc sum on doc_id). At 100 TB the integer products need headroom:
ct*scale*Nr < 2^63 bounds the gram stream to ~3e6 per 1000-scale — beyond
that move the two products to decimal(38,0) (same floor-division
semantics); the structure is unchanged.

No reference counterpart (driver-mandated extension class; the reference
is 3 Kafka SMTs — see SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_custom_transforms_spark.functions.texthash import (
    md5_hash60,
    tokens,
    word_shingles,
)


def bucket_ratio_table(
    docs: DataFrame,
    target_cond,
    text_col: str = "text",
    ngram: int = 2,
    n_buckets: int = 4096,
    scale: int = 1000,
) -> DataFrame:
    """Per-bucket integer importance ratios: (bucket, ratio_milli).

    <= ``n_buckets`` rows regardless of corpus size — always
    broadcastable. ``target_cond`` is a boolean Column marking target
    documents (they stay part of raw: DSIR's raw distribution is the
    full corpus)."""
    exploded = docs.select(
        target_cond.alias("_t"),
        F.explode(word_shingles(tokens(F.col(text_col)), ngram)).alias("gram"),
    ).select("_t", F.pmod(md5_hash60(F.col("gram")), F.lit(n_buckets)).alias("bucket"))
    counts = exploded.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
    )
    totals = counts.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    # nt = 0 (no target documents, or a gram-less target) would be an ANSI
    # division-by-zero at runtime; an empty target means "nothing is
    # representative", so every ratio is 0 and nothing selects.
    # The products run in decimal(38,0), not bigint: ct * scale * nr
    # overflows int64 once the corpus holds ~3e6 total grams (ANSI mode
    # would throw ARITHMETIC_OVERFLOW; ANSI off would silently wrap).
    # decimal(38,0) holds ~1e13 grams * 1e3 * 1e13 = 1e29 with room to
    # spare; `div` (IntegralDivide) accepts decimals and still returns
    # bigint, so floor-division semantics and the output type are
    # unchanged (test-pinned against the bigint form on small inputs).
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"case when nt = 0 then 0L "
            f"else cast(ct as decimal(38,0)) * {scale} * nr "
            f"div (cast(cr as decimal(38,0)) * nt) end"
        ).cast("long").alias("ratio_milli"),
    )


def importance_scores(
    docs: DataFrame,
    target_cond,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
    n_buckets: int = 4096,
    scale: int = 1000,
) -> DataFrame:
    """Per-document integer importance: (id_col, n_grams, score_milli,
    selected). ``selected`` keeps documents whose average per-gram ratio
    is >= 1 (score >= n_grams * scale) — gram-less documents score 0 and
    are not selected. Integer sums make the score independent of
    partitioning and join order.

    Grams come from the Arrow-vectorized shingler (``dedup._shingle_udf``
    over ``texthash.grams``, bit-identical to the ``word_shingles`` spec
    that :func:`bucket_ratio_table` uses, ~5x faster per core because HOF
    lambdas run interpreted). Bucket hashing stays JVM-side md5, so the
    DuckDB oracle replays it unchanged.

    Contract: ``id_col`` must be unique and non-null per document — the
    output is one row per distinct id (a groupBy on it), so duplicate or
    null ids are silently MERGED into a single aggregated row rather
    than scored separately (neither form of the operator is meaningful
    on duplicate ids; the pre-r15 join form emitted one row each)."""
    from kafka_custom_transforms_spark.operators.dedup import _shingle_udf, _text_fanout

    # ONE tokenize/shingle/md5 pass over the corpus text (guide §2.4/§6,
    # r16): the gram stream — (_imp_id, _t, bucket), ~17 B/gram — is
    # lazily localCheckpoint-ed and feeds BOTH the ratio table and the
    # per-doc scorer. The r15 form derived each from its own explode of
    # the text (and Catalyst duplicated the ratio subtree a third time
    # for the totals cross-join): three Generate-over-Scan passes, each
    # re-running the interpreted shingle HOFs and md5, for one logical
    # gram stream. Same device as bitmap_gsets / duplicate_spans; the
    # checkpoint is within-query (fresh per build), never cross-run.
    # Same fan-out + non-determinism devices as dedup.shingle_sets (guide
    # §2.6/§4.4): nondet stops Catalyst duplicating the UDF below pushed
    # filters.
    pre = _text_fanout(
        docs,
        F.col(id_col).alias("_imp_id"),
        target_cond.alias("_t"),
        F.col(text_col).alias("_imp_txt"),
    )
    sh = _shingle_udf(ngram, nondet=True)(F.col("_imp_txt"))
    grams = (
        pre.select("_imp_id", "_t", F.explode_outer(sh).alias("gram"))
        .select(
            "_imp_id",
            "_t",
            F.pmod(md5_hash60(F.col("gram")), F.lit(n_buckets)).alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )
    # The ratio table from the SAME stream: a real gram's bucket is never
    # null (md5 of a non-null string), and a null bucket marks exactly
    # the explode_outer row of a gram-less doc — filtering it reproduces
    # bucket_ratio_table's inner-explode stream bit for bit. counts
    # (<= n_buckets rows) is checkpointed too: the totals aggregate and
    # the ratio projection both read it, and without the cut Catalyst
    # recomputes the whole gram aggregation once per consumer.
    counts = (
        grams.filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        )
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    # Same decimal(38,0) overflow headroom story as bucket_ratio_table
    # (which remains the standalone public builder of this table).
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"case when nt = 0 then 0L "
            f"else cast(ct as decimal(38,0)) * {scale} * nr "
            f"div (cast(cr as decimal(38,0)) * nt) end"
        ).cast("long").alias("ratio_milli"),
    )
    # LEFT join + count("bucket"): every real gram's bucket exists in the
    # ratio table by construction (both derive from the same corpus), so
    # the left join matches exactly the rows the old inner join did; the
    # only unmatched rows are the null-bucket markers of gram-less docs,
    # which count() over "bucket" ignores (n_grams 0) and sum() leaves
    # NULL (coalesced to 0). One doc_id-keyed exchange total — the old
    # docs-LEFT-OUTER-per_doc resurrection join (corpus-wide SMJ) is gone.
    # Assumes id_col is unique per document, as every caller's corpus is
    # (the old join form duplicated OUTPUT rows on duplicate ids instead
    # of merging them — neither form is meaningful on duplicate ids; see
    # the docstring).
    per_doc = (
        grams.join(F.broadcast(ratios), "bucket", "left")
        .groupBy("_imp_id")
        .agg(
            F.count(F.col("bucket")).alias("n_grams"),
            F.sum("ratio_milli").alias("score_milli"),
        )
    )
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    score = F.coalesce(F.col("score_milli"), F.lit(0)).cast("long")
    return per_doc.select(
        F.col("_imp_id").alias(id_col),
        n_grams.alias("n_grams"),
        score.alias("score_milli"),
        ((score >= n_grams * scale) & (n_grams > 0)).alias("selected"),
    )

"""Property-based tests (hypothesis): the Python text-gram kernel in
functions.texthash (grams, md5_60, md5_56) and every reducer built on it
equal the JVM expression spec (word_shingles(tokens(..)), md5_hash60,
md5_hash56) on the same input. Inputs cover arbitrary unicode, null, empty
text, runs of spaces (empty tokens), k=1 and k above the token count."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from kafka_custom_transforms_spark.functions.texthash import (
    MERSENNE_P,
    grams,
    md5_56,
    md5_60,
    md5_hash56,
    md5_hash60,
    minhash_perms,
    tokens,
    word_shingles,
)
from kafka_custom_transforms_spark.operators import dedup
from kafka_custom_transforms_spark.operators.decontaminate import _bloom_bits, _bloom_probe_rows

CHARS = st.characters(codec="utf-8")
WORDS = st.one_of(st.sampled_from(["a", "b", "ab", "", "é", "中文"]), st.text(CHARS, max_size=3))
TEXTS = st.one_of(
    st.none(),
    st.just(""),
    st.lists(WORDS, max_size=10).map(" ".join),
    st.text(CHARS, max_size=20),
)
KS = st.integers(1, 4)
BLOOM_BITS, BLOOM_HASHES, NUM_PERM = 64, 3, 8


def _spec_frame(spark, texts, k):
    """One row per text with the JVM spec columns: distinct shingles, their
    md5_hash60 / md5_hash56 halves, every window position's md5_hash60,
    and each shingle's Bloom probe bits."""
    df = spark.createDataFrame(list(enumerate(texts)), "id long, _txt string")
    toks = tokens(F.col("_txt"))
    n = F.size(toks)
    windows = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1), lambda i: F.concat_ws(" ", F.slice(toks, i, k))
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = word_shingles(toks, k)
    return df, df.select(
        "id",
        sh.alias("sh"),
        windows.alias("win"),
        F.transform(sh, md5_hash60).alias("h60"),
        F.transform(sh, lambda s: md5_hash56(s, 0)).alias("h0"),
        F.transform(sh, lambda s: md5_hash56(s, 1)).alias("h1"),
        F.transform(windows, md5_hash60).alias("win60"),
        F.transform(sh, lambda g: F.array(*_bloom_bits(g, BLOOM_HASHES, BLOOM_BITS))).alias(
            "bits"
        ),
    )


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(TEXTS, min_size=1, max_size=6), k=KS)
def test_kernel_matches_jvm_spec(spark, texts, k):
    _, spec = _spec_frame(spark, texts, k)
    for r in spec.orderBy("id").collect():
        t = texts[r.id]
        assert grams(t, k) == r.sh
        assert grams(t, k, distinct=False) == r.win
        assert md5_60(r.sh) == r.h60
        assert md5_56(r.sh) == (r.h0, r.h1)
        assert md5_60(r.win) == r.win60


def _votes(hs):
    return sum(1 << b for b in range(56) if 2 * sum((h >> b) & 1 for h in hs) > len(hs))


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(TEXTS, min_size=1, max_size=6), k=KS)
def test_reducers_match_jvm_spec(spark, texts, k):
    df, spec = _spec_frame(spark, texts, k)
    got = {
        r.id: r
        for r in df.select(
            "id",
            dedup._shingle_udf(k)(F.col("_txt")).alias("shingles"),
            dedup._gram_hash_udf(k)(F.col("_txt")).alias("gram_hashes"),
            dedup._simhash_text_sig_udf(k)(F.col("_txt")).alias("simhash"),
            dedup._minhash_text_sig_udf(k, NUM_PERM, 42)(F.col("_txt")).alias("minhash"),
        ).collect()
    }
    probes: dict[int, list[list[int]]] = {}
    for r in df.mapInPandas(
        _bloom_probe_rows(k, BLOOM_BITS, BLOOM_HASHES),
        "id long, " + ", ".join(f"b{j} long" for j in range(1, BLOOM_HASHES + 1)),
    ).collect():
        probes.setdefault(r.id, []).append([r[f"b{j}"] for j in range(1, BLOOM_HASHES + 1)])
    perms = minhash_perms(NUM_PERM, 42)

    for s in spec.collect():
        g = got[s.id]
        assert g.shingles == s.sh
        assert g.gram_hashes == s.win60
        if not s.sh:  # null or fewer than k tokens
            assert g.simhash is None and g.minhash is None and s.id not in probes
            continue
        assert g.simhash == [_votes(s.h0), _votes(s.h1)]
        base = [h % MERSENNE_P for h in s.h60]
        assert g.minhash == [min((a * h + b) % MERSENNE_P for h in base) for a, b in perms]
        assert probes[s.id] == s.bits

"""Dedup operator tests: survivor determinism, LSH recall vs exact, simhash
banding equivalence, embedding path equivalence across methods."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_custom_transforms_spark.operators import dedup
from kafka_custom_transforms_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _pairs(df):
    return sorted((r.a_id, r.b_id) for r in df.collect())


def _text_sigs(df, k=3):
    """The production wide-SimHash signature path of simhash_pairs_wide:
    the >= k-token pre-filter, then the one-pass text UDF."""
    s = dedup._simhash_text_sig_udf(k)(F.col("text"))
    return {
        r.id: (r.s[0], r.s[1])
        for r in df.filter(F.size(dedup.tokens(F.col("text"))) >= k)
        .select(F.col("doc_id").alias("id"), s.alias("s"))
        .collect()
    }


def _spec_sigs(df, k=3):
    """The JVM expression spec of the same signature: word_shingles, then
    md5_hash56 halves and the packed-lane vote aggregate."""
    sets = dedup.shingle_sets(df, "doc_id", "text", k, shingler="jvm")
    return {r.id: (r.sig0, r.sig1) for r in dedup.simhash_signatures_wide(sets).collect()}


def test_dedup_exact_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id long, k string"
    )
    out = dedup.dedup_exact(keys=["k"], order_by=["id"])(df)
    rows = {(r.k, r.id) for r in out.collect()}
    assert rows == {("x", 1), ("y", 3)}


def test_dedup_exact_skew_safe_equals_window(spark):
    """The min_by aggregate form (map-side partial, heavy-hitter-proof) and
    the window row_number form must pick identical survivors whenever
    order_by is a total order within each key group."""
    rows = [(i, f"k{i % 7}", f"v{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k string, v string")
    agg = dedup.dedup_exact(keys=["k"], order_by=["id"], skew_safe=True)(df)
    win = dedup.dedup_exact(keys=["k"], order_by=["id"], skew_safe=False)(df)
    a = sorted((r.id, r.k, r.v) for r in agg.collect())
    w = sorted((r.id, r.k, r.v) for r in win.collect())
    assert a == w and len(a) == 7


def test_dedup_exact_skew_safe_partial_aggregates(spark):
    """100 TB guard: the default path must partial-aggregate map-side
    (partial_min_by BEFORE the exchange) and contain no Window node, so a
    10^8-copy heavy-hitter key collapses per input partition instead of
    serializing one task."""
    df = spark.createDataFrame([(1, "x", "a")], "id long, k string, v string")
    out = dedup.dedup_exact(keys=["k"], order_by=["id"])(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min_by" in plan
    assert "Window" not in plan


def test_minhash_equals_exact_jaccard(docs):
    """LSH + exact verification must equal the exact O(n^2) answer on this
    corpus (recall margin is ~1-5e-8 at jaccard>=0.8; the corpus has no
    pairs between 0.3 and 0.8)."""
    lsh = _pairs(dedup.minhash_lsh_pairs(docs))
    exact = _pairs(dedup.ngram_jaccard_pairs(docs))
    assert lsh == exact
    assert len(lsh) > 0  # corpus has planted near-dups


def test_embedding_methods_agree(emb):
    """Both exact embedding-dedup paths must produce the identical pair set:
    the distributed block self-join (default) and the pure-JVM join, the
    sequential-fold reference."""
    blk = _pairs(dedup.embedding_dup_pairs(emb, threshold=0.4, dim=64, method="block"))
    jn = _pairs(dedup.embedding_dup_pairs(emb, threshold=0.4, dim=64, method="join"))
    assert blk == jn
    assert len(blk) > 0


def test_embedding_block_odd_blocks(emb):
    """Block count that doesn't divide the id space evenly must not change
    the answer (pair-group replication is count-agnostic)."""
    a = _pairs(dedup.embedding_dup_pairs(emb, threshold=0.4, dim=64, method="block", n_blocks=7))
    b = _pairs(dedup.embedding_dup_pairs(emb, threshold=0.4, dim=64, method="join"))
    assert a == b


def test_embedding_auto_dispatch(emb):
    """method='auto' picks the exact block path below the row boundary and
    the sub-quadratic LSH path above it. Below: identical to the exact
    answer. Above: the LSH candidates are exact-verified, so precision is 1
    (every returned pair is a true pair) — recall < 1 is expected on this
    deliberately gapless corpus, which is exactly why block stays the
    default at oracle scales."""
    exact = _pairs(dedup.embedding_dup_pairs(emb, threshold=0.4, dim=64, method="join"))
    below = _pairs(dedup.embedding_dup_pairs(emb, threshold=0.4, dim=64, method="auto"))
    above = _pairs(
        dedup.embedding_dup_pairs(
            emb, threshold=0.4, dim=64, method="auto", auto_lsh_rows=10
        )
    )
    assert below == exact
    assert len(above) > 0 and set(above) <= set(exact)  # lsh: exact precision


def test_plan_srp_lsh_is_linear_and_recall_bounded():
    """The SRP planner must keep per-table bucket occupancy bounded (the
    anti-quadratic property fixed bits lack) and hit the target recall
    under the SRP collision model, across corpus sizes and thresholds."""
    import math

    for n in (10_000, 2_000_000, 50_000_000, 2_000_000_000):
        for thr in (0.9, 0.95, 0.99):
            if (n, thr) == (2_000_000_000, 0.9):
                # genuine physical limit: p^24 = 0.024 needs 96 tables —
                # the guardrail (64) correctly refuses rather than
                # shipping it silently
                with pytest.raises(ValueError, match="method='block'"):
                    dedup.plan_srp_lsh(n, thr, target_recall=0.9)
                continue
            tables, bits = dedup.plan_srp_lsh(n, thr, target_recall=0.9)
            p = 1 - math.acos(thr) / math.pi
            model_recall = 1 - (1 - p**bits) ** tables
            assert model_recall >= 0.9 - 1e-9, (n, thr, tables, bits)
            # occupancy bounded (within 2x of the target; the bits cap at
            # 2^24 only loosens this beyond ~2e9 rows)
            if bits < 24:
                assert n / 2**bits <= 256, (n, thr, bits)
            assert tables <= 64


def test_plan_srp_lsh_refuses_infeasible_threshold():
    """Low thresholds make SRP physically weak at scale: the planner must
    raise with block/threshold guidance, never silently return a quadratic
    or near-zero-recall configuration."""
    with pytest.raises(ValueError, match="method='block'"):
        dedup.plan_srp_lsh(5_000_000, 0.45)


def test_plan_srp_lsh_bits_override_keeps_recall_consistent():
    """A caller pinning bits must get a table count sized for THOSE bits —
    planner tables computed for different bits would silently break the
    recall target. Infeasible pinned bits raise instead."""
    import math

    for pinned in (16, 24):
        tables, bits = dedup.plan_srp_lsh(2_000_000, 0.95, bits=pinned)
        assert bits == pinned
        p = 1 - math.acos(0.95) / math.pi
        assert 1 - (1 - p**bits) ** tables >= 0.9 - 1e-9, (pinned, tables)
    # threshold 0.9 at pinned bits=24 needs ~96 tables — over the guardrail
    with pytest.raises(ValueError, match="method='block'"):
        dedup.plan_srp_lsh(2_000_000, 0.9, bits=24)


def test_plan_srp_lsh_threshold_one_returns_one_table():
    """threshold=1.0 is a legal exact-duplicate intent: per-bit agreement
    p=1 makes per-table collision certain, so ONE table suffices at any
    recall target — the planner must return (1, bits), not crash on
    log1p(-1) (the r11 ADVICE domain error)."""
    for n in (10_000, 2_000_000, 50_000_000):
        tables, bits = dedup.plan_srp_lsh(n, 1.0, target_recall=0.99)
        assert tables == 1
        assert bits == dedup._occupancy_bits(n)


def test_embedding_auto_lsh_dispatch_recovers_planted_dup_property(spark):
    """End-to-end property at the auto->lsh dispatch boundary (r11 verdict
    item 8): for a sweep of thresholds and corpus shapes, method='auto'
    above auto_lsh_rows must route through plan_srp_lsh and the WIRED
    pipeline must recover a planted exact duplicate — an exact dup agrees
    on every SRP bit, so it collides in every planned table and recall
    for it is deterministically 1.0 at ANY feasible planner config (no
    flaky statistics). Precision stays exact: output ⊆ the exact pair
    set. The planner MODEL is property-tested separately; this pins the
    deployed dispatch path."""
    import random

    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        thr=st.sampled_from([0.80, 0.90, 0.95, 0.99]),
        n=st.sampled_from([30, 60]),
        seed=st.integers(min_value=0, max_value=10),
    )
    def check(thr, n, seed):
        rng = random.Random(seed)
        rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(n)]
        rows.append((7777, list(rows[0][1])))  # planted exact duplicate
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        got = _pairs(
            dedup.embedding_dup_pairs(
                df, threshold=thr, dim=8, method="auto", auto_lsh_rows=10
            )
        )
        exact = _pairs(
            dedup.embedding_dup_pairs(df, threshold=thr, dim=8, method="join")
        )
        assert (0, 7777) in got, (thr, n, seed)
        assert set(got) <= set(exact), (thr, n, seed)

    check()


def test_embedding_lsh_tables_pin_alone_is_usable(spark):
    """Pinning lsh_tables WITHOUT lsh_bits means the caller owns recall:
    the dispatch must derive bits from occupancy alone and never route the
    discarded table count through the planner's recall feasibility gate —
    at threshold 0.45 that gate raises (r11 ADVICE), which would make an
    explicit lsh_tables unusable at exactly the thresholds where a user
    most wants manual control."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((99, list(rows[0][1])))  # planted exact duplicate of id 0
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # sanity: the planner itself refuses this threshold at scale
    with pytest.raises(ValueError, match="method='block'"):
        dedup.plan_srp_lsh(5_000_000, 0.45)
    got = _pairs(
        dedup.embedding_dup_pairs(
            df, threshold=0.45, dim=8, method="lsh", lsh_tables=8
        )
    )
    exact = _pairs(dedup.embedding_dup_pairs(df, threshold=0.45, dim=8, method="join"))
    assert (0, 99) in got
    assert set(got) <= set(exact)


def test_embedding_lsh_planned_finds_planted_duplicate(spark):
    """Wiring: method='lsh' with planner defaults. An exactly duplicated
    vector collides in EVERY table (per-bit agreement 1), so the planted
    pair must be found at any planned configuration; output stays a subset
    of the exact pair set (verify keeps precision 1.0)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((99, list(rows[0][1])))  # planted exact duplicate of id 0
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = _pairs(dedup.embedding_dup_pairs(df, threshold=0.95, dim=8, method="lsh"))
    exact = _pairs(dedup.embedding_dup_pairs(df, threshold=0.95, dim=8, method="join"))
    assert (0, 99) in got
    assert set(got) <= set(exact)


def test_derive_n_blocks_formula():
    """n_blocks follows the two-blocks-per-task memory formula, floored so
    the block-pair group count reaches the session parallelism (a 1-block
    plan serializes the matmul in one Python task), capped at n_rows."""
    assert dedup._derive_n_blocks(2_000, 64, 64 << 20) == 1  # tiny: one matmul
    # 1e8 rows x 1024 dims x 8 B x 2 / 256 MB -> ~6104 blocks
    big = dedup._derive_n_blocks(100_000_000, 1024, 256 << 20)
    assert 6000 <= big <= 6200
    assert dedup._derive_n_blocks(0, 64, 64 << 20) == 1
    # parallelism floor: 8 blocks -> 36 unordered pair groups >= 32 cores
    assert dedup._derive_n_blocks(2_000, 64, 64 << 20, parallelism=32) == 8
    # floor never exceeds n_rows (sub-row blocks only add empty groups)
    assert dedup._derive_n_blocks(3, 64, 64 << 20, parallelism=32) == 3
    assert dedup._derive_n_blocks(0, 64, 64 << 20, parallelism=32) == 1
    # memory bound dominates when it is already parallel enough
    assert dedup._derive_n_blocks(100_000_000, 1024, 256 << 20, parallelism=32) == big


def test_embedding_string_ids_and_zero_norms(spark):
    """Block path with non-integer ids and a zero vector: hash-assigned
    blocks must not require numeric ids, the output schema follows the id
    type, and zero-norm vectors never pair (no NaNs)."""
    rows = [
        ("a", [1.0, 0.0]),
        ("b", [1.0, 0.001]),
        ("z", [0.0, 0.0]),
        ("c", [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = dedup.embedding_dup_pairs(df, threshold=0.9, dim=2, method="block", n_blocks=3)
    assert dict(out.dtypes) == {"a_id": "string", "b_id": "string"}
    assert _pairs(out) == [("a", "b")]


def _brute_jaccard_pairs(sets_df, threshold):
    rows = {r.id: set(r.sh) for r in sets_df.collect()}
    ids = sorted(rows)
    return sorted(
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if len(rows[a] & rows[b]) / len(rows[a] | rows[b]) >= threshold
    )


def test_prefix_filter_bounds_hot_shingle_fanout(spark):
    """A corpus-hot shingle must NOT blow up the candidate set: 100 docs all
    sharing one hot trigram but otherwise unique yield ~0 candidates (the hot
    shingle has max df, sorts last, and falls outside every prefix), where a
    naive postings self-join yields C(100,2)=4950 pairs. Two planted
    duplicates must still be found — the filter is recall-free."""
    docs = [(i, f"hot hot hot u{i}a u{i}b u{i}c") for i in range(100)]
    docs += [(100, "planted dup text alpha beta gamma"), (101, "planted dup text alpha beta gamma")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = dedup.shingle_sets(df, "doc_id", "text", 3)
    cand = dedup.prefix_filter_candidates(sets, 0.5)
    n_cand = cand.count()
    assert n_cand < 50  # naive index join: >= 4950 via the hot shingle
    out = _pairs(dedup.ngram_jaccard_pairs(df, threshold=0.5))
    assert out == _brute_jaccard_pairs(sets, 0.5)
    assert (100, 101) in out


def test_prefix_filter_exact_on_corpus(docs):
    """Prefix-filtered exact Jaccard must equal brute force on the real
    documents table (no pair lost to the prefix pruning)."""
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3)
    assert _pairs(dedup.ngram_jaccard_pairs(docs)) == _brute_jaccard_pairs(sets, 0.5)


def test_checkpoint_modes_agree(spark, docs, tmp_path):
    """'local', 'reliable', and 'none' checkpointing are plan-equivalent —
    identical pair sets from minhash and simhash."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    base = _pairs(dedup.minhash_lsh_pairs(docs, checkpoint="local"))
    assert _pairs(dedup.minhash_lsh_pairs(docs, checkpoint="reliable")) == base
    assert _pairs(dedup.minhash_lsh_pairs(docs, checkpoint="none")) == base
    sh_base = _pairs(dedup.simhash_pairs_wide(docs, chunks=16, checkpoint="local"))
    for mode in ("reliable", "none"):
        assert _pairs(dedup.simhash_pairs_wide(docs, chunks=16, checkpoint=mode)) == sh_base
    with pytest.raises(ValueError, match="checkpoint mode"):
        dedup.minhash_lsh_pairs(docs, checkpoint="bogus")


def test_minhash_validates_config(docs):
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_pairs(docs, num_perm=100, bands=32)


def test_minhash_expression_variant_matches_agg(spark):
    """The per-row expression signature (documented for narrow widths) must
    equal the explode+agg signature the operators use."""
    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.functions import texthash

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    sets = dedup.shingle_sets(df, "doc_id", "text", 3)
    perms = texthash.minhash_perms(16)
    expr_sigs = {
        r.id: list(r.sig)
        for r in sets.select(
            "id", texthash.minhash_signature(F.col("sh"), perms).alias("sig")
        ).collect()
    }
    agg_sigs = {
        r.id: list(r.sig)
        for r in texthash.minhash_signature_agg(sets, perms).collect()
    }
    assert expr_sigs == agg_sigs


def test_minhash_map_variant_matches_agg(spark, sf_dir):
    """The shuffle-free Arrow map signature (JVM base hashes + numpy
    mod-min) must be bit-identical to the explode+agg signature — for
    BOTH hash bases (xxhash64 default; md5-derived as used by
    minhash_store) — on real corpus text, including docs near the
    shingle-count boundary."""
    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.functions import texthash
    from kafka_custom_transforms_spark.functions.texthash import (
        MERSENNE_P,
        md5_hash60,
    )
    from kafka_custom_transforms_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3)
    perms = texthash.minhash_perms(128)

    def md5_base(sh):
        return F.transform(sh, lambda s: F.pmod(md5_hash60(s), F.lit(MERSENNE_P)))

    for base in (texthash.shingle_hashes, md5_base):
        # agg form hashes inside: run it as shipped for the default base,
        # and via a pre-hashed explode for the md5 base (mirrors the
        # minhash_store 'jvm' branch)
        if base is texthash.shingle_hashes:
            agg = texthash.minhash_signature_agg(sets, perms)
        else:
            hashed = sets.select("id", md5_base(F.col("sh")).alias("h_arr"))
            exploded = hashed.select("id", F.explode("h_arr").alias("h"))
            mins = [
                F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_P))).alias(f"m{j}")
                for j, (a, b) in enumerate(perms)
            ]
            agg = exploded.groupBy("id").agg(*mins).select(
                "id", F.array(*[F.col(f"m{j}") for j in range(len(perms))]).alias("sig")
            )
        agg_sigs = {r.id: list(r.sig) for r in agg.collect()}
        map_sigs = {
            r.id: list(r.sig)
            for r in texthash.minhash_signature_map(
                sets, perms, base_hashes=base
            ).collect()
        }
        assert map_sigs == agg_sigs


def test_band_hashes_matches_inline_reference(spark, sf_dir):
    """band_hashes must stay bit-identical to this spelled-out reference
    on real corpus signatures — same (band, bh) structs in the same
    order. Guards any future re-implementation (r10 note: a statically
    unrolled variant WAS bit-identical but lost 1.8x end-to-end to
    per-query plan-compile cost and was reverted — see the band_hashes
    docstring; a replacement must both match values here AND beat the
    HOF form in an interleaved full-query A/B)."""
    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.functions import texthash
    from kafka_custom_transforms_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3)
    sig = texthash.minhash_signature_map(sets, texthash.minhash_perms(128))
    bands, r = 32, 4

    def hof_reference(s):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(s, b * r + 1, r), lambda x: x.cast("string")
                        ),
                    ),
                    b,
                ).alias("bh"),
            ),
        )

    mismatches = (
        sig.select(
            "id",
            texthash.band_hashes(F.col("sig"), bands, r).alias("xu"),
            hof_reference(F.col("sig")).alias("xh"),
        )
        .filter(F.expr("to_json(xu) != to_json(xh)"))
        .count()
    )
    assert mismatches == 0


def test_signature_map_variants_on_adversarial_text(spark):
    """Map vs agg signature equality on corner-case documents: unicode,
    exactly-k tokens (single shingle), repeated shingles, very long
    tokens, and boundary-ish whitespace — the shapes a corpus sample
    won't reliably contain."""
    from kafka_custom_transforms_spark.functions import texthash

    rows = [
        (1, "a b c"),                       # exactly one shingle
        (2, "x x x x x x"),                 # one DISTINCT shingle, repeated
        (3, "héllo wörld ünïcode ß 中文 字"),  # non-ASCII tokens
        (4, ("tok" * 300 + " ") * 5),        # very long tokens
        (5, "a b c d e f g h i j k l m n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = dedup.shingle_sets(df, "doc_id", "text", 3)
    perms = texthash.minhash_perms(64)
    agg = {r.id: list(r.sig) for r in texthash.minhash_signature_agg(sets, perms).collect()}
    mp = {r.id: list(r.sig) for r in texthash.minhash_signature_map(sets, perms).collect()}
    assert mp == agg and len(agg) == len(rows)
    wide = _text_sigs(df)
    assert wide == _spec_sigs(df) and len(wide) == len(rows)


def test_simhash_wide_map_variant_matches_agg(spark, sf_dir):
    """The production one-pass wide-SimHash map signature must be
    bit-identical to the JVM spec's packed-lane aggregate on real corpus
    text, keeping the same documents (>= k tokens)."""
    from kafka_custom_transforms_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    wide = _text_sigs(docs)
    assert wide == _spec_sigs(docs) and len(wide) > 0


def test_simhash_fused_text_sig_matches_split_chain(spark):
    """The one-pass text->signature UDF must equal the JVM spec chain on
    null, empty, whitespace-run and sub-k texts: those yield NULL from the
    UDF and no row from the spec, every other text the same signature."""
    rows = [
        (1, None),
        (2, ""),
        (3, "a b"),              # sub-k
        (4, "a  b  c"),          # runs of spaces give empty tokens
        (5, "   "),              # only empty tokens, still >= k of them
        (6, "x y z x y z w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = dedup._simhash_text_sig_udf(3)(F.col("text"))
    raw = {r.doc_id: r.s for r in df.select("doc_id", s.alias("s")).collect()}
    assert raw[1] is None and raw[2] is None and raw[3] is None
    wide = _text_sigs(df)
    assert wide == _spec_sigs(df) and sorted(wide) == [4, 5, 6]


def test_input_nonempty_signatures_identical_and_single_shingle_eval(
    spark, sf_dir
):
    """input_nonempty=True (r15 optimization) must return exactly the
    filtered default's rows on shingle_sets output — the declaration is
    vacuous there by the >= k-token filter — AND must leave a single
    Arrow shingle evaluation in the plan: the default's size(sh) > 0
    filter is pushed below the projection by DUPLICATING the shingle UDF
    (guide §4.4), which the declaration exists to remove."""
    from kafka_custom_transforms_spark.functions import texthash
    from kafka_custom_transforms_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3)
    perms = texthash.minhash_perms(32)

    default_mh = {
        r.id: list(r.sig)
        for r in texthash.minhash_signature_map(sets, perms).collect()
    }
    nonempty_mh = {
        r.id: list(r.sig)
        for r in texthash.minhash_signature_map(
            sets, perms, input_nonempty=True
        ).collect()
    }
    assert nonempty_mh == default_mh and len(default_mh) > 0

    # Plan pin: one ArrowEvalPython (the shingler) with the declaration,
    # two without (the duplicated eval the flag removes).
    def n_arrow(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "ArrowEvalPython"
        )

    fresh = dedup.shingle_sets(docs, "doc_id", "text", 3)
    dup = texthash.minhash_signature_map(fresh, perms)
    single = texthash.minhash_signature_map(fresh, perms, input_nonempty=True)
    # The mod-min UDF is one ArrowEvalPython of its own in both plans.
    assert n_arrow(single) == n_arrow(dup) - 1


@pytest.mark.parametrize("max_hamming,chunks", [(15, 16), (12, 15)])
def test_simhash_wide_banding_is_exhaustive(docs, max_hamming, chunks):
    """Wide (2x56-bit) pigeonhole banding must equal brute force over the
    collected wide signatures (the exactness guarantee; the oracle
    recomputes the wide configuration bit-identically). An uneven chunk
    count (15 = 8 + 7 slices of 7 and 8 bits) is as exact as an even one:
    pigeonhole needs disjoint coverage, not equal widths."""
    banded = _pairs(
        dedup.simhash_pairs_wide(docs, max_hamming=max_hamming, chunks=chunks)
    )
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3)
    sigs = {
        (r.id): (r.sig0, r.sig1)
        for r in dedup.simhash_signatures_wide(sets).collect()
    }
    ids = sorted(sigs)
    brute = sorted(
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a][0] ^ sigs[b][0]).count("1")
        + bin(sigs[a][1] ^ sigs[b][1]).count("1")
        <= max_hamming
    )
    assert banded == brute
    assert len(banded) > 0


def test_simhash_wide_validates_config(docs):
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs_wide(docs, max_hamming=16, chunks=16)


def _or_and_pairs(docs, monkeypatch, max_hamming):
    """Pair sets of the OR plan (crossover above any corpus) and the AND
    plan (crossover 0) of the same configuration."""
    monkeypatch.setattr(dedup, "AND_BAND_CROSSOVER", 10**18)
    or_pairs = _pairs(dedup.simhash_pairs_wide(docs, max_hamming=max_hamming))
    monkeypatch.setattr(dedup, "AND_BAND_CROSSOVER", 0)
    and_pairs = _pairs(dedup.simhash_pairs_wide(docs, max_hamming=max_hamming))
    return or_pairs, and_pairs


def test_simhash_wide_and_banding_same_pairs(docs, monkeypatch):
    """Chunk-pair AND banding (the corpus-scale layout) must return EXACTLY
    the OR-banding pair set: c = max_hamming + 2 slices keeps the
    pigeonhole guarantee tight (hamming <= c-2), so recall is exact by
    construction, not by data margin."""
    or_pairs, and_pairs = _or_and_pairs(docs, monkeypatch, 15)
    assert and_pairs == or_pairs
    assert len(and_pairs) > 0


def test_simhash_wide_and_banding_wide_slices_no_overflow(docs, monkeypatch):
    """max_hamming=1 gives c=3 slices up to 56 bits wide: the band keys must
    join as two separate columns (a packed sv_i*2^w + sv_j key overflows
    64 bits under ANSI mode for any slice >= 32 bits). Equality with the
    OR form still holds at this threshold."""
    or_pairs, and_pairs = _or_and_pairs(docs, monkeypatch, 1)
    assert and_pairs == or_pairs


def test_simhash_wide_band_and_auto_dispatch(docs, monkeypatch):
    """Without a chunks pin the layout follows the corpus size at
    AND_BAND_CROSSOVER (measured ~100k docs): below it the OR-banding plan
    (no sv2 join column), at/above it the chunk-pair AND plan (sv2
    present) — and the dispatched AND plan still returns EXACTLY the OR
    pair set. Pinning chunks pins the OR layout regardless of size (chunk
    count is meaningless under AND banding), so the registry row's
    explicit chunks=16 keeps its plan and pays no count job."""
    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # the real crossover: the tiny corpus, estimated from plan statistics
    # (no count job), bands OR
    assert "sv2" not in plan(dedup.simhash_pairs_wide(docs, max_hamming=15))
    est = dedup._estimate_rows(docs)
    monkeypatch.setattr(dedup, "AND_BAND_CROSSOVER", est + 1)
    lo = dedup.simhash_pairs_wide(docs, max_hamming=15)
    monkeypatch.setattr(dedup, "AND_BAND_CROSSOVER", est)
    hi = dedup.simhash_pairs_wide(docs, max_hamming=15)
    assert "sv2" not in plan(lo)
    assert "sv2" in plan(hi)
    assert _pairs(hi) == _pairs(lo)  # dispatch changes the plan, never the pairs
    # chunks pin -> OR layout even above the crossover
    assert "sv2" not in plan(dedup.simhash_pairs_wide(docs, max_hamming=15, chunks=16))


def test_estimate_rows_uses_plan_statistics(docs, spark):
    """_estimate_rows reads Catalyst sizeInBytes without a Spark job: a
    stats-bearing plan yields a finite, small-corpus estimate; an
    RDD-backed plan (LogicalRDD reports the UNKNOWN sentinel,
    Long.MaxValue) yields None, which is the only path that falls back to
    the documented count() job. (mapInPandas is NOT stats-less: it
    propagates its child's sizeInBytes in Spark 4.)"""
    est = dedup._estimate_rows(docs)
    assert est is not None and 0 <= est < dedup.AND_BAND_CROSSOVER

    small = docs.select("doc_id", "text")
    statless = spark.createDataFrame(small.rdd, schema=small.schema)
    assert dedup._estimate_rows(statless) is None


def test_simhash_wide_and_banding_rejects_chunks():
    """The band layout needs at least one slice per signature long and at
    least one bit per slice (a zero-width slice would match every pair)."""
    with pytest.raises(ValueError, match="at least one slice per signature long"):
        dedup._band_layout(1)
    with pytest.raises(ValueError, match="at least one bit"):
        dedup._band_layout(113)
    assert min(wdt for _, _, wdt in dedup._band_layout(112)) == 1


def test_and_band_layout_covers_bits_disjointly():
    """The chunk-pair layout must partition every signature bit exactly
    once, never span a long, and (pigeonhole) leave >= 2 intact slices —
    hence a matching band — for ANY 15-bit corruption."""
    import random

    layout = dedup._band_layout(17)
    assert len(layout) == 17
    per_long = {}
    for li, off, wdt in layout:
        assert off + wdt <= 56
        per_long.setdefault(li, []).append((off, wdt))
    for li, slices in per_long.items():
        covered = sorted(slices)
        pos = 0
        for off, wdt in covered:
            assert off == pos  # contiguous, disjoint
            pos += wdt
        assert pos == 56  # full coverage

    # pigeonhole at the tight boundary: flip EXACTLY 15 bits, assert at
    # least two slices stay intact (=> some chunk-pair band key matches)
    rng = random.Random(7)
    for _ in range(200):
        flipped = set(rng.sample(range(112), 15))
        intact = sum(
            1
            for li, off, wdt in layout
            if not any((li * 56 + off) <= b < (li * 56 + off + wdt) for b in flipped)
        )
        assert intact >= 2


def test_shingle_udf_matches_expression(spark, sf_dir):
    """The Arrow-vectorized shingler is bit-identical (values AND order) to
    the word_shingles expression the DuckDB oracle mirrors."""
    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.functions.texthash import tokens, word_shingles
    from kafka_custom_transforms_spark.operators.dedup import _shingle_udf
    from kafka_custom_transforms_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    both = docs.select(
        word_shingles(tokens(F.col("text")), 3).alias("expr_sh"),
        _shingle_udf(3)(F.col("text")).alias("udf_sh"),
    )
    assert both.filter(F.col("expr_sh") != F.col("udf_sh")).count() == 0


def test_semantic_dup_pairs_subset_of_exact(spark, sf_dir):
    """SemDeDup never invents pairs: its output is the within-cluster
    subset of the exact all-pairs result (precision 1, recall traded for
    the n*sqrt(n) cost)."""
    from kafka_custom_transforms_spark.operators.dedup import (
        embedding_dup_pairs,
        semantic_dup_pairs,
    )
    from kafka_custom_transforms_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        tuple(sorted((r.a_id, r.b_id)))
        for r in embedding_dup_pairs(emb, threshold=0.45, dim=64).collect()
    }
    sem = {(r.a_id, r.b_id) for r in semantic_dup_pairs(emb, threshold=0.45).collect()}
    assert sem <= exact
    assert len(sem) > 0  # the corpus has co-clustered planted dups


def test_semantic_dup_pairs_single_cluster_is_exact(spark, sf_dir):
    """With one cluster the quantizer is a no-op and SemDeDup must equal
    the exact all-pairs set — pins that only the partitioning, never the
    scoring, is approximate."""
    from kafka_custom_transforms_spark.operators.dedup import (
        embedding_dup_pairs,
        semantic_dup_pairs,
    )
    from kafka_custom_transforms_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        tuple(sorted((r.a_id, r.b_id)))
        for r in embedding_dup_pairs(emb, threshold=0.45, dim=64).collect()
    }
    sem = {
        (r.a_id, r.b_id)
        for r in semantic_dup_pairs(emb, threshold=0.45, n_clusters=1).collect()
    }
    assert sem == exact


def test_shingler_routes_identical(docs):
    """The production (Arrow) shingle sets equal the JVM word_shingles spec
    row for row, in order, and the minhash oracle query's pairs equal the
    brute-force exact-Jaccard pairs over the spec's sets."""
    arrow = {r.id: list(r.sh) for r in dedup.shingle_sets(docs, "doc_id", "text", 3).collect()}
    spec = {
        r.id: list(r.sh)
        for r in dedup.shingle_sets(docs, "doc_id", "text", 3, shingler="jvm").collect()
    }
    assert arrow == spec
    ids = sorted(spec)
    sets = {i: set(spec[i]) for i in ids}
    brute = sorted(
        (a, b)
        for n, a in enumerate(ids)
        for b in ids[n + 1 :]
        if len(sets[a] & sets[b]) >= 0.5 * len(sets[a] | sets[b])
    )
    assert _pairs(dedup.minhash_lsh_pairs(docs)) == brute and len(brute) > 0


def test_shingler_rejects_unknown_route(docs):
    import pytest

    with pytest.raises(ValueError, match="shingler"):
        dedup.shingle_sets(docs, "doc_id", "text", 3, shingler="magic").collect()


def test_duplicate_spans_window_hashes_match_spec(spark, sf_dir):
    """duplicate_spans' Arrow gram hasher must equal the JVM expression
    spec (md5_hash60 of every k-token window, [] under k tokens or on
    null) on real corpus text plus null and sub-k documents, and the
    operator must give null text (0 spans, 0 dups) rather than crash."""
    from kafka_custom_transforms_spark.functions.texthash import md5_hash60
    from kafka_custom_transforms_spark.sources.tables import load_table

    k = 8
    extra = spark.createDataFrame(
        [(-1, None), (-2, "a b c"), (-3, "a b c d e f g h i j")], "doc_id long, text string"
    )
    docs = (
        load_table(spark, sf_dir, "documents").limit(150).select("doc_id", "text").union(extra)
    )
    toks = dedup.tokens(F.col("text"))
    n = F.size(toks)
    spec = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: md5_hash60(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    both = docs.select(
        spec.alias("spec"), dedup._gram_hash_udf(k)(F.col("text")).alias("udf")
    ).collect()
    assert len(both) == 153 and all(r.spec == r.udf for r in both)
    got = {
        r.doc_id: (r.n_spans, r.dup_spans)
        for r in dedup.duplicate_spans(extra, k=k).collect()
    }
    assert got == {-1: (0, 0), -2: (0, 0), -3: (3, 0)}


def test_duplicate_spans_hand_computed(spark):
    """4-token windows over a toy corpus with a known shared span: the
    repeated window marks positions in BOTH documents, a within-doc
    repeat counts twice, and short documents report zero spans."""
    rows = [
        (1, "a b c d x y z w"),      # 5 windows; "a b c d" shared with doc 2
        (2, "q a b c d r s"),        # 4 windows; "a b c d" at position 2
        (3, "m m m m m m m"),        # 4 windows, ALL identical -> all dup
        (4, "too short"),            # < 4 tokens -> 0 spans
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_spans, r.dup_spans, r.dup_ratio_milli)
        for r in dedup.duplicate_spans(df, k=4).collect()
    }
    assert got[1] == (5, 1, 200)
    assert got[2] == (4, 1, 250)
    assert got[3] == (4, 4, 1000)
    assert got[4] == (0, 0, 0)


def test_duplicate_spans_single_gram_pass_no_joins(spark, sf_dir):
    """Scale shape (r16 single-pass rewrite): the (doc, gram) stream is
    exploded and pre-aggregated ONCE (map-side partials bound heavy-hitter
    gram skew by document count), the corpus-wide occurrence count is a
    window over the gram hash instead of a per-gram aggregate + join-back,
    and no-dup docs survive via explode_outer + conditional sums instead
    of a corpus-wide LEFT join — the r15 plan ran the explode and the
    (doc,gram) aggregation twice and joined twice."""
    import re

    docs = load_table(spark, sf_dir, "documents")
    plan = dedup.duplicate_spans(docs, k=8)._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Generate") == 1, plan  # one gram explode, not two
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan


def test_minhash_incremental_drops_planted_near_dup(spark, tmp_path):
    """A batch doc nearly identical to a store doc is dropped; an
    unrelated doc survives; the store carries only (id, sig)."""
    from kafka_custom_transforms_spark.operators.dedup import (
        minhash_incremental,
        minhash_store,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    store_docs = spark.createDataFrame(
        [(0, base)], "doc_id long, text string"
    )
    batch_docs = spark.createDataFrame(
        [
            (1, base + " extra"),  # near-dup of store doc 0
            (2, "completely different words about spark query engines ok"),
        ],
        "doc_id long, text string",
    )
    store = minhash_store(store_docs)
    batch = minhash_store(batch_docs)
    assert store.columns == ["id", "sig"]
    assert len(store.first().sig) == 32
    survivors = sorted(r.id for r in minhash_incremental(batch, store).collect())
    assert survivors == [2]
    # checkpoint modes are result-identical; "none" is the registry row's
    # already-materialized-batch path, bad modes raise
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    for mode in ("none", "reliable"):
        got = sorted(
            r.id
            for r in minhash_incremental(batch, store, checkpoint=mode).collect()
        )
        assert got == [2], mode
    with pytest.raises(ValueError, match="checkpoint mode"):
        minhash_incremental(batch, store, checkpoint="bogus")


def test_minhash_incremental_empty_store_keeps_all(spark):
    from kafka_custom_transforms_spark.operators.dedup import (
        minhash_incremental,
        minhash_store,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch = minhash_store(docs)
    empty = batch.filter("id < 0")
    assert sorted(r.id for r in minhash_incremental(batch, empty).collect()) == [1, 2]


def test_minhash_incremental_anti_join_broadcasts_dropped_side(spark):
    """r15 optimization pin: the final batch-vs-dropped LeftAnti must be a
    BroadcastHashJoin (the dropped side is a distinct subset of the bounded
    ingest batch), not a SortMergeJoin that pays an Exchange + Sort of
    every batch id purely for the join."""
    from kafka_custom_transforms_spark.operators.dedup import (
        minhash_incremental,
        minhash_store,
    )
    from kafka_custom_transforms_spark.plans.explain import plan_str

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    sigs = minhash_store(docs)
    plan = plan_str(minhash_incremental(sigs, sigs, checkpoint="none"))
    assert "SortMergeJoin LeftAnti" not in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan


def test_map_forms_fail_loudly_on_bad_inputs(spark):
    """Behavioral-parity guards (r8 advice): the simhash map form must
    raise the agg form's >32767-shingle ValueError instead of silently
    succeeding, and minhash_signature_map must reject a base_hashes that
    skips the [0, MERSENNE_P) reduction instead of silently wrapping in
    int64."""
    import pytest

    from kafka_custom_transforms_spark.functions import texthash

    big = spark.createDataFrame(
        [(" ".join(f"s{i}" for i in range(32768)),)], "text string"
    )
    with pytest.raises(Exception, match="32767 shingles"):
        big.select(dedup._simhash_text_sig_udf(1)(F.col("text"))).collect()

    sets = spark.createDataFrame(
        [(1, ["a b c", "b c d"])], "id long, sh array<string>"
    )
    perms = texthash.minhash_perms(8)
    unreduced = lambda col: F.transform(col, lambda s: F.xxhash64(s))  # no pmod
    with pytest.raises(Exception, match="MERSENNE_P"):
        texthash.minhash_signature_map(sets, perms, base_hashes=unreduced).collect()


def test_plan_srp_lsh_validates_pinned_bits():
    """Pinned bits get the same anti-quadratic contract as derived ones:
    out-of-range pins raise a clear error (not a bare math domain error),
    and a tiny pin whose buckets would make candidates ~quadratic is
    refused rather than silently returned."""
    with pytest.raises(ValueError, match=r"bits must be in \[1, 62\]"):
        dedup.plan_srp_lsh(2_000_000, 0.95, bits=0)
    with pytest.raises(ValueError, match="quadratic"):
        dedup.plan_srp_lsh(2_000_000, 0.95, bits=1)


def test_and_band_layout_pigeonhole_property():
    """Generalize the c=17 layout pin: for ANY max_hamming in [1, 20], the
    c = max_hamming + 2 layout must partition all 112 bits disjointly
    without spanning a long, and any exactly-max_hamming-bit corruption
    must leave >= 2 intact slices (the AND-banding recall guarantee at its
    tight boundary)."""
    import random

    rng = random.Random(11)
    for mh in range(1, 21):
        c = mh + 2
        layout = dedup._band_layout(c)
        assert len(layout) == c
        per_long: dict[int, int] = {}
        for li, off, wdt in layout:
            assert 0 < wdt and off + wdt <= 56
            per_long[li] = per_long.get(li, 0) + wdt
        assert per_long == {0: 56, 1: 56}
        for _ in range(50):
            flipped = set(rng.sample(range(112), mh))
            intact = sum(
                1
                for li, off, wdt in layout
                if not any(li * 56 + off <= b < li * 56 + off + wdt for b in flipped)
            )
            assert intact >= 2, (mh, sorted(flipped))


def test_plan_srp_lsh_contract_property():
    """Over random (n, threshold, target_recall): the planner either raises
    a guidance ValueError or returns a configuration that meets the recall
    target under the SRP model with bounded tables and sane bits — never a
    silent contract violation."""
    import math
    import random

    rng = random.Random(5)
    for _ in range(300):
        n = rng.randrange(100, 3_000_000_000)
        thr = rng.uniform(0.3, 0.999)
        recall = rng.uniform(0.5, 0.99)
        try:
            tables, bits = dedup.plan_srp_lsh(n, thr, target_recall=recall)
        except ValueError as e:
            assert "method='block'" in str(e)
            continue
        assert 1 <= tables <= 64 and 4 <= bits <= 24
        p = 1 - math.acos(thr) / math.pi
        assert 1 - (1 - p**bits) ** tables >= recall - 1e-9


def test_minhash_store_fused_matches_jvm(spark, sf_dir):
    """minhash_store's one-pass Arrow signature (tokenize + shingle +
    hashlib md5 + mod-min in one UDF) must be bit-identical to the JVM
    expression spec (word_shingles -> pmod(md5_hash60) -> explode +
    per-permutation min aggregates) on real corpus text plus null and
    sub-k documents — same ids kept (>= k tokens), same 32-long
    signatures."""
    from kafka_custom_transforms_spark.functions.texthash import md5_hash60
    from kafka_custom_transforms_spark.sources.tables import load_table

    extra = spark.createDataFrame(
        [(-1, None), (-2, "a b"), (-3, "a  b  c")], "doc_id long, text string"
    )
    docs = load_table(spark, sf_dir, "documents").limit(200).select("doc_id", "text").union(extra)
    fused = {r.id: list(r.sig) for r in dedup.minhash_store(docs).collect()}

    p = F.lit(dedup.MERSENNE_P)
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3, shingler="jvm")
    exploded = sets.select(
        "id", F.explode(F.transform("sh", lambda s: F.pmod(md5_hash60(s), p))).alias("h")
    )
    perms = dedup.minhash_perms(32, 42)
    mins = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), p)).alias(f"m{j}")
        for j, (a, b) in enumerate(perms)
    ]
    spec = {
        r.id: [r[f"m{j}"] for j in range(32)]
        for r in exploded.groupBy("id").agg(*mins).collect()
    }
    assert fused == spec and -3 in fused and -1 not in fused and -2 not in fused

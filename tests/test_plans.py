"""Physical-plan shape tests: the 100 TB hygiene checks.

A correct result with the wrong plan fails at scale; these tests pin that
filters reach the parquet scan, projections prune columns, small sides
broadcast, and the SMT transforms add no shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from kafka_custom_transforms_spark import drop_fields, hoist_field, to_json_string, transform_chain
from kafka_custom_transforms_spark.plans.explain import (
    broadcast_join_count,
    has_pushed_filter,
    scan_read_schema,
    shuffle_count,
)
from kafka_custom_transforms_spark.sources.tables import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    assert has_pushed_filter(q, "l_returnflag")


def test_column_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    cols = scan_read_schema(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    q = entry_mod.queries()["q1_pricing_summary"](spark, sf_dir)
    cols = scan_read_schema(q)
    # 5 value columns + the filter column; never the full 11-column table
    assert set(cols) <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    }, cols


def test_q3_broadcasts_customer(spark, sf_dir):
    q = entry_mod.queries()["q3_shipping_priority"](spark, sf_dir)
    assert broadcast_join_count(q) >= 1


def test_smt_chain_adds_no_shuffle(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    chain = transform_chain(
        drop_fields(["k"], json_schema="k int"),
        hoist_field("payload"),
    )
    out = chain(ev.select(F.col("props").alias("value")))
    assert shuffle_count(out) == 0


def _expr_count(plan, cls: str, returns: str | None = None) -> int:
    """Expressions of class ``cls`` (of type ``returns``, e.g. ``"struct"``,
    when given) over every node of a physical plan, through adaptive plans
    and their query stages. A runtime-replaced expression counts in its
    replacement, ``invoke(<cls>Evaluator(...))``."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def matches(e) -> bool:
        name = e.getClass().getSimpleName()
        found = name == cls or (name == "Invoke" and e.toString().startswith(f"invoke({cls}Evaluator("))
        return found and (returns is None or e.dataType().typeName() == returns)

    def walk(e) -> int:
        return matches(e) + sum(walk(c) for c in seq(e.children()))

    nodes = seq(plan.children())
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        nodes.append(plan.executedPlan())
    elif name.endswith("QueryStageExec"):
        nodes.append(plan.plan())
    return sum(walk(e) for e in seq(plan.expressions())) + sum(_expr_count(n, cls, returns) for n in nodes)


def _json_parses(plan) -> tuple[int, int]:
    """``from_json`` with a schema, and ``[text]`` checks (``array<string>``)."""
    return _expr_count(plan, "JsonToStructs", "struct"), _expr_count(plan, "JsonToStructs", "array")


def test_smt_json_schema_step_parses_once(spark):
    """One JSON parse per json_schema step: the parse sits in its own
    projection, so the fields the rebuild reads do not each get a pruned
    from_json of their own (6 for this drop and 4 for this hoist when the
    parse was inline, 10 for the chain); each parse has one ``[text]``
    check. Shape of the smt_drain value."""
    value = (
        "hdr struct<id:bigint,ts:bigint>, meta struct<trace:string,src:string>, "
        "body struct<user:bigint,amount:double,debug:string>"
    )
    dropped = "hdr struct<id:bigint,ts:bigint>, meta struct<src:string>, body struct<user:bigint,amount:double>"
    drop = drop_fields(["meta.trace", "body.debug"], json_schema=value)
    hoist = hoist_field("payload", keep_in_root=["hdr"], json_schema=dropped)
    df = spark.createDataFrame(
        [('{"hdr":{"id":1,"ts":2},"meta":{"trace":"t","src":"s"},'
          '"body":{"user":3,"amount":1.5,"debug":"d"}}',)],
        "value string",
    )
    for out, parses in ((drop(df), 1), (hoist(df), 1), (hoist(drop(df)), 2)):
        out.collect()
        assert _json_parses(out._jdf.queryExecution().executedPlan()) == (parses, parses)
    assert out.collect()[0].value == (
        '{"hdr":{"id":1,"ts":2},"payload":{"meta":{"src":"s"},"body":{"user":3,"amount":1.5}}}'
    )


_SMT_VALUE = (
    "hdr struct<id:bigint,ts:bigint>, meta struct<trace:string,src:string>, "
    "body struct<user:bigint,amount:double,debug:string>"
)
_SMT_DROPPED = "hdr struct<id:bigint,ts:bigint>, meta struct<src:string>, body struct<user:bigint,amount:double>"
_SMT_TEXT = (
    '{"hdr":{"id":1,"ts":2},"meta":{"trace":"t","src":"s"},"body":{"user":3,"amount":1.5,"debug":"d"}}'
)


def _smt_steps(col: str, schema: bool) -> list:
    drop = drop_fields(["meta.trace", "body.debug"], target=col, json_schema=_SMT_VALUE if schema else None)
    keep = [] if col == "v_map" else ["hdr"]
    hoist = hoist_field("payload", keep, target=col, json_schema=_SMT_DROPPED if schema else None)
    return [drop, hoist, to_json_string(target=col)]


def _column_plan(out, col: str):
    one = out.select(col)
    one.collect()
    return one._jdf.queryExecution().executedPlan()


def test_smt_chain_parses_once_per_column(spark):
    """transform_chain runs consecutive JSON steps on a column as one step,
    as in smt_drain: the steps of four representation columns interleave
    (every SMT touches only its own column), yet the json_schema column is
    parsed and written once (2 and 2 step by step) and the schema-free
    column runs one Python UDF (two chained before)."""
    df = spark.createDataFrame(
        [(None, _SMT_TEXT, _SMT_TEXT, {"a": {"b": "c"}})],
        f"v_struct struct<{_SMT_VALUE.replace(' struct', ':struct')}>, v_json_schema string, "
        "v_json_udf string, v_map map<string,map<string,string>>",
    )
    per_col = [_smt_steps("v_struct", False), _smt_steps("v_json_schema", True),
               _smt_steps("v_json_udf", False), _smt_steps("v_map", False)]
    out = transform_chain(*(steps[i] for i in range(3) for steps in per_col))(df)
    plan = _column_plan(out, "v_json_schema")
    assert (*_json_parses(plan), _expr_count(plan, "StructsToJson")) == (1, 1, 1)
    assert _expr_count(_column_plan(out, "v_json_udf"), "PythonUDF") == 1
    row = out.collect()[0]
    want = '{"hdr":{"id":1,"ts":2},"payload":{"meta":{"src":"s"},"body":{"user":3,"amount":1.5}}}'
    assert (row.v_json_schema, row.v_json_udf) == (want, want)


def _smt_drain_shaped(spark):
    df = spark.createDataFrame(
        [(None, _SMT_TEXT, _SMT_TEXT, {"a": {"b": "c"}})],
        f"v_struct struct<{_SMT_VALUE.replace(' struct', ':struct')}>, v_json_schema string, "
        "v_json_udf string, v_map map<string,map<string,string>>",
    )
    per_col = [_smt_steps("v_struct", False), _smt_steps("v_json_schema", True),
               _smt_steps("v_json_udf", False), _smt_steps("v_map", False)]
    return df, transform_chain(*(steps[i] for i in range(3) for steps in per_col))


def test_smt_chain_build_round_trips(spark, monkeypatch):
    """Building the smt_drain-shaped chain writes each column's steps as
    one SQL expression, so the build makes at most 300 py4j round trips
    (about 1,800 when every step composed PySpark Columns node by node,
    11-21 round trips per node). The struct column's drop and hoist are
    one expression, so one Project. Only the building thread's calls
    count: py4j's finalizer thread sends the deletes of collected Java
    objects in the background, several hundred during the build when
    earlier tests left garbage."""
    import gc
    import threading

    from py4j.java_gateway import GatewayClient

    df, chain = _smt_drain_shaped(spark)
    chain(df)  # the DDL strings' types are cached from here on
    calls = []
    send = GatewayClient.send_command
    building_thread = threading.get_ident()

    def counted(self, *a, **k):
        if threading.get_ident() == building_thread:
            calls.append(1)
        return send(self, *a, **k)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    gc.collect()
    gc.disable()
    try:
        out = chain(df)
    finally:
        gc.enable()
        monkeypatch.undo()
    assert len(calls) <= 300, len(calls)
    projects = _column_plan(out, "v_struct").toString().count("Project [")
    assert projects == 1, _column_plan(out, "v_struct").toString()


@pytest.mark.parametrize("between", ["opaque", "misfit"])
def test_smt_chain_flushes_at_opaque_step_or_schema_misfit(spark, between):
    """A callable that is not an SMT may read the column, and a schema that
    is not the previous step's output type would read its to_json back
    differently: both leave two parses."""
    df = spark.createDataFrame([(_SMT_TEXT,)], "value string")
    drop = drop_fields(["meta.trace", "body.debug"], json_schema=_SMT_VALUE)
    hoist = hoist_field("payload", ["hdr"], json_schema=_SMT_DROPPED)
    if between == "opaque":
        chain = transform_chain(drop, lambda d: d, hoist)
    else:
        chain = transform_chain(drop, hoist_field("payload", ["hdr"], json_schema=_SMT_VALUE))
    assert _json_parses(_column_plan(chain(df), "value")) == (2, 2)
    assert _json_parses(_column_plan(transform_chain(drop, hoist)(df), "value")) == (1, 1)


def test_smt_struct_ops_stay_in_codegen(spark, sf_dir):
    """The drop/hoist struct expressions must appear inside a
    WholeStageCodegen span (no interpreted projection in the hot path)."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.struct(
            F.col("l_orderkey").alias("k1"),
            F.struct(F.struct(F.col("l_returnflag").alias("k2")).alias("child")).alias("parent"),
        ).alias("value")
    )
    out = drop_fields(["parent.child.k2"])(df)
    # formatted explain marks codegen stages with a leading '* '
    assert "* Project" in plan_str(out)


def test_ngram_jaccard_has_no_cross_join(spark, sf_dir):
    """The exact-Jaccard pair finder must be an inverted-index equi-join,
    never a cartesian/BNLJ product of the documents table."""
    from kafka_custom_transforms_spark.operators.dedup import ngram_jaccard_pairs
    from kafka_custom_transforms_spark.plans.explain import plan_str

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_str(ngram_jaccard_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_simhash_is_one_banded_self_join(spark, sf_dir):
    """The benchmarked dedup_simhash row pins chunks=16, so it bands OR:
    its physical plan holds ONE join, an equi-join on (chunk, sv) whose
    own condition evaluates the hamming predicate (only true pairs reach
    the distinct's shuffle), and no AND-band sv2 key anywhere."""
    import re

    q = entry_mod.queries()["dedup_simhash"](spark, sf_dir)
    plan = q._jdf.queryExecution().sparkPlan().toString()
    joins = re.findall(r"\w*(?:Join|CartesianProduct)\b.*", plan)
    assert len(joins) == 1, plan
    keys = re.match(r"\w+ \[([^\]]*)\], \[([^\]]*)\], Inner, (.*)", joins[0])
    assert keys, joins[0]
    for side in keys.group(1, 2):
        assert re.sub(r"#\d+L?", "", side) == "chunk, sv", joins[0]
    assert re.search(r"bit_count\(.*\) <= 15\)", keys.group(3)), joins[0]
    assert "sv2" not in plan


def test_topn_pagination_is_take_ordered(spark, sf_dir):
    """Pagination must be two-phase top-k: the full-table sort compiles to
    TakeOrderedAndProject (per-partition top-N, bounded merge), and the only
    window sort runs over the N surviving rows — never an unpartitioned
    row_number over the whole table."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["topn_pagination"](spark, sf_dir)
    plan = plan_str(q)
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_dedup_default_is_distributed(spark, sf_dir):
    """The default embedding-dedup plan must be the distributed block
    self-join (FlatMapGroupsInPandas over shuffled block-pair groups) —
    no driver-side collect/broadcast of the embeddings table."""
    from kafka_custom_transforms_spark.operators.dedup import embedding_dup_pairs
    from kafka_custom_transforms_spark.plans.explain import plan_str

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_str(embedding_dup_pairs(emb, threshold=0.45, dim=64))
    assert "FlatMapGroupsInPandas" in plan, plan
    # the plan is built lazily from the input DataFrame — a collect() path
    # would instead materialize rows eagerly and re-parallelize a local list
    assert "Scan ExistingRDD" not in plan, plan


def test_lsh_topk_broadcasts_query_buckets(spark, sf_dir):
    """The SRP-LSH bucket join must broadcast the query-side bucket frame
    (queries are the small side by contract), so the base bucket frame
    never shuffles — plus the existing query-vector broadcast in the
    scoring join. r11: adopted as a scale-shape decision (local A/B
    neutral); this pin keeps the base side shuffle-free."""
    q = entry_mod.queries()["similarity_topk_lsh"](spark, sf_dir)
    assert broadcast_join_count(q) >= 2


def test_salted_agg_matches_plain(spark, sf_dir):
    from kafka_custom_transforms_spark.functions.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    plain = {
        (r.event_type, r.n): round(r.total, 6)
        for r in ev.groupBy("event_type")
        .agg(F.sum("value").alias("total"), F.count("event_id").alias("n"))
        .collect()
    }
    salted = {
        (r.event_type, r.n): round(r.total, 6)
        for r in salted_agg(
            ev, ["event_type"], {"total": ("value", "sum"), "n": ("event_id", "count")}
        ).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    from kafka_custom_transforms_spark.functions.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="non-decomposable"):
        salted_agg(ev, ["event_type"], {"m": ("value", "avg")})


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketed+sorted storage on the join key must yield a sort-merge join
    with ZERO Exchange nodes on the join inputs (the write paid the shuffle
    once) — the repeated-join pattern that matters most at 100 TB."""

    from kafka_custom_transforms_spark.plans.explain import plan_str
    from kafka_custom_transforms_spark.sources.bucketing import bucketed_equijoin

    d = str(tmp_path)
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = bucketed_equijoin(
        spark, orders, cust, "o_custkey", "c_custkey", d, n_buckets=4,
        table_prefix="kcts_bucketed_plan_test",
    )
    plan = plan_str(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket-aligned scans feed the join directly
    # correctness: the bucketed join equals the plain join
    plain = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).count()
    assert j.count() == plain


def test_bucketed_aggregation_has_no_exchange(spark, sf_dir, tmp_path):
    """Aggregation on the bucket key must need ZERO Exchange nodes — the
    bucketed scan already provides the required distribution. This is the
    prescribed fix for map-side-combine saturation on high-cardinality
    group keys (the measured q18 byte step in SHUFFLE.md / SURVEY §8):
    bucketing the fact table turns the ~input-sized shuffle into none."""

    from kafka_custom_transforms_spark.plans.explain import plan_str
    from kafka_custom_transforms_spark.sources.bucketing import write_bucketed_table

    d = str(tmp_path)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(li, "kcts_bucketed_agg_li", ["l_orderkey"], 4, f"{d}/li")
    agg = (
        spark.table("kcts_bucketed_agg_li")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = plan_str(agg)
    assert "Exchange" not in plan  # distribution satisfied by bucketing
    plain = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).count()
    )
    assert agg.count() == plain


def test_repetition_stats_is_shuffle_free(spark, sf_dir):
    """Gopher repetition filters are pure per-row expressions: the plan
    must contain no Exchange and stay in whole-stage codegen territory."""
    from kafka_custom_transforms_spark.operators.text import repetition_stats
    from kafka_custom_transforms_spark.plans.explain import plan_str

    out = repetition_stats(load_table(spark, sf_dir, "documents"))
    plan = plan_str(out)
    assert "Exchange" not in plan


def test_mixture_sample_is_shuffle_free_filter(spark, sf_dir):
    """Mixture reweighting is a map-side filter fused into the scan: no
    Exchange, no aggregation, rates dict folded to a plan-time literal."""
    from kafka_custom_transforms_spark.functions.sampling import mixture_sample
    from kafka_custom_transforms_spark.plans.explain import plan_str

    docs = load_table(spark, sf_dir, "documents")
    out = mixture_sample(docs, "doc_id", "source", {"src0": 300, "src1": 500})
    plan = plan_str(out)
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_pack_sequences_single_exchange(spark, sf_dir):
    """Packing shuffles ONCE (hash by bucket) then packs map-side: exactly
    one Exchange node feeding the applyInPandas stage."""
    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.functions.texthash import tokens
    from kafka_custom_transforms_spark.operators.packing import pack_sequences
    from kafka_custom_transforms_spark.plans.explain import plan_str

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    plan = plan_str(pack_sequences(sized, context_len=256, n_buckets=8), "simple")
    assert plan.count("Exchange") == 1


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """partitionBy layout + equality filter: the scan must carry the
    predicate as a PartitionFilter (pruned at planning, files never
    listed), not as a post-scan row filter."""
    import __spark_entry__ as em
    from kafka_custom_transforms_spark.plans.explain import plan_str

    out = em.queries()["partitioned_source_prune"](spark, sf_dir)
    plan = plan_str(out)
    assert "PartitionFilters" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("purchase" in l for l in pf_lines)


def test_q6_pushes_all_filters_and_prunes(spark, sf_dir):
    """TPC-H Q6 shape: both shipdate bounds, the discount band, and the
    quantity cap must ALL reach the parquet scan as PushedFilters, and the
    scan must read exactly the 4 referenced columns."""
    q = entry_mod.queries()["q6_forecast_revenue"](spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(q, col), col
    assert set(scan_read_schema(q)) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_line_dedup_exactly_two_shuffles(spark, sf_dir):
    """Global line dedup must cost exactly two shuffles (window on line,
    reassembly on id) — no join-back, no global sort."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["dedup_lines_global"](spark, sf_dir)
    # simple mode: one line per operator (formatted repeats each Exchange
    # in the details section)
    assert plan_str(q, "simple").count("Exchange") == 2


def test_bloom_decontaminate_broadcasts_filter(spark, sf_dir):
    """Both Bloom probes (set-bit build is tiny, <= m_bits rows) must join
    as broadcasts; the corpus side must never enter a cartesian."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["decontaminate_bloom"](spark, sf_dir)
    plan = plan_str(q, "simple")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shuffle_shards_no_global_sort(spark, sf_dir):
    """The deterministic training shuffle must sort per shard (window
    partitioned by shard), never globally: no rangepartitioning exchange."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["global_shuffle_shards"](spark, sf_dir)
    assert "rangepartitioning" not in plan_str(q, "simple").lower()


def test_q10_broadcasts_dims_and_two_phase_topk(spark, sf_dir):
    """Q10: customer and nation must broadcast (only the orders join
    shuffles) and the top-20 must compile to TakeOrderedAndProject."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["q10_returned_items"](spark, sf_dir)
    assert broadcast_join_count(q) >= 2
    assert "TakeOrderedAndProject" in plan_str(q)


def test_orders_bulk_semi_is_semi_join(spark, sf_dir):
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["orders_bulk_semi"](spark, sf_dir)
    assert "LeftSemi" in plan_str(q, "simple")


def test_resolve_survivors_is_anti_join(spark, sf_dir):
    """Survivor resolution must end in a left-anti join of the corpus
    against the (small) loser set — never a full-table join or cartesian."""
    from kafka_custom_transforms_spark.operators import clusters
    from kafka_custom_transforms_spark.plans.explain import plan_str

    docs = load_table(spark, sf_dir, "documents")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id long, b_id long")
    plan = plan_str(clusters.resolve_survivors(docs, pairs), "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q4_semi_join_pushes_quarter_filter(spark, sf_dir):
    """Q4: EXISTS compiles to a LeftSemi join (orders never duplicated by
    late-line multiplicity) and the quarter filter reaches the orders scan."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["q4_late_orders"](spark, sf_dir)
    p = plan_str(q, "simple")
    assert "LeftSemi" in p
    assert has_pushed_filter(q, "o_orderdate")


def test_q7_q8_broadcast_all_dims(spark, sf_dir):
    """Q7/Q8: both nation roles, supplier, and region broadcast — only the
    orders/customer joins may shuffle; never a cartesian despite the
    disjunctive nation-pair filter."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q7 = entry_mod.queries()["q7_nation_volume"](spark, sf_dir)
    assert broadcast_join_count(q7) >= 3
    assert "CartesianProduct" not in plan_str(q7, "simple")
    q8 = entry_mod.queries()["q8_market_share"](spark, sf_dir)
    assert broadcast_join_count(q8) >= 4
    assert "CartesianProduct" not in plan_str(q8, "simple")


def test_q14_q19_broadcast_part_and_push_dates(spark, sf_dir):
    """Q14/Q19: part broadcasts (never shuffles the fact table on partkey)
    and Q14's month bounds reach the lineitem scan."""
    q14 = entry_mod.queries()["q14_promo_revenue"](spark, sf_dir)
    assert broadcast_join_count(q14) >= 1
    assert has_pushed_filter(q14, "l_shipdate")
    q19 = entry_mod.queries()["q19_disjunctive_revenue"](spark, sf_dir)
    assert broadcast_join_count(q19) >= 1
    from kafka_custom_transforms_spark.plans.explain import plan_str

    assert "CartesianProduct" not in plan_str(q19, "simple")


def test_q18_two_phase_top100_no_window(spark, sf_dir):
    """Q18: the top-100 must be TakeOrderedAndProject (partial per-partition
    top-k, no global sort) and no window function over the fact table."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["q18_large_orders"](spark, sf_dir)
    p = plan_str(q, "simple")
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_q22_anti_join_no_cartesian_fact(spark, sf_dir):
    """Q22: the scalar threshold joins as a broadcast 1-row nested loop
    (legal); the orders exclusion must be a LeftAnti equi join and the plan
    must contain no CartesianProduct."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["q22_idle_balances"](spark, sf_dir)
    p = plan_str(q, "simple")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_lateral_join_decorrelates_to_window(spark, sf_dir):
    """lateralJoin's correlated LIMIT subquery must decorrelate into a
    single ranked window over one shuffle — NOT a per-outer-row re-scan
    (the plan would show a nested loop over orders otherwise)."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["lateral_top_orders"](spark, sf_dir)
    p = plan_str(q, "simple")
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_recursive_cte_compiles_to_union_loop(spark, sf_dir):
    """WITH RECURSIVE compiles to Spark's native UnionLoop execution (each
    step a distributed join), not a driver-side collect loop."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["docs_tree_rollup"](spark, sf_dir)
    assert "UnionLoop" in plan_str(q, "simple")


def test_sketch_aggs_have_map_side_partials(spark, sf_dir):
    """Sketch aggregation must show partial (map-side) aggregation — the
    whole point of sketches at 100 TB is constant-size mergeable partials
    crossing the shuffle, not raw rows."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["sketch_distinct_users"](spark, sf_dir)
    p = plan_str(q, "formatted")
    assert "partial_hll_sketch_agg" in p or "partial hll_sketch_agg" in p or (
        "hll_sketch_agg" in p and "Partial" in p
    )


def test_funnel_single_shuffle_no_window(spark, sf_dir):
    """The funnel fold must be one aggregation pass: no Window, no joins,
    exactly the per-user shuffle."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["funnel_stages"](spark, sf_dir)
    p = plan_str(q, "simple")
    assert "Window" not in p
    assert "Join" not in p
    assert shuffle_count(q) <= 2  # partial/final agg exchange only


def test_sketch_churn_broadcasts_one_row_estimate(spark, sf_dir):
    """Exact side and sketch side combine via a broadcast of the 1-row
    estimate — never a shuffle of either aggregate."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["sketch_user_churn"](spark, sf_dir)
    p = plan_str(q, "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """When a shuffle join has a selective build side, Spark must inject a
    runtime Bloom filter on the probe side (bloom_filter_might_contain in
    the plan) — at 100 TB this prunes most probe rows BEFORE the shuffle.
    Local-test thresholds are lowered only inside this test; the defaults
    already inject at cluster scan sizes."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 7)
        q = (
            li.join(part, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .count()
        )
        assert "might_contain" in plan_str(q, "formatted")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_salted_join_keys_matches_plain_join(spark):
    """Manual skew-salting (the AQE-off fallback): joining on
    (key, _salt) after salting both sides must reproduce the plain
    equi-join exactly — every salted key finds its exploded match."""
    from kafka_custom_transforms_spark.functions.skew import salted_join_keys

    left = spark.createDataFrame(
        [(1, i) for i in range(200)] + [(2, 900), (3, 901)], "k long, v long"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "a"), (4, "c")], "k long, name string")
    ls = salted_join_keys(left, "k", 8, explode_side=False)
    rs = salted_join_keys(right, "k", 8, explode_side=True)
    salted = ls.join(rs, ["k", "_salt"]).select("k", "v", "name")
    plain = left.join(right, "k").select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_minhash_signature_map_is_shuffle_free(spark, sf_dir):
    """The Arrow map signature form must plan with ZERO exchanges — that
    (plus skipping the interpreted 128-min aggregate) is its reason to
    exist. The agg form it replaces plans one hash shuffle on id."""
    from kafka_custom_transforms_spark.functions import texthash
    from kafka_custom_transforms_spark.functions.texthash import tokens, word_shingles

    # Raw shingle sets WITHOUT the shingle pipeline's fan-out repartition,
    # so the count isolates what the signature stage itself adds (in
    # minhash_lsh_pairs the sets are localCheckpoint-materialized before
    # the signature, so this is exactly the incremental cost there).
    docs = load_table(spark, sf_dir, "documents")
    sets = docs.select(
        F.col("doc_id").alias("id"), word_shingles(tokens(F.col("text")), 3).alias("sh")
    )
    perms = texthash.minhash_perms(128)
    base = shuffle_count(sets)
    assert shuffle_count(texthash.minhash_signature_map(sets, perms)) == base
    # the agg form shuffles on id (plan_str may print an Exchange more
    # than once across AQE sections — pin 'more than base', not a count)
    assert shuffle_count(texthash.minhash_signature_agg(sets, perms)) > base


def test_skew_join_salted_plan_shape(spark, sf_dir):
    """The skew_join_salted registry row must stay a REAL salted shuffle
    join: a ShuffledHashJoin on (event_type, _salt), the build side's salt
    expansion visible as an explode Generate, and NO broadcast join — that
    is the entire point of the row (5 hot keys would otherwise serialize
    on ≤5 reducers, and a broadcast would bypass the demonstration)."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q = entry_mod.queries()["skew_join_salted"](spark, sf_dir)
    p = plan_str(q, "formatted")
    assert "ShuffledHashJoin" in p, p
    assert "explode" in p and "_salt" in p, p
    assert "BroadcastHashJoin" not in p, p


def test_skew_join_aqe_splits_at_runtime(spark, sf_dir):
    """The r9 complement of the manual salting row: AQE must actually
    SPLIT the hot partition at runtime — SortMergeJoin(skew=true) with an
    AQEShuffleRead skewed reader in the executed plan. THIS test is the
    hard pin (r10): the registry row walks a threshold ladder and merely
    warns when AQE declines, so correctness runs stay
    environment-insensitive — a silent loss of the mechanism in THIS
    environment fails here instead."""
    from kafka_custom_transforms_spark.functions.skew import aqe_split_skew_join
    from kafka_custom_transforms_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 100 < 97, F.lit(0).cast("long"))
        .otherwise(F.col("user_id") % 100)
        .alias("skew_key"),
        F.xxhash64("event_id").alias("entropy"),
    ).repartition(32, "event_id")
    dim = (
        ev.groupBy("skew_key").agg(F.count(F.lit(1)).alias("n_key"))
        .localCheckpoint(eager=True)
    )
    out = aqe_split_skew_join(
        spark, ev, dim, "skew_key", threshold_bytes=2048, advisory_bytes=1024
    )
    assert "skew=true" in out.aqe_executed_plan
    assert "AQEShuffleRead skewed" in out.aqe_executed_plan
    assert out.count() == ev.count()  # split is semantics-neutral


def test_bloom_join_injects_runtime_filter(spark, sf_dir):
    """The bloom_join_parts row must run with might_contain planted on
    the fact side (InjectRuntimeFilter). THIS test is the hard pin (r10):
    it calls the operator with the default require_injection=True, which
    raises on non-injection; the registry row passes
    require_injection=False + a zero-threshold retry so correctness runs
    degrade to the plain join instead of aborting."""
    from kafka_custom_transforms_spark.operators.joins import bloom_filtered_join
    from kafka_custom_transforms_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1).select(
        "p_partkey"
    )
    out = bloom_filtered_join(spark, li, part, "l_partkey", "p_partkey")
    assert "bloom_filter_agg" in out.bloom_optimized_plan
    assert "might_contain" in out.bloom_optimized_plan
    assert out.count() > 0


def test_aqe_skew_join_without_split_is_still_correct(spark, sf_dir):
    """The degradation contract behind the r10 threshold ladder: with
    thresholds AQE can never meet (1 GB), the helper executes the plain
    unsplit join — same row count as the split run, no exception. The
    registry row's ladder falls through to exactly this plan when every
    rung is declined."""
    from kafka_custom_transforms_spark.functions.skew import aqe_split_skew_join
    from kafka_custom_transforms_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 100 < 97, F.lit(0).cast("long"))
        .otherwise(F.col("user_id") % 100)
        .alias("skew_key"),
    ).repartition(8, "event_id")
    dim = (
        ev.groupBy("skew_key").agg(F.count(F.lit(1)).alias("n_key"))
        .localCheckpoint(eager=True)
    )
    out = aqe_split_skew_join(
        spark, ev, dim, "skew_key",
        threshold_bytes=1 << 30, advisory_bytes=1 << 29,
    )
    assert "skew=true" not in out.aqe_executed_plan
    assert out.count() == ev.count()


def test_bloom_join_degrades_with_warning_when_declined(spark, sf_dir):
    """The r10 correctness-path mode: with require_injection=False and a
    threshold Catalyst must decline (10TB scan floor), the operator warns,
    reports bloom_injected=False, and still returns the correct plain
    join — it must NOT raise. With the default require_injection=True the
    same decline raises (the regression pin above)."""
    import warnings

    from kafka_custom_transforms_spark.operators.joins import bloom_filtered_join
    from kafka_custom_transforms_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1).select(
        "p_partkey"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = bloom_filtered_join(
            spark, li, part, "l_partkey", "p_partkey",
            app_scan_threshold="10TB", require_injection=False,
        )
    assert out.bloom_injected is False
    assert any("bloom" in str(w.message) for w in caught)
    ref = li.join(part, li["l_partkey"] == part["p_partkey"]).count()
    assert out.count() == ref
    with pytest.raises(AssertionError, match="not injected"):
        bloom_filtered_join(
            spark, li, part, "l_partkey", "p_partkey", app_scan_threshold="10TB"
        )


def test_no_query_plan_contains_cartesian_product(spark, sf_dir):
    """Registry-wide anti-pattern guard: NO driver-contract query may plan
    a CartesianProduct. BroadcastNestedLoopJoin is allowed only because
    every occurrence broadcasts a certified-tiny side (query sets,
    centroids, 1-row scalar aggregates) — the whitelist below names them
    so a new unbounded-BNLJ query fails review here. Streaming/staged
    queries execute on construction and are audited by their own tests."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    BNLJ_OK = {
        "dedup_semantic", "importance_score_docs", "knn_label_vote",
        "similarity_topk", "similarity_topk_lsh", "similarity_topk_ivf",
        "q22_idle_balances", "sketch_distinct_users", "sketch_user_churn",
        "sketch_merge_daily", "lateral_top_orders", "user_activity_similarity",
        "ntile_customer_quartiles", "approx_quantile_orders",
        "dedup_embedding_cosine", "pipeline_entity_resolution",
        "pipeline_training_batches", "dedup_clusters", "dedup_survivors",
        # q11: the global-revenue scalar (one aggregate row) cross-joined
        # into the per-part HAVING compare — bounded by construction
        "q11_top_part_value",
        # triangle stats: three 1-row aggregates cross-joined into the
        # single summary row — bounded by construction
        "graph_triangles_cosupplier",
        # tablesample invariants: four 1-row aggregates (total, sample
        # size, subset check, repeat check) cross-joined into the single
        # summary row — bounded by construction
        "tablesample_orders",
    }
    SKIP = {
        n
        for n in entry_mod.queries()
        if n.startswith("stream")
        or n in (
            "statestore_read_counts", "events_sessionize_stream",
            "kafka_roundtrip", "python_source_envelope", "dedup_streaming_batch",
        )
    }
    offenders = []
    for name, fn in entry_mod.queries().items():
        if name in SKIP:
            continue
        p = plan_str(fn(spark, sf_dir), "simple")
        if "CartesianProduct" in p:
            offenders.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in p and name not in BNLJ_OK:
            offenders.append((name, "unwhitelisted BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_q13_q15_q16_plan_shapes(spark, sf_dir):
    """Q13: LEFT OUTER preserved (zero-order customers survive). Q15: the
    max joins back as a broadcast, no global sort. Q16: COUNT DISTINCT
    expands to a two-phase aggregate, not a per-group collect."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q13 = plan_str(entry_mod.queries()["q13_order_distribution"](spark, sf_dir), "simple")
    assert "LeftOuter" in q13
    q15 = entry_mod.queries()["q15_top_supplier"](spark, sf_dir)
    p15 = plan_str(q15, "simple")
    assert broadcast_join_count(q15) >= 1
    assert "Sort [rev_dec" not in p15  # filter against the max, never a global sort
    q16 = plan_str(entry_mod.queries()["q16_supplier_variety"](spark, sf_dir), "formatted")
    assert "count(distinct" in q16 or "count(l_suppkey" in q16  # expanded 2-phase distinct


def test_q21_q9_plan_shapes(spark, sf_dir):
    """Q21: the EXISTS/NOT-EXISTS pair must plan as LEFT SEMI + LEFT ANTI
    joins (equi on the order key with an inequality residual), never a
    cartesian. Q9: all three dims reach the fact join as broadcasts; the
    only non-broadcast join is lineitem-orders."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    q21 = plan_str(entry_mod.queries()["q21_waiting_suppliers"](spark, sf_dir), "simple")
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    assert "CartesianProduct" not in q21
    q9 = plan_str(entry_mod.queries()["q9_product_profit"](spark, sf_dir), "simple")
    assert q9.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in q9


def test_r12_row_plan_shapes(spark, sf_dir):
    """The four r12 rows' 100 TB-relevant plan properties.

    recursive_cte_doc_depth: executes as native UnionLoop and the
    per-iteration frontier join is an EQUI join on the computed-parent
    key — the naive two-child OR form plans as a nested loop per
    iteration (O(frontier x table)), which is exactly what the rewrite
    removes. approx_topk_event_types / order_stats_lineitem: sketch and
    mode/percentile_disc aggregates run map-side partials below ONE
    exchange (mergeable state, not a per-group collect).
    phrase_index_docs: the adjacency join is an equi join whose keys
    include the position arithmetic ((doc_id, p0+1) = (doc_id, p1)) —
    no nested-loop fallback for the pos+1 condition."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    qs = entry_mod.queries()
    rec = plan_str(qs["recursive_cte_doc_depth"](spark, sf_dir), "simple")
    assert "UnionLoop" in rec
    assert "NestedLoop" not in rec and "CartesianProduct" not in rec
    assert "FLOOR" in rec  # the computed-parent equi key reached the join

    tk = plan_str(qs["approx_topk_event_types"](spark, sf_dir), "simple")
    assert "partial_approx_top_k" in tk

    osp = plan_str(qs["order_stats_lineitem"](spark, sf_dir), "simple")
    assert "partial_mode" in osp and "partial_percentile_disc" in osp
    assert shuffle_count(qs["order_stats_lineitem"](spark, sf_dir)) <= 2

    ph = plan_str(qs["phrase_index_docs"](spark, sf_dir), "simple")
    assert "NestedLoop" not in ph and "CartesianProduct" not in ph
    assert "(p0" in ph and "+ 1)" in ph  # pos arithmetic is a JOIN KEY


def test_r13_row_plan_shapes(spark, sf_dir):
    """The four r13 rows' 100 TB-relevant plan properties — each is ONE
    partial/final aggregate pair around a single exchange.

    percentile_cont_lineitem: the interpolated-percentile aggregate runs
    map-side partials (partial_percentile) below the group-key exchange —
    per-group local state, not a per-group collect. ols_quantity_price:
    the five sufficient statistics are partial_sum/partial_count partials
    and the scan reads ONLY the three referenced columns (the closed form
    lives in a post-aggregation Project). url_parse_events /
    str_to_map_props: pure per-row expression pipelines (parse_url /
    str_to_map never force a Python stage) into one aggregate exchange."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    qs = entry_mod.queries()

    # shuffle_count reads the formatted plan, which prints each Exchange
    # twice (tree + detail) — "== 2" pins exactly ONE exchange.
    pc = qs["percentile_cont_lineitem"](spark, sf_dir)
    p = plan_str(pc, "simple")
    assert "partial_percentile" in p
    assert shuffle_count(pc) == 2

    ols = qs["ols_quantity_price"](spark, sf_dir)
    p = plan_str(ols, "simple")
    assert "partial_sum" in p and "partial_count" in p
    assert shuffle_count(ols) == 2
    # column pruning reached the scan: only the 3 referenced columns
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>" in p

    url = qs["url_parse_events"](spark, sf_dir)
    p = plan_str(url, "simple")
    assert "partial_min" in p and "partial_count" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert shuffle_count(url) == 2

    stm = qs["str_to_map_props"](spark, sf_dir)
    p = plan_str(stm, "simple")
    assert "partial_sum" in p and "str_to_map" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert shuffle_count(stm) == 2


def test_r14_row_plan_shapes(spark, sf_dir):
    """The four r14 rows' 100 TB-relevant plan properties.

    ts_pattern_similarity: the 24-bin profile is ONE partial/final
    aggregate pair around a single user_id exchange (no pivot, no
    collect), and the global top-20 is TakeOrderedAndProject — a
    driver-bounded per-partition top-k merge, never a global sort.
    variant_explode_props: the VARIANT TVF is a per-row Generate feeding
    partial aggregates — no Python stage, one exchange, and the
    event_id filter reaches the scan. try_arithmetic_orders: the try_*
    family stays pure codegen (no Python stage) into one aggregate
    exchange. setops_all_lineitems: EXCEPT ALL / INTERSECT ALL compile
    to the union + signed-count + replicaterows shape (aggregate-based
    bag semantics — never a sort, never a nested loop), with the
    returnflag filters pushed to the parquet scan."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    qs = entry_mod.queries()

    ts = qs["ts_pattern_similarity"](spark, sf_dir)
    p = plan_str(ts, "simple")
    assert "TakeOrderedAndProject" in p
    assert "partial_sum" in p
    assert "Sort " not in p  # top-k must not plan a global sort
    assert shuffle_count(ts) == 2  # formatted plan prints each Exchange twice

    ve = qs["variant_explode_props"](spark, sf_dir)
    p = plan_str(ve, "simple")
    assert "variant_explode" in p and "Generate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert shuffle_count(ve) == 2

    ta = qs["try_arithmetic_orders"](spark, sf_dir)
    p = plan_str(ta, "simple")
    assert "partial_sum" in p and "try_to_number" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert shuffle_count(ta) == 2

    so = qs["setops_all_lineitems"](spark, sf_dir)
    p = plan_str(so, "simple")
    assert "replicaterows" in p  # the aggregate-based EXCEPT/INTERSECT ALL shape
    assert "Union" in p
    assert "SortMergeJoin" not in p and "Sort " not in p
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in p


def test_r15_row_plan_shapes(spark, sf_dir):
    """The four r15 rows' 100 TB-relevant plan properties.

    bitmap_gsets_distinct: the finest bitmap partials are materialized
    ONCE (localCheckpoint) and every grouping-set level reads them —
    zero FileScans survive in the merge plan (the base table is scanned
    exactly once, inside the checkpoint), no EXPAND (the stock GROUPING
    SETS shape would replicate the scan per level), and the merge
    branches carry bitmap_or_agg partials. lateral_alias_chain: the
    three-deep alias chain is pure post-aggregation projection around
    ONE partial/final aggregate exchange. geo_grid_rollup: two
    exchanges — the fine (cell1, cell2) pass over base rows, then a
    cell-count-bounded re-aggregation keyed on cell1 alone over the
    res-2 partials (partial_sum present at both levels). activity_streaks:
    the distinct-days exchange is map-side-combined BEFORE the shuffle
    (partial distinct collapses same-(user, day) events), the window
    runs on the user_id exchange, and BOTH downstream aggregations
    reuse that partitioning (hash(user_id) satisfies the clustered
    distribution of (user_id, isl) and (user_id)) — exactly two
    exchanges, no more."""
    from kafka_custom_transforms_spark.plans.explain import plan_str

    qs = entry_mod.queries()

    bg = qs["bitmap_gsets_distinct"](spark, sf_dir)
    p = plan_str(bg, "simple")
    assert "bitmap_or_agg" in p          # coarse levels merge partials
    assert "bitmapCount" in p
    assert "FileScan" not in p           # base scanned once, inside the checkpoint
    assert "Expand" not in p             # not the GROUPING SETS expand shape
    assert "Union" in p

    lc = qs["lateral_alias_chain"](spark, sf_dir)
    p = plan_str(lc, "simple")
    assert "partial_count" in p and "partial_sum" in p
    assert shuffle_count(lc) == 2  # formatted plan prints each Exchange twice

    gg = qs["geo_grid_rollup"](spark, sf_dir)
    p = plan_str(gg, "simple")
    assert shuffle_count(gg) == 4  # two physical exchanges
    assert "hashpartitioning(cell1" in p  # parent level keyed on cell1 alone
    assert p.count("partial_sum") >= 2   # map-side combine at both levels

    st = qs["activity_streaks"](spark, sf_dir)
    p = plan_str(st, "simple")
    assert shuffle_count(st) == 4  # two physical exchanges
    assert "Window" in p
    # the (user_id, isl) and (user_id) aggregations must NOT add
    # exchanges: everything after the user_id exchange is co-partitioned
    tail_after_window = p.split("Window", 1)[1]
    assert "Exchange" in tail_after_window        # the two input exchanges…
    assert "Exchange" not in p.split("Window", 1)[0]  # …none above the window


def test_bench_count_action_is_not_vacuous(spark, sf_dir):
    """r15 measurement audit (guide §1.4): for every bench row timed with
    `.count()`, the count-aggregate plan must retain at least one of the
    full plan's heavy operators (joins / Python stages / generates) —
    otherwise Catalyst has reduced the timed action to a bare row count
    and the bench row measures nothing. Rows where that is unavoidable
    (final left join with unique build key, scalar set-op outputs, a
    pure-projection Arrow encode) are exactly bench.NOOP_SINK_QUERIES,
    which bench.py times with the noop sink instead."""
    import re

    import bench
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.plans.explain import plan_str

    heavy = re.compile(
        r"^\([0-9]+\) (\w*Join\w*|ArrowEvalPython|BatchEvalPython"
        r"|MapInPandas|PythonMapInArrow|MapInArrow|Generate)",
        re.MULTILINE,
    )
    qs = em.queries()
    vacuous = []
    for name in bench.BENCH_QUERIES:
        if name in bench.NOOP_SINK_QUERIES:
            continue
        df = qs[name](spark, sf_dir)
        full_n = len(heavy.findall(plan_str(df)))
        if full_n == 0:
            continue  # nothing heavy to lose (pure scan/agg rows)
        count_n = len(heavy.findall(plan_str(df.agg(F.count(F.lit(1)).alias("n")))))
        if count_n == 0:
            vacuous.append(name)
    assert not vacuous, (
        "count() eliminates every heavy operator for these bench rows — "
        f"time them with the noop sink (bench.NOOP_SINK_QUERIES): {vacuous}"
    )

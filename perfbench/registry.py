"""The ``registry_sf0.1`` workload: registry rows built through
``__spark_entry__.queries()`` and materialized the way ``bench.py`` does,
on seeded sf0.1 tables.

The rows and the action come from ``bench.py`` (imported, never run: its
``main()`` rewrites tracked files). A run measures a fixed subset of its
engine rows, so that several passes fit in one run; the seed shuffles the
row order of every pass and picks the rows checked against the oracle.
"""

from __future__ import annotations

import random
import time

import bench
import duckdb
from parity_common import TABLES, normalize

import __spark_entry__ as entry
from kafka_custom_transforms_spark.operators import dedup
from kafka_custom_transforms_spark.sources.tables import load_table
from perfbench import common

SF = 0.1
# Engine rows, one per layer: two SMT rows, scan+aggregate, exact and
# SimHash dedup, and an Arrow-UDF row that bench.py times through the noop
# sink (its count plan drops the UDF).
ROWS = (
    "smt_chain_envelope",
    "smt_drop_struct",
    "q1_pricing_summary",
    "dedup_exact",
    "dedup_simhash",
    "tokenize_bpe_docs",
)
for _name in ROWS:
    if _name not in bench.ENGINE_QUERIES:
        raise RuntimeError(f"{_name} is not a bench.py engine row")
# Rows compared with their DuckDB oracle in each run (a seeded sample).
CHECKED_PER_RUN = 2


def stage_inputs(spark, generated: str, directory: str) -> None:
    """Links the generated tables into ``directory`` and loads each through
    ``load_table``, which reads its footer for the schema (the path is
    new, so the library's schema cache misses)."""
    common.link_tree(generated, directory)
    for t in TABLES:
        load_table(spark, directory, t)


def run_pass(spark, data_dir: str, order: list[str], tracer, probe: bool = False,
             collect: tuple[str, ...] = ()) -> tuple[dict[str, float], dict[str, float], dict]:
    """One pass over ``order``; returns each row's wall time, the
    hypervisor steal (cores) during it, and the result of each row in
    ``collect``, which that pass collects instead of materializing. With ``probe`` each row is split into build, Catalyst
    and action, and its jobs are counted through a job group."""
    queries = entry.queries()
    times, steals, results = {}, {}, {}
    for name in order:
        group = f"row-{name}-{time.perf_counter_ns()}"
        if probe:
            spark.sparkContext.setJobGroup(group, name)
        mark = common.steal_mark()
        t0 = time.perf_counter()
        with tracer.span("registry.row", row=name) as attrs:
            with tracer.span("registry.build"):
                df = queries[name](spark, data_dir)
            if probe:
                attrs["build_jobs"] = common.group_counts(spark, group).jobs
                with tracer.span("catalyst"):
                    attrs.update(common.catalyst_ms(spark, df))
            with tracer.span("registry.action"):
                if name in collect:
                    results[name] = df.toPandas()
                else:
                    bench._materialize(df, name)
        times[name] = time.perf_counter() - t0
        steals[name] = common.steal_since(mark)
        if probe:
            counts = common.group_counts(spark, group)
            attrs.update(jobs=counts.jobs, stages=counts.stages, tasks=counts.tasks)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return times, steals, results


def check_rows(data_dir: str, results: dict) -> int:
    """Compares collected rows with their ``oracle_sql()`` result through
    DuckDB, normalized the way the repository's parity gate does; returns
    the number that differ."""
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"create view {t} as select * from read_parquet('{data_dir}/{t}.parquet')")
        wrong = 0
        for name, got in results.items():
            want = con.execute(oracles[name]).df()
            same = (
                sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and normalize(got).equals(normalize(want))
            )
            wrong += not same
        return wrong
    finally:
        con.close()


def shuffled(seed: int, pass_no: int) -> list[str]:
    order = list(ROWS)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order


def job_floor_s(spark) -> float:
    t0 = time.perf_counter()
    spark.range(1).count()
    return time.perf_counter() - t0


# bench.py's SMT rows, and the expressions the SMT operators plan into.
SMT_ROWS = ("smt_chain_envelope", "smt_drop_struct", "smt_hoist_struct")
SMT_EXPRS = {
    "JsonToStructs", "StructsToJson", "CreateNamedStruct", "CreateMap", "Concat",
    "MapFilter", "TransformValues", "PythonUDF",
}


def smt_plan_exprs(spark, data_dir: str) -> dict[str, float]:
    """SMT expressions in the physical plans of bench.py's SMT rows: the
    plan its ``.count()`` action runs, and the plan of the row itself."""
    from pyspark.sql import functions as F

    count_plan = full_plan = 0
    for name in SMT_ROWS:
        df = entry.queries()[name](spark, data_dir)
        counted = df.select(F.count(F.lit(1)))
        count_plan += common.count_expr(counted._jdf.queryExecution().executedPlan(), SMT_EXPRS)
        full_plan += common.count_expr(df._jdf.queryExecution().executedPlan(), SMT_EXPRS)
    return {"registry.smt_count_plan_exprs": float(count_plan), "registry.smt_full_plan_exprs": float(full_plan)}


def stage_split(spark, data_dir: str, tracer) -> dict[str, float]:
    """The SimHash signature stage alone (``shingle_sets`` then
    ``simhash_signatures_wide``, noop sink) against the whole pair operator
    on the same route, each timed on its second run, with the pair plan's
    shuffle and Python counters. Both use the JVM shingler, the route whose
    stages are public functions, over the first fifth of the documents
    (the whole corpus takes over 20 s on that route)."""
    docs = load_table(spark, data_dir, "documents")
    docs = docs.filter(docs.doc_id < docs.count() // 5)

    def signatures():
        sets = dedup.shingle_sets(docs, "doc_id", "text", 3, shingler="jvm")
        dedup.simhash_signatures_wide(sets).write.format("noop").mode("overwrite").save()

    def pairs():
        return common.run_plan(
            dedup.simhash_pairs_wide(docs, shingle_k=3, max_hamming=15, chunks=16, shingler="jvm")
        )

    out = {}
    for name, fn in (("dedup.signature", signatures), ("dedup.pairs", pairs)):
        fn()
        with tracer.span(name):
            t0 = time.perf_counter()
            plan = fn()
            out[name + "_s"] = time.perf_counter() - t0
    out.update(common.shuffle_io(spark, plan))
    out.update(common.python_io(spark, plan))
    return out

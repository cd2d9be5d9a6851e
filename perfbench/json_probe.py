#!/usr/bin/env python3
"""Times the SMT chain on a million JSON values, once with ``json_schema``
(``from_json`` / ``to_json`` in the JVM) and once without (the Arrow pandas
UDFs), over the same parquet input.

    python3 perfbench/json_probe.py [--records 1000000] [--seed 1] [--out FILE]

Run it from the repository root. It is not a benchmark workload: one
probe takes a few minutes, longer than a benchmark run may. For each path it
reports the time ``drop_fields`` and the whole chain add over a scan-only
pass (best of two executions each, computed to the end as the noop sink
does), the ``JsonToStructs`` nodes in their executed plans, and the
Arrow-UDF traffic. A seeded sample of the two paths' outputs must agree.
Inputs live in a temporary directory under ``.perfbench_tmp/``, removed on
exit; the reading goes to ``--out`` (default: stdout only).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run  # noqa: E402

from perfbench import common, gen, smt  # noqa: E402

PATHS = {"json_schema": (smt.VALUE_DDL, smt.DROPPED_DDL), "json_udf": (None, None)}


def chain_steps(schemas):
    from kafka_custom_transforms_spark import drop_fields, hoist_field, to_json_string

    value, dropped = schemas
    return [
        drop_fields(smt.DROP, target="value", json_schema=value),
        hoist_field(smt.FIELD, keep_in_root=smt.KEEP, target="value", json_schema=dropped),
        to_json_string(target="value"),
    ]


def best_of_two(df) -> tuple[float, object]:
    times, plan = [], None
    for _ in range(2):
        t0 = time.perf_counter()
        plan = common.run_plan(df)
        times.append(time.perf_counter() - t0)
    return min(times), plan


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--records", type=int, default=1_000_000)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--files", type=int, default=2 * (os.cpu_count() or 4))
    p.add_argument("--out")
    args = p.parse_args(argv)
    run.check_repository()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="probe-", dir=tmp_root)
    run.environment(work)
    try:
        block = gen.smt_block(args.seed, args.records)
        block["repr"][:] = gen.REPRS.index("json_schema")
        src = os.path.join(work, "values")
        os.makedirs(src)
        for i, data in enumerate(smt.split_files(block, args.files)):
            with open(os.path.join(src, f"{i:03d}.parquet"), "wb") as f:
                f.write(data)
        spark = run.start_session(work)
        from pyspark.sql import functions as F

        base = (
            spark.read.schema(smt.SOURCE_DDL).parquet(src)
            .select("offset", F.col("v_json_schema").alias("value"))
        )
        scan, _ = best_of_two(base)
        reading = {"records": args.records, "files": args.files, "seed": args.seed,
                   "parallelism": spark.sparkContext.defaultParallelism, "scan_s": scan}
        sample = {}
        for path, schemas in PATHS.items():
            drop, hoist, to_json = chain_steps(schemas)
            dropped = drop(base)
            chained = to_json(hoist(dropped))
            t_drop, plan_drop = best_of_two(dropped)
            t_chain, plan_chain = best_of_two(chained)
            reading[path] = {
                "drop_s": t_drop - scan,
                "chain_s": t_chain - scan,
                "json_parses.drop": common.count_expr(plan_drop, {"JsonToStructs"}),
                "json_parses.chain": common.count_expr(plan_chain, {"JsonToStructs"}),
                **common.python_io(spark, plan_chain),
            }
            rows = chained.filter(F.col("offset") % 997 == args.seed % 997).collect()
            sample[path] = {r["offset"]: json.loads(r["value"]) for r in rows}
        reading["sample_checked"] = len(sample["json_udf"])
        reading["sample_wrong"] = sum(
            sample["json_schema"].get(k) != v for k, v in sample["json_udf"].items()
        )
        text = json.dumps(reading, indent=1)
        print(text)
        if args.out:
            with open(args.out, "w") as f:
                f.write(text + "\n")
        return 0 if reading["sample_wrong"] == 0 and reading["sample_checked"] > 0 else 1
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(tmp_root)  # only when no other run is using it


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

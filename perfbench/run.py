#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload smt_drain --seed 1 --seconds 15 --trace 0

Workloads: ``smt_drain`` (see ``perfbench/smt.py``) and ``registry_sf0.1``
(see ``perfbench/registry.py``). The seed drives every generated input. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs the same workload with spans and per-layer probes and prints the
per-layer metrics, writing the spans to ``perfbench/out/``.

Run it from the repository root: it imports the package, ``bench.py`` and
``tools/parity_common.py`` from there. Everything it writes goes to a
temporary directory under ``.perfbench_tmp/`` (removed on exit) and, for
traced runs, ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

# Warm set-ups per run, after the cold one; setup_s is their median.
SETUPS = 3
# Untimed drains before measuring. Every micro-batch plans and compiles
# its code afresh, and the JIT keeps compiling for the first five or six
# drains (the drain wall falls by a third over them); the measured drains
# start where it has levelled off.
DRAIN_WARMUPS = 6
# Untimed registry passes before measuring.
PASS_WARMUPS = 3
# A timed drain or pass during which hypervisor steal reached this many
# cores is left out of the reported median (see common.steady_median).
STEAL_GATE = 0.25

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_repository() -> None:
    """The benchmark measures the repository it sits in; without it there
    is nothing to run."""
    for rel in ("kafka_custom_transforms_spark/__init__.py", "__spark_entry__.py", "bench.py",
                "tools/parity_common.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}; run from a full checkout")


def environment(work: str) -> None:
    tools = os.path.join(ROOT, "tools")
    sys.path.insert(0, tools)
    # Python workers import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, tools, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = work


def start_session(work: str, cpus: int | None = None):
    from kafka_custom_transforms_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work}"
            ),
            "spark.local.dir": work,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


class Setups:
    """Session start plus input staging. ``generate(dir)`` writes the
    workload's inputs once, untimed. The cold set-up then launches the JVM
    (its session start is ``session.start_s``). Each of ``SETUPS`` warm
    set-ups stops the session, starts a fresh SparkContext in the running
    JVM through ``get_spark``, runs a first job and stages the inputs
    afresh with ``stage(spark, generated, directory)``; ``setup_s`` is
    their median."""

    def __init__(self, work: str, generate, stage) -> None:
        generated = os.path.join(work, "generated")
        t0 = time.perf_counter()
        self.inputs = generate(generated)
        self.gen_s = time.perf_counter() - t0
        self.times: list[float] = []
        spark, directory = None, None
        for i in range(SETUPS + 1):
            if spark is not None:
                spark.stop()
                shutil.rmtree(directory, ignore_errors=True)
            t0 = time.perf_counter()
            spark = start_session(work)
            if i == 0:
                self.session_start_s = time.perf_counter() - t0
            directory = os.path.join(work, f"input{i}")
            stage(spark, generated, directory)
            if i > 0:
                self.times.append(time.perf_counter() - t0)
        self.spark = spark
        self.directory = directory
        self.done_s = time.perf_counter() - T_PROCESS
        self.gc0 = common.gc_ms(spark)

    def finish(self, res: dict) -> dict:
        """Records GC time and parallelism at the end of the measured part,
        before any probe that changes the session."""
        res["gc_ms"] = common.gc_ms(self.spark) - self.gc0
        res["parallelism"] = self.spark.sparkContext.defaultParallelism
        return res

    @property
    def median_s(self) -> float:
        return common.median(self.times)


# ------------------------------------------------------------- workloads

def run_smt_drain(args, work, tracer) -> dict:
    import numpy as np

    from perfbench import smt

    n_files = 3 * (os.cpu_count() or 4)

    def generate(d):
        return smt.stage_drain(args.seed, d, n_files)

    setups = Setups(work, generate, smt.stage_inputs)
    spark = setups.spark
    src = os.path.join(setups.directory, "backlog")
    out = os.path.join(work, "drain_out")
    for _ in range(DRAIN_WARMUPS):
        smt.drain_once(spark, src, out, n_files)
    walls: list[float] = []
    steals: list[float] = []
    batches: list[dict] = []
    block = setups.inputs
    records = len(block["offset"])
    missing = 0
    t_end = time.perf_counter() + args.seconds
    # At least three drains.
    while len(walls) < 3 or time.perf_counter() < t_end:
        mark = common.steal_mark()
        with tracer.span("smt.drain"):
            wall, rep_batches = smt.drain_once(spark, src, out, n_files)
        steals.append(common.steal_since(mark))
        walls.append(wall)
        batches.extend(rep_batches)
        missing += abs(records - sum(int(b["numInputRows"]) for b in rep_batches))
    res = setups.finish({})
    sample = np.random.default_rng(args.seed).choice(block["offset"], size=4000, replace=False)
    _, wrong = smt.check_sink(os.path.join(out, "sink"), block, sample)
    layers = {"gen.records": float(records), **smt.stream_parts(batches)}
    if tracer.enabled:
        layers.update(drain_layers(spark, work, src, out, tracer))
    return {
        **res,
        "diag": {"gen_s": round(setups.gen_s, 3), "drain_walls_s": [round(w, 3) for w in walls],
                 "drain_steal_cores": [round(x, 2) for x in steals]},
        "setups": setups,
        "attempted": len(walls) * records,
        "failed": wrong + missing,
        "throughput": records / common.steady_median(walls, steals, STEAL_GATE),
        "layers": layers,
    }


def drain_layers(spark, work, src, out, tracer) -> dict[str, float]:
    """Per-layer split of the drain, on a quarter of the backlog: the
    sink's share (parquet drain minus noop drain), a scan-only pass, each
    step's time over its chain prefix, its ``from_json`` count and Python
    traffic, and a single-core drain."""
    import glob

    from perfbench import gen, smt

    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    part = os.path.join(work, "drain_part")
    os.makedirs(part)
    for f in files[: max(len(files) // 4, 1)]:
        os.link(f, os.path.join(part, os.path.basename(f)))
    records = spark.read.parquet(part).count()
    with tracer.span("sink.noop"):
        noop = smt.drain_once(spark, part, out, 1, sink="noop")[0]
    with tracer.span("sink.parquet"):
        parquet = smt.drain_once(spark, part, out, 1)[0]
    layers: dict[str, float] = {"sink.write_s": parquet - noop}
    base = spark.read.schema(smt.SOURCE_DDL).parquet(part).select(*smt.OUT_COLS)
    with tracer.span("sources.scan"):
        scan = min(_timed(lambda: common.run_plan(base))[0] for _ in range(2))
    layers["sources.scan_s"] = scan
    python = {"python.rows_received": 0.0, "python.bytes_sent": 0.0, "python.bytes_received": 0.0}
    for rep in gen.REPRS:
        df, prev, prev_parses = base, scan, 0
        for name, step in zip(smt.STEPS, smt.steps(rep)):
            df = step(df)
            with tracer.span(f"smt.{name}", repr=rep):
                runs = [_timed(lambda: common.run_plan(df)) for _ in range(2)]
            t, plan = min(r[0] for r in runs), runs[-1][1]
            parses = common.count_expr(plan, {"JsonToStructs"})
            layers[f"smt.{name}_s.{rep}"] = t - prev
            layers[f"smt.json_parses.{name}.{rep}"] = float(parses - prev_parses)
            prev, prev_parses = t, parses
        for k, v in common.python_io(spark, plan).items():
            python[k] += v
    layers.update(python)
    with tracer.span("drain.local1"):
        spark.stop()
        single = start_session(work, cpus=1)
        smt.drain_once(single, os.path.join(os.path.dirname(src), "warm"), out, 1)
        wall = smt.drain_once(single, part, out, 1)[0]
        layers["drain.local1_rps"] = records / wall
    return layers


def run_registry(args, work, tracer) -> dict:
    import random

    from perfbench import gen, registry

    def generate(d):
        return gen.registry_tables(args.seed, d, registry.SF)

    setups = Setups(work, generate, registry.stage_inputs)
    spark = setups.spark
    data = setups.directory
    per_row: dict[str, list[float]] = {n: [] for n in registry.ROWS}
    row_steals: dict[str, list[float]] = {n: [] for n in registry.ROWS}
    checked = tuple(random.Random(args.seed).sample(list(registry.ROWS), registry.CHECKED_PER_RUN))
    floors: list[float] = []
    t_end = math.inf
    n = 0
    # The warm-up passes are not counted; the first collects the checked
    # rows. Then passes for ``--seconds``, at least three; in a traced run
    # each is probed.
    while n < PASS_WARMUPS + 3 or time.perf_counter() < t_end:
        probe = tracer.enabled and n >= PASS_WARMUPS
        if tracer.enabled:
            with tracer.span("spark.job_floor"):
                floors.append(registry.job_floor_s(spark))
        with tracer.span("registry.pass") if probe else nullcontext():
            times, steals, results = registry.run_pass(
                spark, data, registry.shuffled(args.seed, n), tracer, probe, checked if n == 0 else ()
            )
        if n == 0:
            wrong = registry.check_rows(data, results)
        if n == PASS_WARMUPS - 1:
            t_end = time.perf_counter() + args.seconds
        if n >= PASS_WARMUPS:
            for name, t in times.items():
                per_row[name].append(t)
                row_steals[name].append(steals[name])
        n += 1
    res = setups.finish({})
    medians = {name: common.median(ts) for name, ts in per_row.items()}
    steady = {name: common.steady_median(per_row[name], row_steals[name], STEAL_GATE) for name in per_row}
    layers = {"registry.engine_total_s": sum(medians.values())}
    if tracer.enabled:
        layers.update(registry_layers(spark, data, tracer))
        layers["spark.job_floor_s"] = common.median(floors)
    return {
        **res,
        "diag": {"gen_s": round(setups.gen_s, 3), "passes": n - PASS_WARMUPS,
                 "row_steal_cores": {k: [round(x, 2) for x in v] for k, v in row_steals.items()},
                 "row_s": {k: [round(x, 3) for x in v] for k, v in per_row.items()}},
        "setups": setups,
        "attempted": sum(len(v) for v in per_row.values()) + len(checked),
        "failed": wrong,
        "throughput": len(registry.ROWS) / sum(steady.values()),
        "layers": layers,
    }


def registry_layers(spark, data, tracer) -> dict[str, float]:
    """Per-row build / Catalyst / action split and job counts of the probed
    passes (medians over passes of each pass's sum), the SMT rows' count
    plans, and the SimHash stage split."""
    from perfbench import registry

    passes = [i for i, s in enumerate(tracer.spans) if s.name == "registry.pass"]
    sums: dict[str, list[float]] = {}
    for p in passes:
        acc: dict[str, float] = {}
        for i, s in enumerate(tracer.spans):
            if s.parent == p and s.name == "registry.row":
                kids = {c.name: c.end - c.start for c in tracer.spans if c.parent == i}
                wall = s.end - s.start
                parts = {
                    "registry.build_s": kids.get("registry.build", 0.0),
                    "catalyst.s": kids.get("catalyst", 0.0),
                    "registry.action_s": kids.get("registry.action", 0.0),
                }
                parts["registry.unattributed_s"] = wall - sum(parts.values())
                parts["registry.build_jobs"] = s.attrs.get("build_jobs", 0)
                for k in ("jobs", "stages", "tasks"):
                    parts[f"spark.{k}"] = s.attrs.get(k, 0)
                for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"):
                    parts[k] = s.attrs.get(k, 0.0)
                for k, v in parts.items():
                    acc[k] = acc.get(k, 0.0) + float(v)
        for k, v in acc.items():
            sums.setdefault(k, []).append(v)
    out = {k: common.median(v) for k, v in sums.items()}
    out.pop("catalyst.s", None)
    with tracer.span("probe.smt_plans"):
        out.update(registry.smt_plan_exprs(spark, data))
    out.update(registry.stage_split(spark, data, tracer))
    return out


# ------------------------------------------------------------------ glue

def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


RUNNERS = {"smt_drain": run_smt_drain, "registry_sf0.1": run_registry}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    check_repository()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    environment(work)
    import bench

    cpu0, wall0 = bench._cpu_probe(), time.time()
    tracer = common.Tracer(run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    try:
        with common.RssSampler() as rss:
            res = RUNNERS[args.workload](args, work, tracer)
        host = common.host_record(cpu0, wall0, res["parallelism"])
        if args.trace:
            measured = {
                "session.start_s": res["setups"].session_start_s,
                "jvm.gc_ms": res["gc_ms"],
                "trace.overhead_s": common.span_cost_s() * len(tracer.spans),
                "trace.spans": float(len(tracer.spans)),
                "host.peak_rss_mb": rss.peak_mb,
                **host,
                **res["layers"],
            }
            write_spans(args, tracer, host, res)
        else:
            measured = {
                "setup_s": res["setups"].median_s,
                "throughput_per_s": res["throughput"],
            }
        # Every metric BENCHMARK.json names for this mode, in its unit; a
        # per-layer metric of a layer this workload does not run reads 0.
        declared = BENCHMARK["per_layer" if args.trace else "end_to_end"]
        metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
        print(
            json.dumps(
                {
                    "workload": args.workload,
                    "cold_session_s": round(res["setups"].session_start_s, 3),
                    "setups_done_at_s": round(res["setups"].done_s, 1),
                    "result_at_s": round(time.perf_counter() - T_PROCESS, 1),
                    "setups_s": [round(t, 3) for t in res["setups"].times],
                    **res.get("diag", {}),
                    **{k: v for k, v in host.items()},
                },
            ),
            file=sys.stderr,
        )
        print(
            json.dumps(
                {
                    "correct": res["failed"] == 0,
                    "attempted": int(res["attempted"]),
                    "failed": int(res["failed"]),
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(tmp_root)  # only when no other run is using it


def stop_spark() -> None:
    """Stops the session, then the JVM it runs in (which takes the Python
    workers with it), and waits for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def write_spans(args, tracer, host, res) -> None:
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(
            {
                "run_id": tracer.run_id,
                "host": host,
                "self_s": tracer.self_times(),
                "layers": res["layers"],
                "spans": tracer.to_json(),
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

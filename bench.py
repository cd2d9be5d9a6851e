#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...} — the NAMED per-query dict the
driver contract specifies, 2-decimal rounded and stripped of host_speed/
foreign-core telemetry so the line fits the driver's tail capture
(measured: exactly the LAST 2000 chars of stdout — BENCH_r12-r14 all
carry len(tail)==2000; r14's 2.9k-char 3-decimal line was beheaded). The
full-precision record with all telemetry is written to bench_full.json
alongside; bless THAT file as BENCH_r{N}_repro.json.

Each query is fully materialized and run ``SAMPLES`` times; the reported
per-query time is the MEDIAN. The action is ``.count()`` (the r1-r15
methodology) except for the five rows in ``NOOP_SINK_QUERIES``, whose
count-plans Catalyst reduces to a bare row count (guide §1.4) — those use
the noop sink. Round-2 adjudication showed single-shot timings on this sandbox swing up to 2.3x on
identical code (machine contention) and fold one-time Janino/JIT compile
into whichever query runs first — medians measure the plans. The per-query
min/max spread is emitted under "spread" so a reader can see the noise
floor; "cold" records each query's first-run time (includes one-time
codegen), since that is what a run-once user pays.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

SAMPLES = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))

# The driver records only the last 2000 characters of stdout (every
# official BENCH_r* record carries len(tail)==2000); the r14 official
# record proved a longer summary line gets its HEAD clipped and the
# whole round's record reads "parsed": null (r14 verdict #1). The r15
# interim answer was a positional "q" list + "qo" order hash — compact,
# but it dropped the NAMED "queries" dict the driver contract specifies,
# so a driver that does not know tools/bench_orders.json would lose the
# round's per-query record. The stdout line therefore carries the named
# dict again, slimmed to fit: 2-decimal query values, and the host_speed
# / foreign_busy_cores telemetry moved to bench_full.json + stderr
# (loadavg_start and steal_cores stay on stdout — the two fields the
# contention adjudication of rounds 9-14 actually gated official records
# on). Measured sizes: 1915 chars at the r15 repro's 65 rows vs the
# 1960 budget vs the 2000-char capture. bench.py REFUSES to print an
# over-budget line so the failure is loud at measurement time, not
# silent at judge time.
STDOUT_BUDGET = 1960

from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod
from kafka_custom_transforms_spark.session import get_spark

BENCH_QUERIES = (
    "smt_chain_envelope",
    "smt_drop_struct",
    "smt_hoist_struct",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_top_orders",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "events_sessionize",
    "similarity_topk",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "text_token_stats",
    "text_fingerprint",
    "text_rollup",
    "text_repetition",
    "pack_docs",
    "multimodal_stats",
    "dedup_lines_global",
    "decontaminate_bloom",
    "label_centroids",
    "q10_returned_items",
    "q18_large_orders",
    "sketch_distinct_users",
    "importance_score_docs",
    # round-4 engine addition
    "dedup_substring_spans",
    # round-5 engine additions
    "tokenize_bpe_docs",
    "pack_bpe_docs",
    "bpe_train_docs",
    "dedup_minhash_incremental",
    # round-8 engine addition
    "skew_join_salted",
    # round-9 engine additions
    "skew_join_aqe",
    "bloom_join_parts",
    # round-10 engine additions (the streaming full-outer row is not
    # benched — no stream_* row is; micro-batch orchestration wall time
    # measures the harness, not the engine)
    "observed_orders_metrics",
    "cms_heavy_hitters",
    # round-11 engine additions (batch rows only, same rule as above)
    "bitmap_distinct_users",
    "listagg_nation_suppliers",
    "aes_roundtrip_customers",
    "tablesample_orders",
    # round-12 engine additions
    "recursive_cte_doc_depth",
    "approx_topk_event_types",
    "order_stats_lineitem",
    "phrase_index_docs",
    # round-13 engine additions
    "percentile_cont_lineitem",
    "ols_quantity_price",
    "url_parse_events",
    "str_to_map_props",
    # round-14 engine additions
    "ts_pattern_similarity",
    "variant_explode_props",
    "try_arithmetic_orders",
    "setops_all_lineitems",
    # round-15 engine additions
    "bitmap_gsets_distinct",
    "lateral_alias_chain",
    "geo_grid_rollup",
    "activity_streaks",
    # round-16 engine addition. ONE of the four r16 registry lifts: the
    # stdout line measured 1924 chars at 65 rows against the 1960 budget
    # (2000-char driver tail capture), so only the one row with real
    # perf content joins the bench — similarity_ivf_upsert exercises the
    # IVF maintenance path (quantizer freeze + assign + probe).
    # moments_lineitem / event_transitions are single-exchange aggregate
    # shapes the bench already times (ols_quantity_price,
    # order_stats_lineitem); sessionize_late_merge is streaming
    # (micro-batch orchestration wall time measures the harness, not the
    # engine — the standing no-stream_* rule above).
    "similarity_ivf_upsert",
    # round-4 codec decoders (intentional pure-Python decode cost; kept
    # OUT of the headline total so engine totals stay comparable across
    # rounds — bench_guard still checks them per-query)
    "multimodal_png_decode",
    "multimodal_gif_decode",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_color_decode",
    "multimodal_jpeg_420_decode",
    "multimodal_jpeg_progressive_decode",
    "multimodal_jpeg_sa_decode",
    "multimodal_h264_metadata",
)

# Engine rows (headline "value"): everything that is a query-engine /
# pipeline operator. Codec rows are a separate metric ("decode_value"):
# their cost is deliberate interpreter-bound Python decode, and folding
# ~18 s of it into the headline made round-4's total read as a 2.1x
# engine regression when the engine subset had moved 1.17x.
ENGINE_QUERIES = BENCH_QUERIES[:58]
DECODE_QUERIES = BENCH_QUERIES[58:]

# The two sets above are positional slices — a query inserted in the
# wrong spot would silently misclassify rows between the engine headline
# and decode_value. Pin the boundaries so a misplaced insertion fails
# loudly instead (advisor finding, round 5). Explicit raises, not bare
# asserts: `python -O` strips asserts and would silently disable the
# guard (advisor finding, round 6).
if ENGINE_QUERIES[-1] != "similarity_ivf_upsert":
    raise RuntimeError("ENGINE_QUERIES slice boundary moved")
if DECODE_QUERIES[0] != "multimodal_png_decode":
    raise RuntimeError("DECODE_QUERIES slice boundary moved")

# Rows whose `.count()` action Catalyst optimizes into (nearly) a bare
# row count — guide §1.4's exact warning, found live in this bench by the
# r15 count-plan audit (for each row: does the count-aggregate plan still
# contain the full plan's joins / Python stages / generates?):
#   decontaminate_bloom    count-plan = scan row-count (8 joins, 2 Python
#                          stages, 4 generates ALL eliminated — the left
#                          join's unique build key lets Catalyst drop the
#                          whole contamination pipeline for cardinality)
#   dedup_substring_spans  count-plan = checkpoint row-count (all 8 joins
#                          eliminated; only the eager-checkpoint build was
#                          timed)
#   tokenize_bpe_docs      count-plan = scan row-count (the Arrow BPE
#                          encode eliminated)
#   setops_all_lineitems   count-plan folds to OneRowRelation (the scalar
#                          set-op aggregates are provably 1-row)
#   importance_score_docs  count-plan keeps the gram pass but skips the
#                          whole ratio-table subtree (2 of 3 corpus scans)
# These rows are timed with the noop sink instead (computes EVERY column
# of every row, §1.4); every other row keeps `.count()` so its series
# stays comparable with BENCH_r1-r15 (see OPTIMIZATION_r15.md).
NOOP_SINK_QUERIES = frozenset({
    "decontaminate_bloom",
    "dedup_substring_spans",
    "tokenize_bpe_docs",
    "setops_all_lineitems",
    "importance_score_docs",
})
if not NOOP_SINK_QUERIES <= set(BENCH_QUERIES):
    raise RuntimeError(
        "NOOP_SINK_QUERIES contains names outside BENCH_QUERIES: "
        f"{sorted(NOOP_SINK_QUERIES - set(BENCH_QUERIES))}"
    )


def _materialize(df, name: str) -> None:
    """The timed action: noop sink for the count-degenerate rows above,
    `.count()` (the r1-r15 methodology) for everything else."""
    if name in NOOP_SINK_QUERIES:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()


# Short content hash of the bench order — emitted in the stdout line so a
# compact positional record is only ever expanded against the exact list
# it was measured with (tools/bench_orders.json maps hash -> names; the
# registry is self-maintaining, see _record_bench_order).
ORDER_HASH = hashlib.md5("\n".join(BENCH_QUERIES).encode()).hexdigest()[:8]
ORDERS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tools", "bench_orders.json"
)


def _record_bench_order() -> None:
    """Idempotently register the current BENCH_QUERIES order under its
    hash so historical compact records stay expandable forever, even
    after later rounds insert queries mid-list (the engine/decode slice
    boundaries make the order non-append-only)."""
    try:
        with open(ORDERS_PATH) as f:
            orders = json.load(f)
    except (OSError, ValueError):
        orders = {}
    if orders.get(ORDER_HASH) != list(BENCH_QUERIES):
        orders[ORDER_HASH] = list(BENCH_QUERIES)
        try:
            with open(ORDERS_PATH, "w") as f:
                json.dump(orders, f, indent=1)
        except OSError:
            pass


def _loadavg() -> list[float] | None:
    """1/5/15-min load at bench START, embedded in the output so a reader
    (tools/round_close.py, the round judge) can tell a contended record
    from an idle one — four rounds of official records arrived with 2-7x
    contention spikes that only same-round idle repros could adjudicate."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


_HZ = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _steal_jiffies() -> int | None:
    """Cumulative hypervisor-steal jiffies (cheap single-line read; used
    by the per-sample gate in the timing loop)."""
    try:
        with open("/proc/stat") as f:
            vals = f.readline().split()[1:]
        return int(vals[7]) if len(vals) > 7 else 0
    except (OSError, ValueError):
        return None


def _cpu_probe() -> tuple[int, int, int] | None:
    """(system_busy_jiffies, own_tree_jiffies, steal_jiffies) — the deltas
    between two probes attribute the run's CPU between THIS process tree
    (python + the Spark JVM + pyspark workers, found by walking /proc
    ppids; cutime/cstime fold reaped workers into their parent), other
    guest processes, and the HYPERVISOR (steal). Steal is the decisive
    one on this host: the guest is single-tenant (r9 adjudication — ps
    shows no foreign processes during the historical 2-7x spikes), but
    /proc/stat steal shows bursty vCPU theft by other tenants of the
    physical host, which inflates wall times and even guest loadavg (the
    runnable backlog it causes) while no guest-side measurement shows a
    culprit. A start-time loadavg misses all of it."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        steal_j = vals[7] if len(vals) > 7 else 0
        # busy excludes idle+iowait AND steal: steal is hypervisor time,
        # not guest-process time — leaving it in would misattribute it to
        # foreign_busy_cores and double-gate it (review r9)
        busy = sum(vals) - vals[3] - vals[4] - steal_j
        procs: dict[int, tuple[int, int]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    st = f.read()
                rest = st[st.rindex(")") + 2:].split()
                # utime+stime+cutime+cstime (fields 14-17, 0-indexed 11-14
                # after comm/state)
                procs[int(pid)] = (
                    int(rest[1]),
                    int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
                )
            except (OSError, ValueError, IndexError):
                continue
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        tree, stack, seen = 0, [os.getpid()], set()
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            tree += procs.get(p, (0, 0))[1]
            stack.extend(children.get(p, []))
        return busy, tree, steal_j
    except (OSError, ValueError):
        return None


def _foreign_cores(cpu0: tuple[int, int, int] | None, wall0: float) -> tuple[float, float] | tuple[None, None]:
    """(foreign_cores, steal_cores): average CPU cores consumed over the
    run by other guest processes and by the hypervisor (other tenants of
    the physical host) respectively — the contention numbers
    tools/round_close.py gates on. On this host steal is the live one."""
    cpu1 = _cpu_probe()
    if cpu0 is None or cpu1 is None:
        return None, None
    wall = max(time.time() - wall0, 1e-3)
    hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    foreign_jiffies = max((cpu1[0] - cpu0[0]) - (cpu1[1] - cpu0[1]), 0)
    steal_jiffies = max(cpu1[2] - cpu0[2], 0)
    return round(foreign_jiffies / hz / wall, 3), round(steal_jiffies / hz / wall, 3)


def _host_speed_probe() -> dict[str, float]:
    """Single-core host-speed reference, measured BEFORE the Spark session:
    a pure-Python loop (interpreter-bound, like the codec rows) and md5
    over 200 MB (memory/crypto-bound). Neither depends on repo code, so a
    round-over-round shift in these numbers is HOST drift, not a code
    change — the discriminator the r12 close needed when every shared row
    (including untouched pure-Python decoders) read 1.1-1.4x over the r11
    idle anchor while steal and loadavg gates were green."""
    import hashlib

    # perf_counter, not time.time(): the probe's whole job is cross-run
    # comparability, and wall clock is NTP-step sensitive — a clock step
    # during the burn would masquerade as host drift (r12 advice).
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    pyloop = time.perf_counter() - t0
    buf = b"x" * 1_000_000
    t0 = time.perf_counter()
    for _ in range(200):
        hashlib.md5(buf).digest()
    md5 = time.perf_counter() - t0

    # MULTI-core leg (r13): 8 threads each doing the single-thread md5
    # burn concurrently — hashlib releases the GIL for >2 KB updates, so
    # on an idle 32-vCPU host the wall time ~equals the single-thread
    # burn, and any inflation is multi-core host degradation. Needed
    # because the r13 close measured every Spark row 1.2-1.7x over the
    # anchor while BOTH single-core legs matched the anchor and steal
    # read 0.28 — contention that only parallel work can see (vCPU
    # co-scheduling / memory bandwidth), invisible to single-thread
    # probes and to /proc/stat steal.
    import threading

    def _burn() -> None:
        for _ in range(200):
            hashlib.md5(buf).digest()

    # Min of 3: a single ~0.3 s reading is burst-sensitive — one transient
    # spike during the probe would inflate host_drift and multiplicatively
    # loosen the guard's hard-fail gate (r13 advice; same de-noising the
    # per-sample micro-probe already applies via probe_best).
    md5_mt = float("inf")
    for _ in range(3):
        threads = [threading.Thread(target=_burn) for _ in range(8)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        md5_mt = min(md5_mt, time.perf_counter() - t0)
    return {
        "pyloop_sec": round(pyloop, 3),
        "md5_200mb_sec": round(md5, 3),
        "md5_mt8_sec": round(md5_mt, 3),
    }


# A sample whose trailing micro-probe reads this much over the run's own
# best probe ran in a degraded window — retake it (same policy as the
# per-sample steal gate).
BURST_PROBE_RATIO = 1.3


def _mt8_micro() -> float:
    """~40 ms 8-thread md5 burst — the per-SAMPLE burst detector. The r13
    close hit a contention mode that /proc/stat steal does NOT count
    (samples spiking 2-12x with steal ~0.05, e.g. a 0.76 s decode row
    reading 6.0 s): hypervisor co-scheduling that only parallel work can
    see. hashlib releases the GIL, so idle wall ~= single-thread wall and
    any inflation is multi-core degradation. Run after every sample
    (which is also 'before the next sample'); the sample is retaken when
    the probe reads BURST_PROBE_RATIO over the run's own best, so the
    baseline needs no cross-run anchor."""
    import hashlib
    import threading

    buf = b"x" * 1_000_000

    def _burn() -> None:
        for _ in range(25):
            hashlib.md5(buf).digest()

    threads = [threading.Thread(target=_burn) for _ in range(8)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    loadavg_start = _loadavg()
    host_speed = _host_speed_probe()
    cpu0 = _cpu_probe()
    wall0 = time.time()
    spark = get_spark("kcts-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # Warm up the session (scan codepaths, codegen of a trivial plan).
    queries["text_token_stats"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    cold_unreliable: list[str] = []
    spread: dict[str, list[float]] = {}
    retried: dict[str, int] = {}
    discarded: dict[str, list[list[float]]] = {}
    probe_retried: dict[str, int] = {}
    probe_discarded: dict[str, list[list[float]]] = {}
    probe_best = min(_mt8_micro() for _ in range(3))
    for name in BENCH_QUERIES:
        samples = []
        retries = 0
        first_discarded = False
        while len(samples) < SAMPLES:
            s0 = _steal_jiffies()
            t0 = time.time()
            _materialize(queries[name](spark, sf_dir), name)
            dt = time.time() - t0
            # Per-SAMPLE steal gate: hypervisor bursts poison individual
            # samples (observed: 0.8 s rows spiking to 12-21 s), and a
            # median only survives a minority of poisoned samples. A
            # sample that ran while >1 core was being stolen is re-taken
            # (bounded retries; if the burst outlasts them, the sample is
            # kept and the whole-run steal_cores field tells the story).
            s1 = _steal_jiffies()
            if (
                s0 is not None
                and s1 is not None
                and (s1 - s0) / _HZ / max(dt, 1e-3) > 1.0
                and retries < SAMPLES
            ):
                # Record the poisoned sample (wall, steal_cores) so the
                # diagnostics show what was thrown away — and remember
                # when sample 0 was the victim: its retry runs WARMED
                # (the discarded run touched every cache), so the cold
                # number for that query is not a real cold time.
                discarded.setdefault(name, []).append(
                    [round(dt, 3), round((s1 - s0) / _HZ / max(dt, 1e-3), 2)]
                )
                if not samples:
                    first_discarded = True
                retries += 1
                continue
            # Per-SAMPLE burst gate for steal-INVISIBLE contention (see
            # _mt8_micro): probe after the sample; a degraded window
            # means the sample is suspect — retake it, bounded.
            p = _mt8_micro()
            probe_best = min(probe_best, p)
            if p > BURST_PROBE_RATIO * probe_best and retries < SAMPLES:
                probe_discarded.setdefault(name, []).append(
                    [round(dt, 3), round(p / probe_best, 2)]
                )
                probe_retried[name] = probe_retried.get(name, 0) + 1
                if not samples:
                    first_discarded = True
                retries += 1
                continue
            samples.append(round(dt, 3))
        if retries:
            retried[name] = retries
        cold[name] = samples[0]
        if first_discarded:
            cold_unreliable.append(name)
        timings[name] = round(statistics.median(samples), 3)
        spread[name] = [min(samples), max(samples)]

    engine_total = round(sum(timings[n] for n in ENGINE_QUERIES), 3)
    decode_total = round(sum(timings[n] for n in DECODE_QUERIES), 3)
    # Diagnostics (cold-run times, min/max spread) go to stderr and a sidecar
    # file: round 3's record shows the driver captures only the stdout TAIL,
    # so a single long line gets its head (and the opening brace) truncated
    # and records "parsed": null. The compact summary below must be the LAST
    # and ONLY stdout line.
    foreign_cores, steal_cores = _foreign_cores(cpu0, wall0)
    diagnostics = {"samples": SAMPLES, "cold": cold, "spread": spread,
                   "steal_retries": retried,
                   "discarded_samples": discarded,
                   "probe_retries": probe_retried,
                   "probe_discarded_samples": probe_discarded,
                   "probe_best_sec": round(probe_best, 4),
                   "cold_unreliable": cold_unreliable}
    print(json.dumps(diagnostics), file=sys.stderr)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_diag.json"),
            "w",
        ) as f:
            json.dump(diagnostics, f)
    except OSError:
        pass
    common = {
        "metric": "engine_queries_wall_total",
        "value": engine_total,
        "unit": "sec",
        "decode_value": decode_total,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "loadavg_start": loadavg_start,
        "foreign_busy_cores": foreign_cores,
        "steal_cores": steal_cores,
        "host_speed": host_speed,
    }
    # Full named-dict record (the pre-r15 stdout format) -> sidecar. This
    # is the file to bless as BENCH_r{N}_repro.json.
    full = dict(common)
    full["queries"] = timings
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"),
            "w",
        ) as f:
            json.dump(full, f)
    except OSError:
        pass
    _record_bench_order()
    # Named-dict stdout line — the only stdout output, sized for the
    # driver's 2000-char tail capture (see STDOUT_BUDGET): the contract's
    # "queries" dict at 2 decimals, minus the heavyweight telemetry
    # (host_speed, foreign_busy_cores) that lives on in bench_full.json.
    slim = dict(common)
    del slim["host_speed"]
    del slim["foreign_busy_cores"]
    slim["queries"] = {n: round(timings[n], 2) for n in BENCH_QUERIES}
    line = json.dumps(slim, separators=(",", ":"))
    if len(line) > STDOUT_BUDGET:
        raise RuntimeError(
            f"bench stdout line is {len(line)} chars > {STDOUT_BUDGET} "
            "budget — the driver's tail capture would clip it; shrink the "
            "format before the official run"
        )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

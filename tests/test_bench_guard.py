"""Pin tools/bench_guard.py's baseline selection: the newest round wins,
and within a round a committed idle ``*_repro`` file outranks the official
record (official records can be taken under driver-machine load; the repro
files are quiesced reruns — see SURVEY §8)."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "bench_guard", os.path.join(REPO, "tools", "bench_guard.py")
)
bench_guard = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench_guard)


def test_repro_outranks_same_round_official():
    paths = [
        "BENCH_r05.json",
        "BENCH_r06_repro.json",
        "BENCH_r06.json",
        "BENCH_r05_repro.json",
    ]
    ranked = sorted(paths, key=bench_guard._baseline_key)
    assert ranked == [
        "BENCH_r05.json",
        "BENCH_r05_repro.json",
        "BENCH_r06.json",
        "BENCH_r06_repro.json",
    ]
    # load_baseline walks reversed(sorted(...)) — the last element is
    # what it tries first
    assert ranked[-1] == "BENCH_r06_repro.json"


def test_unparseable_names_sort_first():
    key = bench_guard._baseline_key("BENCH_weird.json")
    assert key < bench_guard._baseline_key("BENCH_r01.json")


def test_bench_line_parser_takes_last_json_line():
    text = 'noise\n{"metric": "a", "queries": {}}\nmore noise\n' \
           '{"metric": "b", "queries": {"q": 1.0}}\n'
    parsed = bench_guard._bench_line(text)
    assert parsed["metric"] == "b"
    assert bench_guard._bench_line("no json here") is None


def test_load_baseline_prefers_repro_and_skips_unparseable(tmp_path, monkeypatch):
    """End-to-end on a fabricated repo dir: the same-round repro wins over
    the official record, and an unparseable newest file falls back to the
    next-best baseline."""
    (tmp_path / "BENCH_r08.json").write_text(
        '{"metric": "m", "value": 9.9, "queries": {"q": 2.0}}')
    (tmp_path / "BENCH_r08_repro.json").write_text(
        '{"metric": "m", "value": 5.0, "queries": {"q": 1.0}}')
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    name, bench = bench_guard.load_baseline()
    assert name == "BENCH_r08_repro.json"
    assert bench["queries"]["q"] == 1.0

    # a newer but truncated/unparseable record falls through to the repro
    (tmp_path / "BENCH_r09.json").write_text('{"tail": "garbage no json"}')
    name, bench = bench_guard.load_baseline()
    assert name == "BENCH_r08_repro.json"

    # so do invalid JSON (truncated write) and a non-dict top level —
    # a corrupt newest record must not abort the guard with a traceback
    (tmp_path / "BENCH_r10.json").write_text('{"metric": trunca')
    (tmp_path / "BENCH_r11.json").write_text('[1, 2, 3]')
    name, bench = bench_guard.load_baseline()
    assert name == "BENCH_r08_repro.json"


def test_live_repo_baseline_is_parseable():
    """Whatever the committed newest baseline is, the guard must be able
    to parse it — a silent exit(0) here would disable regression checks."""
    name, bench = bench_guard.load_baseline()
    assert "queries" in bench and bench["queries"]


# ------------------------------------------------------- load gate (r9)

spec_rc = importlib.util.spec_from_file_location(
    "round_close", os.path.join(REPO, "tools", "round_close.py")
)
round_close = importlib.util.module_from_spec(spec_rc)
spec_rc.loader.exec_module(round_close)


def test_load_gate_rejects_contended_bench_file(tmp_path):
    p = tmp_path / "bench.json"
    p.write_text('{"metric": "m", "queries": {}, "loadavg_start": [3.4, 2.1, 1.0]}')
    ok, detail = round_close.bench_load_gate(str(p))
    assert not ok and "3.4" in detail


def test_load_gate_blesses_idle_bench_file(tmp_path):
    p = tmp_path / "bench.json"
    p.write_text('{"metric": "m", "queries": {}, "loadavg_start": [0.4, 0.5, 0.9]}')
    ok, detail = round_close.bench_load_gate(str(p))
    assert ok and "0.4" in detail


def test_load_gate_rejects_record_without_loadavg(tmp_path):
    """Pre-gate records carry no loadavg_start; they are not blessable —
    the whole point is to stop filing officials whose measurement-time
    load is unknown or high."""
    p = tmp_path / "bench.json"
    p.write_text('{"metric": "m", "queries": {}}')
    ok, detail = round_close.bench_load_gate(str(p))
    assert not ok and "loadavg_start" in detail


def test_load_gate_checks_current_load_for_run_bench(monkeypatch):
    monkeypatch.setattr(round_close, "current_loadavg", lambda: 7.5)
    ok, detail = round_close.bench_load_gate(None)
    assert not ok and "7.5" in detail
    monkeypatch.setattr(round_close, "current_loadavg", lambda: 0.2)
    ok, _ = round_close.bench_load_gate(None)
    assert ok


def test_load_gate_rejects_mid_run_foreign_load(tmp_path):
    """Start-time load alone misses contention arriving mid-run (r9 open:
    start 0.62, foreign ~4 cores during the decode rows)."""
    p = tmp_path / "bench.json"
    p.write_text('{"metric": "m", "queries": {}, '
                 '"loadavg_start": [0.3, 0.3, 0.3], "foreign_busy_cores": 3.7}')
    ok, detail = round_close.bench_load_gate(str(p))
    assert not ok and "3.7" in detail
    p.write_text('{"metric": "m", "queries": {}, '
                 '"loadavg_start": [0.3, 0.3, 0.3], "foreign_busy_cores": 0.1}')
    ok, _ = round_close.bench_load_gate(str(p))
    assert ok


def test_load_gate_rejects_high_steal(tmp_path):
    """The r9-adjudicated mechanism: the guest is single-tenant, so the
    poisoned official records were hypervisor vCPU steal — gate on it."""
    p = tmp_path / "bench.json"
    p.write_text('{"metric": "m", "queries": {}, '
                 '"loadavg_start": [0.3, 0.3, 0.3], '
                 '"foreign_busy_cores": 0.1, "steal_cores": 4.2}')
    ok, detail = round_close.bench_load_gate(str(p))
    assert not ok and "4.2" in detail
    p.write_text('{"metric": "m", "queries": {}, '
                 '"loadavg_start": [0.3, 0.3, 0.3], '
                 '"foreign_busy_cores": 0.1, "steal_cores": 0.2}')
    ok, _ = round_close.bench_load_gate(str(p))
    assert ok


def test_load_gate_skips_null_loadavg_but_rejects_absent_field(tmp_path):
    """null loadavg_start = platform without /proc/loadavg (skip the
    loadavg check, like --run-bench does); ABSENT field = pre-gate record
    (reject). The other contention fields still gate a null-load record."""
    p = tmp_path / "bench.json"
    p.write_text('{"metric": "m", "queries": {}, "loadavg_start": null, '
                 '"foreign_busy_cores": 0.1, "steal_cores": 0.1}')
    ok, detail = round_close.bench_load_gate(str(p))
    assert ok and "n/a" in detail
    p.write_text('{"metric": "m", "queries": {}, "loadavg_start": null, '
                 '"foreign_busy_cores": 0.1, "steal_cores": 9.9}')
    ok, _ = round_close.bench_load_gate(str(p))
    assert not ok


def _rec(queries, pyloop=None, md5=None, mt8=None):
    rec = {"metric": "m", "queries": queries}
    if pyloop is not None:
        rec["host_speed"] = {"pyloop_sec": pyloop, "md5_200mb_sec": md5 or pyloop}
        if mt8 is not None:
            rec["host_speed"]["md5_mt8_sec"] = mt8
    return rec


def test_drifted_probe_downgrades_fail_to_suspect():
    """A 1.6x inflation on a run whose probe reads 1.5x over the anchor is
    host drift, not a regression — exactly the false-FAIL both r12-close
    verification runs produced before the guard was probe-aware."""
    base = _rec({"q": 2.0}, pyloop=1.0)
    cur = _rec({"q": 3.2}, pyloop=1.5)
    lines, failures, suspects, drift = bench_guard.compare(base, cur)
    assert failures == [] and suspects == ["q"]
    assert abs(drift - 1.5) < 1e-9
    assert any("DRIFT?" in ln for ln in lines)


def test_clean_probe_still_hard_fails():
    base = _rec({"q": 2.0}, pyloop=1.0)
    cur = _rec({"q": 3.2}, pyloop=1.05)  # probe clean, ratio 1.6x
    _, failures, suspects, _ = bench_guard.compare(base, cur)
    assert failures == ["q"] and suspects == []


def test_regression_beyond_drift_still_hard_fails():
    """Normalization is not a free pass: 2.5x raw on a 1.2x-drifted host
    is still >1.5x after dividing out the probe."""
    base = _rec({"q": 2.0}, pyloop=1.0)
    cur = _rec({"q": 5.0}, pyloop=1.2)
    _, failures, suspects, _ = bench_guard.compare(base, cur)
    assert failures == ["q"] and suspects == []


def test_missing_probe_keeps_legacy_behavior():
    base = _rec({"q": 2.0})
    cur = _rec({"q": 3.2}, pyloop=1.5)
    _, failures, suspects, drift = bench_guard.compare(base, cur)
    assert failures == ["q"] and suspects == [] and drift is None


def test_multicore_probe_downgrades_fail_when_single_core_clean():
    """The r13-close mode: every single-core leg matches the anchor while
    parallel work runs ~1.5x slow (vCPU co-scheduling / memory bandwidth —
    invisible to pyloop/md5 and to steal). With the md5_mt8 leg in both
    records, host_drift takes the WORSE ratio, so the uniform inflation
    lands in the drift-suspect lane instead of hard-failing untouched
    rows."""
    base = _rec({"q": 2.0}, pyloop=1.0, mt8=1.0)
    cur = _rec({"q": 3.2}, pyloop=1.0, mt8=1.55)
    _, failures, suspects, drift = bench_guard.compare(base, cur)
    assert failures == [] and suspects == ["q"]
    assert abs(drift - 1.55) < 1e-9


def test_multicore_probe_absent_in_baseline_falls_back_to_single_core():
    """Old anchors predate the mt8 leg: drift must come from the
    single-core geomean alone (no KeyError, no silent None)."""
    base = _rec({"q": 2.0}, pyloop=1.0)  # no mt8 field
    cur = _rec({"q": 3.2}, pyloop=1.0, mt8=1.55)
    _, failures, suspects, drift = bench_guard.compare(base, cur)
    assert failures == ["q"] and suspects == []
    assert abs(drift - 1.0) < 1e-9


def test_regression_beyond_multicore_drift_still_hard_fails():
    base = _rec({"q": 2.0}, pyloop=1.0, mt8=1.0)
    cur = _rec({"q": 5.0}, pyloop=1.0, mt8=1.2)  # 2.5x raw, 1.2x mt drift
    _, failures, suspects, _ = bench_guard.compare(base, cur)
    assert failures == ["q"] and suspects == []


def test_faster_host_does_not_loosen_gate():
    """drift < 1 (host got FASTER) must not normalize ratios upward into
    false fails, nor downward into false passes — it is simply clean."""
    base = _rec({"q": 2.0}, pyloop=1.0)
    cur = _rec({"q": 3.2}, pyloop=0.7)
    _, failures, suspects, drift = bench_guard.compare(base, cur)
    assert failures == ["q"] and suspects == []
    assert drift < 1.0


def test_mt8_drift_contribution_is_capped():
    """A wildly noisy parallel probe (4x) must not loosen the gate without
    bound: the mt8 contribution caps at MT8_DRIFT_CAP. The 5.2x-raw row
    here would read 1.3x under an uncapped 4x drift (a silent pass into
    the suspect lane); capped at 2.0 it reads 2.6x and hard-fails."""
    base = _rec({"q": 2.0}, pyloop=1.0, mt8=1.0)
    cur = _rec({"q": 10.4}, pyloop=1.0, mt8=4.0)  # 5.2x raw
    _, failures, suspects, drift = bench_guard.compare(base, cur)
    assert abs(drift - bench_guard.MT8_DRIFT_CAP) < 1e-9
    assert failures == ["q"] and suspects == []


def _chain_file(tmp_path, name, queries, pyloop=None, mt8=None):
    rec = {"metric": "m", "value": 1.0, "queries": queries}
    if pyloop is not None:
        rec["host_speed"] = {"pyloop_sec": pyloop, "md5_200mb_sec": pyloop}
        if mt8 is not None:
            rec["host_speed"]["md5_mt8_sec"] = mt8
    import json as _json

    (tmp_path / name).write_text(_json.dumps(rec))


def test_clean_chain_skips_poisoned_newest_anchor(tmp_path, monkeypatch):
    """The r13 loophole, as a fixture: the newest repro was measured in a
    degraded window (every shared row ~1.4x over its predecessor, probes
    equal), so it must NOT become the baseline — the guard walks back to
    the newest record that was itself a clean measurement."""
    _chain_file(tmp_path, "BENCH_r11_repro.json", {"a": 1.0, "b": 2.0, "c": 1.5}, pyloop=1.0)
    _chain_file(tmp_path, "BENCH_r12_repro.json", {"a": 1.02, "b": 2.0, "c": 1.5}, pyloop=1.0)
    _chain_file(tmp_path, "BENCH_r13_repro.json", {"a": 1.4, "b": 2.8, "c": 2.1}, pyloop=1.0)
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    name, base = bench_guard.load_baseline()
    assert name == "BENCH_r12_repro.json"


def test_clean_chain_accepts_clean_newest(tmp_path, monkeypatch):
    _chain_file(tmp_path, "BENCH_r12_repro.json", {"a": 1.0, "b": 2.0, "c": 1.5}, pyloop=1.0)
    _chain_file(tmp_path, "BENCH_r13_repro.json", {"a": 1.05, "b": 2.0, "c": 1.4}, pyloop=1.0)
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    name, _ = bench_guard.load_baseline()
    assert name == "BENCH_r13_repro.json"


def test_clean_chain_normalizes_both_directions(tmp_path, monkeypatch):
    """A record whose rows read ~1.0x only because its host was 1.4x
    FASTER than the predecessor's window hides a ~1.4x code regression —
    the chain ratio divides by drift in both directions (unlike
    compare(), which only loosens), so such a record is not a clean
    anchor either."""
    _chain_file(tmp_path, "BENCH_r12_repro.json", {"a": 1.0, "b": 2.0, "c": 1.5}, pyloop=1.4)
    # same row times, but measured on a 1.4x-faster host: 1.0 / (1/1.4) = 1.4 > 1.1
    _chain_file(tmp_path, "BENCH_r13_repro.json", {"a": 1.0, "b": 2.0, "c": 1.5}, pyloop=1.0)
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    name, _ = bench_guard.load_baseline()
    assert name == "BENCH_r12_repro.json"


def test_chain_bottom_is_accepted_without_predecessor(tmp_path, monkeypatch):
    _chain_file(tmp_path, "BENCH_r09_repro.json", {"a": 1.0}, pyloop=1.0)
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    name, _ = bench_guard.load_baseline()
    assert name == "BENCH_r09_repro.json"


def test_live_repo_clean_chain_anchors_on_r12(tmp_path):
    """On the real committed records, the clean-chain rule must walk past
    the adjudicated-degraded BENCH_r13_repro (probe-normalized 1.36x vs
    r12 — its probes were FASTER, tightening the raw 1.23x) and anchor on
    the newest genuinely clean record — BENCH_r16_repro (blessed idle at
    the r16 close: 1-min load 0.00, steal 0.34 cores), which took over
    from the r12/r14 anchors exactly as this docstring always said it
    would."""
    name, _ = bench_guard.load_baseline()
    assert name in ("BENCH_r16_repro.json",)


def _orders_registry():
    import json

    with open(os.path.join(REPO, "tools", "bench_orders.json")) as f:
        return json.load(f)


def test_compact_record_expands_through_order_registry():
    """r15 stdout format: positional "q" + "qo" order hash expands into
    named "queries" via tools/bench_orders.json."""
    import json

    orders = _orders_registry()
    qo, names = next(iter(orders.items()))
    rec = {"metric": "engine_queries_wall_total", "qo": qo,
           "q": [float(i) for i in range(len(names))]}
    got = bench_guard._expand_compact(rec)
    assert got is not None
    assert got["queries"][names[0]] == 0.0
    assert got["queries"][names[-1]] == float(len(names) - 1)
    # and through the line parser too
    line = json.dumps(rec, separators=(",", ":"))
    parsed = bench_guard._bench_line("noise\n" + line + "\n")
    assert parsed and parsed["queries"][names[3]] == 3.0


def test_compact_record_with_unknown_hash_is_unexpandable():
    rec = {"metric": "x", "qo": "ffffffff", "q": [1.0, 2.0]}
    assert bench_guard._expand_compact(rec) is None
    # length mismatch against a KNOWN hash is also rejected
    qo = next(iter(_orders_registry()))
    assert bench_guard._expand_compact({"metric": "x", "qo": qo, "q": [1.0]}) is None


def test_named_record_passes_expansion_unchanged():
    rec = {"metric": "x", "queries": {"a": 1.0}}
    assert bench_guard._expand_compact(rec) is rec


def test_current_bench_order_is_registered():
    """bench.py must have registered its CURRENT order under its hash —
    otherwise the next official record would be unexpandable."""
    import bench

    orders = _orders_registry()
    assert orders.get(bench.ORDER_HASH) == list(bench.BENCH_QUERIES)


def test_current_stdout_line_fits_budget():
    """Worst-plausible line in the r15-optimization stdout format (the
    contract's named "queries" dict, 2-decimal values, no host_speed /
    foreign_busy_cores) must fit the driver's measured 2000-char tail
    capture with margin. "Worst plausible" = every query under 10 s and
    totals under 1000 s — a run past that is a melted host whose record
    is garbage regardless (and bench.py raises on an over-budget line at
    measurement time)."""
    import json

    import bench

    slim = {
        "metric": "engine_queries_wall_total", "value": 999.99,
        "unit": "sec", "decode_value": 999.99,
        "sf": 0.1, "loadavg_start": [32.11, 32.11, 32.11],
        "steal_cores": 32.999, "cpus": 128,
        "queries": {n: 9.99 for n in bench.BENCH_QUERIES},
    }
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_BUDGET, len(line)
    assert bench.STDOUT_BUDGET <= 2000 - 2  # line + newline inside capture


def test_round_close_line_budget_gate(tmp_path):
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import round_close

    import bench

    # a compact in-budget line passes
    rec = {"metric": "engine_queries_wall_total", "qo": bench.ORDER_HASH,
           "q": [1.0] * len(bench.BENCH_QUERIES)}
    p = tmp_path / "ok.json"
    p.write_text(json.dumps(rec, separators=(",", ":")) + "\n")
    ok, detail = round_close.bench_line_budget_gate(str(p))
    assert ok, detail

    # an over-budget line fails
    rec2 = dict(rec)
    rec2["pad"] = "x" * bench.STDOUT_BUDGET
    p2 = tmp_path / "big.json"
    p2.write_text(json.dumps(rec2) + "\n")
    ok, detail = round_close.bench_line_budget_gate(str(p2))
    assert not ok and "budget" in detail

    # an unexpandable order hash fails even in budget
    rec3 = {"metric": "engine_queries_wall_total", "qo": "ffffffff",
            "q": [1.0, 2.0]}
    p3 = tmp_path / "orphan.json"
    p3.write_text(json.dumps(rec3) + "\n")
    ok, detail = round_close.bench_line_budget_gate(str(p3))
    assert not ok and "expand" in detail


def test_round_close_line_budget_gate_accepts_named_sidecar(tmp_path):
    """A full named-dict record (the bench_full.json sidecar / blessed
    repro format, ~2.2k chars) is never printed to stdout, so the
    tail-capture budget must not apply — round_close on
    BENCH_r{N}_repro.json previously false-FAILED (r15 self-review)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import round_close

    ok, detail = round_close.bench_line_budget_gate(
        os.path.join(REPO, "BENCH_r15_repro.json")
    )
    assert ok, detail
    assert "n/a" in detail


def test_era_probe_classify_and_baseline_selection():
    """Pure helpers of tools/era_probe.py: classification thresholds and
    newest-repro baseline selection (the measurement half needs a live
    Spark run and a quiet host, so only the logic is unit-pinned)."""
    import importlib.util as iu

    spec = iu.spec_from_file_location(
        "era_probe", os.path.join(REPO, "tools", "era_probe.py")
    )
    ep = iu.module_from_spec(spec)
    spec.loader.exec_module(ep)
    assert ep.classify(1.0) == ("CLEAN", 0)
    assert ep.classify(1.15) == ("CLEAN", 0)
    assert ep.classify(1.3) == ("DRIFT", 2)
    assert ep.classify(1.5) == ("DRIFT", 2)
    assert ep.classify(2.0) == ("BURST", 3)
    base = ep.newest_repro()
    assert os.path.basename(base).startswith("BENCH_r")
    # newest round must win
    import glob as g
    import re

    rounds = [
        int(re.search(r"_r(\d+)_", p).group(1))
        for p in g.glob(os.path.join(REPO, "BENCH_r*_repro.json"))
    ]
    assert f"r{max(rounds):02d}" in os.path.basename(base) or \
        f"r{max(rounds)}" in os.path.basename(base)


def test_stdout_line_survives_driver_tail_capture():
    """End-to-end simulation of the failure that lost BENCH_r14: the
    driver keeps only the LAST 2000 chars of stdout. The r15-optimization
    slim NAMED line survives whole (junk ahead of it gets clipped, the
    line itself parses with its full "queries" dict); the r14-era fat
    3-decimal line with host_speed telemetry would still be beheaded
    mid-JSON."""
    import json

    import bench

    rec = {"metric": "engine_queries_wall_total", "value": 34.26,
           "unit": "sec", "decode_value": 6.09,
           "sf": 0.1, "loadavg_start": [0.04, 0.1, 0.2],
           "steal_cores": 0.224,
           "queries": {n: 9.99 for n in bench.BENCH_QUERIES}}
    line = json.dumps(rec, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_BUDGET
    stdout = "x" * 5000 + "\n" + line + "\n"
    tail = stdout[-2000:]  # the driver's capture
    parsed = bench_guard._bench_line(tail)
    assert parsed is not None
    assert len(parsed["queries"]) == len(bench.BENCH_QUERIES)
    assert parsed["queries"]["smt_drop_struct"] == 9.99

    # the r14-era format at its real size does NOT survive: its head
    # (and opening brace) fall outside the capture
    fat = json.dumps({"metric": "engine_queries_wall_total",
                      "host_speed": {"pyloop_sec": 1.0},
                      "queries": {f"longer_query_name_padded_{i:03d}": 1.234
                                  for i in range(65)}})
    assert len(fat) > 2000
    assert bench_guard._bench_line(("y" * 100 + "\n" + fat + "\n")[-2000:]) is None

    # a historical compact positional record still expands (r15 official
    # stdout never shipped the format, but the expansion path guards any
    # stray record and the orders registry keeps it resolvable)
    compact = {"metric": "engine_queries_wall_total", "qo": bench.ORDER_HASH,
               "q": [1.23] * len(bench.BENCH_QUERIES)}
    cl = json.dumps(compact, separators=(",", ":"))
    parsed2 = bench_guard._bench_line("z" * 3000 + "\n" + cl + "\n")
    assert parsed2 is not None and len(parsed2["queries"]) == len(bench.BENCH_QUERIES)


def test_guard_refuses_verdict_across_core_counts(tmp_path, monkeypatch, capsys):
    """A repro record without its own core count takes its round's official
    record's; a current record at another core count gets no verdict
    (exit 2), one at the same count is compared as before."""
    import json

    import pytest

    line = json.dumps({"metric": "m", "value": 1.0, "queries": {"q": 1.0}})
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({"cpus": 32, "tail": line}))
    (tmp_path / "BENCH_r08_repro.json").write_text(line)
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    name, base = bench_guard.load_baseline()
    assert name == "BENCH_r08_repro.json" and base["cpus"] == 32

    for cpus, code, said in ((4, 2, "NO VERDICT"), (32, None, "bench_guard: OK")):
        cur = tmp_path / f"now{cpus}.json"
        cur.write_text(json.dumps({"metric": "m", "cpus": cpus, "queries": {"q": 1.1}}))
        monkeypatch.setattr(bench_guard.sys, "argv", ["bench_guard.py", str(cur)])
        if code is None:
            bench_guard.main()
        else:
            with pytest.raises(SystemExit) as exc:
                bench_guard.main()
            assert exc.value.code == code
        assert said in capsys.readouterr().out


def test_core_count_records_anchor_their_own_count(tmp_path, monkeypatch):
    """``BENCH_rNN_cK.json`` is round NN taken on K cores: it sorts in its
    round, not before r01, and each (round, core count) keeps one anchor,
    so an 8-core record is compared with the newest 8-core anchor."""
    import json

    def record(name, cpus, q):
        line = json.dumps({"metric": "m", "value": q, "queries": {"q": q}})
        (tmp_path / name).write_text(json.dumps({"cpus": cpus, "tail": line}))

    record("BENCH_r15.json", 32, 1.0)
    record("BENCH_r15_c8.json", 8, 2.0)
    record("BENCH_r16_c8.json", 8, 2.05)
    record("BENCH_r16.json", 32, 1.02)
    (tmp_path / "BENCH_r16_repro.json").write_text(
        json.dumps({"metric": "m", "value": 1.01, "queries": {"q": 1.01}}))
    monkeypatch.setattr(bench_guard, "REPO", str(tmp_path))
    assert bench_guard._baseline_key("BENCH_r16_c8.json") == (16, 0)
    assert bench_guard._baseline_key("BENCH_r16_c8_repro.json") == (16, 1)
    assert [(n, b["cpus"]) for n, b in bench_guard._load_records()] == [
        ("BENCH_r15_c8.json", 8), ("BENCH_r15.json", 32),
        ("BENCH_r16_c8.json", 8), ("BENCH_r16_repro.json", 32),
    ]
    assert bench_guard.load_baseline(8)[0] == "BENCH_r16_c8.json"
    assert bench_guard.load_baseline(32)[0] == "BENCH_r16_repro.json"
    assert bench_guard.load_baseline()[0] == "BENCH_r16_repro.json"
    assert bench_guard.load_baseline(4)[0] == "BENCH_r16_repro.json"

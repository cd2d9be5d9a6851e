#!/usr/bin/env python
"""Per-query bench regression guard.

Compares a current bench result (a JSON line from ``bench.py``) against the
newest committed ``BENCH_r*.json`` baseline and FAILS (exit 1) if any query
regressed more than ``THRESHOLD``x — so plan regressions are caught at build
time, not judge time.

Usage:
    python bench.py | tail -1 > /tmp/bench_now.json
    python tools/bench_guard.py /tmp/bench_now.json
    python tools/bench_guard.py            # runs bench.py itself (slow)

Queries absent from the baseline (newly added) are reported but never fail;
sub-second baseline entries use an absolute floor instead of the ratio (a
0.2s -> 0.5s jitter is not a plan regression).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

THRESHOLD = 1.5
ABS_FLOOR_SEC = 1.0  # ratio test only applies above this baseline time
# Probe ratio (current host_speed / baseline host_speed) at or above which
# the host is considered drifted and per-query ratios are read through the
# probe: both r12-close verification runs and the r12 mid-round episode
# produced uniform 1.15-1.48x inflation on untouched pure-Catalyst rows
# that the probe explained (SURVEY §8 slow-host entry).
DRIFT_THRESHOLD = 1.15
# Cap on the multi-core probe's contribution to host_drift: the mt8 leg
# is the noisiest probe (parallel work is exactly what host bursts hit),
# and an uncapped reading would widen the drift-suspect lane without
# bound — genuine regressions up to THRESHOLD*drift demote to suspects
# (r13 advice). 2x covers every adjudicated degradation episode (the
# r13 close measured 1.2-1.7x) while keeping the loosening bounded.
MT8_DRIFT_CAP = 2.0
# Clean-chain anchor rule (r13 verdict): a committed record may only
# BECOME the guard's baseline if its own probe-normalized shared-row
# median ratio vs the previous round's anchor was <= this — otherwise a
# drift-poisoned repro (r13's best-of-eight was itself measured in an
# adjudicated ~1.2x-degraded window) silently becomes the yardstick it
# is judged against, and real regressions up to the poison read ~1.0x.
CLEAN_CHAIN_MAX = 1.1

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _expand_compact(rec: dict) -> dict | None:
    """Normalize a compact positional bench record (r15+ stdout format:
    "q" list + "qo" order hash, sized for the driver's ~2000-char tail
    capture) into the named-"queries" form every consumer here uses.
    The order hash is resolved through tools/bench_orders.json — the
    self-maintaining hash->names registry bench.py appends to whenever
    BENCH_QUERIES changes — so a record measured under an OLD order
    expands against exactly the list it was measured with. Returns the
    record unchanged if it already carries "queries"; None when the
    order hash is unknown or the list length mismatches (unexpandable —
    caller skips it with a note, same as an unparseable file)."""
    if "queries" in rec:
        return rec
    q = rec.get("q")
    if not isinstance(q, list):
        return None
    try:
        with open(os.path.join(REPO, "tools", "bench_orders.json")) as f:
            orders = json.load(f)
    except (OSError, ValueError):
        return None
    names = orders.get(rec.get("qo"))
    if not names or len(names) != len(q):
        return None
    rec = dict(rec)
    rec["queries"] = dict(zip(names, q))
    return rec


def _bench_line(text: str) -> dict | None:
    """Extract the last bench JSON line from arbitrary surrounding output
    (named-dict or compact positional format — both normalize to a
    record carrying "queries")."""
    for line in reversed(text.strip().splitlines()):
        if line.startswith('{"metric"'):
            return _expand_compact(json.loads(line))
    return None


# BENCH_rNN[_cK][_repro].json: round NN, a record taken on K cores (no
# tag: the round's default count), an idle rerun of that round's record.
_NAME = re.compile(r"_r(\d+)(?:_c(\d+))?(_repro)?\.json$")


def _baseline_key(path: str) -> tuple[int, int]:
    """Sort key: round number, with a same-round ``*_repro`` file ranked
    ABOVE the official record. Official records are taken under whatever
    load the driver's machine happened to have (round 6's medians ran
    1.5-1.8x over idle on untouched plans); the committed repro files are
    idle-machine reruns, so they are the honest regression anchor."""
    m = _NAME.search(path)
    if not m:
        return (-1, 0)
    return (int(m.group(1)), 1 if m.group(3) else 0)


def _load_records() -> list[tuple[str, dict]]:
    """All parseable committed bench records, one anchor per (round, core
    count) (the repro outranks the same-round official — officials can be
    taken under driver-machine load), in ascending (round, cores) order.
    Malformed files (truncated write → invalid JSON, non-dict top level, no
    bench line — BENCH_r03.json's tail capture truncated the line's head)
    are skipped with a note; they must not abort the guard. Each record's
    ``cpus`` is its own field, else that of the official record of its
    round and ``_cK`` tag (an official record wraps the bench line with the
    core count it ran on; older repro files carry none)."""
    paths = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")), key=_baseline_key)
    anchors: dict[tuple[int, int], tuple[tuple[int, int], str, dict]] = {}
    official_cpus: dict[tuple[int, str | None], int] = {}
    for path in paths:
        m = _NAME.search(path)
        tag = (_baseline_key(path)[0], m and m.group(2))
        try:
            with open(path) as f:
                raw = json.load(f)
        except (json.JSONDecodeError, OSError):
            raw = None
        bench = None
        if isinstance(raw, dict):
            # Driver format wraps the bench line inside the "tail" capture;
            # a plain bench.py record (named or compact) is also accepted.
            if "queries" in raw or "q" in raw:
                bench = _expand_compact(raw)
            else:
                bench = _bench_line(raw.get("tail", ""))
                if raw.get("cpus"):
                    official_cpus[tag] = raw["cpus"]
        if not bench:
            print(f"bench_guard: {os.path.basename(path)} has no parseable "
                  "bench line, skipping")
            continue
        if "cpus" not in bench and tag in official_cpus:
            bench = {**bench, "cpus": official_cpus[tag]}
        key = _baseline_key(path)
        slot = (key[0], bench.get("cpus") or 0)
        if slot not in anchors or key > anchors[slot][0]:
            anchors[slot] = (key, os.path.basename(path), bench)
    return [anchors[slot][1:] for slot in sorted(anchors)]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _chain_ratio(pred: dict, cand: dict) -> float | None:
    """Probe-normalized shared-row median ratio of ``cand`` vs ``pred`` —
    the cleanliness measure of the clean-chain anchor rule. Normalized in
    BOTH directions (unlike compare(), which only loosens): a record
    measured on a FASTER host than its predecessor must not read clean
    merely because the hardware hid a code regression. None when the
    records share no queries (chain can't be judged — accept)."""
    shared = [q for q in cand["queries"] if pred["queries"].get(q)]
    if not shared:
        return None
    med = _median([cand["queries"][q] / pred["queries"][q] for q in shared])
    drift = host_drift(pred, cand)
    if drift:
        med /= drift
    return med


def load_baseline(cpus: int | None = None) -> tuple[str, dict]:
    """The anchor for a record taken on ``cpus`` cores: the newest clean
    record at that count, else (no record at that count, or ``cpus`` not
    given) at the newest record's count."""
    records = _load_records()
    if not records:
        print("bench_guard: no parseable BENCH_r*.json baseline found")
        sys.exit(0)
    counts = [b.get("cpus") for _, b in records]
    cpus = cpus if cpus in counts else counts[-1]
    records = [r for r, c in zip(records, counts) if c == cpus]
    # Clean-chain walk: the newest record anchors ONLY if it was itself a
    # clean measurement relative to the round before it; otherwise walk
    # back to the newest record that was (r13 verdict — a drift-poisoned
    # repro must never become the baseline it is judged against).
    i = len(records) - 1
    while i > 0:
        ratio = _chain_ratio(records[i - 1][1], records[i][1])
        if ratio is None or ratio <= CLEAN_CHAIN_MAX:
            break
        print(f"bench_guard: {records[i][0]} is not a clean anchor "
              f"(probe-normalized median {ratio:.2f}x vs {records[i - 1][0]} "
              f"> {CLEAN_CHAIN_MAX}x) — walking back")
        i -= 1
    return records[i]


def load_current(argv: list[str]) -> dict:
    if argv:
        with open(argv[0]) as f:
            cur = _bench_line(f.read())
        if not cur:
            raise SystemExit(f"bench_guard: no bench JSON line in {argv[0]}")
        return cur
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, check=True,
    )
    cur = _bench_line(out.stdout)
    if not cur:
        raise SystemExit("bench_guard: bench.py produced no JSON line")
    return cur


def host_drift(base: dict, cur: dict) -> float | None:
    """Code-independent host-speed ratio between two bench records: the
    geometric mean of the single-core probe ratios (pyloop is
    interpreter-bound, md5 memory/crypto-bound — neither touches repo
    code, so the ratio measures the HOST, not the tree), then the WORSE
    of that and the multi-core ratio (md5_mt8, r13) when both records
    carry it. Spark rows are multi-core work: the r13 close measured
    uniform 1.2-1.7x row inflation (incl. SMT rows byte-identical since
    r7, adjudicated by an unchanged-r12-tree control run) while every
    single-core leg matched the anchor — only a parallel probe can see
    that mode, so normalizing by the max keeps such episodes in the
    drift-suspect lane instead of hard-failing untouched rows. None when
    either record predates the probe."""
    hs_cur, hs_base = cur.get("host_speed"), base.get("host_speed")
    if not (hs_cur and hs_base):
        return None
    ratios = [
        hs_cur[k] / hs_base[k]
        for k in ("pyloop_sec", "md5_200mb_sec")
        if hs_cur.get(k) and hs_base.get(k)
    ]
    if not ratios:
        return None
    prod = 1.0
    for r in ratios:
        prod *= r
    drift = prod ** (1.0 / len(ratios))
    if hs_cur.get("md5_mt8_sec") and hs_base.get("md5_mt8_sec"):
        # Capped: the parallel leg is the burst-noisiest probe, and an
        # uncapped reading would loosen the hard-fail gate without bound.
        mt8 = min(hs_cur["md5_mt8_sec"] / hs_base["md5_mt8_sec"], MT8_DRIFT_CAP)
        drift = max(drift, mt8)
    return drift


def compare(base: dict, cur: dict) -> tuple[list[str], list[str], list[str], float | None]:
    """Per-query comparison. Returns (report_lines, failures,
    drift_suspects, drift). When the probe says the host is >=
    DRIFT_THRESHOLD slower than at the baseline measurement, each ratio is
    ALSO read normalized by the probe: a row over THRESHOLD raw but under
    it normalized is a drift suspect ('re-run idle'), not a hard FAIL —
    both r12-close verification runs produced exactly that false-FAIL
    (steal-burst inflation the probe had already explained). A row over
    THRESHOLD even after normalization is a genuine regression and still
    hard-fails; with no drift (or no probe) behavior is unchanged."""
    drift = host_drift(base, cur)
    norm = drift if drift is not None and drift >= DRIFT_THRESHOLD else 1.0
    failures, suspects, lines = [], [], []
    for q, t in sorted(cur["queries"].items()):
        b = base["queries"].get(q)
        if b is None:
            lines.append(f"  NEW   {q:28s} {t:7.2f}s")
            continue
        ratio = t / b if b > 0 else float("inf")
        flag = "ok"
        if b >= ABS_FLOOR_SEC and ratio > THRESHOLD:
            if ratio / norm > THRESHOLD:
                flag = "REGRESSED"
                failures.append(q)
            else:
                flag = "DRIFT?"
                suspects.append(q)
        lines.append(f"  {flag:9s} {q:28s} {t:7.2f}s  (was {b:.2f}s, {ratio:.2f}x)")
    return lines, failures, suspects, drift


def cpu_mismatch(base: dict, cur: dict) -> str | None:
    """Why no verdict can be given, or None: two records taken at different
    core counts measure the hosts, not the code (the 32- and 8-vCPU r16
    records differ by more than any threshold here on unchanged rows)."""
    b, c = base.get("cpus"), cur.get("cpus")
    if b and c and b != c:
        return f"current record ran on {c} cores, the baseline on {b}"
    return None


def main() -> None:
    cur = load_current(sys.argv[1:])
    base_name, base = load_baseline(cur.get("cpus"))
    mismatch = cpu_mismatch(base, cur)
    if mismatch:
        print(f"bench_guard: NO VERDICT vs {base_name} — {mismatch}; bless a "
              "baseline at this core count first")
        sys.exit(2)
    lines, failures, suspects, drift = compare(base, cur)
    print(f"bench_guard: current vs {base_name} (fail ratio > {THRESHOLD}x, "
          f"floor {ABS_FLOOR_SEC}s)")
    print("\n".join(lines))
    # Apples-to-apples summary: sum ONLY the queries both runs measured.
    # Headline 'value' semantics changed across rounds (r4 folded decode
    # rows in; r5 reports the engine subset), so comparing raw values
    # across formats would fake a 2x jump either way.
    shared = set(cur["queries"]) & set(base["queries"])
    cur_t = sum(cur["queries"][q] for q in shared)
    base_t = sum(base["queries"][q] for q in shared)
    print(f"  shared-query total: {cur_t:.1f}s (was {base_t:.1f}s, "
          f"{len(shared)} queries)")
    if drift is not None:
        print(f"  host_speed probe: {drift:.2f}x vs baseline "
              f"({'normalizing ratios' if drift >= DRIFT_THRESHOLD else 'clean'})")
    if failures:
        print(f"bench_guard: FAIL — regressed: {', '.join(failures)}")
        sys.exit(1)
    if suspects:
        print(f"bench_guard: HOST-DRIFT SUSPECTED (probe {drift:.2f}x) — "
              f"over-threshold only before normalization: "
              f"{', '.join(suspects)}; re-run on an idle host to confirm")
        return
    print("bench_guard: OK")


if __name__ == "__main__":
    main()

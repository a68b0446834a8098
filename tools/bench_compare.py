"""Bench regression guard: diff a bench run's per-query times against
the previous round's recorded artifact and fail on real slowdowns.

Usage (CLI):

    python tools/bench_compare.py                 # newest BENCH_r*.json vs bench_detail.json's gate stats
    python tools/bench_compare.py PREV.json CUR.json
    python tools/bench_compare.py --threshold 1.25   # or --threshold=1.25

Also imported by bench.py, which embeds the result as a
``"regressions"`` field in its gate line so every ``BENCH_r{N}.json``
carries its own verdict against ``BENCH_r{N-1}.json``.

What counts as a regression — the comparison is noise-aware because
this box suffers host-level noise bursts (documented in bench.py):

- the compared statistic is the gate stat itself (min of warm reps —
  external noise strictly ADDS wall time, so min is the plan-cost
  estimator);
- ratio gate: cur > prev * threshold (default 1.25, the judge's bar);
- absolute slack: AND cur - prev > 0.10 s, so a 0.08 s query jumping
  to 0.11 s (pure job-overhead jitter) doesn't page anyone;
- host-drift normalization: each artifact carries a probe suite — a
  CPU-bound fold (``calib_sec``) plus two fixed SPARK jobs (``probe``:
  a 32-way shuffle and a parquet scan over pinned data). The round-5
  adjudication showed the CPU probe alone cannot see drift that hits
  the full Spark path (JVM scheduling, shuffle I/O); the Spark probes
  can. When the probes' geometric-mean ratio drifts beyond
  ``HOST_DRIFT_RATIO`` (1.15x, either direction), per-query times are
  normalized by that ratio before gating, and every reported row
  carries both raw and normalized values;
- calibration advisory: if the probe ratio exceeds 1.5x the session is
  weather-inflated beyond what normalization can honestly correct, so
  findings are reported as ``advisory`` instead of failing the gate.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

THRESHOLD = 1.25
ABS_SLACK_SEC = 0.10
HOST_DRIFT_RATIO = 1.15
CALIB_NOISE_RATIO = 1.5


def _load_queries(path: str) -> tuple[dict[str, float], dict[str, float]]:
    """Extract (per-query gate times, probe components) from either a
    driver ``BENCH_r*.json`` (times under ``parsed``) or a raw bench.py
    gate line / detail file.

    Probe components: ``calib`` (min of the CPU-probe pair, present
    since round 4) and ``shuffle``/``scan`` (the Spark-probe pair,
    present since round 6). Absent components are simply omitted so
    cross-round comparisons use whatever both sides share.
    """
    with open(path) as fh:
        d = json.load(fh)
    if "parsed" in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    qs = d.get("queries")
    if not isinstance(qs, dict) and isinstance(d.get("tail"), str):
        # Driver artifacts keep only the last ~2000 chars of stdout; a
        # gate line longer than that window arrives with its HEAD cut
        # off and "parsed": null (BENCH_r07.json shipped this way).
        # The queries dict and the probe fields sit at the END of the
        # gate line, so they survive the truncation — recover them by
        # brace-matching the "queries" object and regexing the arrays.
        d = _recover_from_tail(d["tail"])
        qs = d.get("queries")
    if not isinstance(qs, dict):
        raise ValueError(f"{path}: no per-query timings found")
    probe: dict[str, float] = {}
    calib = d.get("calib_sec")
    if isinstance(calib, (list, tuple)) and calib:
        probe["calib"] = float(min(calib))
    spark_probe = d.get("probe")
    if isinstance(spark_probe, (list, tuple)) and len(spark_probe) == 2:
        probe["shuffle"], probe["scan"] = float(spark_probe[0]), float(spark_probe[1])
    return {k: float(v) for k, v in qs.items()}, probe


def _recover_from_tail(tail: str) -> dict:
    """Best-effort parse of a head-truncated gate line: extract the
    ``"queries":{...}`` object by brace matching and the ``calib_sec``
    / ``probe`` number arrays by regex. Returns {} when nothing is
    recoverable (caller raises its usual ValueError)."""
    out: dict = {}
    i = tail.rfind('"queries":{')
    if i >= 0:
        j = tail.find("{", i)
        depth = 0
        for k in range(j, len(tail)):
            if tail[k] == "{":
                depth += 1
            elif tail[k] == "}":
                depth -= 1
                if depth == 0:
                    try:
                        out["queries"] = json.loads(tail[j : k + 1])
                    except ValueError:
                        pass
                    break
    for key in ("calib_sec", "probe"):
        m = re.search(rf'"{key}":\[([-0-9.,eE]+)\]', tail)
        if m:
            try:
                out[key] = [float(x) for x in m.group(1).split(",")]
            except ValueError:
                pass
    return out


def load_waivers(repo: str = REPO) -> dict[str, dict]:
    """Adjudicated-slowdown waivers: {query: {max_ratio, reason}}.
    Missing/unreadable file = no waivers."""
    path = os.path.join(repo, "tools", "bench_waivers.json")
    try:
        with open(path) as fh:
            d = json.load(fh)
        return d if isinstance(d, dict) else {}
    except (OSError, ValueError):
        return {}


def latest_round_artifact(repo: str = REPO) -> str | None:
    """Newest BENCH_r{N}.json / BENCH_IDLE_r{N}.json by round number,
    or None. An IDLE artifact (a builder-run full headline on a
    provably idle host, with interleaved probe ticks — the r10 verdict
    item 1 protocol) outranks the driver artifact of the SAME round:
    it is the credible reading, recorded precisely because the driver
    session's weather was in question."""
    best, best_key = None, (-1, 0)
    for p in glob.glob(os.path.join(repo, "BENCH_*r*.json")):
        m = re.search(r"BENCH_(IDLE_)?r(\d+)\.json$", p)
        if not m:
            continue
        key = (int(m.group(2)), 1 if m.group(1) else 0)
        if key > best_key:
            best, best_key = p, key
    return best


def host_ratio(prev_probe: dict[str, float] | None, cur_probe: dict[str, float] | None) -> float | None:
    """Geometric mean of cur/prev over the probe components both runs
    carry. >1 means this host is slower than it was for the previous
    artifact; None when no component is shared."""
    if not prev_probe or not cur_probe:
        return None
    ratios = [
        cur_probe[k] / prev_probe[k]
        for k in sorted(set(prev_probe) & set(cur_probe))
        if prev_probe[k] > 0
    ]
    if not ratios:
        return None
    return math.exp(sum(math.log(r) for r in ratios) / len(ratios))


def compare(
    prev_queries: dict[str, float],
    cur_queries: dict[str, float],
    prev_probe: dict[str, float] | None = None,
    cur_probe: dict[str, float] | None = None,
    threshold: float = THRESHOLD,
    abs_slack: float = ABS_SLACK_SEC,
    waivers: dict[str, dict] | None = None,
) -> dict:
    """Return {"regressions": [...], "advisory": bool, ...}.

    ``regressions`` lists {name, prev, cur, cur_norm, ratio} for every
    shared query breaching BOTH the ratio and the absolute-slack gates
    on its host-normalized time. ``host_ratio`` records the probe
    drift; when it is within HOST_DRIFT_RATIO of 1.0 the raw times are
    gated directly (cur_norm == cur). ``advisory`` is True when probe
    drift exceeds CALIB_NOISE_RATIO — the session is too
    weather-inflated for even normalized numbers to fail a gate.
    """
    hr = host_ratio(prev_probe, cur_probe)
    advisory = hr is not None and (hr > CALIB_NOISE_RATIO or hr < 1 / CALIB_NOISE_RATIO)
    shared = sorted(set(prev_queries) & set(cur_queries))
    # Host-drift normalization, two estimators:
    #
    # 1. MEDIAN QUERY RATIO (preferred when >= 20 shared queries): the
    #    r7 and r8 adjudications both measured that the probe suite
    #    over-responds to host weather relative to full query plans
    #    (r7: probes 1.406x vs query median 1.315x; r8: probes 0.844x
    #    vs query median 0.949x — probe-normalized gating spuriously
    #    flagged 9 untouched queries). The median of cur/prev over the
    #    shared set is robust to up to half the queries genuinely
    #    regressing, so it isolates per-query PLAN changes from
    #    uniform session drift.
    # 2. PROBE RATIO (fallback for small shared sets, and always the
    #    guard against a UNIFORM regression): if every query slowed
    #    down because of a bad session/config change, the median ratio
    #    normalizes it away — so when the median ratio itself exceeds
    #    the probes' explanation by the threshold, report it as a
    #    ``uniform_drift`` finding.
    med = None
    rlist = [
        cur_queries[k] / prev_queries[k]
        for k in shared
        if prev_queries[k] > 0
    ]
    if len(rlist) >= 20:
        rlist.sort()
        mid = len(rlist) // 2
        med = rlist[mid] if len(rlist) % 2 else (rlist[mid - 1] + rlist[mid]) / 2
    if med is not None:
        norm = med
    else:
        # probe fallback: symmetric — a slower host inflates cur
        # (divide down); a faster host deflates cur and would MASK a
        # regression (divide up). Inside the 1.15x band, raw gating.
        # Beyond the 1.5x ceiling the drift is too large to assume
        # uniform, so raw times are gated and the verdict is advisory.
        norm = (
            hr
            if hr is not None
            and not advisory
            and not (1 / HOST_DRIFT_RATIO < hr < HOST_DRIFT_RATIO)
            else 1.0
        )
    uniform_drift = (
        med is not None
        and hr is not None
        and not advisory
        and med / hr > threshold
    )
    regs = []
    for name in shared:
        prev, cur = prev_queries[name], cur_queries[name]
        if prev <= 0:
            continue
        cur_n = cur / norm
        if cur_n > prev * threshold and cur_n - prev > abs_slack:
            regs.append(
                {
                    "name": name,
                    "prev": round(prev, 3),
                    "cur": round(cur, 3),
                    "cur_norm": round(cur_n, 3),
                    "ratio": round(cur_n / prev, 2),
                }
            )
    regs.sort(key=lambda r: -r["ratio"])
    # Adjudicated plan changes: a waiver (tools/bench_waivers.json) is a
    # deliberate, documented slowdown — an operator traded bench time
    # for robustness/scale and the trade is recorded. Waived flags move
    # to a "waived" list (still visible in every artifact) instead of
    # failing the gate; a waiver caps the tolerated ratio so a further
    # regression on the same query still fails.
    waived = []
    if waivers:
        kept = []
        for r in regs:
            w = waivers.get(r["name"])
            if w and r["ratio"] <= float(w.get("max_ratio", threshold)):
                waived.append({**r, "reason": w.get("reason", "")})
            else:
                kept.append(r)
        regs = kept
    return {
        "regressions": regs,
        "waived": waived,
        "advisory": advisory,
        "host_ratio": round(hr, 3) if hr is not None else None,
        "median_query_ratio": round(med, 3) if med is not None else None,
        "normalized": norm != 1.0,
        "norm_source": "median" if med is not None else ("probe" if norm != 1.0 else "raw"),
        "uniform_drift": uniform_drift,
        "n_compared": len(shared),
        "threshold": threshold,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        description="Diff two bench artifacts for per-query regressions.",
    )
    ap.add_argument("paths", nargs="*", help="PREV.json CUR.json (default: newest BENCH_r*.json vs bench_detail.json)")
    ap.add_argument("--threshold", type=float, default=THRESHOLD)
    ns = ap.parse_args(argv)
    if len(ns.paths) == 2:
        prev_path, cur_path = ns.paths
    elif len(ns.paths) == 0:
        prev_path = latest_round_artifact()
        cur_path = os.path.join(REPO, "bench_detail.json")
        if prev_path is None or not os.path.exists(cur_path):
            print("bench_compare: nothing to compare (need BENCH_r*.json + bench_detail.json)")
            return 0
    else:
        ap.print_usage()
        return 2
    prev_q, prev_p = _load_queries(prev_path)
    insuite_q = None
    # bench_detail.json stores the gate stat per query under "spread"[0]
    # (min of warm); fall back to warm_median when comparing detail files
    try:
        cur_q, cur_p = _load_queries(cur_path)
    except ValueError:
        with open(cur_path) as fh:
            d = json.load(fh)
        # the detail file's gate stat is "gate_queries": min-of-warm
        # WITH the flag-adjudication isolated reruns folded in — the
        # exact numbers bench.py's own verdict gated on. Falling back
        # to spread[0] (in-suite min, kept as-measured per the round-8
        # advice) re-flagged queries the artifact itself had already
        # adjudicated clear.
        if isinstance(d.get("gate_queries"), dict):
            cur_q = {k: float(v) for k, v in d["gate_queries"].items()}
            # Keep the as-measured in-suite mins visible too (round-9
            # advice): adjudicated isolated reruns legitimately clear a
            # flag for the VERDICT, but a query that only passes when
            # rerun alone is still drifting in-suite — surface that as
            # a separate advisory channel that never gates.
            if isinstance(d.get("spread"), dict):
                insuite_q = {k: float(v[0]) for k, v in d["spread"].items()}
        else:
            cur_q = {k: float(v[0]) for k, v in d["spread"].items()}
        cur_p = {}
        if d.get("calib_sec"):
            cur_p["calib"] = float(min(d["calib_sec"]))
        if d.get("probe"):
            cur_p["shuffle"], cur_p["scan"] = map(float, d["probe"][:2])
    out = compare(
        prev_q, cur_q, prev_p, cur_p, threshold=ns.threshold, waivers=load_waivers()
    )
    if insuite_q is not None and insuite_q != cur_q:
        insuite = compare(
            prev_q,
            insuite_q,
            prev_p,
            cur_p,
            threshold=ns.threshold,
            waivers=load_waivers(),
        )
        out["insuite_advisory"] = {
            "note": "as-measured in-suite mins (spread[0]); informational only",
            "regressions": insuite["regressions"],
            "median_query_ratio": insuite.get("median_query_ratio"),
        }
    print(json.dumps(out, indent=1))
    if out.get("uniform_drift"):
        print(
            f"FAIL: uniform drift — median query ratio {out['median_query_ratio']} "
            f"exceeds probe-explained host drift {out['host_ratio']} by >{ns.threshold}x "
            "(session-wide regression, not weather)",
            file=sys.stderr,
        )
        return 1
    if out["regressions"] and not out["advisory"]:
        print(
            f"FAIL: {len(out['regressions'])} quer{'y' if len(out['regressions']) == 1 else 'ies'} "
            f"regressed >{ns.threshold}x vs {os.path.basename(prev_path)}",
            file=sys.stderr,
        )
        return 1
    if out["regressions"]:
        print("ADVISORY ONLY: probe drift says this session is noise-inflated", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

"""Per-stage time attribution from the Spark event log.

When the bench-regression guard flags a query, "query X got slower" is
not actionable — the round-5 adjudication showed the flags were uniform
host drift, but proving that took a manual judge re-run. This module
turns a flag into stage-level evidence: WHICH stage of the flagged
query's plan holds the time, so a reader can tell "every stage inflated
~uniformly" (host weather) from "one exchange doubled" (plan
regression).

Mechanism: ``bench.py`` enables ``spark.eventLog.enabled`` and tags
every measured rep with a job group ``{query}#rep{i}``. The event log
is a public, line-delimited JSON format (one ``SparkListener*`` event
per line — the same file the History Server replays). This parser
links job groups -> job IDs -> stage IDs -> per-stage submission /
completion times, needing no UI, REST endpoint, or py4j listener.

    python tools/stage_attr.py /tmp/spark-graft-eventlog [query ...]

prints, per query, the fastest rep's stages sorted by wall time.

Under AQE every stage is named after the thread that submits it
(``$anonfun$withThreadLocalCaptured...``), so each stage row also lists
the RDD scopes it runs (``Stage Info`` -> ``RDD Info`` -> ``Scope``):
``Exchange``, ``WholeStageCodegen (2)``, ``BatchEvalPython``, or
``parallelize`` + ``mapPartitions`` for a Python-worker job such as a
``createDataFrame`` over a Python list.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import defaultdict


def _event_lines(log_dir: str):
    """Yield parsed events from the newest application log in log_dir
    (finished or .inprogress — the format is identical). Handles both
    the single-file layout and Spark 4's per-app directory layout
    (``eventlog_v2_<appid>/events_N_<appid>`` plus an appstatus marker);
    bench.py disables compression, so the events files are plain text."""
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*")),
        key=os.path.getmtime,
    )
    if not paths:
        raise FileNotFoundError(f"no event logs under {log_dir}")
    newest = paths[-1]
    if os.path.isdir(newest):
        # rolled logs must replay in ROLL order, not lexicographic —
        # events_10_* sorts before events_2_* and would deliver stage
        # completions ahead of the JobStart that registers them.
        def _roll_key(path: str) -> tuple[int, str]:
            m = re.match(r"events_(\d+)", os.path.basename(path))
            return (int(m.group(1)) if m else 0, path)

        files = sorted(glob.glob(os.path.join(newest, "events_*")), key=_roll_key)
        files = [f for f in files if not f.endswith((".zstd", ".lz4", ".snappy", ".crc"))]
        if not files:
            raise FileNotFoundError(
                f"no readable events_* files under {newest} "
                "(compressed logs need spark.eventLog.compress=false)"
            )
    else:
        files = [newest]
    for path in files:
        with open(path, errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn tail line of an .inprogress log


def stage_scopes(info: dict) -> list[str]:
    """Distinct RDD scope names of one ``Stage Info``, in RDD-id
    (creation) order. RDDs without a scope, or with a torn one, are
    skipped."""
    names: list[str] = []
    for rdd in sorted(info.get("RDD Info") or [], key=lambda r: r.get("RDD ID", 0)):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name")
        except (json.JSONDecodeError, AttributeError):
            continue
        if name and name not in names:
            names.append(name)
    return names


def parse_groups(log_dir: str) -> dict[str, list[dict]]:
    """Map job-group id -> list of stage rows for stages run under it.

    Stage row: {"stage": name, "id": stageId, "sec": wall seconds,
    "tasks": numTasks, "scopes": stage_scopes}. A stage submitted by
    several jobs of the same group is counted once (first completion
    wins).
    """
    stage_to_group: dict[int, str] = {}
    rows: dict[str, dict[int, dict]] = defaultdict(dict)
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_to_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            sid = info.get("Stage ID")
            group = stage_to_group.get(sid)
            sub, comp = info.get("Submission Time"), info.get("Completion Time")
            if group is None or sub is None or comp is None:
                continue
            rows[group].setdefault(
                sid,
                {
                    "stage": info.get("Stage Name", "?"),
                    "id": sid,
                    "sec": round((comp - sub) / 1000.0, 3),
                    "tasks": info.get("Number of Tasks", 0),
                    "scopes": stage_scopes(info),
                },
            )
    return {g: sorted(d.values(), key=lambda r: -r["sec"]) for g, d in rows.items()}


def attribute(log_dir: str, queries: list[str]) -> dict[str, dict]:
    """For each query, pick the rep (job group ``{query}#rep{i}``) with
    the smallest total stage time — the same rep the min-of-warm gate
    statistic describes — and return its stage breakdown."""
    groups = parse_groups(log_dir)
    out: dict[str, dict] = {}
    for q in queries:
        reps = {g: rs for g, rs in groups.items() if g.split("#rep")[0] == q}
        if not reps:
            continue
        # rep0 is the cold run; prefer the fastest WARM rep to match the
        # gate statistic, falling back to any rep if only rep0 exists
        warm = {g: rs for g, rs in reps.items() if not g.endswith("#rep0")} or reps
        best = min(warm, key=lambda g: sum(r["sec"] for r in warm[g]))
        out[q] = {
            "rep": best,
            "total_stage_sec": round(sum(r["sec"] for r in warm[best]), 3),
            "stages": warm[best][:12],
        }
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    log_dir, queries = argv[0], argv[1:]
    if not queries:
        queries = sorted({g.split("#rep")[0] for g in parse_groups(log_dir)})
    print(json.dumps(attribute(log_dir, queries), indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

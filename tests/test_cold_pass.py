"""tools/cold_pass.py — per-artifact receipts of the CLI's pass, run on
the suite's session over the tweet fixture."""

from __future__ import annotations

import json
import os

from tools.cold_pass import ARTIFACTS, cold_pass, render


def test_cold_pass_receipts_cover_every_artifact_phase(spark, tweets_json, tmp_path):
    rows = cold_pass(spark, tweets_json, str(tmp_path / "out"), "1")
    assert [(r["artifact"], r["phase"]) for r in rows] == [(a, p) for a in ARTIFACTS for p in ("build", "sink")]
    assert all(r[k] >= 0 for r in rows for k in ("jobs", "compiles", "classes"))
    by = {(r["artifact"], r["phase"]): r for r in rows}
    # the full graph's build checkpoints the core; every sink writes
    assert by["full_graph", "build"]["jobs"] > 0
    assert all(by[a, "sink"]["jobs"] > 0 for a in ARTIFACTS)
    assert os.path.exists(tmp_path / "out" / "id_neighbours_1" / "id.edges.csv")
    assert render(rows).splitlines()[-1].startswith("total")
    json.dumps(rows)

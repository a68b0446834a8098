"""Output checks for the benchmark's untimed pass.

Registry queries are checked against their DuckDB oracle SQL, compared
as order-free multisets with ``tools.check_parity.rows_to_multiset``
(the repo's parity harness rules), or with the query's own bounded
checker where it defines one. The tweet export is checked against a
plain-Python rebuild of the pipeline from the generator's records.
"""

from __future__ import annotations

import csv
import os
from collections import Counter, defaultdict
from itertools import combinations

from tools.check_parity import TABLES, rows_to_multiset


def oracle_connection(sf_dir: str):
    """DuckDB connection with every star table registered as a view."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    return con


def compare_rows(rows, cols, want_rows, want_cols) -> str | None:
    """None when both results hold the same columns and rows."""
    if sorted(cols) != sorted(want_cols):
        return f"columns {sorted(cols)} != {sorted(want_cols)}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != {len(want_rows)}"
    if rows_to_multiset(rows, cols) != rows_to_multiset(want_rows, want_cols):
        return "values differ"
    return None


def check_query(con, rq, spark, sf_dir: str, rows, cols) -> str | None:
    """Check one registry query's collected result."""
    if rq.check is not None:
        return rq.check(spark, sf_dir, rows, cols)
    if rq.sql is None:
        return "query has neither oracle SQL nor a checker"
    res = con.execute(rq.sql)
    return compare_rows(rows, cols, res.fetchall(), [d[0] for d in res.description])


# --- tweet export ------------------------------------------------------------

# functions/core.py's accent fold, applied after lower-casing
_FOLD = str.maketrans("ãäöüẞáäčďéěíĺľňóôŕšťúùůýž", "aaousaacdeeillnoorstuuuyz")


def _user_tags(records: list[dict]) -> dict[str, list[str]]:
    """TweetGraphPipeline.user_hashtags: own tags plus the tags of each
    original post credited to its author, normalized, non-empty."""
    arrays: dict[str, set[tuple]] = defaultdict(set)
    for r in records:
        if r["hashtagEntities"] is not None and r["hashtagEntitiesArray"] is not None:
            arrays[str(r["user"]["id"])].add(tuple(r["hashtagEntitiesArray"]))
        rs = r["retweeted_status"]
        if rs is not None and rs["hashtagEntities"] is not None and rs["hashtagEntitiesArray"] is not None:
            arrays[str(rs["user"]["id"])].add(tuple(rs["hashtagEntitiesArray"]))
    out = {}
    for uid, arrs in arrays.items():
        tags = sorted({t.lower().translate(_FOLD) for a in arrs for t in a})
        if tags:
            out[uid] = tags
    return out


def tweet_reference(records: list[dict], threshold: float = 0.5) -> dict:
    """Expected artifacts of the CLI pipeline, built without Spark."""
    rt = Counter(
        (str(r["retweeted_status"]["user"]["id"]), str(r["user"]["id"]))
        for r in records
        if r["retweeted_status"] is not None
    )
    tags = _user_tags(records)
    edges = {(s, d, "RT"): float(w) for (s, d), w in rt.items()}
    edges.update({(u, t, "HT"): 1.0 for u, ts in tags.items() for t in ts})
    by_tag: dict[str, list[str]] = defaultdict(list)
    for u, ts in tags.items():
        for t in ts:
            by_tag[t].append(u)
    shared: Counter = Counter()
    for users in by_tag.values():
        shared.update(combinations(sorted(users), 2))
    candidates = 0
    for (a, b), n in shared.items():
        if n < 2:
            continue
        candidates += 1
        ta, tb = set(tags[a]), set(tags[b])
        j = len(ta & tb) / len(ta | tb)
        if j > threshold:
            edges[(b, a, "JC")] = j
    return {
        "edges": edges,
        "report_users": set(tags),
        "corpus_rows": len(records),
        "jc_candidates": candidates,
    }


def neighborhood_edges(edges: dict, seed_id: str) -> set:
    """k_hop_neighborhood(hops=2) with the reference quirks: expand along
    out-edges only, never through HT edges, then keep every edge that
    touches a visited node."""
    visited = {seed_id} | {d for (s, d, t) in edges if s == seed_id and t != "HT"}
    return {e for e in edges if e[0] in visited or e[1] in visited}


def _read_csv(path: str, sep: str) -> list[list[str]]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh, delimiter=sep))


def _edge_file(path: str) -> dict:
    header, *rows = _read_csv(path, ",")
    if header != ["src", "dst", "w", "type"]:
        raise ValueError(f"{path}: header {header}")
    return {(s, d, t): float(w) for s, d, w, t in rows}


def _edge_problem(path: str, want: dict) -> str | None:
    got = _edge_file(path)
    if got.keys() != want.keys():
        return f"{len(got.keys() - want.keys())} extra, {len(want.keys() - got.keys())} missing edges"
    bad = [k for k in want if abs(got[k] - want[k]) > 1e-12]
    return f"{len(bad)} wrong weights, e.g. {bad[0]}" if bad else None


def _report_problem(path: str, ref: dict) -> str | None:
    header, *rows = _read_csv(path, ";")
    if header != ["user", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"]:
        return f"header {header}"
    users = [row[0] for row in rows]
    if len(users) != len(ref["report_users"]) or set(users) != ref["report_users"]:
        return f"{len(users)} rows, want one per user with tags ({len(ref['report_users'])})"
    return None


def _corpus_problem(path: str, ref: dict) -> str | None:
    header, *rows = _read_csv(path, ",")
    if header != ["txt_plus_rt"] or len(rows) != ref["corpus_rows"]:
        return f"{len(rows)} rows, want one per tweet ({ref['corpus_rows']})"
    return None


def check_tweet_outputs(out_dir: str, ref: dict, seed_id: str) -> dict[str, str]:
    """Compare the four CLI artifacts under ``out_dir`` with ``ref``.
    Returns {artifact: problem} for each artifact that is wrong."""
    hood = {e: ref["edges"][e] for e in neighborhood_edges(ref["edges"], seed_id)}
    checks = {
        "full_graph": lambda: _edge_problem(os.path.join(out_dir, "gFull", "g.edges.csv"), ref["edges"]),
        "bi_report": lambda: _report_problem(os.path.join(out_dir, "exportPowerBI.csv"), ref),
        "word_cloud": lambda: _corpus_problem(os.path.join(out_dir, "wordCloud.csv"), ref),
        "neighborhood": lambda: _edge_problem(
            os.path.join(out_dir, f"id_neighbours_{seed_id}", "id.edges.csv"), hood
        ),
    }
    problems = {}
    for name, check in checks.items():
        try:
            problem = check()
        except (OSError, ValueError) as exc:  # missing or malformed file
            problem = repr(exc)
        if problem:
            problems[name] = problem
    return problems

"""Local mirror of the driver's correctness harness.

Runs every registered query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, sorted column names, and
order-insensitive values. Usage:

    python tools/check_parity.py [--sample N --seed S] [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all queries. ``--sample N``
draws a deterministic N-query rotation from the registry (seeded by
``--seed``, e.g. the round number) — a self-serve stand-in for the
driver's fixed 50-name panel, so a DIFFERENT slice of the registry
gets an independently-recorded receipt each round (COVERAGE.md).
"""

from __future__ import annotations

import argparse
import hashlib
import math
import sys
import time
from datetime import date, datetime
from pathlib import Path

import duckdb

# the checkout this script belongs to, so a copy of the repo checks its
# own package
REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact — queries are responsible for rounding accumulated floats
        return v + 0.0
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    from decimal import Decimal

    if isinstance(v, Decimal):
        return round(float(v), 9)
    return v


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sample", type=int, default=0,
                    help="run a deterministic N-query rotation instead of all")
    ap.add_argument("--seed", default="0",
                    help="rotation seed (e.g. the round number)")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    only = set(args.queries)

    from tvbigdataproject_spark.queries import REGISTRY
    from tvbigdataproject_spark.session import get_spark

    if args.sample and not only:
        # md5(seed || name) total-orders the registry reproducibly; the
        # first N names are the round's rotation — different seed,
        # different slice, no RNG state involved
        ranked = sorted(
            REGISTRY,
            key=lambda n: hashlib.md5(
                f"{args.seed}:{n}".encode()
            ).hexdigest(),
        )
        only = set(ranked[: args.sample])
        print(f"rotation seed={args.seed} n={args.sample}: "
              + " ".join(sorted(only)))

    spark = get_spark(app_name="parity-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = 0
    for name, rq in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = rq.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            n_fail += 1
            continue
        if rq.sql is None:
            # rows-only by design — but a query may declare a bounded-
            # value checker (sampling counts, sketch error bounds) that
            # upgrades it beyond "it returned rows"
            if rq.check is not None:
                try:
                    msg = rq.check(spark, sf_dir, s_rows, s_cols)
                except Exception as exc:  # noqa: BLE001
                    msg = f"checker error: {exc}"
                if msg:
                    print(f"FAIL {name}: bounded check: {msg}")
                    n_fail += 1
                else:
                    print(
                        f"PASS {name} [bounded] ({len(s_rows)} rows, {time.time()-t0:.1f}s)"
                    )
                    n_pass += 1
                continue
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(rq.sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            n_fail += 1
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            sm = rows_to_multiset(s_rows, s_cols)
            dm = rows_to_multiset(d_rows, d_cols)
            if sm != dm:
                diff_i = next(
                    (i for i, (a, b) in enumerate(zip(sm, dm)) if a != b), None
                )
                detail = f" first-diff@{diff_i}: spark={sm[diff_i]} duck={dm[diff_i]}" if diff_i is not None else ""
                problems.append(f"values differ ({len(sm)} rows){detail}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

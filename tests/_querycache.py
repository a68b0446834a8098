"""Session-scoped memo of REGISTRY[name].fn(spark, sf_dir) DataFrames.

The suite builds every registered query's DataFrame several times — the
smoke executor, the nested-loop and unpartitioned-window full-registry
audits, and the per-query Python-UDF fence — and an ITERATIVE query's
fn() executes its checkpointed rounds at call time, so every duplicate
call re-runs real Spark jobs. This memo makes each query's fn run once
per pytest session; the audits and the smoke counts read the same
DataFrame (identical plan, identical result). Test-harness only: the
library itself never memoizes query results, and the bench releases all
session caches before every timed rep.

``release_session_caches`` invalidates every result frame returned
before it (the session registry owns the blocks behind them), and any
test may call it. So a memo entry records the registry's keys when it
was built, and is rebuilt once one of them is gone: an entry is only
ever served while every session table and kept result it could read
is still held.
"""

from __future__ import annotations

from tvbigdataproject_spark.operators import materialize

SF_DIR = "/root/testdata/sf0.001"

_DF_CACHE: dict = {}


def registry_df(spark, name: str, sf_dir: str = SF_DIR):
    """The (lazily built, session-memoized) DataFrame of a registered
    query at ``sf_dir``, rebuilt after a release of the session."""
    from tvbigdataproject_spark.queries import REGISTRY

    key = (id(spark), name, sf_dir)
    hit = _DF_CACHE.get(key)
    if hit is None or not hit[1] <= materialize._SESSION.keys():
        df = REGISTRY[name].fn(spark, sf_dir)
        hit = _DF_CACHE[key] = (df, set(materialize._SESSION))
    return hit[0]

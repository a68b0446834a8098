"""Smoke over the full registered query suite at sf0.001: every query
plans, executes, and keeps a stable column set. (Value-level parity vs
DuckDB is tools/check_parity.py / the driver's gate — not re-run here.)"""

from __future__ import annotations

import pytest

from _querycache import registry_df

from tvbigdataproject_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    # shared with the plan audits via the session memo — an iterative
    # query's fn() executes real jobs at call time, so each duplicate
    # build costs a full loop replay (tests/_querycache.py)
    df = registry_df(spark, name, SF_DIR)
    assert df.columns, f"{name} has no columns"
    assert df.count() >= 0


def test_event_window_queries_are_oracle_checked():
    # the event-window queries are part of the oracle suite
    for name in ("tumbling_window_agg", "sliding_window_agg", "sessionize_events"):
        assert REGISTRY[name].sql is not None


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    qs, sqls = E.queries(), E.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) == len(REGISTRY)


def test_literal_tables_launch_no_python_worker(spark, monkeypatch):
    # a classic createDataFrame over a Python list goes through
    # SparkContext.parallelize and runs through Python workers; these
    # queries build their few-row reference tables as VALUES literals
    from pyspark import SparkContext

    calls = []
    real = SparkContext.parallelize

    def spy(self, *args, **kwargs):
        calls.append(args[:1])
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "parallelize", spy)
    for name in (
        "null_safe_join_segments",
        "range_join_bands",
        "benford_price_audit",
        "query_likelihood_dirichlet",
        "blocklist_hits",
        "rich_club_coefficient",
        "ridge_path_qty_discount",
    ):
        # built fresh, not from the session memo, so the build is spied on
        assert REGISTRY[name].fn(spark, SF_DIR).count() > 0, name
    assert calls == []

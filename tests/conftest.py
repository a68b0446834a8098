"""Shared fixtures: one local SparkSession and the deterministic tweet
fixture from FIXTURES.md §A (hand-verifiable goldens in test_pipelines)."""

from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a copy of the repo tests its
# own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tvbigdataproject_spark.schemas import TWEET_SCHEMA  # noqa: E402
from tvbigdataproject_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


_JOB_GROUPS = itertools.count()


def count_jobs(spark, fn):
    """(jobs, result) of ``fn()``: the Spark jobs it ran, counted under a
    job group of its own. The status store is fed by the asynchronous
    listener bus, so the bus is drained before counting; reading
    ``statusTracker`` without that can count one job short."""
    sc = spark.sparkContext
    group = f"count_jobs_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _ht(tags):
    """hashtagEntities struct list (only null-ness matters to the
    pipelines) + the flattened array the reference actually projects."""
    return [{"text": t} for t in tags]


def _tweet(uid, text=None, tags=None, rt=None):
    row = {
        "user": {"id": uid},
        "text": text,
        "hashtagEntities": _ht(tags) if tags is not None else None,
        "hashtagEntitiesArray": list(tags) if tags is not None else None,
        "retweeted_status": rt,
    }
    return row


def _rt(uid, text=None, tags=None):
    return {
        "user": {"id": uid},
        "text": text,
        "hashtagEntities": _ht(tags) if tags is not None else None,
        "hashtagEntitiesArray": list(tags) if tags is not None else None,
    }


# The golden corpus (see test_pipelines for the hand-derived expected
# graphs): exercises accent/case normalization, repeat retweets,
# self-retweets, null text/tags, tag flow through retweeted posts, and
# every Jaccard-gate branch (>0.5 kept, ==0.5 dropped, 1 shared → no
# candidate).
TWEETS = [
    _tweet(1, text="Spark is Great", tags=["Café", "Spark"]),
    _tweet(1, text="more coffee", tags=["CAFE"]),
    _tweet(2, rt=_rt(1, text="Spark is Great", tags=["Café", "Spark"])),
    _tweet(2, rt=_rt(1, text="Spark is Great", tags=["Café", "Spark"])),
    _tweet(3, text="many tags", tags=["cafe", "spark", "alpha", "beta", "gamma", "delta"]),
    _tweet(4, text="one tag", tags=["Spark"]),
    _tweet(4, rt=_rt(3, text="alpha beta!", tags=["alpha", "beta"])),
    _tweet(5, text="self rt", rt=_rt(5, text="self rt")),
    _tweet(6, tags=["Ümlaut"]),  # null text
    _tweet(6, text="quoting", tags=["omega"], rt=_rt(1, text=None)),
    # u7/u8: identical own tag sets → Jaccard 1.0 > 0.5 → a JC edge at
    # the default threshold (FIXTURES.md §A; src = greater id = 8)
    _tweet(7, text="seven", tags=["kappa", "lambda"]),
    _tweet(8, text="eight", tags=["Kappa", "Lambda"]),
]


@pytest.fixture(scope="session")
def tweets_df(spark):
    return spark.createDataFrame(TWEETS, TWEET_SCHEMA)


@pytest.fixture(scope="session")
def tweets_json(spark, tweets_df, tmp_path_factory):
    """The tweet fixture as a JSON file, the CLI's input format."""
    path = str(tmp_path_factory.mktemp("tweets") / "tweets.json")
    tweets_df.write.mode("overwrite").json(path)
    return path

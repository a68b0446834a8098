"""The benchmark's workloads: what each pass runs. Why each one exists,
and why ``lazy_plan`` is not in BENCHMARK.json, is in BASELINE.md.

A pass runs every item of a workload once, in an order the seed
permutes. An item is either a registry query (build with
``REGISTRY[name].fn``, execute with a noop sink) or one of the CLI's
four artifacts (build with a ``TweetGraphPipeline`` method, write with
the ``sources.io`` CSV sinks exactly as ``__main__.main`` does).
"""

from __future__ import annotations

import os

WORKLOADS: dict[str, dict] = {
    "lazy_plan": {
        "queries": ["dedup_simhash", "token_entropy_by_source"],
    },
    "iterative": {
        "queries": ["bfs_hops_trade"],
        "sf": 0.1,
    },
    "tweet_export": {
        "artifacts": ["word_cloud", "full_graph", "bi_report", "neighborhood"],
    },
}


def tweet_artifact(pipe, name: str, out_dir: str, seed_id: str):
    """(build, write) callables for one CLI artifact, mirroring
    ``tvbigdataproject_spark.__main__.main``. ``build()`` returns the
    frame(s) that ``write(built)`` hands to the sink."""
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.sources.io import save_graph, write_single_csv

    if name == "word_cloud":
        return (
            lambda: pipe.word_cloud_corpus().select(F.col("text").alias("txt_plus_rt")),
            lambda df: write_single_csv(
                df, os.path.join(out_dir, "wordCloud.csv"), sep=",", audit_null_cols=[]
            ),
        )
    if name == "full_graph":
        return (
            pipe.full_graph,
            lambda g: save_graph(
                g.vertices, g.edges, os.path.join(out_dir, "gFull"), prefix="g",
                single_file=True, sep=",", audit=True,
            ),
        )
    if name == "bi_report":
        return (
            lambda: pipe.bi_report().select(
                F.col("user"),
                F.col("hashtags").alias("hashTags"),
                F.col("retweeted_users").alias("retweetUsers"),
                F.col("retweeting_users").alias("beRetweetUsers"),
                F.col("jaccard_users").alias("jaccardUsers"),
            ),
            lambda df: write_single_csv(
                df, os.path.join(out_dir, "exportPowerBI.csv"), sep=";", audit_null_cols=["user"]
            ),
        )
    if name == "neighborhood":
        return (
            lambda: pipe.neighborhood(seed_id, hops=2),
            lambda g: save_graph(
                g.vertices, g.edges, os.path.join(out_dir, f"id_neighbours_{seed_id}"),
                prefix="id", single_file=True, sep=",", audit=True,
            ),
        )
    raise ValueError(f"unknown artifact {name!r}")

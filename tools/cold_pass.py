"""Cold-pass receipts for the CLI: per artifact, what its build and its
sink cost the JVM in counts that host speed cannot move.

    python tools/cold_pass.py --seed 101 [--cores 4]
    python tools/cold_pass.py tweets.json --id 12345 [--cores 4]

Starts a fresh session with ``get_spark`` (so the JVM is cold, as it
is for a user running the CLI) and runs the CLI's four artifacts in
its order: word cloud, full graph, BI report, 2-hop neighborhood. Each
artifact is built with its ``TweetGraphPipeline`` method and written
with the CLI's sink. For each build and each sink it prints:

- ``jobs``: Spark jobs of the phase's job group (``statusTracker``);
- ``compiles``: whole-stage and expression codegen compilations
  (``CodegenMetrics.METRIC_COMPILATION_TIME().getCount()``);
- ``classes``: JVM classes loaded (``ClassLoadingMXBean``).

``--seed`` writes the benchmark's tweet corpus (``perfbench/datagen``)
to a temporary file and picks the smallest retweeted author as the
neighborhood seed. The last line of stdout is the same table as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = ("word_cloud", "full_graph", "bi_report", "neighborhood")


def jvm_counters(spark) -> tuple[int, int]:
    """(codegen compiles, JVM classes loaded) since the JVM started."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    classes = jvm.java.lang.management.ManagementFactory.getClassLoadingMXBean().getTotalLoadedClassCount()
    return int(compiles), int(classes)


def cold_pass(spark, tweets_path: str, out_dir: str, seed_id: str) -> list[dict]:
    """One row per (artifact, phase) in the CLI's order, phase being
    ``build`` or ``sink``, with the jobs, compiles and classes it took."""
    from perfbench.workloads import tweet_artifact
    from tvbigdataproject_spark.plans import TweetGraphPipeline

    sc = spark.sparkContext
    rows = []

    def measured(name: str, phase: str, fn, *args):
        group = f"cold_pass:{name}:{phase}"
        compiles, classes = jvm_counters(spark)
        sc.setJobGroup(group, group)
        try:
            result = fn(*args)
        finally:
            sc._jsc.clearJobGroup()
        compiles_after, classes_after = jvm_counters(spark)
        rows.append(
            {
                "artifact": name,
                "phase": phase,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "compiles": compiles_after - compiles,
                "classes": classes_after - classes,
            }
        )
        return result

    with TweetGraphPipeline(spark, path=tweets_path, jaccard_threshold=0.5) as pipe:
        for name in ARTIFACTS:
            build, write = tweet_artifact(pipe, name, out_dir, seed_id)
            built = measured(name, "build", build)
            measured(name, "sink", write, built)
    return rows


def render(rows: list[dict]) -> str:
    lines = [f"{'artifact':<14}{'phase':<7}{'jobs':>6}{'compiles':>10}{'classes':>9}"]
    for r in rows:
        lines.append(f"{r['artifact']:<14}{r['phase']:<7}{r['jobs']:>6}{r['compiles']:>10}{r['classes']:>9}")
    total = {k: sum(r[k] for r in rows) for k in ("jobs", "compiles", "classes")}
    lines.append(f"{'total':<21}{total['jobs']:>6}{total['compiles']:>10}{total['classes']:>9}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tweets", nargs="?", help="tweet JSON, the CLI's input")
    ap.add_argument("--seed", type=int, help="write the benchmark's tweet corpus with this seed instead")
    ap.add_argument("--id", help="neighborhood seed id (default with --seed: smallest retweeted author)")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    if (args.tweets is None) == (args.seed is None):
        ap.error("give a tweet JSON path or --seed")
    if args.tweets is not None and args.id is None:
        ap.error("a tweet JSON path needs --id")

    sys.path.insert(0, ROOT)
    from tvbigdataproject_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="cold_pass_") as work:
        tweets, seed_id = args.tweets, args.id
        if args.seed is not None:
            from perfbench.datagen import tweet_records, write_tweets

            records = tweet_records(args.seed)
            tweets = os.path.join(work, "tweets.json")
            write_tweets(records, tweets)
            if seed_id is None:
                seed_id = min(str(r["retweeted_status"]["user"]["id"]) for r in records if r["retweeted_status"])
        spark = get_spark(
            app_name="cold_pass",
            master=f"local[{args.cores}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        try:
            rows = cold_pass(spark, tweets, os.path.join(work, "out"), seed_id)
        finally:
            spark.stop()
    print(render(rows), file=sys.stderr)
    print(json.dumps(rows))


if __name__ == "__main__":
    main()

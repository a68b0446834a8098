"""CLI entry point: the reference's one user-facing behavior.

Mirrors reference main.py:24-70 — same positional input file, same five
flags (including the reference's ``--only_tags_from_not_retweetted_posts``
spelling), same hardcoded jaccard_threshold=0.5, and the same output
layout::

    <output_path>/gFull/g.edges.csv            (--save_full_graph)
    <output_path>/gFull/g.vertices.csv
    <output_path>/exportPowerBI.csv            (--save_pbi_report, ';'-sep)
    <output_path>/wordCloud.csv                (--save_word_cloud)
    <output_path>/id_neighbours_<id>/id.edges.csv   (--id_neighbours)
    <output_path>/id_neighbours_<id>/id.vertices.csv

The reference writes each artifact as a repartition(1) one-part
directory; here the plans run at full parallelism and only the final
sink is a single real CSV file (write_single_csv), which is what the
Gephi / Power BI workflow actually loads. Report columns carry the
reference's exact names (user, hashTags, retweetUsers, beRetweetUsers,
jaccardUsers — RetweetTagsJaccardGraph.py:237-241).

Run: ``python -m tvbigdataproject_spark tweets.json --output_path out
--save_full_graph --save_pbi_report --save_word_cloud --id_neighbours 8``
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="python -m tvbigdataproject_spark",
        description=(
            "Processes a json file containing tweets and produces a unified "
            "graph containing retweets, tags and Jaccard relationships. "
            "Existing files will be overwritten."
        ),
    )
    parser.add_argument("input_file", type=str, help="Path to the input json file")
    parser.add_argument(
        "--output_path",
        type=str,
        default=os.path.join(os.getcwd(), "outputs"),
        help="Output path",
    )
    parser.add_argument("--id_neighbours", type=str, help="Neighbours of id node")
    parser.add_argument(
        "--save_full_graph",
        action=argparse.BooleanOptionalAction,
        default=False,
        help="Save full graph",
    )
    parser.add_argument(
        "--save_pbi_report",
        action=argparse.BooleanOptionalAction,
        default=False,
        help="Save Power BI report",
    )
    parser.add_argument(
        "--save_word_cloud",
        action=argparse.BooleanOptionalAction,
        default=False,
        help="Save word cloud",
    )
    parser.add_argument(
        # the reference's own (misspelled) flag name, kept verbatim for
        # drop-in CLI compatibility (main.py:39)
        "--only_tags_from_not_retweetted_posts",
        action=argparse.BooleanOptionalAction,
        default=False,
        help="Consider only tags from not retweeted posts",
    )
    return parser


def main(argv: list[str] | None = None, spark=None) -> None:
    from tvbigdataproject_spark.plans import TweetGraphPipeline
    from tvbigdataproject_spark.sources.io import save_graph, write_single_csv

    args = build_parser().parse_args(argv)
    out = args.output_path

    owns_session = spark is None
    if owns_session:
        from tvbigdataproject_spark.session import get_spark

        spark = get_spark(app_name="BdProject")

    print(f"Starting the processing of the file: {args.input_file}")
    # the pipeline builds the graph once for every artifact; leaving the
    # block frees it, which matters when the caller owns the session
    with TweetGraphPipeline(
        spark,
        path=args.input_file,
        jaccard_threshold=0.5,
        only_tags_from_not_retweeted_posts=args.only_tags_from_not_retweetted_posts,
    ) as pipe:
        # every materialization rides inline quality accounting on its own
        # write (operators/quality.py via the sinks' audit hooks — df.observe,
        # zero extra scan) and reports rows written, the production habit of
        # hanging counters on each sink step.
        if args.save_word_cloud:
            print("Saving word cloud")
            m = write_single_csv(
                pipe.word_cloud_corpus().select(F.col("text").alias("txt_plus_rt")),
                os.path.join(out, "wordCloud.csv"),
                sep=",",
                audit_null_cols=[],
            )
            print(f"  rows written: {m['rows']}")

        if args.save_full_graph:
            print("Saving full graph")
            g = pipe.full_graph()
            gm = save_graph(
                g.vertices, g.edges, os.path.join(out, "gFull"), prefix="g",
                single_file=True, sep=",", audit=True,
            )
            print(
                f"  edges written: {gm['edges']['rows']}, "
                f"vertices written: {gm['vertices']['rows']}"
            )

        if args.save_pbi_report:
            print("Saving Power BI report")
            report = pipe.bi_report().select(
                F.col("user"),
                F.col("hashtags").alias("hashTags"),
                F.col("retweeted_users").alias("retweetUsers"),
                F.col("retweeting_users").alias("beRetweetUsers"),
                F.col("jaccard_users").alias("jaccardUsers"),
            )
            m = write_single_csv(
                report,
                os.path.join(out, "exportPowerBI.csv"),
                sep=";",
                audit_null_cols=["user"],
            )
            print(f"  rows written: {m['rows']} (null users: {m['nulls_user']})")

        if args.id_neighbours:
            print(f"Saving neighbours of node id={args.id_neighbours}")
            g = pipe.neighborhood(args.id_neighbours, hops=2)
            gm = save_graph(
                g.vertices,
                g.edges,
                os.path.join(out, f"id_neighbours_{args.id_neighbours}"),
                prefix="id",
                single_file=True,
                sep=",",
                audit=True,
            )
            print(
                f"  edges written: {gm['edges']['rows']}, "
                f"vertices written: {gm['vertices']['rows']}"
            )

    print(f"Elaboration completed.\nOutput path: {out}")
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])

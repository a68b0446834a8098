"""Golden tests for the reference pipelines Q1-Q7 over the hand-built
tweet fixture (conftest.TWEETS). Expected values derived by hand —
see SURVEY.md §2.11 for the reference composition each mirrors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.graph import k_hop_neighborhood
from tvbigdataproject_spark.operators.materialize import persistent_ids
from tvbigdataproject_spark.plans import TweetGraphPipeline


@pytest.fixture(scope="module")
def pipe(spark, tweets_df):
    with TweetGraphPipeline(spark, tweets=tweets_df) as p:
        yield p


def rows(df, *cols):
    out = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def test_q1_retweet_edges(pipe):
    # (original author → retweeter, count); u2 retweeted u1 twice,
    # u4→u3 once, u5 self-retweet, u6 quoted u1 once.
    assert rows(pipe.retweet_edges(), "src", "dst", "w") == [
        ("1", "2", 2.0),
        ("1", "6", 1.0),
        ("3", "4", 1.0),
        ("5", "5", 1.0),
    ]


def test_q2_user_hashtags_normalization(pipe):
    # Café/CAFE/cafe fold to 'cafe'; Ümlaut → 'umlaut'; retweeted-post
    # tags credit the ORIGINAL author (reference :94): u1 gains nothing
    # new from u2's retweets, u3 re-credits {alpha,beta} to itself via
    # u4's retweet; retweeters u2/u5 (no own tags) are absent entirely;
    # arrays sorted+deduped.
    got = {r["id"]: r["hts"] for r in pipe.user_hashtags().collect()}
    assert got == {
        "1": ["cafe", "spark"],
        "3": ["alpha", "beta", "cafe", "delta", "gamma", "spark"],
        "4": ["spark"],
        "6": ["omega", "umlaut"],
        "7": ["kappa", "lambda"],
        "8": ["kappa", "lambda"],
    }


def test_q2_flag_only_tags_from_not_retweeted_posts(spark, tweets_df):
    # With the flag (reference P4, RetweetTagsJaccardGraph.py:100-102),
    # u6's own tag on its quote-tweet ('omega') is excluded.
    pipe = TweetGraphPipeline(
        spark, tweets=tweets_df, only_tags_from_not_retweeted_posts=True
    )
    got = {r["id"]: r["hts"] for r in pipe.user_hashtags().collect()}
    assert got["6"] == ["umlaut"]
    assert got["1"] == ["cafe", "spark"]  # unaffected


def test_q2_hashtag_edges(pipe):
    edges = rows(pipe.hashtag_edges(), "src", "dst", "w")
    # exploded from the deduped per-user set → weight 1 each, one row per
    # (user, tag)
    assert ("1", "cafe", 1.0) in edges
    assert ("6", "umlaut", 1.0) in edges
    assert len(edges) == 2 + 6 + 1 + 2 + 2 + 2
    assert all(w == 1.0 for _, _, w in edges)


def test_q3_jaccard_edges(pipe):
    # candidates (≥2 shared tags): (1,3) at j=2/6=1/3 (dropped by the
    # strict > 0.5 threshold, reference RetweetTagsJaccardGraph.py:183)
    # and (7,8) at j=1.0 (kept; src = greater id per :164-185).
    assert rows(pipe.jaccard_edges(), "src", "dst", "w", "type") == [
        ("8", "7", 1.0, "JC"),
    ]


def test_q3_jaccard_edge_orientation(spark, tweets_df):
    # the reference keeps motif rows with c.id > d.id and exports
    # src=c.id, dst=d.id (:164-185): greater id is the source. At a 0.3
    # threshold the (1,3) candidate survives with j=1/3 — src must be 3.
    pipe = TweetGraphPipeline(spark, tweets=tweets_df, jaccard_threshold=0.3)
    got = rows(pipe.jaccard_edges(), "src", "dst", "type")
    assert got == [("3", "1", "JC"), ("8", "7", "JC")]
    w31 = {(r["src"], r["dst"]): r["w"] for r in pipe.jaccard_edges().collect()}
    assert abs(w31[("3", "1")] - 1 / 3) < 1e-12


def check_full_graph(g):
    edges = rows(g.edges, "src", "dst", "type")
    assert ("1", "2", "RT") in edges
    assert ("3", "delta", "HT") in edges
    # vertices = users ∪ tags incident to any edge
    ids = {r["id"] for r in g.vertices.collect()}
    assert {"1", "2", "3", "4", "5", "6", "cafe", "spark", "umlaut"} <= ids
    assert ("8", "7", "JC") in edges
    # edge count: 4 RT + 15 HT + 1 JC
    assert g.edges.count() == 20


def test_q4_full_graph(pipe):
    check_full_graph(pipe.full_graph())


def check_bi_report(report):
    rep = {r["user"]: r for r in report.collect()}
    u1 = rep["1"]
    assert u1["hashtags"] == "[cafe,spark]"
    assert u1["retweeted_users"] == "[2,6]"  # users who retweeted u1
    assert u1["retweeting_users"] == "[]"  # u1 retweeted nobody
    assert u1["jaccard_users"] == "[]"  # u1's only candidate fails the gate
    u4 = rep["4"]
    assert u4["retweeting_users"] == "[3]"  # u4 retweeted u3
    assert u4["jaccard_users"] == "[]"
    # u2/u5 have no own tags → not in the mapping-driven report
    # (reference starts from user_hts_mapping,
    # RetweetTagsJaccardGraph.py:207; rt tags credit the original author)
    assert "2" not in rep
    assert "5" not in rep
    # the surviving JC edge (8→7) lists each user as the other's partner
    assert rep["7"]["jaccard_users"] == "[8]"
    assert rep["8"]["jaccard_users"] == "[7]"


def test_q5_bi_report(pipe):
    check_bi_report(pipe.bi_report())


def test_q6_word_cloud_corpus(pipe):
    texts = sorted(r["text"] for r in pipe.word_cloud_corpus().collect())
    # retweets prefer the retweeted post's text; cleaning lowercases and
    # strips punctuation; null text cleans to '' and is KEPT (reference
    # cleaner(None) -> '', bigdata/__init__.py:40-41) — one row per tweet
    assert "spark is great" in texts
    assert "alpha beta" in texts  # 'alpha beta!' cleaned
    assert all(t == t.lower() for t in texts)
    # T10 rt.text None → falls back to own 'quoting' (reference P5)
    assert "quoting" in texts
    assert len(texts) == 12
    assert texts.count("") == 1  # T9: null text, no retweet
    assert len(pipe.word_cloud_corpus(drop_empty=True).collect()) == 11


def check_neighborhood(g):
    ids = {r["id"] for r in g.vertices.collect()}
    # hop-1 (dst-only, non-HT): {2, 6}; subgraph = edges incident to
    # {1,2,6} incl. their HT edges (u2 has none — rt tags credit u1)
    assert ids == {"1", "2", "6", "cafe", "spark", "omega", "umlaut"}
    assert g.edges.count() == 6


def test_q7_neighborhood(pipe):
    check_neighborhood(pipe.neighborhood("1", hops=2))


def test_q7_quirk_flags(pipe):
    # disabling the reference quirks: follow both directions, allow HT
    # hops → tags join the frontier
    g = k_hop_neighborhood(
        pipe.full_graph().edges,
        "3",
        hops=2,
        follow_dst_only=False,
        exclude_types_from_hop=(),
    )
    ids = {r["id"] for r in g.vertices.collect()}
    # u3's tags are in the frontier now, and u4 (retweeter of 3) too
    assert "alpha" in ids and "4" in ids


@pytest.mark.parametrize("hops", [0, -1])
def test_k_hop_neighborhood_rejects_hops_below_one(pipe, hops):
    with pytest.raises(ValueError, match="hops"):
        k_hop_neighborhood(pipe.full_graph().edges, "1", hops=hops)


# --- the shared graph core ---------------------------------------------------


def test_graph_artifacts_in_reverse_order_match_goldens(spark, tweets_df):
    # a fresh pipeline builds its core inside whichever artifact comes
    # first; the CLI's order is full graph, report, neighborhood
    with TweetGraphPipeline(spark, tweets=tweets_df) as p:
        check_neighborhood(p.neighborhood("1", hops=2))
        check_bi_report(p.bi_report())
        check_full_graph(p.full_graph())


def json_scans(df) -> int:
    """File-scan leaves over JSON in ``df``'s optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves().iterator()
    n = 0
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            n += leaf.relation().toString() == "json"
    return n


def test_graph_artifacts_read_the_core_not_the_json(spark, tweets_json):
    with TweetGraphPipeline(spark, path=tweets_json) as p:
        # the per-type plans stay lazy over the scan
        assert json_scans(p.jaccard_edges()) > 0
        for df in (
            p.full_graph().edges,
            p.full_graph().vertices,
            p.bi_report(),
            p.neighborhood("1", hops=2).edges,
        ):
            assert json_scans(df) == 0


def test_close_frees_every_block_after_an_artifact_raises(spark, tweets_df):
    sc = spark.sparkContext
    before = persistent_ids(sc)
    with pytest.raises(ValueError, match="hops"):
        with TweetGraphPipeline(spark, tweets=tweets_df) as p:
            p.neighborhood("1", hops=2)
            # map, edge table, subgraph edges
            assert len(persistent_ids(sc) - before) == 3
            p.neighborhood("1", hops=0)
    assert persistent_ids(sc) - before == set()
    # a closed pipeline rebuilds its core on the next call
    check_full_graph(p.full_graph())
    p.close()
    assert persistent_ids(sc) - before == set()

"""Golden tests for the reference pipelines Q1-Q7 over the hand-built
tweet fixture (conftest.TWEETS). Expected values derived by hand —
see SURVEY.md §2.11 for the reference composition each mirrors."""

from __future__ import annotations

import random
from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.graph import k_hop_neighborhood
from tvbigdataproject_spark.operators.materialize import Scope, persistent_ids
from tvbigdataproject_spark.operators.skew import shuffle_partition_count
from tvbigdataproject_spark.plans import TweetGraphPipeline
from tvbigdataproject_spark.schemas import TWEET_SCHEMA
from tvbigdataproject_spark.sources.io import write_single_csv


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


# --- the neighborhood against a plain-Python reference -----------------------


def python_neighborhood(edges, seed, hops, follow_dst_only, exclude):
    """k_hop_neighborhood on a list of (src, dst, w, type) tuples:
    (the subgraph's distinct edges, its vertex set)."""
    visited = frontier = {seed}
    for _ in range(hops - 1):
        nxt = set()
        for s, d, _, t in edges:
            if t in exclude:
                continue
            if s in frontier:
                nxt.add(d)
            if not follow_dst_only and d in frontier:
                nxt.add(s)
        frontier = nxt - visited
        visited = visited | frontier
    sub = {e for e in edges if e[0] in visited or e[1] in visited}
    return sub, {e[0] for e in sub} | {e[1] for e in sub}


def random_multigraph(seed, as_id):
    """User edges (RT/JC) with cycles and self-loops, HT edges from
    users to tag nodes, and exact duplicate rows; ids rendered by
    ``as_id``. Tags reach the frontier only when HT edges are hopped,
    and users behind a tag only when edges are also followed back."""
    import random

    rng = random.Random(seed)
    users, tags = range(24), range(100, 108)
    edges = [
        (as_id(rng.choice(users)), as_id(rng.choice(users)), float(rng.randint(1, 3)), rng.choice(["RT", "JC"]))
        for _ in range(60)
    ]
    edges += [(as_id(u), as_id(u), 1.0, "RT") for u in users if u % 7 == 0]
    edges += [(as_id(u), as_id(t), 1.0, "HT") for u in users for t in rng.sample(tags, rng.randint(0, 2))]
    return edges + rng.sample(edges, 12)


@pytest.mark.parametrize("id_type", ["string", "bigint"])
@pytest.mark.parametrize("follow_dst_only", [True, False])
def test_k_hop_neighborhood_matches_python_reference(spark, id_type, follow_dst_only):
    as_id = str if id_type == "string" else int
    edges = random_multigraph(7, as_id)
    assert len(set(edges)) < len(edges)
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}, w double, type string")
    # a seed with out-edges at every depth, and one absent from the
    # graph at one depth; the CLI passes the seed as a string whatever
    # the id type
    seed = next(s for s, _, _, t in edges if t == "RT")
    cases = [(seed, hops) for hops in range(1, 5)] + [(as_id(999), 3)]
    for start, hops in cases:
        for exclude in ((), ("HT",)):
            g = k_hop_neighborhood(
                df, str(start), hops=hops, follow_dst_only=follow_dst_only,
                exclude_types_from_hop=exclude,
            )
            want_edges, want_ids = python_neighborhood(edges, start, hops, follow_dst_only, exclude)
            case = (start, hops, exclude)
            got = [tuple(r) for r in g.edges.collect()]
            assert len(got) == len(set(got)), case  # duplicate input rows once
            assert set(got) == want_edges, case
            assert {r["id"] for r in g.vertices.collect()} == want_ids, case
            assert g.vertices.schema["id"].dataType == df.schema["src"].dataType
    # the reference itself: the absent seed's neighborhood is empty, and
    # some case above reaches past hop 1 through both tags and users
    assert python_neighborhood(edges, as_id(999), 3, False, ()) == (set(), set())
    deep = python_neighborhood(edges, seed, 4, False, ())[1]
    assert deep - python_neighborhood(edges, seed, 1, False, ())[1]
    assert any(as_id(t) in deep for t in range(100, 108))


# --- the graph core's uniqueness invariant -----------------------------------


def _post(uid, tags=None):
    return {
        "user": {"id": uid},
        "text": "t",
        "hashtagEntities": None if tags is None else [{"text": t} for t in tags],
        "hashtagEntitiesArray": tags,
    }


def _tweet(uid, tags=None, rt=None):
    return {**_post(uid, tags), "retweeted_status": rt}


# the same tags again and again: across case and accents inside one
# post and across posts, through retweets credited to the author, and
# through u12 retweeting itself; u10 and u13 end with equal tag sets
REPEATS = [
    _tweet(10, ["Café", "CAFE", "café"]),
    _tweet(10, ["cafe", "Spark"]),
    _tweet(11, rt=_post(10, ["Café", "SPARK"])),
    _tweet(11, rt=_post(10, ["Café", "SPARK"])),
    _tweet(12, ["Ümlaut", "umlaut", "spark"]),
    _tweet(12, rt=_post(12, ["UMLAUT", "Spark"])),
    _tweet(13, ["SPARK", "Cafe"], rt=_post(10, ["café"])),
    _tweet(14, rt=_post(13, None)),
]


def python_report(records, threshold=0.5):
    """bi_report without Spark: {user: (hashtags, retweeted_users,
    retweeting_users, jaccard_users)} for every user with tags."""
    fold = str.maketrans("éü", "eu")
    tags, rts = defaultdict(set), set()
    for r in records:
        rs = r["retweeted_status"]
        for post in (r, rs):
            if post is not None and post["hashtagEntitiesArray"] is not None:
                tags[str(post["user"]["id"])] |= {t.lower().translate(fold) for t in post["hashtagEntitiesArray"]}
        if rs is not None:
            rts.add((str(rs["user"]["id"]), str(r["user"]["id"])))
    jc = defaultdict(set)
    for a, b in combinations(sorted(tags), 2):
        shared = tags[a] & tags[b]
        if len(shared) >= 2 and len(shared) / len(tags[a] | tags[b]) > threshold:
            jc[a].add(b)
            jc[b].add(a)

    def listed(xs):
        return "[" + ",".join(sorted(xs)) + "]"

    return {
        u: (listed(ts), listed(d for s, d in rts if s == u), listed(s for s, d in rts if d == u), listed(jc[u]))
        for u, ts in tags.items()
        if ts
    }


@pytest.fixture(scope="module")
def repeat_pipe(spark):
    with TweetGraphPipeline(spark, tweets=spark.createDataFrame(REPEATS, TWEET_SCHEMA)) as p:
        yield p


@pytest.mark.parametrize("corpus", ["pipe", "repeat_pipe"])
def test_core_edges_are_unique_and_ht_rows_are_counts(request, corpus):
    p = request.getfixturevalue(corpus)
    edges = [tuple(r) for r in p.full_graph().edges.collect()]
    assert len(edges) == len(set(edges))
    counted = (
        p.user_hashtags()
        .select(F.col("id").alias("src"), F.explode("hts").alias("dst"))
        .groupBy("src", "dst")
        .count()
    )
    want = sorted((r["src"], r["dst"], float(r["count"]), "HT") for r in counted.collect())
    assert sorted(e for e in edges if e[3] == "HT") == want


def test_bi_report_matches_python_report_with_a_self_retweet(repeat_pipe):
    got = {r["user"]: tuple(r)[1:] for r in repeat_pipe.bi_report().collect()}
    want = python_report(REPEATS)
    assert got == want
    # u12 retweeted itself: it is in both of its own RT columns
    assert want["12"][1:3] == ("[12]", "[12]")
    assert want["10"] == ("[cafe,spark]", "[11,13]", "[]", "[13]")


def test_neighborhood_build_and_report_sink_job_fences(spark, tweets_df, tmp_path):
    sc = spark.sparkContext
    with TweetGraphPipeline(spark, tweets=tweets_df) as p:
        p.full_graph()  # the core, as the CLI's first graph artifact builds it
        try:
            sc.setJobGroup("fence_neighborhood", "fence_neighborhood")
            p.neighborhood("1", hops=2)
            sc.setJobGroup("fence_report_sink", "fence_report_sink")
            write_single_csv(p.bi_report(), str(tmp_path / "report.csv"), sep=";", audit_null_cols=["user"])
        finally:
            sc._jsc.clearJobGroup()
    # two shuffles (the hop's distinct, the subgraph's), three
    # broadcasts (the seed for the hop and the anti-join, the visited
    # ids for the subgraph filter) and the checkpoint
    assert len(sc.statusTracker().getJobIdsForGroup("fence_neighborhood")) <= 6
    # the map's shuffle, the partner aggregate's shuffle and broadcast,
    # the write
    assert len(sc.statusTracker().getJobIdsForGroup("fence_report_sink")) <= 4


def test_full_graph_build_job_fence(spark, tweets_df):
    sc = spark.sparkContext
    with TweetGraphPipeline(spark, tweets=tweets_df) as p:
        try:
            sc.setJobGroup("fence_full_graph", "fence_full_graph")
            p.full_graph()
        finally:
            sc._jsc.clearJobGroup()
    # the map and edge checkpoints, JC as one self-join and one count:
    # measured 6; JC as a candidate distinct, a self-join and two array
    # attach joins took 9
    assert len(sc.statusTracker().getJobIdsForGroup("fence_full_graph")) <= 6


# --- JC against a plain-Python Jaccard ---------------------------------------

# every positive one is the exact weight of some pair in the corpora
THRESHOLDS = (0.0, 1 / 4, 1 / 3, 0.4, 1 / 2, 2 / 3)
# ten tags after case and accent folding
VOCAB = ["spark", "Spark", "café", "CAFE", "graph", "jvm", "icu", "tag", "join", "sql", "udf", "data"]


def random_corpus(seed):
    """Thirty users with one or two posts of one to four tags each;
    some users retweet a post whose tags go to its author."""
    rng = random.Random(seed)
    records = []
    for uid in range(1, 31):
        for _ in range(rng.randint(1, 2)):
            records.append(_tweet(uid, rng.sample(VOCAB, rng.randint(1, 4))))
        if rng.random() < 0.2:
            records.append(_tweet(uid, rt=_post(rng.randint(1, 30), rng.sample(VOCAB, 2))))
    return records


def python_jaccard(sets, threshold):
    """Sorted (src, dst, w.hex()) JC rows over {id: tag set}: pairs
    sharing at least two tags, the greater id as the source."""
    rows = []
    for a, b in combinations(sorted(sets), 2):
        shared = len(sets[a] & sets[b])
        w = shared / len(sets[a] | sets[b])
        if shared >= 2 and w > threshold:
            rows.append((b, a, w.hex()))
    return sorted(rows)


def join_partitions(df):
    """(node name, partition count) of the join in ``df``'s executed
    plan, read after AQE's runtime changes: a coalesced shuffle read
    under the join shows as fewer partitions."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.endswith("Join"):
            return name, node.outputPartitioning().numPartitions()
        if name == "AdaptiveSparkPlan":
            stack.append(node.finalPhysicalPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    raise AssertionError("no join in the plan")


def test_jaccard_edges_match_python_jaccard(spark):
    weights = set()
    for seed in range(5):
        tweets = spark.createDataFrame(random_corpus(seed), TWEET_SCHEMA)
        with Scope() as scope:
            # the map as the core holds it: a checkpoint (one partition
            # here, so only a pinned exchange spreads the pair fan-out)
            mapping = scope.checkpoint(TweetGraphPipeline(spark, tweets=tweets).user_hashtags())
            sets = {r["id"]: set(r["hts"]) for r in mapping.collect()}
            weights |= {float.fromhex(w) for _, _, w in python_jaccard(sets, -1.0)}
            for t in THRESHOLDS:
                jc = TweetGraphPipeline(spark, tweets=tweets, jaccard_threshold=t)._jaccard_edges(mapping)
                got = jc.collect()
                assert sorted((r["src"], r["dst"], r["w"].hex()) for r in got) == python_jaccard(sets, t), (seed, t)
                assert all(r["type"] == "JC" for r in got)
                # the tag self-join runs in shuffle_partition_count tasks
                assert join_partitions(jc) == ("ShuffledHashJoin", shuffle_partition_count(jc)), (seed, t)
    # the strict > is tested at a tie on every positive threshold
    assert set(THRESHOLDS[1:]) <= weights

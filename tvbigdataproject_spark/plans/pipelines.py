"""The reference's end-to-end pipelines (SURVEY.md §2.11 Q1-Q7),
recomposed from the operator library.

Reference behaviors reproduced (with file:line citations throughout);
deliberate divergences, per SURVEY.md §7.4:
- weights and similarity scores are numeric, not strings (the reference's
  five untyped UDFs defaulted to StringType, §1.4.1-3);
- the BI report's disjunctive JC join is rewritten as a two-orientation
  equi-join (same rows, hash join instead of BroadcastNestedLoopJoin);
- no repartition(1) sinks, no driver-side collect loops, no GraphFrames.

Lifetime: the reference builds its full graph once, in the
RetweetTagsJaccardGraph constructor (:29-46), and exports it several
ways. ``TweetGraphPipeline`` does the same per instance: the first
graph artifact checkpoints the hashtag map and the distinct RT + HT +
JC edge table, and every graph artifact reads those two leaves until
``close()`` frees them. The per-edge-type methods stay lazy plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import (
    array_to_string,
    cnt_distinct_elems,
    cnt_intersection,
    jaccard,
    normalize_tags,
)
from tvbigdataproject_spark.functions.text import simple_clean
from tvbigdataproject_spark.operators.graph import (
    Graph,
    k_hop_neighborhood,
    pair_candidates,
    vertices_from_edges,
)
from tvbigdataproject_spark.operators.materialize import Scope
from tvbigdataproject_spark.sources.io import read_tweets


class TweetGraphPipeline:
    """Retweet + hashtag + Jaccard unified graph over a tweet table.

    Mirrors RetweetTagsJaccardGraph (reference :10-276). The edge-type
    methods (``retweet_edges``, ``user_hashtags``, ``hashtag_edges``,
    ``jaccard_edges``) and ``word_cloud_corpus`` return lazy plans over
    the tweets. ``full_graph``, ``bi_report`` and ``neighborhood`` read
    the graph core instead: the hashtag map and the distinct edge
    table, checkpointed once, on the first call to any of them, and
    held by the pipeline (``neighborhood`` also checkpoints its
    subgraph edges). Frames those three return stay valid until
    ``close()``, which frees every block the pipeline made; use the
    pipeline as a context manager to close it. A closed pipeline
    rebuilds its core on the next call.
    """

    def __init__(
        self,
        spark: SparkSession,
        tweets: DataFrame | None = None,
        path: str | None = None,
        jaccard_threshold: float = 0.5,
        only_tags_from_not_retweeted_posts: bool = False,
    ) -> None:
        if tweets is None:
            if path is None:
                raise ValueError("need tweets DataFrame or a JSON path")
            tweets = read_tweets(spark, path)
        self.spark = spark
        self.tweets = tweets
        self.jaccard_threshold = jaccard_threshold
        self.only_tags_from_not_retweeted_posts = only_tags_from_not_retweeted_posts
        self._scope = Scope()
        self._core: tuple[DataFrame, DataFrame] | None = None

    def __enter__(self) -> TweetGraphPipeline:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        """Free the graph core and every subgraph checkpointed from it."""
        self._scope.close()
        self._core = None

    def _graph_core(self) -> tuple[DataFrame, DataFrame]:
        """(hashtag map, distinct RT ∪ HT ∪ JC edges), both checkpointed
        in the pipeline's scope on first use — the reference's gFull,
        built once in its constructor (:29-46)."""
        if self._core is None:
            mapping = self._scope.checkpoint(self.user_hashtags())
            edges = self._scope.checkpoint(self._graph_edges(mapping))
            self._core = (mapping, edges)
        return self._core

    # --- Q1: retweet graph (reference :48-72) -----------------------------

    def retweet_edges(self) -> DataFrame:
        """user a → user b with weight = number of times b retweeted a.

        Reference :61-66: filter retweeted_status IS NOT NULL, project
        (retweeted_status.user.id → src, user.id → dst), groupBy-count.
        """
        return (
            self.tweets.where(F.col("retweeted_status").isNotNull())
            .select(
                F.col("retweeted_status.user.id").cast("string").alias("src"),
                F.col("user.id").cast("string").alias("dst"),
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
            .withColumn("type", F.lit("RT"))
        )

    # --- Q2: hashtag graph (reference :74-134) ----------------------------

    def user_hashtags(self) -> DataFrame:
        """(id, hts): per-user normalized, deduped, sorted hashtag set.

        Reference :89-117: tags from original posts (+ optionally only
        non-retweeted posts, flag at :100-102) unioned with tags from the
        retweeted posts they forwarded; collect_set + flatten (a Python
        UDF at bigdata/__init__.py:24 — native F.flatten here) +
        normalization (bigdata/__init__.py:49-70).
        """
        own = self.tweets.where(F.col("hashtagEntities").isNotNull())
        if self.only_tags_from_not_retweeted_posts:
            # reference P4: dynamic predicate, :100-102 applied at :105
            own = own.where(F.col("retweeted_status.user.id").isNull())
        own = own.where(F.col("user.id").isNotNull()).select(
            F.col("user.id").cast("string").alias("id"),
            F.col("hashtagEntitiesArray").alias("htea"),
        )
        # tags of retweeted posts belong to the ORIGINAL author
        # (reference :94: retweeted_status.user.id aliased as id), not to
        # the retweeter — the retweeter only contributes the RT edge.
        rt = (
            self.tweets.where(F.col("retweeted_status.user.id").isNotNull())
            .where(F.col("retweeted_status.hashtagEntities").isNotNull())
            .select(
                F.col("retweeted_status.user.id").cast("string").alias("id"),
                F.col("retweeted_status.hashtagEntitiesArray").alias("htea"),
            )
        )
        gathered = (
            own.unionByName(rt)
            .groupBy("id")
            .agg(F.flatten(F.collect_set("htea")).alias("raw_hts"))
        )
        return gathered.select("id", normalize_tags(F.col("raw_hts")).alias("hts")).where(
            F.size("hts") > 0
        )

    def hashtag_edges(self) -> DataFrame:
        """user → hashtag with weight = usage count (reference :119-128:
        explode + groupBy-count; dst is the hashtag)."""
        return self._hashtag_edges(self.user_hashtags())

    def _hashtag_edges(self, mapping: DataFrame) -> DataFrame:
        return (
            mapping.select("id", F.explode("hts").alias("tag"))
            .groupBy(F.col("id").alias("src"), F.col("tag").alias("dst"))
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
            .withColumn("type", F.lit("HT"))
        )

    # --- Q3: Jaccard graph (reference :136-192) ---------------------------

    def jaccard_edges(self) -> DataFrame:
        """user ↔ user edges weighted by hashtag-set Jaccard similarity.

        Reference mechanism: GraphFrames motif for "pairs sharing ≥2
        hashtags" (:158-165) → two joins to attach hashtag lists
        (:168-172) → string-typed jaccard UDF + threshold filter
        (:177-183). Here: pair_candidates (self-join + count gate) →
        attach sets → native double-typed jaccard → threshold.
        The candidate gate is the reference's own algorithmic idea —
        kept, with the motif machinery deleted.
        """
        return self._jaccard_edges(self.user_hashtags())

    def _jaccard_edges(self, mapping: DataFrame) -> DataFrame:
        tag_edges = mapping.select("id", F.explode("hts").alias("tag"))
        cands = pair_candidates(tag_edges, min_shared=2, src_col="id", item_col="tag")
        a = mapping.select(F.col("id").alias("id_a"), F.col("hts").alias("hts_a"))
        b = mapping.select(F.col("id").alias("id_b"), F.col("hts").alias("hts_b"))
        # pair_candidates emits id_a < id_b; the reference's motif filter
        # keeps c.id > d.id and exports src=c.id, dst=d.id (:164-185), so
        # the greater id is the edge source.
        scored = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                F.col("id_b").alias("src"),
                F.col("id_a").alias("dst"),
                jaccard(F.col("hts_a"), F.col("hts_b")).alias("w"),
            )
        )
        return scored.where(F.col("w") > self.jaccard_threshold).withColumn(
            "type", F.lit("JC")
        )

    # --- Q4: full graph (reference :37-46) --------------------------------

    def _graph_edges(self, mapping: DataFrame) -> DataFrame:
        """Distinct RT ∪ HT ∪ JC edges, the HT and JC parts over
        ``mapping`` (reference :39-46)."""
        return (
            self.retweet_edges()
            .unionByName(self._hashtag_edges(mapping))
            .unionByName(self._jaccard_edges(mapping))
            .distinct()
        )

    def full_graph(self) -> Graph:
        """Union of RT + HT + JC edges and their induced vertices
        (reference :39-46; .distinct() on both unions), read from the
        checkpointed core."""
        edges = self._graph_core()[1]
        return Graph(vertices_from_edges(edges), edges)

    # --- Q5: BI report (reference :194-243) -------------------------------

    def bi_report(self) -> DataFrame:
        """Per-user denormalized report: hashtags, who they retweeted,
        who retweeted them, and their JC partners — as '[a,b,c]' strings.

        Reference :207-243. The final join there matches JC edges with a
        disjunctive predicate ``(user==dst) | (user==src)`` which forces
        a BroadcastNestedLoopJoin (:225-227); rewritten here by exploding
        each JC edge into both orientations and equi-joining — identical
        matches, hash join (SURVEY.md J5).

        Reads the core: the RT and JC rows are the core's rows of that
        type, since each type is unique on (src, dst) before the union
        and ``distinct()`` cannot merge rows of different types.
        """
        mapping, edges = self._graph_core()
        rt = edges.where(F.col("type") == "RT")

        # users I retweeted: I am dst in (src → dst = retweeter)... the
        # reference joins mapping.id == rt.src first (:207-208): users
        # whose posts I forwarded ⇒ collect src's partners as "retweeted
        # users" per :212-213 semantics (collect_set of dst).
        retweeted_of_me = (
            mapping.join(rt, mapping.id == rt.src, "left")
            .groupBy("id", "hts")
            .agg(F.collect_set("dst").alias("retweeted_me"))
        )
        i_retweeted = (
            retweeted_of_me.join(rt, retweeted_of_me.id == rt.dst, "left")
            .groupBy("id", "hts", "retweeted_me")
            .agg(F.collect_set("src").alias("i_retweeted"))
        )

        jc = edges.where(F.col("type") == "JC")
        jc_both = jc.select(F.col("src").alias("id"), F.col("dst").alias("partner")).unionByName(
            jc.select(F.col("dst").alias("id"), F.col("src").alias("partner"))
        )
        jc_partners = jc_both.groupBy("id").agg(F.collect_set("partner").alias("jc_partners"))

        report = (
            i_retweeted.join(jc_partners, "id", "left")
            .withColumn("jc_partners", F.coalesce(F.col("jc_partners"), F.array()))
            .select(
                F.col("id").alias("user"),
                # collect_set order is nondeterministic — the reference
                # stringifies it as-is (bigdata/__init__.py:23, used at
                # :237-240) so its CSV cell contents vary run to run;
                # sorting first makes the report reproducible.
                array_to_string(F.array_sort(F.col("hts"))).alias("hashtags"),
                array_to_string(F.array_sort(F.col("retweeted_me"))).alias("retweeted_users"),
                array_to_string(F.array_sort(F.col("i_retweeted"))).alias("retweeting_users"),
                array_to_string(F.array_sort(F.col("jc_partners"))).alias("jaccard_users"),
            )
        )
        return report

    # --- Q6: word-cloud corpus (reference bigdata/__init__.py:73-94) ------

    def word_cloud_corpus(self, drop_empty: bool = False) -> DataFrame:
        """Cleaned tweet text, preferring the retweeted post's text when
        present (reference P5: when/otherwise at bigdata/__init__.py:87-90;
        cleaning via spaCy UDF D6 — native fallback here; the optional
        spaCy pandas_udf lives in operators/textstats.py).

        The reference keeps null/empty texts as empty cleaned strings
        (cleaner(None) -> '', bigdata/__init__.py:40-41), so one output
        row per tweet is the default; ``drop_empty=True`` opts into
        filtering them."""
        source_text = F.when(
            F.col("retweeted_status.text").isNull(), F.col("text")
        ).otherwise(F.col("retweeted_status.text"))
        out = self.tweets.select(simple_clean(source_text).alias("text"))
        if drop_empty:
            out = out.where(F.length("text") > 0)
        return out

    # --- Q7: neighborhood subgraph (reference :252-276) -------------------

    def neighborhood(self, node_id: str, hops: int = 2) -> Graph:
        """k-hop neighborhood around a node — distributed frontier
        expansion over the core's edges, replacing the reference's
        collect() loop; quirk flags (dst-only, HT-hop exclusion) default
        to reference behavior. The subgraph's edges are checkpointed in
        the pipeline's scope, so writing edges and vertices runs the
        hops once."""
        sub = k_hop_neighborhood(
            self._graph_core()[1],
            seed_id=node_id,
            hops=hops,
            follow_dst_only=True,
            exclude_types_from_hop=("HT",),
        )
        edges = self._scope.checkpoint(sub.edges)
        return Graph(vertices_from_edges(edges), edges)

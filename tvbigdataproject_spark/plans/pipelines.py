"""The reference's end-to-end pipelines (SURVEY.md §2.11 Q1-Q7),
recomposed from the operator library.

Reference behaviors reproduced (with file:line citations throughout);
deliberate divergences, per SURVEY.md §7.4:
- weights and similarity scores are numeric, not strings (the reference's
  five untyped UDFs defaulted to StringType, §1.4.1-3);
- the BI report's three join rounds, the last a disjunctive JC join,
  are rewritten as one two-orientation union feeding one aggregate
  (same rows, no BroadcastNestedLoopJoin);
- no repartition(1) sinks, no driver-side collect loops, no GraphFrames.

Lifetime: the reference builds its full graph once, in the
RetweetTagsJaccardGraph constructor (:29-46), and exports it several
ways. ``TweetGraphPipeline`` does the same per instance: the first
graph artifact checkpoints the hashtag map and the RT + HT + JC edge
table, and every graph artifact reads those two leaves until
``close()`` frees them. The per-edge-type methods stay lazy plans.

Uniqueness the graph core relies on instead of exchanges: the map has
one row per user id and a duplicate-free tag set per row; RT rows are
one per (src, dst) after their groupBy-count, JC rows one per pair
after the shared-tag count's groupBy, HT rows one per (user, tag) by
the map's own invariant; and the three types differ in ``type``. So
the edge table has no duplicate row without a final ``distinct()``.
The same invariant makes JC's count exact: every (user, tag) row
occurs once, so the join on the tag counts ``|A ∩ B|`` once per shared
tag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import array_to_string, normalize_tags
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
    the graph core instead: the hashtag map and the edge table,
    checkpointed once, on the first call to any of them, and
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
        """(hashtag map, RT ∪ HT ∪ JC edges), both checkpointed
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
        """The reference's explode + groupBy-count as a projection.
        ``mapping`` is unique on ``id`` (a groupBy key) and each ``hts``
        went through ``array_distinct`` (``normalize_tags``), so every
        (id, tag) pair occurs once and its count is always 1."""
        return mapping.select(
            F.col("id").alias("src"),
            F.explode("hts").alias("dst"),
            F.lit(1.0).alias("w"),
            F.lit("HT").alias("type"),
        )

    # --- Q3: Jaccard graph (reference :136-192) ---------------------------

    def jaccard_edges(self) -> DataFrame:
        """user ↔ user edges weighted by hashtag-set Jaccard similarity.

        Reference mechanism: GraphFrames motif for "pairs sharing ≥2
        hashtags" (:158-165) → two joins to attach hashtag lists
        (:168-172) → string-typed jaccard UDF + threshold filter
        (:177-183). Here: one self-join of the exploded map on the tag,
        each side carrying its set size, and one count per pair
        (``pair_candidates``, which pins the fan-out's parallelism). The
        count is ``|A ∩ B|`` (each user's tags are distinct), the gate
        keeps pairs sharing ≥ 2 tags — the reference's own algorithmic
        idea, kept, with the motif machinery deleted — and
        ``|A ∪ B| = |A| + |B| - |A ∩ B|``. Both are integers, so the
        double weight is bit-identical to ``functions.jaccard`` over
        the two arrays; the threshold filter stays strict ``>``.
        """
        return self._jaccard_edges(self.user_hashtags())

    def _jaccard_edges(self, mapping: DataFrame) -> DataFrame:
        tags = mapping.select("id", F.size("hts").alias("n"), F.explode("hts").alias("tag"))
        # one row per (id, tag) by the map's invariant: no distinct()
        shared = pair_candidates(tags, src_col="id", item_col="tag", carry="n", unique=True)
        # the reference's motif filter keeps c.id > d.id and exports
        # src=c.id, dst=d.id (:164-185), so the greater id is the source
        union = F.col("n_a") + F.col("n_b") - F.col("shared")
        scored = shared.select(
            F.col("id_b").alias("src"),
            F.col("id_a").alias("dst"),
            (F.col("shared").cast("double") / union.cast("double")).alias("w"),
        )
        return scored.where(F.col("w") > self.jaccard_threshold).withColumn(
            "type", F.lit("JC")
        )

    # --- Q4: full graph (reference :37-46) --------------------------------

    def _graph_edges(self, mapping: DataFrame) -> DataFrame:
        """RT ∪ HT ∪ JC edges, the HT and JC parts over ``mapping``
        (reference :39-46). The reference's ``distinct()`` is dropped:
        each part is unique on (src, dst) and the parts differ in
        ``type``, so no row repeats (see the module docstring)."""
        return (
            self.retweet_edges()
            .unionByName(self._hashtag_edges(mapping))
            .unionByName(self._jaccard_edges(mapping))
        )

    def full_graph(self) -> Graph:
        """Union of RT + HT + JC edges and their induced vertices
        (reference :39-46; its ``.distinct()`` on the edges is a no-op
        here, on the vertices it stays), read from the checkpointed
        core."""
        edges = self._graph_core()[1]
        return Graph(vertices_from_edges(edges), edges)

    # --- Q5: BI report (reference :194-243) -------------------------------

    def bi_report(self) -> DataFrame:
        """Per-user denormalized report: hashtags, who retweeted them,
        whom they retweeted, and their JC partners — as '[a,b,c]' strings.

        Reference :207-243 runs three join + groupBy rounds, the last
        with a disjunctive ``(user==dst) | (user==src)`` JC predicate
        that forces a BroadcastNestedLoopJoin (:225-227). Here the core's
        RT and JC rows are unioned in both orientations, each row tagged
        with its type and direction, and one ``groupBy(id)`` collects
        the three partner sets with ``collect_set(when(...))``; one left
        join puts them on the hashtag map (one row per user). A
        self-retweet lands in both RT sets, as in the reference.

        Relies on the core's rows of each type being the rows of that
        edge type: each type is unique on (src, dst), so the core holds
        them without a ``distinct()`` (see the module docstring).
        """
        mapping, edges = self._graph_core()
        ties = edges.where(F.col("type").isin("RT", "JC"))
        # out=True: the row as stored (src → dst); out=False: reversed.
        # An RT edge runs from the original author to the retweeter.
        links = ties.select(
            F.col("src").alias("id"), F.col("dst").alias("partner"), "type", F.lit(True).alias("out")
        ).unionByName(
            ties.select(
                F.col("dst").alias("id"), F.col("src").alias("partner"), "type", F.lit(False).alias("out")
            )
        )
        is_rt = F.col("type") == "RT"
        partner_sets = {
            "retweeted_me": is_rt & F.col("out"),
            "i_retweeted": is_rt & ~F.col("out"),
            "jc_partners": F.col("type") == "JC",
        }
        per_user = links.groupBy("id").agg(
            *[F.collect_set(F.when(cond, F.col("partner"))).alias(name) for name, cond in partner_sets.items()]
        )

        def listed(name: str):
            # collect_set order is nondeterministic — the reference
            # stringifies it as-is (bigdata/__init__.py:23, used at
            # :237-240) so its CSV cell contents vary run to run;
            # sorting first makes the report reproducible.
            return array_to_string(F.array_sort(F.coalesce(F.col(name), F.array())))

        return mapping.join(per_user, "id", "left").select(
            F.col("id").alias("user"),
            array_to_string(F.array_sort(F.col("hts"))).alias("hashtags"),
            listed("retweeted_me").alias("retweeted_users"),
            listed("i_retweeted").alias("retweeting_users"),
            listed("jc_partners").alias("jaccard_users"),
        )

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

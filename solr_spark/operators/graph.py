"""Graph traversal + term-discovery operators.

Reference (paths under /root/reference/solr/):
- {!graph from=f to=t maxDepth=d}: iterative frontier expansion (BFS over
  edges stored in one index): core/.../search/join/GraphQParserPlugin.java:1,
  GraphQuery.java:1
- nodes()/gatherNodes() streaming graph walk:
  solrj-streaming/.../io/graph/GatherNodesStream.java
- shortestPath(): solrj-streaming/.../io/graph/ShortestPathStream.java
- more-like-this: core/.../handler/MoreLikeThisHandler.java:1 +
  core/.../search/mlt/ (top TF-IDF terms of a doc → OR query)

The BFS loop is a driver-side iteration of DataFrame semi-joins — depth
iterations of a key-partitioned shuffle each; frontiers are deduplicated
per level so the work is bounded by |reachable set| (GraphFrames does the
same). At 100 TB keep maxDepth small and the edge table bucketed on `from`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scoring import idf_col


def graph_expand(
    edges: DataFrame,
    from_col: str,
    to_col: str,
    roots: DataFrame,
    max_depth: int,
    max_fanout: int | None = None,
) -> DataFrame:
    """{!graph}: starting from ``roots`` (one column named like from_col),
    repeatedly follow from→to edges up to max_depth levels; return the
    reachable node set with the depth at which each node was first seen
    (GraphQuery.java:1 frontier loop).

    ``max_fanout``: skip expanding nodes whose out-degree exceeds the
    cap — the {!graphTerms maxDocFreq=N} supernode guard
    (core/.../search/GraphTermsQParserPlugin.java:1: drop terms above a
    docfreq ceiling so one hub node cannot explode the frontier). The
    degree table is computed once (one aggregation over edges) and
    semi-joined against every frontier — the 100-TB skew mitigation for
    graph walks.
    """
    frontier = roots.select(F.col(from_col).alias("node")).dropDuplicates(["node"])
    seen = frontier.withColumn("depth", F.lit(0))
    hot = None
    if max_fanout is not None:
        hot = (
            edges.groupBy(from_col)
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") > max_fanout)
            .select(F.col(from_col).alias("node"))
            .localCheckpoint(eager=True)
        )
    for d in range(1, max_depth + 1):
        expand_from = frontier
        if hot is not None:
            expand_from = frontier.join(hot, "node", "left_anti")
        nxt = (
            edges.join(
                expand_from.withColumnRenamed("node", from_col), from_col, "inner"
            )
            .select(F.col(to_col).alias("node"))
            .dropDuplicates(["node"])
            .join(seen.select("node"), "node", "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=True)  # truncate lineage per level
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt.withColumn("depth", F.lit(d)))
        frontier = nxt
    return seen


def shortest_path_frontier(
    edges: DataFrame, from_col: str, to_col: str, src, dst, max_depth: int
) -> int | None:
    """shortestPath() length via level-synchronous BFS
    (ShortestPathStream.java). Returns hop count or None."""
    if src == dst:
        return 0
    spark = edges.sparkSession
    frontier = spark.createDataFrame([(src,)], f"{from_col} string").select(
        F.col(from_col).cast(edges.schema[from_col].dataType).alias("node")
    )
    seen = frontier
    for d in range(1, max_depth + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", from_col), from_col)
            .select(F.col(to_col).alias("node"))
            .dropDuplicates(["node"])
            .join(seen, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.filter(F.col("node") == dst).count() > 0:
            return d
        if nxt.isEmpty():
            return None
        seen = seen.unionByName(nxt)
        frontier = nxt
    return None


def more_like_this_terms(
    triples: DataFrame,
    term_stats: DataFrame,
    docid: int,
    n_docs: int,
    top_terms: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """more-like-this interesting-term selection
    (MoreLikeThisHandler.java:1, search/mlt/SimpleMLTQParser.java): rank
    the document's terms by tf·idf, keep the top ``top_terms``.

    triples: (docid, term, tf) posting triples; term_stats: (term, df).
    Returns (term, mlt_score) — feed into kernel.search as an OR query.
    Tie-break: term ascending (deterministic)."""
    doc_terms = triples.filter(F.col("docid") == docid).select("term", "tf")
    scored = (
        doc_terms.join(F.broadcast(term_stats.select("term", "df")), "term")
        .filter(F.col("df") >= min_df)
        .withColumn("mlt_score", F.col("tf") * idf_col(F.col("df"), n_docs))
    )
    return (
        scored.orderBy(F.desc("mlt_score"), F.asc("term"))
        .limit(top_terms)
        .select("term", "mlt_score")
    )


def score_nodes(
    nodes: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    node_col: str = "node",
    freq_col: str = "cnt",
) -> DataFrame:
    """scoreNodes(): tf-idf scoring of a gatherNodes()/nodes() result
    (solrj-streaming/.../io/stream/ScoreNodesStream.java:239-261):
    nodeScore = termFreq * (log((numDocs+1)/(docFreq+1)) + 1), where
    termFreq is the node's traversal count and docFreq the node term's
    document frequency in the collection.

    nodes: (node, cnt) from graph_expand aggregation; term_stats:
    (term, df) — the same broadcast-sized dictionary the searcher uses,
    so the join broadcasts and the nodes frame never shuffles."""
    df_map = term_stats.select(
        F.col("term").alias(node_col), F.col("df").alias("docFreq")
    )
    return (
        nodes.join(F.broadcast(df_map), node_col, "left")
        .na.fill({"docFreq": 0})
        .withColumn(
            "nodeScore",
            F.col(freq_col).cast("double")
            * (
                F.log(
                    (F.lit(float(n_docs)) + 1.0)
                    / (F.col("docFreq").cast("double") + 1.0)
                )
                + 1.0
            ),
        )
        .withColumn("numDocs", F.lit(n_docs))
    )

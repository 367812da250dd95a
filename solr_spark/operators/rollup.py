"""Aggregation operators — JSON Facet API + streaming rollups.

Reference (paths under /root/reference/solr/):
- rollup():      solrj-streaming/.../io/stream/RollupStream.java:1 (sort-agg)
- hashRollup():  solrj-streaming/.../io/stream/HashRollupStream.java:1
- facet():       solrj-streaming/.../io/stream/FacetStream.java:689 (pushdown)
- facet2D():     solrj-streaming/.../io/stream/Facet2DStream.java:1
- stats():       solrj-streaming/.../io/stream/StatsStream.java:1
- timeseries():  solrj-streaming/.../io/stream/TimeSeriesStream.java:52-100
- drill():       solrj-streaming/.../io/stream/DrillStream.java:1
- JSON facet processors: core/.../search/facet/FacetFieldProcessorBy{ArrayDV,
  HashDV,EnumTermsStream}.java — physical strategies Catalyst picks for us
- agg functions: core/.../search/ValueSourceParser.java:1198-1383
  (count/sum/avg/sumsq/min/max/variance/stddev/unique/hll/percentile/
   missing/countvals/relatedness)

All reference aggregation is partial-per-shard + merge-at-coordinator with
an optional refinement pass (facet/FacetRequest.java:126); Spark's
partial/final hash aggregation gives the exact answer in one shot, no
refinement needed (SURVEY.md §2.5). At 100 TB: map-side partial agg bounds
the shuffle to (#groups × #partitions) rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# agg name → builder, mirroring ValueSourceParser registrations
AGG_FUNCS = {
    "count": lambda c: F.count(F.lit(1)),                      # :1207 CountAgg
    "sum": F.sum,                                              # :1246 SumAgg
    "avg": F.avg,                                              # :1257 AvgAgg
    "sumsq": lambda c: F.sum(F.pow(F.col(c) if isinstance(c, str) else c, 2)),  # :1268
    "min": F.min,                                              # :1332 MinMaxAgg
    "max": F.max,                                              # :1344
    "variance": F.var_pop,                                     # :1279
    "stddev": F.stddev_pop,                                    # :1290
    "unique": F.countDistinct,                                 # :1216 UniqueAgg (exact)
    "hll": F.approx_count_distinct,                            # :1237 HLLAgg
    "percentile": None,                                        # :1356 — see percentiles()
    "missing": lambda c: F.count(F.when(F.col(c).isNull(), 1)),  # :1301 MissingAgg
    "countvals": F.count,                                      # :1312 CountValsAgg
}


def wsum(
    value_col: str, count_col: str, output_long: bool = False,
    exact: bool = False,
) -> Column:
    """wsum(valueCol, countCol): count-weighted average — each part
    contributes value * (count / total_count), i.e.
    sum(value*count)/sum(count)
    (STREAM/metrics/WeightedSumMetric.java:104-113 getValue; the
    reference rounds to long when outputLong). Pure partial-aggregable
    Catalyst columns — two sums, one division at finalization.
    ``exact=True`` accumulates decimal(18,2) products (exact integer
    arithmetic under the hood) so the fold is summation-order-free —
    the cross-engine-reproducibility mode the DuckDB oracle mirrors."""
    if exact:
        v = F.col(value_col).cast("decimal(18,2)")
        c = F.col(count_col).cast("decimal(18,2)")
        out = F.sum(v * c).cast("double") / F.sum(c).cast("double")
    else:
        v = F.col(value_col).cast("double")
        c = F.col(count_col).cast("double")
        out = F.sum(v * c) / F.sum(c)
    return F.round(out, 0).cast("long") if output_long else out


def rollup(df: DataFrame, group_by: list[str], aggs: list[Column]) -> DataFrame:
    """rollup()/hashRollup(): group-by + metrics (RollupStream.java:1,
    HashRollupStream.java:1). The reference distinguishes sort-agg vs
    hash-agg physically; Catalyst chooses per child ordering — one API."""
    return df.groupBy(*group_by).agg(*aggs)


def facet(
    df: DataFrame,
    field: str,
    metrics: list[Column] | None = None,
    limit: int = 10,
    sort_by_count: bool = True,
) -> DataFrame:
    """facet(): bucket counts + metrics over one field, top-N buckets
    (FacetStream.java:689 pushes json.facet into the source; Catalyst's
    partial aggregation IS that pushdown). Bucket order: count desc, then
    bucket value asc — the JSON Facet API default sort with a
    deterministic tiebreak."""
    aggs = [F.count(F.lit(1)).alias("count")] + list(metrics or [])
    out = df.groupBy(field).agg(*aggs)
    order = (
        [F.desc("count"), F.asc(field)] if sort_by_count else [F.asc(field)]
    )
    return out.orderBy(*order).limit(limit)


def facet2d(
    df: DataFrame, x: str, y: str, metric: Column, limit_x: int, limit_y: int
) -> DataFrame:
    """facet2D(): two-level buckets, top-N per level
    (Facet2DStream.java:1). x-level rank is by the x bucket's TOTAL metric
    (desc, then x asc — the stream's bucketSorts default), y-level rank by
    the (x,y) cell metric within each surviving x.

    ``metric`` must be ADDITIVE (count/sum): the parent rank is the SUM
    of the child cells, which equals the bucket total only for additive
    aggregates — avg/min/max/countDistinct would rank parents wrongly
    (same restriction in facet_pivot). The x top-N is a tiny
    aggregate (one row per distinct x) → broadcast semi-join, no global
    window over the cell table."""
    from pyspark.sql import Window

    counts = df.groupBy(x, y).agg(metric.alias("metric"))
    x_tot = counts.groupBy(x).agg(F.sum("metric").alias("__xm"))
    top_x = x_tot.orderBy(F.desc("__xm"), F.asc(x)).limit(limit_x).select(x)
    wy = Window.partitionBy(x).orderBy(F.desc("metric"), F.asc(y))
    return (
        counts.join(F.broadcast(top_x), x, "left_semi")
        .withColumn("__ry", F.row_number().over(wy))
        .filter(F.col("__ry") <= limit_y)
        .drop("__ry")
    )


def facet_queries(df: DataFrame, queries: dict[str, Column]) -> DataFrame:
    """facet.query buckets: one count per named arbitrary predicate
    (facet/FacetQuery.java; classic facet.query param). All buckets
    computed in ONE aggregation pass (conditional counts), not one scan
    per query."""
    if not queries:
        return df.sparkSession.createDataFrame([], "bucket string, count bigint").limit(0)
    aggs = [
        F.count(F.when(cond, 1)).alias(f"__q{i}")
        for i, (_name, cond) in enumerate(sorted(queries.items()))
    ]
    wide = df.agg(*aggs)
    # long form (bucket, count) via a union of literal-named projections —
    # bucket names never enter SQL text, so quotes/backticks are safe
    parts = [
        wide.select(F.lit(name).alias("bucket"), F.col(f"__q{i}").alias("count"))
        for i, name in enumerate(sorted(queries))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def facet_heatmap(
    df: DataFrame,
    lat: Column,
    lon: Column,
    min_lat: float,
    max_lat: float,
    min_lon: float,
    max_lon: float,
    rows: int,
    cols: int,
) -> DataFrame:
    """facet.heatmap: 2-D spatial grid-cell counts over a bounding box
    (facet/FacetHeatmap.java:1 — gridLevel cells counted per-shard then
    merged; a plain two-key aggregation here). Returns
    (row, col, count) for non-empty cells; points outside the box are
    excluded (the reference clips to the heatmap region)."""
    lat_ok = (lat >= F.lit(min_lat)) & (lat < F.lit(max_lat))
    lon_ok = (lon >= F.lit(min_lon)) & (lon < F.lit(max_lon))
    cell_h = (max_lat - min_lat) / rows
    cell_w = (max_lon - min_lon) / cols
    r = F.floor((lat - F.lit(min_lat)) / F.lit(cell_h)).cast("int")
    c = F.floor((lon - F.lit(min_lon)) / F.lit(cell_w)).cast("int")
    return (
        df.filter(lat_ok & lon_ok)
        .select(r.alias("row"), c.alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _binary_entropy(p: Column) -> Column:
    """H(p) = −p·ln p − (1−p)·ln(1−p), 0 at the endpoints (the guarded
    form in IGainTermsQParserPlugin.java:210-213)."""
    return F.when((p <= 0.0) | (p >= 1.0), F.lit(0.0)).otherwise(
        (F.lit(-1.0) * p * F.log(p))
        + (F.lit(-1.0) * (F.lit(1.0) - p) * F.log(F.lit(1.0) - p))
    )


def igain_terms(
    doc_terms: DataFrame,
    labels: DataFrame,
    id_col: str,
    term_col: str,
    positive_col: str,
    top_n: int,
) -> DataFrame:
    """{!igain}: per-term information gain for a binary class — the
    text-classification feature selector
    (core/.../search/IGainTermsQParserPlugin.java:160-190):

      ig(t) = H(p_c) − [ df_t/N · H(x_t/df_t)
                       + (1 − df_t/N) · H((P − x_t)/(N − df_t + 1)) ]

    with N docs, P positive docs, df_t docs containing t, x_t positive
    docs containing t (the reference's exact arithmetic, including its
    +1 in the not-contains denominator). ``doc_terms`` is a DISTINCT
    (id, term) frame; ``labels`` maps id → boolean class.

    One shuffle on term; the label table joins broadcast; the global
    totals are a one-row broadcast cross join."""
    tot = labels.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.count(F.when(F.col(positive_col), 1)).cast("double").alias("__p"),
    )
    per_term = (
        doc_terms.join(labels, id_col)
        .groupBy(term_col)
        .agg(
            F.count(F.lit(1)).cast("double").alias("__df"),
            F.count(F.when(F.col(positive_col), 1)).cast("double").alias("__x"),
        )
    )
    n, p = F.col("__n"), F.col("__p")
    df_t, x = F.col("__df"), F.col("__x")
    h_c = _binary_entropy(p / n)
    h_in = _binary_entropy(x / df_t)
    h_out = _binary_entropy((p - x) / (n - df_t + F.lit(1.0)))
    ig = h_c - ((df_t / n) * h_in + (F.lit(1.0) - df_t / n) * h_out)
    out = (
        per_term.crossJoin(F.broadcast(tot))
        .withColumn("igain", F.round(ig, 6))
        .select(term_col, F.col("__df").cast("bigint").alias("df"), "igain")
    )
    return out.orderBy(F.desc("igain"), F.asc(term_col)).limit(top_n)


def facet_pivot(
    df: DataFrame, levels: list[str], metric: Column, limits: list[int]
) -> DataFrame:
    """facet.pivot: n-level nested buckets, top-N at every level
    (handler/component/PivotFacetProcessor.java:1 — the classic pivot
    facet; facet2d is the 2-level special case). Level ranks use the
    bucket's TOTAL metric (desc, value asc tiebreak) within its parent.

    ``metric`` must be ADDITIVE (count/sum) — level totals are sums of
    leaf cells (see facet2d's contract note).

    Scale shape: one leaf aggregation over all level columns, then per
    level a re-aggregated total + top-N selection — level 0 via
    TakeOrdered (orderBy+limit, no global window), deeper levels via a
    parent-partitioned window. Each surviving-bucket set is at most
    prod(limits[:d]) rows → broadcast semi-joins."""
    from pyspark.sql import Window

    assert len(levels) == len(limits) and levels
    leaf = df.groupBy(*levels).agg(metric.alias("metric"))
    for d in range(len(levels)):
        prefix = levels[: d + 1]
        totals = leaf.groupBy(*prefix).agg(F.sum("metric").alias("__tot"))
        if d == 0:
            sel = (
                totals.orderBy(F.desc("__tot"), F.asc(levels[0]))
                .limit(limits[0])
                .select(*prefix)
            )
        else:
            w = Window.partitionBy(*levels[:d]).orderBy(
                F.desc("__tot"), F.asc(levels[d])
            )
            sel = (
                totals.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= limits[d])
                .select(*prefix)
            )
        leaf = leaf.join(F.broadcast(sel), prefix, "left_semi")
    return leaf


def facet_range(
    df: DataFrame,
    field: str,
    start: float,
    end: float,
    gap: float,
    metrics: list[Column] | None = None,
    hardend: bool = False,
    include_before: bool = False,
    include_after: bool = False,
) -> DataFrame:
    """Numeric range facet (facet/FacetRangeProcessor.java: start/end/gap
    buckets, hardend, other=before/after). Bucket i covers
    [start + i·gap, start + (i+1)·gap); with hardend the last bucket is
    truncated at ``end``, otherwise it extends past it (the reference's
    hardend=false default). Values outside [start, end) fall into the
    optional __before/__after rows. One hash aggregation — the bucket id
    is computed per row, no join against a bucket table."""
    import math

    v = F.col(field)
    i = F.floor((v - F.lit(start)) / F.lit(gap))
    bucket = F.lit(start) + i.cast("double") * F.lit(gap)
    # hardend=false (the reference default): the last bucket extends past
    # ``end`` to a full gap width, so the effective range end is the next
    # gap boundary; hardend=true truncates membership exactly at end
    eff_end = end if hardend else start + math.ceil((end - start) / gap) * gap
    in_range = (v >= start) & (v < eff_end)
    tag = F.when(in_range, bucket.cast("string"))
    if include_before:
        tag = tag.when(v < start, F.lit("__before"))
    if include_after:
        tag = tag.when(v >= eff_end, F.lit("__after"))
    aggs = [F.count(F.lit(1)).alias("count")] + list(metrics or [])
    return (
        df.withColumn("__bucket", tag)
        .filter(F.col("__bucket").isNotNull())
        .groupBy("__bucket")
        .agg(*aggs)
        .withColumnRenamed("__bucket", "bucket")
    )


def unique_block(child_key: str | Column) -> Column:
    """uniqueBlock agg (facet/UniqueBlockAgg.java): number of distinct
    parent blocks among matching child rows — countDistinct on the block
    (root) key. The reference optimizes via segment-ordinal counting;
    Spark's partial-aggregated distinct is the same answer exactly."""
    return F.countDistinct(child_key)


def stats(df: DataFrame, aggs: list[Column]) -> DataFrame:
    """stats(): single-bucket metrics (StatsStream.java:1,
    StatsComponent core/.../handler/component/StatsComponent.java)."""
    return df.agg(*aggs)


def percentiles(df: DataFrame, col: str, pcts: list[float], group_by: list[str] | None = None) -> DataFrame:
    """percentile agg (ValueSourceParser.java:1356, facet/PercentileAgg.java
    — t-digest sketches merged across shards). Spark offers both the
    sketch (percentile_approx) and the exact interpolated percentile; we
    default to exact since Spark's shuffle makes exactness affordable."""
    exprs = [
        F.expr(f"percentile({col}, {p})").alias(f"p{int(p * 100)}") for p in pcts
    ]
    return df.groupBy(*group_by).agg(*exprs) if group_by else df.agg(*exprs)


def timeseries(
    df: DataFrame,
    ts_col: str,
    gap: str,
    metrics: list[Column],
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """timeseries(): tumbling date buckets with metrics
    (TimeSeriesStream.java:52-100 — start/end/gap DateMath buckets).
    Spark's window() is the same tumbling bucketing; bucket start is
    emitted as ``bucket_start``."""
    out = df
    if start:
        out = out.filter(F.col(ts_col) >= F.lit(start))
    if end:
        out = out.filter(F.col(ts_col) < F.lit(end))
    return (
        out.groupBy(F.window(ts_col, gap).alias("__w"))
        .agg(*metrics)
        .withColumn("bucket_start", F.col("__w.start"))
        .drop("__w")
    )


def reduce_groups(df: DataFrame, group_by: list[str], sort_within: list[Column], struct_cols: list[str]) -> DataFrame:
    """reduce(group()): sorted-stream grouping emitting per-group tuple
    lists (ReducerStream.java:56-77, io/ops/GroupOperation.java)."""
    return (
        df.repartition(*[F.col(c) for c in group_by])
        .sortWithinPartitions(*group_by, *sort_within)
        .groupBy(*group_by)
        .agg(F.collect_list(F.struct(*struct_cols)).alias("group"))
    )


def relatedness(
    df: DataFrame, term_col: str, fg_filter: Column, min_count: int = 1
) -> DataFrame:
    """significantTerms/relatedness agg (ValueSourceParser.java:1383,
    facet/RelatednessAgg.java; SignificantTermsQParserPlugin.java):
    foreground-vs-background frequency lift per term. Emits
    (term, fg_count, bg_count, lift = (fg/fg_total) / (bg/bg_total))."""
    tagged = df.withColumn("__fg", fg_filter.cast("int"))
    counts = tagged.groupBy(term_col).agg(
        F.sum("__fg").alias("fg_count"), F.count(F.lit(1)).alias("bg_count")
    )
    totals = tagged.agg(
        F.sum("__fg").alias("fg_total"), F.count(F.lit(1)).alias("bg_total")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("fg_count") >= min_count)
        .withColumn(
            "lift",
            (F.col("fg_count") / F.col("fg_total"))
            / (F.col("bg_count") / F.col("bg_total")),
        )
        .drop("fg_total", "bg_total")
    )

#!/usr/bin/env python
"""Where a sorted top-k query's driver path and its cogroup cross.

    SOLR_SPARK_DRIVER_MEM=3g python3 scripts/driver_crossover.py \
        [--docs 120000] [--bucket-docs 4096] [--cpus 4] \
        [--dir /tmp/solr_spark_crossover]

Builds (once, kept under --dir) an index of the engine's synthetic
corpus, with many buckets (30 at the defaults; 118 with --bucket-docs
1024), then:

1. Times warm top-10 queries of growing size on both paths of
   ``kernel.Searcher.search``: the driver path (bound lifted) and the
   cogroup (bound forced to 0), alternating, median of --reps. Warm
   means df and bucket rows cached; the driver path still reads and
   decodes its postings each time (the postings cache is emptied), as
   on the first sight of a query's terms. Each
   query is reported with its work, postings + touched buckets x
   bucket_docs, the quantity ``kernel.DRIVER_MAX_POSTINGS`` bounds.
2. Replays a query stream of the perfbench ``serve`` shapes at the
   default bound on a fresh searcher and reports Spark jobs per query,
   the paths taken and the bucket-row cache hit rate, then the same
   stream with the cogroup forced, for its latency.

Prints one JSON line. One Spark session; run nothing else meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=120_000)
    ap.add_argument("--bucket-docs", type=int, default=4096)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--stream", type=int, default=120)
    ap.add_argument("--dir", default="/tmp/solr_spark_crossover")
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import functions as F

    from solr_spark import kernel
    from solr_spark.corpus import materialize_corpus
    from solr_spark.indexer import IndexMeta, build_index
    from solr_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]", app_name="driver_crossover",
                      shuffle_partitions=args.cpus)
    sc = spark.sparkContext
    corpus = os.path.join(args.dir, f"corpus_{args.docs}")
    idx = os.path.join(args.dir, f"idx_{args.docs}_{args.bucket_docs}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        materialize_corpus(spark, args.docs, corpus, num_partitions=4 * args.cpus)
    if os.path.exists(os.path.join(idx, "meta.json")):
        meta = IndexMeta.load(idx)
    else:
        meta = build_index(spark, spark.read.parquet(corpus), idx,
                           bucket_docs=args.bucket_docs, num_partitions=4 * args.cpus)
    n_buckets = -(-meta.n_docs // meta.bucket_docs)
    default_bound = kernel.DRIVER_MAX_POSTINGS

    searcher = kernel.Searcher(spark, meta)
    by_df = (spark.read.parquet(meta.terms_path).select("term", "df")
             .orderBy(F.desc("df")).toPandas())
    hot = by_df["term"].tolist()
    queries = []
    for target in (30, 300, 3_000, 30_000):  # single terms by df
        i = int(np.argmin(np.abs(by_df["df"].to_numpy() - target)))
        queries.append(by_df["term"][i])
    queries.append(hot[0])
    queries += [" ".join(hot[:m]) for m in (2, 4, 8, 12, 16, 24, 32, 48, 64)]
    # a path: filter resolves once to a docid mask, which the searcher's
    # filter cache then serves to every later query
    path = searcher.docs.select("path").limit(1).collect()[0]["path"]
    queries += [f"path:{path} " + " ".join(hot[:m]) for m in (1, 8, 32)]

    def timed(q, bound):
        kernel.DRIVER_MAX_POSTINGS = bound
        searcher._decoded.clear()
        t0 = time.perf_counter()
        searcher.search(q, 10).collect()
        return time.perf_counter() - t0, searcher.last_trace

    sweep = []
    for q in queries:
        timed(q, 10**12)  # df and bucket rows cached: the warm state
        timed(q, 0)
        drv, cog = [], []
        for r in range(args.reps):
            for bound in ((10**12, 0) if r % 2 == 0 else (0, 10**12)):
                wall, tr = timed(q, bound)
                (drv if bound else cog).append(wall)
                if bound:
                    trace = tr
        terms = kernel.parse(q).scoring
        postings = sum(searcher._df_cache[t] for t in terms)
        sweep.append({
            "filter": "path" if q.startswith("path:") else None,
            "terms": len(terms),
            "postings": postings,
            "buckets": trace.buckets,
            "work": postings + trace.buckets * meta.bucket_docs,
            "driver_s": round(statistics.median(drv), 4),
            "cogroup_s": round(statistics.median(cog), 4),
        })
        print(json.dumps(sweep[-1]), file=sys.stderr)

    from prep import make_stream

    stream = make_stream(args.stream, np.random.default_rng(1))

    def replay(bound):
        kernel.DRIVER_MAX_POSTINGS = bound
        s = kernel.Searcher(spark, meta)
        out = []
        for i, q in enumerate(stream):
            tag = f"crossover-{bound}-{i}"
            sc.setJobGroup(tag, tag)
            t0 = time.perf_counter()
            s.search(q, 10).collect()
            wall = time.perf_counter() - t0
            tr = s.last_trace
            out.append((wall, len(sc.statusTracker().getJobIdsForGroup(tag)), tr))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(s._bucket_rows)

    at_bound, cache_rows = replay(default_bound)
    forced, _ = replay(0)
    kernel.DRIVER_MAX_POSTINGS = default_bound
    warm = at_bound[30:]  # after the perfbench warm-up share
    driven = [tr for _, _, tr in warm if tr.path == "driver" and tr.buckets]
    jobs = [j for _, j, _ in warm]
    print(json.dumps({
        "n_docs": meta.n_docs,
        "bucket_docs": meta.bucket_docs,
        "buckets": n_buckets,
        "cpus": args.cpus,
        "bound": default_bound,
        "sweep": sweep,
        "stream": {
            "queries": len(warm),
            "paths": {p: sum(tr.path == p for _, _, tr in warm)
                      for p in ("driver", "cogroup")},
            "jobs_per_query_median": statistics.median(jobs),
            "jobs_per_query_max": max(jobs),
            "bucket_cache_hit_rate": round(
                sum(tr.cached_buckets for tr in driven)
                / max(1, sum(tr.buckets for tr in driven)), 3),
            "bucket_cache_rows": cache_rows,
            "p50_s": round(statistics.median(w for w, _, _ in warm), 4),
            "cogroup_p50_s": round(statistics.median(w for w, _, _ in forced[30:]), 4),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()

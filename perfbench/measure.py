"""The measured process: runs one workload against the engine and records
what each call returned and how long it took.

    python3 perfbench/measure.py <workload> <work_dir> <seconds> <trace> <results>

Writes one JSON object per line to <results>; run.py turns them into
metrics and checks the answers. With trace=1 it also records spans in
memory around the calls into each engine module, runs per-layer probes
after the measured loop, and writes the per-layer numbers.
"""

import gc
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spec  # noqa: E402


class SessionDead(Exception):
    """The JVM or its connection is gone; nothing further can run."""


def rss_mb(pid: str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def median(xs):
    return statistics.median(xs) if xs else None


class Run:
    """One workload run: result log, spans, job tags and failure counting."""

    def __init__(self, workload: str, work: str, seconds: float, trace: bool, out):
        self.workload, self.work, self.seconds, self.trace = workload, work, seconds, trace
        self.out = out
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.failed: dict[str, int] = {}
        self.hits: dict = {}
        self.local: dict | None = None
        self.spark = None
        with open(os.path.join(work, "inputs.json")) as f:
            self.inputs = json.load(f)
        self.stream = self.inputs["stream"]

    def emit(self, **rec) -> None:
        self.out.write(json.dumps(rec) + "\n")
        self.out.flush()

    @contextmanager
    def span(self, name: str, rid=None):
        if not self.trace:
            yield
            return
        rec = {"name": name, "rid": rid, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def tag(self, op: str, rid) -> None:
        """Name the Spark jobs of the next call <workload>/<op>/<request id>."""
        label = f"{self.workload}/{op}/{rid}"
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        sc.setJobDescription(label)

    def call(self, layer: str, op: str, rid, fn):
        """Run one engine call as an operation: tag its jobs, time it, count
        a failure against ``layer``. Returns (result, wall) or (None, wall).
        Raises SessionDead once the JVM is unreachable."""
        t0 = time.perf_counter()
        try:
            self.tag(op, rid)
            with self.span(f"{layer}.{op}", rid):
                res = fn()
            return res, time.perf_counter() - t0
        except Exception as e:  # an engine error fails this operation only
            self.failed[layer] = self.failed.get(layer, 0) + 1
            self.emit(kind="error", layer=layer, op=op, rid=rid, error=repr(e)[:500])
            if not self._jvm_alive():
                raise SessionDead(repr(e)) from e
            return None, time.perf_counter() - t0

    def jvm_cpu_s(self) -> float:
        """CPU seconds the JVM has used so far."""
        with open(f"/proc/{self.spark.sparkContext._gateway.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def quiesce(self, limit_s: float = 10.0) -> None:
        """Wait until the JVM uses under a tenth of a core, so driver-side
        calls are timed with no Spark work beside them."""
        t0 = time.perf_counter()
        prev = self.jvm_cpu_s()
        while time.perf_counter() - t0 < limit_s:
            time.sleep(0.1)
            cur = self.jvm_cpu_s()
            if cur - prev < 0.015:
                break
            prev = cur

    def _jvm_alive(self) -> bool:
        try:
            self.spark.sparkContext._jsc.sc().isStopped()
            return True
        except Exception:
            return False

    # -- set-up -----------------------------------------------------------

    def start_session(self):
        from solr_spark.session import get_spark

        n = len(os.sched_getaffinity(0))
        self.cores = n
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark(
                f"local[{n}]", app_name=f"perfbench-{self.workload}", shuffle_partitions=n,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                },
            )
        self.session_s = time.perf_counter() - t0
        return self.session_s

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.work, self.inputs[name]))

    def meta_record(self, meta, wall: float) -> dict:
        d = meta.out_dir
        return {
            "wall": wall, "n_docs": meta.n_docs, "sum_doclen": meta.sum_doclen,
            "n_terms": meta.n_terms, "postings_rows": meta.postings_rows,
            "stages": dict(meta.stages), "lineage_ms": [p["millis"] for p in meta.lineage],
            "bytes": {
                "total": dir_bytes(d), "postings": dir_bytes(os.path.join(d, "postings")),
                "docs": dir_bytes(os.path.join(d, "docs")), "stage": dir_bytes(os.path.join(d, "_stage")),
            },
        }

    # -- measured operations -------------------------------------------------

    def query(self, op: str, state: str, qi: int, plan_fn, warmup: bool = False):
        """One distributed query: plan (the search call), then collect. A
        warm-up query is checked like any other but kept out of the timings."""
        rid = f"{state}-{qi}-{len(self.spans)}"
        collect_span = "segments.view_collect" if op == "view_search" else "kernel.collect"

        def run():
            with self.span("kernel.plan", rid):
                df = plan_fn(self.stream[qi])
            with self.span(collect_span, rid):
                return df.collect()

        rows, wall = self.call("kernel", op, rid, run)
        if rows is None:
            return None
        hits = [[int(r["docid"]), float(r["score"])] for r in rows]
        self.hits[(state, qi)] = hits
        self.emit(kind="op", op=op, state=state, qi=qi, wall=wall, hits=hits, warmup=warmup)
        return hits

    def warm(self, searcher, state: str) -> None:
        """warm_local over the terms of the stream's unfiltered queries; the
        later local blocks serve those queries from ``searcher``."""
        from solr_spark.qparser import parse

        qis = [i for i, q in enumerate(self.stream) if "lang:" not in q]
        vocab = sorted({t for qi in qis for p in [parse(self.stream[qi])] for t in (*p.scoring, *p.prohibited)})
        before = rss_mb()
        info, wall = self.call("kernel", "warm_local", state, lambda: searcher.warm_local(vocab))
        if info is None:
            return
        self.emit(kind="warm", state=state, wall=wall, terms=info["terms"],
                  postings=info["postings"], mem_mb=rss_mb() - before)
        self.local = {"searcher": searcher, "state": state, "qis": qis, "next": 0, "first": {}}

    def local_block(self, n: int) -> None:
        """``n`` local_topk calls, once the JVM has gone quiet. The blocks
        are spread over the run between the Spark calls, so a burst of load
        from outside the benchmark hits a few of them, not all."""
        loc = self.local
        if loc is None:
            return
        self.quiesce()
        gc.collect()
        walls, new, mismatch = [], {}, 0
        try:
            for _ in range(n):
                qi = loc["qis"][loc["next"] % len(loc["qis"])]
                loc["next"] += 1
                t0 = time.perf_counter()
                with self.span("kernel.local_topk", qi):
                    res = loc["searcher"].local_topk(self.stream[qi], spec.K)
                walls.append(time.perf_counter() - t0)
                hits = [[int(d), float(s)] for d, s in res]
                if qi not in loc["first"]:
                    loc["first"][qi] = new[qi] = hits
                elif loc["first"][qi] != hits:
                    mismatch += 1
        except Exception as e:  # the calls not made count as failed in run.py
            self.failed["kernel"] = self.failed.get("kernel", 0) + 1
            self.emit(kind="error", layer="kernel", op="local_topk", rid=loc["state"], error=repr(e)[:500])
            self.local = None
        self.emit(kind="local", state=loc["state"], walls=walls,
                  hits={str(k): v for k, v in new.items()}, repeat_mismatch=mismatch)

    # -- workloads -------------------------------------------------------------

    def run_serve(self):
        s = spec.SERVE
        n_search = spec.serve_queries(self.seconds)
        self.emit(kind="plan", ops=1 + s["warmup"] + n_search + spec.LOCAL_CALLS)
        from solr_spark.indexer import build_index
        from solr_spark.kernel import Searcher

        t0 = time.perf_counter()
        session_s = self.start_session()
        corpus = self.read("corpus")
        idx = os.path.join(self.work, "idx")
        shutil.rmtree(idx, ignore_errors=True)
        meta, wall = self.call("indexer", "build_index", "serve", lambda: build_index(
            self.spark, corpus, idx, num_partitions=self.cores))
        if meta is None:
            return
        rec = self.meta_record(meta, wall)
        searcher, _ = self.call("kernel", "searcher_init", "serve", lambda: Searcher(self.spark, meta))
        if searcher is None:
            return
        setup = time.perf_counter() - t0
        self.emit(kind="setup", setup_s=setup, session_s=session_s)
        self.emit(kind="op", op="build", **rec)
        # local_topk gets a Searcher of its own, so its warm_local does not
        # fill the df cache the distributed queries warm as they go
        self.warm(Searcher(self.spark, meta, cache=False), "full")
        nq = len(self.stream)
        for qi in range(s["warmup"]):
            self.query("search", "full", qi, lambda q: searcher.search(q, spec.K), warmup=True)
        for i, qi in enumerate(range(s["warmup"], s["warmup"] + n_search)):
            self.query("search", "full", qi % nq, lambda q: searcher.search(q, spec.K))
            self.local_block(spec.local_share(i, n_search))
        self.indexer_records = [rec]
        self.probe = {"searcher": searcher, "postings": searcher.postings, "meta": meta, "state": "full",
                      "qis": sorted({i % nq for i in range(s["warmup"] + n_search)})}

    def run_update(self):
        from solr_spark import segments
        from solr_spark.kernel import Searcher

        u = spec.UPDATE
        n_view = spec.view_queries(self.seconds)
        self.emit(kind="plan", ops=1 + u["rounds"] * (2 + n_view) + 1
                  + u["merged_queries"] + spec.LOCAL_CALLS)
        t0 = time.perf_counter()
        session_s = self.start_session()
        base = self.read("base")
        seg_dir = os.path.join(self.work, "segs")
        shutil.rmtree(seg_dir, ignore_errors=True)
        view, wall = self.call("segments", "open_base", "base", lambda: segments.open_base(
            self.spark, base, seg_dir, num_partitions=self.cores))
        if view is None:
            return
        base_rec = self.meta_record(view.segments[0], wall)
        # a reader of the base segment serves local_topk while writes go on
        reader, _ = self.call("kernel", "searcher_init", "base",
                              lambda: Searcher(self.spark, view.segments[0], cache=False))
        if reader is None:
            return
        setup = time.perf_counter() - t0
        self.emit(kind="setup", setup_s=setup, session_s=session_s)
        self.emit(kind="op", op="open_base", **base_rec)
        self.warm(reader, "base")
        nq = len(self.stream)
        qi = 0
        add_records = []
        for r in range(u["rounds"]):
            batch = self.spark.read.parquet(os.path.join(self.work, self.inputs["batches"][r]))
            new, wall = self.call("segments", "add_segment", r, lambda: segments.add_segment(
                self.spark, view, batch, seg_dir, num_partitions=self.cores))
            if new is None:
                return
            view = new
            rec = self.meta_record(view.segments[-1], wall)
            add_records.append(rec)
            self.emit(kind="op", op="add_segment", **rec)
            keys = [tuple(k) for k in self.inputs["deletes"][r]]
            view, wall = self.call("segments", "delete_by_keys", r, lambda: segments.delete_by_keys(view, keys))
            self.emit(kind="op", op="delete", wall=wall, docs=len(keys))
            for _ in range(n_view):
                self.query("view_search", f"round{r}", qi % nq, lambda q: view.search(self.spark, q, spec.K))
                self.local_block(spec.local_share(qi, u["rounds"] * n_view))
                qi += 1
        merged, wall = self.call("segments", "merge_segments", "merge", lambda: segments.merge_segments(
            self.spark, view, os.path.join(self.work, "merged"), num_partitions=self.cores))
        if merged is None:
            return
        self.emit(kind="op", op="merge", wall=wall, docs=merged.n_docs)
        self.emit(kind="view", segments=len(view.segments), deleted=len(view.delete_keys),
                  bytes=sum(dir_bytes(m.out_dir) for m in view.segments), docs=view.n_docs)
        for j in range(u["merged_queries"]):
            self.query("view_search", "merged", (qi + j) % nq, lambda q: merged.search(self.spark, q, spec.K))
        self.indexer_records = add_records
        self.view = view
        self.probe = {"searcher": reader, "postings": view.frames(self.spark)[1], "meta": view.segments[0],
                      "state": f"round{u['rounds'] - 1}", "qis": sorted({i % nq for i in range(qi - n_view, qi)})}

    # -- per-layer probes (traced run only) ------------------------------------

    def probes(self) -> dict:
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from solr_spark.analysis import term_frequencies
        from solr_spark.codec import decode_postings
        from solr_spark.kernel import decode_posting_frame
        from solr_spark.qparser import parse
        from solr_spark.segments import IndexView

        spark = self.spark
        searcher, postings, meta = self.probe["searcher"], self.probe["postings"], self.probe["meta"]
        state, qis = self.probe["state"], self.probe["qis"]
        out: dict = {}

        def timed(layer, op, fn, n=5):
            walls = []
            for i in range(n):
                res, wall = self.call(layer, op, f"probe{i}", fn)
                if res is not None:
                    walls.append(wall)
            return median(walls)

        # session: the per-job floors every distributed query pays
        out["session.start_s"] = self.session_s
        out["session.job_floor_s"] = timed("session", "job_floor", lambda: spark.range(1).count())

        @F.pandas_udf("long")
        def _ident(s: pd.Series) -> pd.Series:
            return s

        tiny = spark.range(2).select(_ident("id").alias("x"))
        tiny.collect()
        out["session.pyworker_floor_s"] = timed("session", "pyworker_floor", lambda: tiny.collect())

        # analysis: the indexer's tokenizer on a fixed doc sample, in the driver
        src = self.inputs.get("corpus") or self.inputs["base"]
        texts = pq.read_table(os.path.join(self.work, src), columns=["content"]).slice(0, 500)
        texts = texts.column("content").to_pandas()
        ids = np.arange(len(texts), dtype=np.int64)
        _tr, lens = term_frequencies(ids, texts)
        tok_walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.span("analysis.term_frequencies"):
                term_frequencies(ids, texts)
            tok_walls.append(time.perf_counter() - t0)
        out["analysis.tokens_per_s"] = float(lens["doclen"].sum()) / median(tok_walls)

        # indexer: stage times of this workload's builds
        recs = self.indexer_records
        top = ("analyze", "doc_stats", "bucket_stats", "postings", "term_stats")
        for name in ("analyze", "doc_stats", "bucket_stats", "postings_3a", "term_stats"):
            out[f"indexer.{name}_s"] = median([r["stages"].get(name, 0.0) for r in recs])
        out["indexer.postings_3b_s"] = median([r["stages"]["postings"] - r["stages"]["postings_3a"] for r in recs])
        out["indexer.unattributed_s"] = median([r["wall"] - sum(r["stages"][s] for s in top) for r in recs])
        out["indexer.wall_s"] = median([r["wall"] for r in recs])
        out["indexer.partition_skew"] = median(
            [max(r["lineage_ms"]) / max(statistics.median(r["lineage_ms"]), 1) for r in recs])
        out["indexer.postings_rows"] = median([r["postings_rows"] for r in recs])
        out["indexer.n_terms"] = median([r["n_terms"] for r in recs])
        for part in ("postings", "docs", "stage"):
            key = "staging" if part == "stage" else part
            out[f"indexer.{key}_bytes_per_doc"] = median([r["bytes"][part] / r["n_docs"] for r in recs])

        # qparser
        parse_walls = []
        for _ in range(20):
            for q in self.stream:
                t0 = time.perf_counter()
                parse(q)
                parse_walls.append(time.perf_counter() - t0)
        out["qparser.parse_us"] = median(parse_walls) * 1e6

        # codec: decode_postings over the collected rows of the query vocabulary
        vocab = sorted({t for q in self.stream for t in parse(q).scoring})
        rows, _w = self.call("codec", "collect_rows", "probe", lambda: postings.where(
            F.col("term").isin(vocab)).select("bucket", "df", "doc_bytes", "tf_bytes").toPandas())
        if rows is not None and len(rows):
            recs_ = list(rows.itertuples(index=False))
            n_post = int(rows["df"].sum())
            dec = []
            for _ in range(3):
                t0 = time.perf_counter()
                with self.span("codec.decode_postings"):
                    for r in recs_:
                        decode_postings(r.doc_bytes, r.tf_bytes, int(r.df), int(r.bucket) * meta.bucket_docs)
                dec.append(time.perf_counter() - t0)
            out["codec.decode_postings_per_s"] = n_post / median(dec)

        # kernel: phase medians from the measured queries' spans
        by_rid: dict = {}
        for s in self.spans:
            name = "query" if s["name"] in ("kernel.search", "kernel.view_search") else s["name"]
            if name in ("query", "kernel.plan", "kernel.collect", "segments.view_collect"):
                by_rid.setdefault(s["rid"], {})[name] = s["end"] - s["start"]
        full = [d for d in by_rid.values() if "query" in d and "kernel.plan" in d]
        out["kernel.plan_s"] = median([d["kernel.plan"] for d in full])
        collects = [d.get("kernel.collect", d.get("segments.view_collect", 0.0)) for d in full]
        out["kernel.collect_s"] = median(collects)
        out["kernel.span_coverage_min"] = min(
            (d["kernel.plan"] + c) / d["query"] for d, c in zip(full, collects)) if full else None
        # a df-cache miss: the search call for terms this run never queried
        from solr_spark.corpus import build_vocab

        fresh = [t.lower() for t in build_vocab()[0][2000:2100] if t.lower() not in set(vocab)][:5]
        out["kernel.plan_miss_s"] = median(
            [self.call("kernel", "plan_miss", i, lambda t=t: searcher.search(t, spec.K))[1]
             for i, t in enumerate(fresh)])
        scan, prow, pbuck, ppr = [], [], [], []
        for qi in qis[:5]:
            terms = sorted(set(parse(self.stream[qi]).scoring) | set(parse(self.stream[qi]).prohibited))
            frame = postings.where(F.col("term").isin(terms))
            _n, wall = self.call("kernel", "scan", qi, lambda: frame.count())
            scan.append(wall)
            got, _w = self.call("kernel", "scan_rows", qi, lambda: frame.select("bucket", "df").collect())
            if got is not None:
                prow.append(len(got))
                pbuck.append(len({r["bucket"] for r in got}))
                n_res = len(self.hits.get((state, qi)) or []) or 1
                ppr.append(sum(r["df"] for r in got) / n_res)
        out["kernel.scan_s"] = median(scan)
        out["kernel.postings_rows_per_query"] = median(prow)
        out["kernel.buckets_per_query"] = median(pbuck)
        out["kernel.postings_per_result"] = median(ppr)
        frame = postings.where(F.col("term").isin(vocab))
        out["kernel.decode_frame_s"] = timed(
            "kernel", "decode_frame", lambda: decode_posting_frame(frame, meta.bucket_docs).count(), n=1)

        # segments
        view = getattr(self, "view", None) or IndexView(segments=[meta])
        out["segments.frames_s"] = timed("segments", "frames", lambda: view.frames(spark), n=3)
        if not any("segments.view_collect" in d for d in by_rid.values()):
            for qi in qis[:2]:
                self.query("view_search", state, qi, lambda q: view.search(spark, q, spec.K))
        view_collects = [s["end"] - s["start"] for s in self.spans if s["name"] == "segments.view_collect"]
        out["segments.view_collect_s"] = median(view_collects)
        out["segments.count"] = len(view.segments)
        out["segments.deleted_docs"] = len(view.delete_keys)

        # tracing overhead: the same local_topk call with spans off and on
        if self.local is not None:
            local, q = self.local["searcher"], self.stream[self.local["qis"][0]]
            walls = {True: [], False: []}
            for _ in range(300):
                for on in (False, True):
                    self.trace = on
                    t0 = time.perf_counter()
                    with self.span("kernel.local_topk", "overhead"):
                        local.local_topk(q, spec.K)
                    walls[on].append(time.perf_counter() - t0)
            self.trace = True
            out["trace.overhead_us_per_op"] = (median(walls[True]) - median(walls[False])) * 1e6
        for layer in ("session", "analysis", "indexer", "codec", "qparser", "kernel", "segments"):
            out[f"{layer}.failed"] = self.failed.get(layer, 0)
        return out


def main() -> int:
    workload, work, seconds, trace, results = sys.argv[1:6]
    sys.path.insert(0, os.getcwd())
    with open(results, "w") as out:
        run = Run(workload, work, float(seconds), trace == "1", out)
        try:
            getattr(run, f"run_{workload}")()
            if run.trace and getattr(run, "probe", None) is not None:
                run.emit(kind="layers", metrics=run.probes())
            run.emit(kind="done")
        except SessionDead as e:
            run.emit(kind="dead", error=str(e)[:500])
        finally:
            if run.spark is not None:
                try:
                    run.spark.stop()
                except Exception:  # the JVM may already be gone
                    pass
    return 0


if __name__ == "__main__":
    sys.exit(main())

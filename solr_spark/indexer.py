"""Distributed inverted-index build — the engine's ingest pipeline.

Mirrors the reference's update lifecycle (loader -> processor chain ->
analysis -> segment flush -> segment merge -> commit;
solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java:309-409
and update/DocumentBuilder.java:99-224) as a sequence of Spark stages over
ordinary parquet tables:

  [1] analyze   ONE pass over content (the expensive scan): range-shuffle
                by (repo,path,commit) -> sortWithinPartitions -> mapInPandas
                tokenizer emitting a union-typed staging table
                (doc rows + posting triples + per-partition lineage metrics)
  [2] doc_stats docid = global sort ordinal (offset[pid] + local_idx —
                deterministic across any parallelism), sha256, doclen,
                bucket = docid DIV bucket_docs; global N / avgdl
  [3] postings  two sub-stages forming a sorted-merge shuffle keyed
                (term, bucket):
                [3a] per-partition sorted partial posting runs — each task
                     reads ONE staging file directly with pyarrow (the
                     triples never cross the JVM→Python row pipe) and
                     emits delta+varint runs per (term, bucket);
                     checkpointed under _stage/runs
                [3b] range exchange of the COMPACT runs on (term, bucket),
                     JVM sort by (term, bucket, min_docid), then a
                     vectorized decode pass feeding the ONE postings
                     writer (_encode_sorted, which segment merge shares):
                     delta+varint blocks with block-max metadata —
                     byte-identical to encoding raw triples, at a shuffle
                     cost of ~postings bytes instead of ~raw-triple rows.
                Hot-term skew is structurally salted: a term's postings
                split across docid buckets, so no single reducer ever
                sees more than bucket_docs postings per term (the
                reference's CompositeIdRouter-style routing,
                solrj/src/java/org/apache/solr/common/cloud/CompositeIdRouter.java:136-148).
  [4] term_stats global (df, cf) per term — exact global IDF, stronger
                than the reference's default per-shard IDF
                (solr/core/src/java/org/apache/solr/search/stats/ExactStatsCache.java:61);
                the one term-sorted table is also the term dictionary
  [5] meta.json config + global stats + per-stage & per-partition lineage
                (_finish_meta, which segment merge shares); then the
                _stage scratch (staging tokens, partial runs) is removed

Every statistic in meta.json is read back from a committed table: the
per-partition counts and lineage from stage 1's metrics rows, the
postings rows/bytes from the postings table. Parquet task commit makes
those exactly-once on any runtime, retries and speculation included, so
a local build and a cluster build take the same path.

Every stage is idempotent (mode=overwrite) and gated on its _SUCCESS
marker, so a killed build resumes without recomputing completed stages —
the analog of the reference's transaction-log replay
(solr/core/src/java/org/apache/solr/update/UpdateLog.java:131-133,1194).
A resume refuses a call whose build config differs from the stored one:
meta.json's once the index commits, _stage/config.json's before that.

Every table is read with its declared schema (index_table, STAGE_SCHEMA,
PARTIAL_RUNS_SCHEMA), so no read runs a Spark job to infer one.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field, fields
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import term_frequencies

# Narrow union schema: posting rows dominate (~500× doc rows), so they
# carry exactly one object column. Doc rows pack their metadata into that
# column as "repo\x01path\x01commit\x01lang\x01sha256" (split JVM-side in
# stage 2 — id columns must not contain \x01).
STAGE_SCHEMA = "kind tinyint, pid int, local_idx bigint, term string, tf bigint, doclen bigint"
_META_SEP = "\x01"

POSTINGS_SCHEMA = (
    "term string, bucket bigint, df bigint, cf bigint, "
    "doc_bytes binary, tf_bytes binary, "
    "block_offs_doc array<int>, block_offs_tf array<int>, "
    "block_last array<bigint>, block_max_tf array<int>, block_min_dl array<int>"
)

# declared schemas of the fixed-schema index tables (docs and positions:
# _table_schema)
_TABLE_SCHEMAS = {
    "postings": POSTINGS_SCHEMA,
    "bucket_stats": "bucket bigint, doclens array<bigint>",
    "terms": "term string, df bigint, cf bigint, n_buckets bigint",
}

DEFAULT_BUCKET_DOCS = 4096


@dataclass
class IndexMeta:
    out_dir: str
    n_docs: int = 0
    sum_doclen: int = 0
    avgdl: float = 0.0
    bucket_docs: int = DEFAULT_BUCKET_DOCS
    docid_base: int = 0  # first docid of this segment (bucket-aligned)
    # composite unique-key columns of the source table — segments.py's
    # delete masks / merge remap key on these, so they are part of the
    # persisted index contract, not just a build_index argument
    id_cols: list = field(default_factory=lambda: ["repo", "path", "commit"])
    has_positions: bool = False  # positional postings present (positions.py)
    has_payloads: bool = False  # per-position payloads present (positions.py)
    analyzer: str = "code"  # analysis.ANALYZERS key used at build time
    # index-time synonym rules (analysis.SynonymGraph.to_meta form) — part
    # of the persisted index contract: positional builds, delta segments
    # and merges must reproduce the same injected postings
    synonyms: dict | None = None
    n_terms: int = 0
    postings_rows: int = 0
    postings_bytes: int = 0
    skew_max_df: int = 0
    skew_ratio: float = 0.0
    stages: dict = field(default_factory=dict)
    lineage: list = field(default_factory=list)

    @property
    def docs_path(self) -> str:
        return os.path.join(self.out_dir, "docs")

    @property
    def postings_path(self) -> str:
        return os.path.join(self.out_dir, "postings")

    @property
    def bucket_stats_path(self) -> str:
        return os.path.join(self.out_dir, "bucket_stats")

    @property
    def terms_path(self) -> str:
        return os.path.join(self.out_dir, "terms")

    delete_keys = ()  # an index is a one-segment view with no deletes

    @property
    def segments(self) -> list["IndexMeta"]:
        return [self]

    def save(self) -> None:
        """Write meta.json atomically (temp file + os.replace): resume
        trusts any meta.json it finds, so a torn write must never land
        under that name."""
        path = os.path.join(self.out_dir, "meta.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=1)
        os.replace(tmp, path)

    @classmethod
    def load(cls, out_dir: str) -> "IndexMeta":
        with open(os.path.join(out_dir, "meta.json")) as f:
            d = json.load(f)
        unknown = sorted(set(d) - {f.name for f in fields(cls)})
        if unknown:
            raise ValueError(
                f"{out_dir}/meta.json has unknown keys {unknown}; the index "
                "was built by an incompatible engine version, rebuild it"
            )
        d["out_dir"] = out_dir
        return cls(**d)


def _table_schema(index, name: str) -> str:
    """The declared schema of index table ``name``: what its writer
    writes (tests/test_invariance.py pins the two together) and what
    index_table reads with. The docs table carries the index's id_cols."""
    if name == "docs":
        ids = "".join(f"`{c}` string, " for c in index.id_cols)
        return f"docid bigint, bucket bigint, {ids}lang string, sha256 string, doclen bigint"
    if name == "positions":
        from .positions import POSITIONS_SCHEMA

        return POSITIONS_SCHEMA
    return _TABLE_SCHEMAS[name]


def index_table(spark: SparkSession, index, name: str) -> DataFrame:
    """Table ``name`` (docs, postings, terms, positions, ...) of an
    IndexMeta or a segments.IndexView: one multi-path scan over every
    segment, read with the table's declared schema, so opening a table
    runs no Spark job. Buckets never straddle segments, so a view's table
    is the union of its segments' rows; its terms table sums each term's
    stats. Deleted docs stay in every table (kernel.live_rows drops
    them)."""
    segs = index.segments
    table = spark.read.schema(_table_schema(index, name)).parquet(
        *[os.path.join(m.out_dir, name) for m in segs]
    )
    if name == "terms" and len(segs) > 1:
        table = table.groupBy("term").agg(
            *[F.sum(c).alias(c) for c in ("df", "cf", "n_buckets")]
        )
    return table


def bucket_local(ids: np.ndarray, bucket_docs: int) -> dict[int, np.ndarray]:
    """Sorted docids ``ids`` as bucket -> sorted bucket-local docids
    (int32: 4 bytes a doc, in the driver and in every cogroup task's
    closure): the shape of the query kernel's live-docs and filter
    masks."""
    buckets, starts = np.unique(ids // bucket_docs, return_index=True)
    return {
        int(b): (part - int(b) * bucket_docs).astype(np.int32)
        for b, part in zip(buckets, np.split(ids, starts[1:]))
    }


def _analyze_partitions(
    term_transform=None,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    synonyms=None,
    pre_transform=None,
):
    """mapInPandas closure: tokenize + hash one sorted partition, emitting
    union-typed rows. local_idx is the row ordinal within the partition.

    Each partition ends with one kind=2 metrics row carrying its
    (n_docs, sum_doclen, n_postings, millis). build_index reads them back
    from the committed staging table for the docid offsets, the global
    doclen stats and the lineage: parquet task commit keeps exactly one
    attempt's rows per partition, whatever the runtime retries."""
    import hashlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        pid = -1
        n_docs = 0
        n_postings = 0
        sum_doclen = 0
        t0 = time.time()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["pid"].iloc[0])
            ids = np.arange(local, local + len(pdf), dtype=np.int64)
            local += len(pdf)
            n_docs += len(pdf)
            # pre_transform (PRE_TRANSFORMS, e.g. the text_cjk bigram
            # fold) feeds ONLY the tokenizer — the stored content and its
            # integrity sha256 stay byte-identical to the source
            tok_text = (
                pdf["content"] if pre_transform is None
                else pdf["content"].map(pre_transform)
            )
            triples, doclens = term_frequencies(
                ids, tok_text,
                term_transform=term_transform, synonyms=synonyms,
            )
            sum_doclen += int(doclens["doclen"].sum())
            sha = pdf["content"].map(lambda s: hashlib.sha256((s or "").encode()).hexdigest())
            meta_cols = [pdf[c].astype(str) for c in id_cols] + [
                pdf["lang"].fillna("").astype(str)
            ]
            for c, series in zip([*id_cols, "lang"], meta_cols):
                # the packed metadata row is positional — a separator
                # byte inside a value would silently shift every
                # downstream column, so fail the task loudly instead
                if series.str.contains(_META_SEP, regex=False).any():
                    raise ValueError(
                        f"column {c!r} contains the reserved \x01 "
                        "metadata separator"
                    )
            packed = meta_cols[0]
            for series in meta_cols[1:]:
                packed = packed + _META_SEP + series
            packed = packed + _META_SEP + sha
            yield pd.DataFrame(
                {
                    "kind": np.int8(0),
                    "pid": np.int32(pid),
                    "local_idx": ids,
                    "term": packed.to_numpy(),
                    "tf": np.int64(0),
                    "doclen": doclens["doclen"].to_numpy(),
                }
            )
            if len(triples):
                n_postings += len(triples)
                yield pd.DataFrame(
                    {
                        "kind": np.int8(1),
                        "pid": np.int32(pid),
                        "local_idx": triples["docid"].to_numpy(),
                        # Arrow-backed string column — stays a flat buffer
                        # through the Arrow serializer (no Python strings)
                        "term": triples["term"],
                        "tf": triples["tf"].to_numpy(),
                        "doclen": triples["doclen"].to_numpy(),
                    }
                )
        if pid >= 0:  # per-partition lineage metrics row
            yield pd.DataFrame(
                {
                    "kind": [np.int8(2)],
                    "pid": [np.int32(pid)],
                    "local_idx": [np.int64(n_docs)],
                    # sum_doclen rides in the free string column, so
                    # build_index recovers ALL stats from kind=2 rows alone
                    # (no second scan of the doc rows)
                    "term": [f"_metrics{_META_SEP}{sum_doclen}"],
                    "tf": [np.int64(n_postings)],
                    "doclen": [np.int64((time.time() - t0) * 1000)],
                }
            )

    return fn


PARTIAL_RUNS_SCHEMA = (
    "term string, bucket bigint, min_docid bigint, df bigint, cf bigint, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary"
)


def _flat_to_batch(pa, term_arr, buckets, f):
    """Assemble a POSTINGS_SCHEMA RecordBatch zero-copy from a
    codec.FlatEncodedRuns: binary columns reuse the contiguous byte
    streams via Array.from_buffers, list columns reuse the flat block
    vectors via ListArray.from_arrays — no per-run Python objects."""
    G = len(term_arr)
    bin_col = lambda offs, stream: pa.Array.from_buffers(  # noqa: E731
        pa.binary(), G,
        [None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(stream)],
    )
    lists32 = lambda vals: pa.ListArray.from_arrays(  # noqa: E731
        pa.array(f.cum_nb.astype(np.int32)), pa.array(vals)
    )
    return pa.RecordBatch.from_arrays(
        [
            term_arr,
            pa.array(buckets, type=pa.int64()),
            pa.array(f.lens, type=pa.int64()),
            pa.array(f.cfs, type=pa.int64()),
            bin_col(f.run_offs_d, f.stream_d),
            bin_col(f.run_offs_t, f.stream_t),
            lists32(f.offs_d),
            lists32(f.offs_t),
            pa.ListArray.from_arrays(
                pa.array(f.cum_nb.astype(np.int32)),
                pa.array(f.block_last, type=pa.int64()),
            ),
            lists32(f.block_max_tf),
            lists32(f.block_min_dl),
        ],
        names=[
            "term", "bucket", "df", "cf", "doc_bytes", "tf_bytes",
            "block_offs_doc", "block_offs_tf", "block_last",
            "block_max_tf", "block_min_dl",
        ],
    )


def _strip_file_scheme(path: str) -> str:
    """file:-scheme URIs (DataFrame.inputFiles' form) -> local paths;
    other schemes pass through for pyarrow.fs to resolve."""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    return path


def _partial_runs_fn(offsets: dict, bucket_docs: int):
    """mapInArrow closure over STAGED FILE PATHS (one row per staging
    parquet file): each task reads its file(s) DIRECTLY with pyarrow's
    C++ parquet reader — the posting triples never cross the JVM→Python
    row pipe, which profiling showed costs ~20 s for ~50 M rows while the
    direct columnar read costs ~0.5 s — and emits per-partition sorted
    partial posting runs, one row per (term, bucket) present in the file:
    docid-delta varint streams exactly like the final format (base =
    bucket * bucket_docs) plus a varint doclen stream, with min_docid
    for the reduce-side merge order. This is the north-star shape:
    per-partition sorted posting lists built map-side, merged by a
    sorted-merge shuffle keyed (term, bucket) in stage 3b. Staging must
    live on a filesystem pyarrow can open (local/NFS/S3/HDFS via
    pyarrow.fs — true for Spark-writable storage in this deployment).

    ``offsets`` (pid -> global docid offset) is a small broadcast-by-
    closure dict; memory per task is bounded by one stage-1 partition's
    triples (the same bound the old reduce-side encode had)."""
    import pyarrow as pa

    from .codec import _varint_sizes, varint_encode

    max_pid = max(offsets) if offsets else 0
    off_lookup = np.zeros(max_pid + 1, dtype=np.int64)
    for p, o in offsets.items():
        off_lookup[p] = o

    def fn(batches):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for b in batches:
            for path in b.column(0).to_pylist():
                # use_threads=False: Spark owns the parallelism here (one
                # task per file, all cores busy). pyarrow's default pool
                # spawns cpu_count decode threads PER concurrent task —
                # measured 1.8x slower at 4 parallel tasks on 4 cores
                # (thread thrash), and it inverts the N-vs-4N scaling
                # signal (3a speedup 2.0x -> 3.9x on 4 cores with the
                # pool disabled).
                tbl = pq.read_table(
                    _strip_file_scheme(path),
                    columns=["pid", "local_idx", "term", "tf", "doclen"],
                    filters=[("kind", "=", 1)],
                    use_threads=False,
                ).combine_chunks()
                n = tbl.num_rows
                if n == 0:
                    continue
                pid = tbl.column("pid").to_numpy()
                local = tbl.column("local_idx").to_numpy()
                term = tbl.column("term")
                term = term.chunk(0) if isinstance(term, pa.ChunkedArray) else term
                tf = tbl.column("tf").to_numpy()
                dl = tbl.column("doclen").to_numpy()
                docid = off_lookup[pid] + local
                # group sort: dictionary codes stand in for the term (the
                # global term order is imposed by stage 3b's range
                # exchange, so code order — not lexicographic order — is
                # fine here and skips a string sort); bucket is monotonic
                # in docid, so (code, docid) fully orders (term, bucket)
                codes = term.dictionary_encode().indices.to_numpy()
                # single-key argsort beats np.lexsort (two stable merge
                # passes over ~100MB of gather traffic) when (code,
                # docid) packs into one int64: (code, docid) pairs are
                # unique (stage 1 emits one triple per term x doc), so
                # an unstable sort of the packed key gives the same
                # order with roughly half the memory traffic — this is
                # the bandwidth-bound hot loop of the map side, and the
                # contended multi-task arm gains the most. Falls back to
                # lexsort when the key would overflow (docid ranges past
                # 2^62 / vocab — not reachable before int64 docids are).
                span = int(docid.max()) + 1 if n else 1
                ncodes = int(codes.max()) + 1 if n else 1
                if ncodes * span < (1 << 62):
                    order = np.argsort(
                        codes.astype(np.int64) * span + docid, kind="quicksort"
                    )
                else:
                    order = np.lexsort((docid, codes))
                codes_s = codes[order]
                docid_s = docid[order]
                bucket_s = docid_s // bucket_docs
                tf_s = tf[order].astype(np.int64)
                dl_s = dl[order].astype(np.int64)
                change = np.empty(n, dtype=bool)
                change[0] = True
                change[1:] = (codes_s[1:] != codes_s[:-1]) | (
                    bucket_s[1:] != bucket_s[:-1]
                )
                starts = np.flatnonzero(change)
                ends = np.append(starts[1:], n)
                boundaries = np.append(starts, n)
                G = len(starts)

                deltas = np.empty(n, dtype=np.uint64)
                if n > 1:
                    np.subtract(
                        docid_s[1:], docid_s[:-1], out=deltas[1:], casting="unsafe"
                    )
                deltas[starts] = (
                    docid_s[starts] - bucket_s[starts] * bucket_docs
                ).astype(np.uint64)
                tf_enc = (tf_s - 1).astype(np.uint64)
                dl_enc = dl_s.astype(np.uint64)

                streams, offs = [], []
                for vals in (deltas, tf_enc, dl_enc):
                    sizes = _varint_sizes(vals)
                    cum = np.zeros(n + 1, dtype=np.int64)
                    np.cumsum(sizes, out=cum[1:])
                    streams.append(varint_encode(vals, sizes=sizes))
                    offs.append(cum[boundaries])

                bin_col = lambda i: pa.Array.from_buffers(  # noqa: E731
                    pa.binary(), G,
                    [None, pa.py_buffer(offs[i].astype(np.int32)),
                     pa.py_buffer(streams[i])],
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pc.take(term, pa.array(order[starts])),
                        pa.array(bucket_s[starts], type=pa.int64()),
                        pa.array(docid_s[starts], type=pa.int64()),
                        pa.array(ends - starts, type=pa.int64()),
                        pa.array(np.add.reduceat(tf_s, starts), type=pa.int64()),
                        bin_col(0),
                        bin_col(1),
                        bin_col(2),
                    ],
                    names=[
                        "term", "bucket", "min_docid", "df", "cf",
                        "doc_bytes", "tf_bytes", "dl_bytes",
                    ],
                )

    return fn


def _binary_stream(pa, arr):
    """View an Arrow binary column as (data uint8, row byte offsets int64)
    — row i's bytes are data[offs[i]:offs[i+1]]; rows are back-to-back,
    so data[offs[0]:offs[-1]] is the concatenation of every row, and a
    sorted column's run [s:e) concatenates by pure slicing."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if not pa.types.is_binary(arr.type):
        # large_binary carries int64 offsets; reading them as int32 below
        # would silently produce garbage slices — fail loudly instead.
        raise TypeError(f"expected binary (int32-offset) column, got {arr.type}")
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    # an all-empty column has no data buffer
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return data, offs


# Postings per encode pass of the shared writer (_encode_sorted): bounds
# its memory whatever the partition size, and amortizes the numpy pass.
ENCODE_CHUNK_POSTINGS = 512 * 1024


def _encode_sorted(chunks, bucket_docs: int, chunk_postings: int):
    """The one streaming postings writer, shared by build stage 3b and
    segment merge (the reference flushes and merges segments through one
    postings consumer; lucene/core/.../index/FreqProxTermsWriter).

    ``chunks`` yields ``(term, bucket, n, docid, tf, doclen)``: per row a
    term (pa.Array), bucket and posting count n, then the rows' postings
    back to back. Rows arrive sorted by (term, bucket, docid), so each
    (term, bucket) group is contiguous and in docid order. Once
    ``chunk_postings`` postings are pending, their complete groups are
    encoded in ONE codec.encode_posting_runs_flat pass and emitted as a
    POSTINGS_SCHEMA batch assembled zero-copy (_flat_to_batch). The last
    group may continue in the next chunk, so it is held back as the
    carry: one (term, bucket) group, at most bucket_docs postings. Groups
    never straddle an encode pass, so the output bytes do not depend on
    the chunking. ``chunk_postings`` is ENCODE_CHUNK_POSTINGS as the driver
    read it when it built the closure: a Python worker re-imports this
    module with its own globals."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import encode_posting_runs_flat

    def encode(parts, final: bool):
        term = pa.concat_arrays([p[0] for p in parts])
        bucket, n, docid, tf, doclen = (
            np.concatenate([p[i] for p in parts]) for i in range(1, 6)
        )
        R = len(bucket)
        change = np.ones(R, dtype=bool)
        if R > 1:
            change[1:] = pc.not_equal(
                term.slice(1), term.slice(0, R - 1)
            ).to_numpy(zero_copy_only=False) | (bucket[1:] != bucket[:-1])
        gstarts = np.flatnonzero(change)
        vstarts = np.zeros(R + 1, dtype=np.int64)
        np.cumsum(n, out=vstarts[1:])
        carry = None
        if not final:
            R, gstarts = int(gstarts[-1]), gstarts[:-1]
            v = vstarts[R]
            carry = (term.slice(R), bucket[R:], n[R:], docid[v:], tf[v:], doclen[v:])
            docid, tf, doclen = docid[:v], tf[:v], doclen[:v]
        if not len(gstarts):
            return None, carry
        f = encode_posting_runs_flat(
            docid, tf, doclen,
            vstarts[gstarts], vstarts[np.append(gstarts[1:], R)],
            bucket[gstarts] * bucket_docs,
        )
        return _flat_to_batch(pa, pc.take(term, pa.array(gstarts)), bucket[gstarts], f), carry

    pend, pend_n = [], 0
    for chunk in chunks:
        pend.append(chunk)
        pend_n += len(chunk[3])
        if pend_n >= chunk_postings:
            out, carry = encode(pend, final=False)
            pend, pend_n = [carry], len(carry[3])
            if out is not None:
                yield out
    if pend:
        out, _ = encode(pend, final=True)
        if out is not None:
            yield out


def _merge_runs_arrow(bucket_docs: int):
    """mapInArrow closure for stage 3b: the reduce side of the sorted-merge
    shuffle. Input rows are partial runs (PARTIAL_RUNS_SCHEMA) range-
    partitioned on (term, bucket) and sorted by (term, bucket, min_docid)
    within the partition, so each (term, bucket) group's runs arrive
    contiguous and in docid order (map tasks own disjoint docid ranges,
    so runs never interleave). A partial run is always a whole row, so
    each Arrow batch decodes exactly on its own: ONE varint pass per
    stream (a batch's runs are back-to-back in the Arrow value buffers)
    and a segmented cumsum to rebase docids. The runs then reach the
    shared writer as rows of n = df postings — byte-identical to encoding
    the raw triples, at a shuffle cost of ~compressed-postings bytes
    instead of ~raw-triple rows."""
    import pyarrow as pa

    from .codec import decode_runs, varint_decode

    chunk = ENCODE_CHUNK_POSTINGS

    def runs(b):
        doc, tf, dl = (
            data[offs[0] : offs[-1]]
            for data, offs in (
                _binary_stream(pa, b[c]) for c in ("doc_bytes", "tf_bytes", "dl_bytes")
            )
        )
        bucket, df = b["bucket"].to_numpy(), b["df"].to_numpy()
        docid, tf = decode_runs(doc, tf, df, bucket * bucket_docs)
        return b["term"], bucket, df, docid, tf, varint_decode(dl).astype(np.int64)

    return lambda batches: _encode_sorted(map(runs, batches), bucket_docs, chunk)


def _encode_partition_arrow(bucket_docs: int):
    """mapInArrow closure for segment merge: raw (term, docid, tf, doclen,
    bucket) triples, PRESORTED by the upstream
    ``repartitionByRange(P, "term", "bucket").sortWithinPartitions("term",
    "bucket", "docid")`` (the sort happens JVM-side: Tungsten radix sort,
    parallel and spill-capable), reach the shared writer as rows of n = 1
    posting."""
    chunk = ENCODE_CHUNK_POSTINGS

    def triples(b):
        return (
            b["term"], b["bucket"].to_numpy(), np.ones(b.num_rows, dtype=np.int64),
            b["docid"].to_numpy(), b["tf"].to_numpy(), b["doclen"].to_numpy(),
        )

    return lambda batches: _encode_sorted(map(triples, batches), bucket_docs, chunk)


def write_docs(docs_df: DataFrame, out_path: str, P: int) -> None:
    """Stage 2 writer: the doc table range-laid on docid, so each output
    file covers a contiguous docid (= bucket) span and the per-query bucket
    semi-join in kernel.search prunes whole files via row-group min/max
    (shared by build_index and segment merge so the layout cannot
    desynchronize)."""
    (
        docs_df.repartitionByRange(max(P // 2, 1), "docid")
        .sortWithinPartitions("docid")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def write_bucket_stats(docs_df: DataFrame, out_path: str, P: int) -> None:
    """Stage 2b writer: one row per docid bucket with its doclens as an
    array indexed by bucket-local docid (shared by build_index and
    segment merge so the layout cannot desynchronize)."""
    (
        docs_df.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("docid", "doclen"))).alias("a"))
        .select("bucket", F.transform("a", lambda x: x["doclen"]).alias("doclens"))
        .repartitionByRange(max(P // 4, 1), "bucket")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def write_term_stats(spark: SparkSession, meta: IndexMeta, P: int) -> None:
    """Stage 4 writer: global (df, cf, n_buckets) per term of ``meta``'s
    postings, range-sorted by term (shared by build_index and segment
    merge). This one sorted table is the term dictionary every
    prefix, wildcard and fuzzy clause and spellcheck expands over: a
    prefix is a pushed-down range scan, any other pattern a filtered
    scan of a vocabulary-sized table."""
    (
        index_table(spark, meta, "postings").groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.count("*").alias("n_buckets"),
        )
        .repartitionByRange(max(P // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(meta.terms_path)
    )


# the build config a resume must match: stored in meta.json once the
# index commits, and in _stage/config.json while it is partly built
_CONFIG = ("bucket_docs", "analyzer", "synonyms", "id_cols", "docid_base")


def _check_config(out_dir: str, stored: dict | None, given: dict) -> None:
    """Raise ValueError naming each build-config field in which the
    ``stored`` config (None: not recorded) differs from ``given``."""
    if stored is None:
        diff = ["none recorded (no _stage/config.json)"]
    else:
        diff = [
            f"{f} (stored {stored.get(f)!r}, given {v!r})"
            for f, v in given.items() if stored.get(f) != v
        ]
    if diff:
        raise ValueError(
            f"{out_dir} holds an index built with a different config: "
            + "; ".join(diff) + ". Rebuild it with overwrite=True."
        )


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _finish_meta(spark: SparkSession, meta: IndexMeta) -> IndexMeta:
    """Stage 5, shared by build_index and segment merge: vocabulary and
    skew stats from the terms table, postings rows/bytes from one
    aggregation over the postings table, then the atomic meta.json
    write."""
    t0 = time.time()
    ts = index_table(spark, meta, "terms").agg(
        F.count("*").alias("n_terms"), F.max("df").alias("max_df"), F.avg("df").alias("mean_df")
    ).collect()[0]
    meta.n_terms = int(ts["n_terms"] or 0)
    meta.skew_max_df = int(ts["max_df"] or 0)
    meta.skew_ratio = float(ts["max_df"] / ts["mean_df"]) if ts["mean_df"] else 0.0
    pb = index_table(spark, meta, "postings").agg(
        F.count("*").alias("rows"),
        F.sum(F.length("doc_bytes") + F.length("tf_bytes")).alias("bytes"),
    ).collect()[0]
    meta.postings_rows = int(pb["rows"] or 0)
    meta.postings_bytes = int(pb["bytes"] or 0)
    meta.stages["meta"] = round(time.time() - t0, 3)
    meta.save()
    return meta


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    bucket_docs: int = DEFAULT_BUCKET_DOCS,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    num_partitions: int | None = None,
    overwrite: bool = False,
    resume: bool = True,
    docid_base: int = 0,
    analyzer: str = "code",
    synonyms: dict | None = None,
) -> IndexMeta:
    """Build the full index under ``out_dir``. Returns IndexMeta.

    ``docs`` must carry ``id_cols`` (unique composite key), ``content_col``,
    and optionally ``lang``. docid = docid_base + ordinal of the global
    (repo,path,commit) sort — content-independent and parallelism-invariant
    (SURVEY.md §7). ``docid_base`` is used by delta segments
    (segments.add_segment) and must be bucket-aligned so a docid bucket
    never spans two segments.

    A resume of a finished index returns its stored meta, and raises
    ValueError naming each field if this call's build config
    (bucket_docs, analyzer, synonyms, id_cols, docid_base) differs. A
    resume of a partly built index checks the same fields against
    ``_stage/config.json``, written before stage 1; a ``_stage`` without
    it is refused. The committed index holds no ``_stage``: it is removed
    once meta.json is written."""
    if docid_base % bucket_docs != 0:
        raise ValueError("docid_base must be a multiple of bucket_docs")
    syn_graph = None
    if synonyms:
        from .analysis import SynonymGraph

        syn_graph = SynonymGraph(synonyms)
        synonyms = syn_graph.to_meta()  # canonical persisted form
    meta = IndexMeta(
        out_dir=out_dir, bucket_docs=bucket_docs, docid_base=docid_base,
        analyzer=analyzer, id_cols=list(id_cols),
        synonyms=synonyms or None,
    )
    if overwrite and os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    scratch = os.path.join(out_dir, "_stage")
    config = {f: getattr(meta, f) for f in _CONFIG}
    if resume and os.path.exists(os.path.join(out_dir, "meta.json")):
        stored = IndexMeta.load(out_dir)
        _check_config(out_dir, {f: getattr(stored, f) for f in _CONFIG}, config)
        return stored
    config_path = os.path.join(scratch, "config.json")
    if resume and os.path.exists(scratch):
        stored = None
        if os.path.exists(config_path):
            with open(config_path) as f:
                stored = json.load(f)
        _check_config(out_dir, stored, config)
    os.makedirs(scratch, exist_ok=True)
    with open(config_path + ".tmp", "w") as f:
        json.dump(config, f)
    os.replace(config_path + ".tmp", config_path)

    P = num_partitions or spark.sparkContext.defaultParallelism
    stage_dir = os.path.join(scratch, "tokens")
    from .analysis import ANALYZERS, PRE_TRANSFORMS

    term_transform = ANALYZERS[analyzer]
    pre_transform = PRE_TRANSFORMS.get(analyzer)
    cols = {c.lower() for c in docs.columns}
    lang_col = F.col("lang") if "lang" in cols else F.lit(None).cast("string")

    # ---- stage 1: analyze (single content scan) --------------------------
    t0 = time.time()
    if not (resume and _done(stage_dir)):
        src = docs.select(
            *[F.col(c) for c in id_cols], lang_col.alias("lang"),
            F.col(content_col).alias("content"),
        )
        sorted_docs = (
            src.repartitionByRange(P, *[F.col(c) for c in id_cols])
            .sortWithinPartitions(*id_cols)
            .withColumn("pid", F.spark_partition_id())
        )
        sorted_docs.mapInPandas(
            _analyze_partitions(
                term_transform=term_transform,
                id_cols=tuple(id_cols),
                synonyms=syn_graph,
                pre_transform=pre_transform,
            ),
            STAGE_SCHEMA,
        ).write.mode("overwrite").parquet(stage_dir)
    meta.stages["analyze"] = round(time.time() - t0, 3)

    stage = spark.read.schema(STAGE_SCHEMA).parquet(stage_dir)

    # partition offsets -> global docid, from one scan of the committed
    # staging metrics rows (kind=2; see _analyze_partitions)
    pstats = {
        int(r["pid"]): (
            int(r["local_idx"]), int(r["term"].split(_META_SEP)[1]),
            int(r["tf"]), int(r["doclen"]),
        )
        for r in stage.where(F.col("kind") == 2).collect()
    }
    offsets, acc = {}, docid_base
    for pid in sorted(pstats):
        offsets[pid] = acc
        acc += pstats[pid][0]
    meta.n_docs = acc - docid_base
    meta.sum_doclen = sum(v[1] for v in pstats.values())
    meta.avgdl = meta.sum_doclen / meta.n_docs if meta.n_docs else 0.0
    meta.lineage = [
        {"pid": pid, "n_docs": v[0], "n_postings": v[2], "millis": v[3]}
        for pid, v in sorted(pstats.items())
    ]
    offs_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "pid int, offset bigint"
        )
    )

    # ---- stage 2: doc_stats ----------------------------------------------
    t0 = time.time()
    docs_out = os.path.join(out_dir, "docs")
    if not (resume and _done(docs_out)):
        meta_parts = F.split(F.col("term"), _META_SEP)
        n_ids = len(id_cols)
        id_out = [meta_parts.getItem(i).alias(c) for i, c in enumerate(id_cols)]
        write_docs(
            stage.where(F.col("kind") == 0)
            .join(offs_df, "pid")
            .withColumn("docid", F.col("offset") + F.col("local_idx"))
            .withColumn("bucket", F.expr(f"docid DIV {bucket_docs}"))
            .select(
                "docid",
                "bucket",
                *id_out,
                meta_parts.getItem(n_ids).alias("lang"),
                meta_parts.getItem(n_ids + 1).alias("sha256"),
                "doclen",
            ),
            docs_out, P,
        )
    meta.stages["doc_stats"] = round(time.time() - t0, 3)

    # ---- stage 2b: bucket_stats (per-bucket doclen arrays) ---------------
    # One row per docid bucket carrying its doclens as an array indexed
    # by local docid (docids are dense, so position == docid - base). The
    # query kernel cogroups postings with THIS table instead of per-row
    # doc_stats: the per-query exchange moves ~n_docs/bucket_docs rows
    # instead of n_docs individual rows — the docs-side shuffle that
    # dominated fts latency at scale (the reference's analog is the norms
    # file). Filters never ride this table: the searcher resolves them
    # to a docid mask from the docs table (kernel.Searcher).
    t0 = time.time()
    bs_out = os.path.join(out_dir, "bucket_stats")
    if not (resume and _done(bs_out)):
        write_bucket_stats(index_table(spark, meta, "docs"), bs_out, P)
    meta.stages["bucket_stats"] = round(time.time() - t0, 3)

    # ---- stage 3: postings (term,bucket)-keyed sorted merge ---------------
    t0 = time.time()
    post_out = os.path.join(out_dir, "postings")
    if not (resume and _done(post_out)):
        # --- 3a: map-side partial posting runs (its own _SUCCESS-gated
        # checkpoint, so a killed build resumes past it). One task per
        # staging file, listed from the staging read's file index (no
        # Spark job); the triples are read with pyarrow directly — see
        # _partial_runs_fn for why the JVM→Python row pipe is avoided.
        runs_dir = os.path.join(scratch, "runs")
        if not (resume and _done(runs_dir)):
            files = sorted(stage.inputFiles())
            paths_df = spark.createDataFrame(
                [(p,) for p in files], "path string"
            ).repartition(max(len(files), 1))  # round-robin: one file per task
            (
                paths_df.mapInArrow(
                    _partial_runs_fn(offsets, bucket_docs), PARTIAL_RUNS_SCHEMA
                )
                .write.mode("overwrite")
                .parquet(runs_dir)
            )
        meta.stages["postings_3a"] = round(time.time() - t0, 3)
        # --- 3b: sorted-merge shuffle keyed (term, bucket) over the
        # COMPACT runs (~postings-sized bytes, not raw-triple rows).
        # Range exchange: groups stay complete per partition AND each
        # postings file covers a contiguous term span, so a query term's
        # pruned scan touches one file (row-group min/max stats line up
        # with the sort); the range partitioner's sampling pass now scans
        # the small runs table, not the triples. Skew stays structural: a
        # term never exceeds bucket_docs postings per (term,bucket)
        # group, and a group never holds more runs than stage-1
        # partitions. The row sort rides the exchange JVM-side.
        runs = spark.read.schema(PARTIAL_RUNS_SCHEMA).parquet(runs_dir)
        (
            runs.repartitionByRange(P, "term", "bucket")
            .sortWithinPartitions("term", "bucket", "min_docid")
            .mapInArrow(_merge_runs_arrow(bucket_docs), POSTINGS_SCHEMA)
            .write.mode("overwrite")
            .parquet(post_out)
        )
    meta.stages["postings"] = round(time.time() - t0, 3)

    # ---- stage 4: term_stats ----------------------------------------------
    t0 = time.time()
    if not (resume and _done(meta.terms_path)):
        write_term_stats(spark, meta, P)
    meta.stages["term_stats"] = round(time.time() - t0, 3)

    # ---- stage 5: meta + lineage -------------------------------------------
    _finish_meta(spark, meta)
    # committed: a resume now returns meta.json, so nothing reads the
    # staging tables again
    shutil.rmtree(scratch)
    return meta


def verify_content_integrity(
    spark: SparkSession,
    meta: "IndexMeta",
    source: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
) -> DataFrame:
    """Per-row content-sha256 invariant vs the source table (the north
    rule's row-level check; the reference's analog is Solr's index
    checksum verification, solr/core CheckIndex lifecycle).

    Recomputes sha256 over the source's content JVM-side and joins it to
    the doc store on the composite key — one co-partitioned join, no
    content ever collected. Returns a one-row frame
    (n_docs, n_matched, n_sha_mismatch, n_missing_in_index,
    n_missing_in_source); a clean build has n_docs == n_matched and
    zeros elsewhere."""
    docs = index_table(spark, meta, "docs").select(*id_cols, "sha256")
    src = source.select(
        *id_cols, F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256).alias("__sha")
    )
    j = docs.join(src, list(id_cols), "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("sha256") == F.col("__sha"), 1)).alias("n_matched"),
        F.count(
            F.when(
                F.col("sha256").isNotNull()
                & F.col("__sha").isNotNull()
                & (F.col("sha256") != F.col("__sha")),
                1,
            )
        ).alias("n_sha_mismatch"),
        F.count(F.when(F.col("sha256").isNull(), 1)).alias("n_missing_in_index"),
        F.count(F.when(F.col("__sha").isNull(), 1)).alias("n_missing_in_source"),
    )

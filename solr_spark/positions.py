"""Positional postings — the Lucene ``.pos``-file analog.

The base index stores (term, bucket) -> docid-delta + tf varint streams
(indexer.py), which cannot verify adjacency. Lucene solves this with a
positions file: per (term, doc), the token positions, delta+varint
encoded, consumed by PhraseQuery / SpanNearQuery (the reference consumes it via
``org.apache.lucene:*=9.8.0``, /root/reference/versions.props; spans:
solr/core/src/java/org/apache/solr/search/SurroundQParserPlugin.java:1).

This module adds the same structure as an ADDITIVE index stage:

  build_positions()  one extra content scan -> (term, bucket, docid,
                     positions) -> ONE range shuffle on (term, bucket)
                     (identical layout + skew story to the main postings:
                     a term never exceeds bucket_docs docs per group) ->
                     numpy delta+varint encode -> ``positions`` parquet
                     next to ``postings``, gated by _SUCCESS, resume-safe.
                     meta.has_positions flags availability; the
                     engine's gate index always carries it.

  phrase_tf_frame()  exact phrase frequency per doc for ANY phrase length
                     with ZERO content access: read the phrase terms'
                     position rows (term-pruned parquet scan, same
                     row-group pruning as postings), cogroup by bucket,
                     intersect docids, verify adjacency in one vectorized
                     numpy pass ((docid, position) key arithmetic -- no
                     per-doc Python loop).

  span_match_frame() surround-parser Nw/Nn span verification from the
                     same rows (ordered: 0 < pos(b)-pos(a) <= slop;
                     unordered: |pos(a)-pos(b)| <= slop).

Position semantics are pinned to the analysis contract (analysis.py):
position = index within the SURVIVING token stream (post stop-filter),
identical to the adjacency definition of the DuckDB oracles, which
re-tokenize content independently (tests/test_positions.py pins the
agreement).

Scale shape: query cost is proportional to the queried terms' postings
(the Lucene trade), never to corpus content. The build shuffles
sum(doclen) position integers once -- the same volume Lucene's indexer
writes to .pos -- encoded whole-partition in numpy (no per-row Python).
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import _varint_sizes, varint_decode, varint_encode
from .indexer import IndexMeta, _binary_stream, _done, index_table

POSITIONS_SCHEMA = (
    "term string, bucket bigint, df bigint, "
    "doc_bytes binary, pos_counts array<int>, pos_bytes binary, "
    "pay_bytes binary"
)

_STAGE_SCHEMA = (
    "term string, bucket bigint, docid bigint, "
    "count int, pos_bytes binary, pay_bytes binary"
)


def default_payload_fn(tokens, positions: np.ndarray) -> np.ndarray:
    """The gate corpus's per-occurrence payload: (token_length +
    position) % 16. The reference attaches payloads from the token
    stream itself (DelimitedPayloadTokenFilter on 'term|payload' input —
    lucene/analysis/common/.../payloads/DelimitedPayloadTokenFilter.java);
    the driver's documents table carries no delimited payloads, so the
    gate uses this deterministic function of the surviving token stream —
    exactly mirrorable by the DuckDB oracle — while the STORAGE/DECODE/
    SCORING plumbing (per-position payload stream, payload_score /
    payload_check kernels) is the real implementation."""
    import pyarrow.compute as pc

    lens = pc.utf8_length(tokens).to_numpy().astype(np.int64)
    return (lens + positions) % 16


# ---------------------------------------------------------------------------
# analysis kernel: content -> (docid, term, positions[]) rows


def position_lists(
    doc_ids: np.ndarray,
    texts: pd.Series,
    term_transform=None,
    payload_fn=None,
    synonyms=None,
):
    """Analyze a batch of documents into per-(doc, term) position lists.

    Same Arrow pipeline as analysis.term_frequencies (lower -> regex
    split -> flatten -> stop-filter -> dictionary-encode); only int
    arrays reach numpy. Returns DataFrame(docid int64, term str[arrow],
    positions list<int32>[arrow]) with positions ascending per row;
    with ``payload_fn`` (vectorized (tokens, positions) -> int64 array,
    the DelimitedPayloadTokenFilter slot) also a parallel
    payloads list<int32> column aligned 1:1 with positions.

    ``synonyms`` (analysis.SynonymGraph) injects index-time synonym
    tokens with FLATTENED-graph positions (the j-th replacement token at
    match_start + j, overlapping originals) — injected occurrences are
    real positional postings, so phrase/proximity queries match through
    them with no query-side expansion. Injected tokens get the
    ``payload_fn`` value computed from their own (token, position) pair,
    like any original occurrence.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .analysis import dict_encode_terms, surviving_positions, tokenize_arrow

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    flat, parent = tokenize_arrow(texts)
    n = len(flat)
    empty_terms = pd.array([], dtype="string[pyarrow]")
    if n == 0:
        out = pd.DataFrame(
            {
                "docid": np.array([], np.int64),
                "term": empty_terms,
                "positions": pd.arrays.ArrowExtensionArray(
                    pa.array([], type=pa.list_(pa.int32()))
                ),
            }
        )
        if payload_fn is not None:
            out["payloads"] = pd.arrays.ArrowExtensionArray(
                pa.array([], type=pa.list_(pa.int32()))
            )
        return out
    par = parent.to_numpy().astype(np.int64)
    tokpos = surviving_positions(par)
    injected = False
    if synonyms is not None:
        from .analysis import _concat_tokens

        add = synonyms.additions(flat, par, tokpos)
        if add is not None:
            atoks, apar, apos = add
            flat = _concat_tokens(flat, atoks)
            par = np.concatenate([par, apar])
            tokpos = np.concatenate([tokpos, apos])
            n = len(flat)
            injected = True

    codes, dictionary = dict_encode_terms(flat, term_transform)
    k = np.int64(len(dictionary))
    key = par * k + codes
    if injected:
        # appended synonym occurrences break array-order == position-order;
        # sort positions within each (doc, term) group explicitly
        order = np.lexsort((tokpos, key))
    else:
        order = np.argsort(key, kind="stable")  # stable: positions ascending
    skey = key[order]
    spos = tokpos[order]
    gchange = np.empty(n, dtype=bool)
    gchange[0] = True
    np.not_equal(skey[1:], skey[:-1], out=gchange[1:])
    gstarts = np.flatnonzero(gchange)
    offsets = np.append(gstarts, n).astype(np.int32)
    ukey = skey[gstarts]
    term_col = pd.Series(
        pd.arrays.ArrowExtensionArray(
            pc.take(dictionary, pa.array((ukey % k), type=pa.int32()))
        )
    )
    pos_col = pd.arrays.ArrowExtensionArray(
        pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            pa.array(spos.astype(np.int32), type=pa.int32()),
        )
    )
    out = pd.DataFrame(
        {
            "docid": doc_ids[(ukey // k)],
            "term": term_col,
            "positions": pos_col,
        }
    )
    if payload_fn is not None:
        pay = np.asarray(payload_fn(flat, tokpos), dtype=np.int64)[order]
        out["payloads"] = pd.arrays.ArrowExtensionArray(
            pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(pay.astype(np.int32), type=pa.int32()),
            )
        )
    return out


# ---------------------------------------------------------------------------
# codec: (term, bucket) position runs <-> varint streams


def encode_position_runs(
    terms: np.ndarray,
    buckets: np.ndarray,
    docids: np.ndarray,
    counts: np.ndarray,
    flat_pos: np.ndarray,
    bucket_docs: int,
    flat_pay: np.ndarray | None = None,
):
    """Encode a partition of (term, bucket, docid, positions) rows, sorted
    by (term, bucket, docid), into one output row per (term, bucket) run.
    Positions per doc are strictly ascending; encoding is docid-delta and
    position-delta LEB128, both varint-encoded in ONE whole-partition
    numpy pass and byte-sliced per run (the encode_posting_runs_flat shape).
    ``flat_pay`` (aligned 1:1 with flat_pos) adds a per-position payload
    stream — plain varint, no delta (payloads are small non-monotonic
    values) — the Lucene .pay-file analog.

    Yields tuples (term, bucket, df, doc_bytes, pos_counts, pos_bytes,
    pay_bytes) — pay_bytes is None when no payloads were supplied.
    """
    n = len(docids)
    if n == 0:
        return
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    bases = buckets[starts].astype(np.int64) * bucket_docs

    dd = np.empty(n, dtype=np.int64)
    dd[1:] = docids[1:] - docids[:-1]
    run_of_doc = np.cumsum(change) - 1
    dd[starts] = docids[starts] - bases[run_of_doc[starts]]
    dd_u = dd.astype(np.uint64)
    dsz = _varint_sizes(dd_u)
    doc_stream = varint_encode(dd_u, sizes=dsz)
    dends = np.cumsum(dsz)
    dstarts_b = dends - dsz  # byte offset where each doc's delta begins

    m = len(flat_pos)
    seg_starts = np.cumsum(counts) - counts  # value index where each doc begins
    pdelta = np.empty(m, dtype=np.int64)
    if m:
        pdelta[1:] = flat_pos[1:] - flat_pos[:-1]
        pdelta[seg_starts[counts > 0]] = flat_pos[seg_starts[counts > 0]]
    pdelta_u = pdelta.astype(np.uint64)
    psz = _varint_sizes(pdelta_u) if m else np.empty(0, np.int64)
    pos_stream = varint_encode(pdelta_u, sizes=psz if m else None)
    pends = np.cumsum(psz) if m else np.empty(0, np.int64)
    if flat_pay is not None:
        pay_u = flat_pay.astype(np.uint64)
        ysz = _varint_sizes(pay_u) if m else np.empty(0, np.int64)
        pay_stream = varint_encode(pay_u, sizes=ysz if m else None)
        yends = np.cumsum(ysz) if m else np.empty(0, np.int64)
    # value-level boundaries of each run in the flat position stream
    run_val_start = seg_starts[starts]
    run_val_end = np.append(run_val_start[1:], m)

    for g in range(len(starts)):
        s, e = starts[g], ends[g]
        b0 = int(dstarts_b[s])
        b1 = int(dends[e - 1])
        v0, v1 = int(run_val_start[g]), int(run_val_end[g])
        p0 = int(pends[v0] - psz[v0]) if v1 > v0 else 0
        p1 = int(pends[v1 - 1]) if v1 > v0 else 0
        if flat_pay is not None:
            y0 = int(yends[v0] - ysz[v0]) if v1 > v0 else 0
            y1 = int(yends[v1 - 1]) if v1 > v0 else 0
            pay = pay_stream[y0:y1].tobytes()
        else:
            pay = None
        yield (
            terms[s],
            int(buckets[s]),
            int(e - s),
            doc_stream[b0:b1].tobytes(),
            counts[s:e].astype(np.int32).tolist(),
            pos_stream[p0:p1].tobytes(),
            pay,
        )


def decode_run_docids(row, bucket_docs: int) -> np.ndarray:
    """Docid side of one encoded (term, bucket) row — cheap (df values);
    lets query kernels intersect docids BEFORE paying the much larger
    position-stream decode."""
    df = int(row["df"])
    dd = varint_decode(row["doc_bytes"], df).astype(np.int64)
    # first delta is (docid - base): add base back to the cumulative sum
    return np.cumsum(dd) + int(row["bucket"]) * bucket_docs


def decode_run_positions(row):
    """Position side of one encoded row -> (counts int64[df],
    flat positions int64[sum(counts)])."""
    counts = np.asarray(row["pos_counts"], dtype=np.int64)
    total = int(counts.sum())
    vals = varint_decode(row["pos_bytes"], total).astype(np.int64)
    if total:
        cs = np.cumsum(vals)
        seg_starts = np.cumsum(counts) - counts
        nonempty = counts > 0
        base = np.zeros(len(counts), dtype=np.int64)
        base[nonempty] = cs[seg_starts[nonempty]] - vals[seg_starts[nonempty]]
        positions = cs - np.repeat(base, counts)
    else:
        positions = vals
    return counts, positions


def decode_run_payloads(row) -> np.ndarray:
    """Payload side of one encoded row -> flat payloads int64
    [sum(pos_counts)], aligned 1:1 with decode_run_positions' flat
    positions."""
    counts = np.asarray(row["pos_counts"], dtype=np.int64)
    return varint_decode(row["pay_bytes"], int(counts.sum())).astype(np.int64)


def decode_position_run(row, bucket_docs: int):
    """One encoded (term, bucket) row -> (docids int64[df],
    counts int64[df], flat positions int64[sum(counts)])."""
    docids = decode_run_docids(row, bucket_docs)
    counts, positions = decode_run_positions(row)
    return docids, counts, positions


# ---------------------------------------------------------------------------
# build stage


def _per_row_varints(pa, list_arr, delta: bool):
    """Encode an Arrow list<int32> column into a per-row varint binary
    column in ONE whole-batch numpy pass. ``delta=True`` delta-encodes
    within each row with the first value absolute — the per-doc position
    stream layout, which is self-contained per row, so the streams can be
    produced map-side and byte-concatenated reduce-side without decoding.
    Returns (binary Array, counts int64[n_rows])."""
    arr = list_arr.combine_chunks() if isinstance(list_arr, pa.ChunkedArray) else list_arr
    offs = arr.offsets.to_numpy().astype(np.int64)
    counts = np.diff(offs)
    flat = arr.values.to_numpy().astype(np.int64)
    m = flat.size
    if delta and m:
        enc = np.empty(m, dtype=np.int64)
        enc[1:] = flat[1:] - flat[:-1]
        seg_starts = offs[:-1][counts > 0]
        enc[seg_starts] = flat[seg_starts]
    else:
        enc = flat
    enc_u = enc.astype(np.uint64)
    sizes = _varint_sizes(enc_u) if m else np.empty(0, np.int64)
    stream = varint_encode(enc_u, sizes=sizes if m else None)
    cum = np.zeros(m + 1, dtype=np.int64)
    if m:
        np.cumsum(sizes, out=cum[1:])
    if cum[-1] >= 2**31:
        # pa.binary() carries int32 offsets; a >=2 GiB batch would wrap
        # silently into a corrupt column — fail loudly (upstream batch
        # sizing keeps real batches orders of magnitude below this).
        raise ValueError(
            f"varint stream for one Arrow batch is {cum[-1]} bytes, "
            "exceeding pa.binary()'s int32 offset limit; reduce "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    row_offs = cum[offs].astype(np.int32)
    col = pa.Array.from_buffers(
        pa.binary(), len(counts),
        [None, pa.py_buffer(row_offs), pa.py_buffer(stream)],
    )
    return col, counts


def _extract_positions(
    term_transform, bucket_docs: int, payload_fn=None, synonyms=None,
    pre_transform=None,
):
    """mapInPandas closure: analyze content into per-(doc, term) position
    runs and varint-encode them MAP-SIDE. The shuffle then moves compact
    byte cells (~1-2 bytes/occurrence) instead of int64 position lists
    (~8 bytes + Arrow list overhead) — the same shuffle-volume posture as
    the main postings stage's sorted-merge (indexer stage 3a), which
    matters at the 100 TB target where the positional stream is the
    largest intermediate of the whole build. Per-doc streams reset their
    delta chain at the doc start, so the reduce side concatenates cells
    in (term, bucket, docid) order byte-identically to a whole-partition
    encode."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # same pre-transform (e.g. text_cjk bigram fold) as the tf
            # build — positional postings must tokenize the same stream
            content = (
                pdf["content"] if pre_transform is None
                else pdf["content"].map(pre_transform)
            )
            out = position_lists(
                pdf["docid"].to_numpy(np.int64), content,
                term_transform=term_transform, payload_fn=payload_fn,
                synonyms=synonyms,
            )
            if len(out):
                pos_col, counts = _per_row_varints(
                    pa, pa.array(out["positions"]), delta=True
                )
                res = pd.DataFrame(
                    {
                        "term": out["term"],
                        "bucket": out["docid"].to_numpy() // np.int64(bucket_docs),
                        "docid": out["docid"].to_numpy(),
                        "count": counts.astype(np.int32),
                        "pos_bytes": pd.arrays.ArrowExtensionArray(pos_col),
                    }
                )
                if payload_fn is not None:
                    # plain varint, no delta (payloads are small
                    # non-monotonic values) — the Lucene .pay analog
                    pay_col, _ = _per_row_varints(
                        pa, pa.array(out["payloads"]), delta=False
                    )
                    res["pay_bytes"] = pd.arrays.ArrowExtensionArray(pay_col)
                else:
                    res["pay_bytes"] = pd.arrays.ArrowExtensionArray(
                        pa.nulls(len(res), type=pa.binary())
                    )
                yield res

    return fn


_ENC_COLS = ["term", "bucket", "df", "doc_bytes", "pos_counts", "pos_bytes",
             "pay_bytes"]


def _encode_pos_partition(bucket_docs: int, with_payloads: bool = False):
    """mapInPandas closure: the reduce side of the positions build. Input
    rows carry MAP-SIDE-ENCODED per-doc varint streams (see
    _extract_positions); this side sorts by (term, bucket, docid), cuts
    (term, bucket) runs, varint-encodes the docid deltas (one value per
    doc — the only cross-doc stream), and byte-concatenates the per-doc
    position/payload cells by buffer slicing. No position decode happens
    here; output bytes are identical to a whole-partition encode because
    each doc's delta chain restarts at the doc boundary."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(
            ["term", "bucket", "docid"], kind="mergesort", ignore_index=True
        )
        terms = pdf["term"].to_numpy()
        buckets = pdf["bucket"].to_numpy(np.int64)
        docids = pdf["docid"].to_numpy(np.int64)
        counts = pdf["count"].to_numpy(np.int64)
        pos_data, pos_offs = _binary_stream(pa, pa.array(pdf["pos_bytes"]))
        if with_payloads:
            pay_data, pay_offs = _binary_stream(pa, pa.array(pdf["pay_bytes"]))

        n = len(pdf)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        bases = buckets[starts].astype(np.int64) * bucket_docs

        dd = np.empty(n, dtype=np.int64)
        dd[1:] = docids[1:] - docids[:-1]
        run_of_doc = np.cumsum(change) - 1
        dd[starts] = docids[starts] - bases[run_of_doc[starts]]
        dd_u = dd.astype(np.uint64)
        dsz = _varint_sizes(dd_u)
        doc_stream = varint_encode(dd_u, sizes=dsz)
        dends = np.cumsum(dsz)
        dstarts_b = dends - dsz

        rows = []
        for g in range(len(starts)):
            s, e = int(starts[g]), int(ends[g])
            rows.append(
                (
                    terms[s],
                    int(buckets[s]),
                    e - s,
                    doc_stream[int(dstarts_b[s]):int(dends[e - 1])].tobytes(),
                    counts[s:e].astype(np.int32).tolist(),
                    pos_data[pos_offs[s]:pos_offs[e]].tobytes(),
                    pay_data[pay_offs[s]:pay_offs[e]].tobytes()
                    if with_payloads else None,
                )
            )
            if len(rows) >= 4000:
                yield pd.DataFrame(rows, columns=_ENC_COLS)
                rows = []
        if rows:
            yield pd.DataFrame(rows, columns=_ENC_COLS)

    return fn


def build_positions(
    spark: SparkSession,
    source: DataFrame,
    meta: IndexMeta,
    *,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    num_partitions: int | None = None,
    payload_fn=None,
) -> IndexMeta:
    """Add a positions table to an already-built index. ``source`` must be
    the same corpus the index was built from (docids are recovered by
    joining the index's docs table on ``id_cols`` — parallelism-invariant,
    no dependence on the original build's partitioning). ``payload_fn``
    additionally stores a per-position payload stream (the .pay analog;
    payload_score/payload_check consume it). Idempotent and resume-safe
    (_SUCCESS gate); sets meta.has_positions (and has_payloads) and
    re-saves meta.json."""
    out = os.path.join(meta.out_dir, "positions")
    if _done(out) and meta.has_positions and (payload_fn is None or meta.has_payloads):
        return meta
    t0 = time.time()
    P = num_partitions or spark.sparkContext.defaultParallelism
    from .analysis import ANALYZERS, PRE_TRANSFORMS, SynonymGraph

    term_transform = ANALYZERS[meta.analyzer]
    pre_transform = PRE_TRANSFORMS.get(meta.analyzer)
    synonyms = SynonymGraph(meta.synonyms) if meta.synonyms else None
    # resume safety: meta.json may be stale/absent relative to the table
    # (_SUCCESS written, crash before meta.save()), so derive the payload
    # stream's ACTUAL presence from the table — never from this call's
    # payload_fn alone
    have_table = _done(out)
    table_has_payloads = False
    if have_table:
        table_has_payloads = (
            index_table(spark, meta, "positions")
            .where(F.col("pay_bytes").isNotNull())
            .limit(1)
            .count()
            > 0
        )
        if payload_fn is not None and not table_has_payloads:
            # caller wants payloads but the existing table was built
            # without them — rebuild (idempotent overwrite)
            have_table = False
    if not have_table:
        docs_tbl = index_table(spark, meta, "docs").select(
            "docid", *[F.col(c).cast("string").alias(c) for c in id_cols]
        )
        src = source.select(
            *[F.col(c).cast("string").alias(c) for c in id_cols],
            F.col(content_col).alias("content"),
        )
        joined = src.join(docs_tbl, list(id_cols)).select("docid", "content")
        extract = _extract_positions(
            term_transform, meta.bucket_docs, payload_fn=payload_fn,
            synonyms=synonyms, pre_transform=pre_transform,
        )
        pos_rows = joined.mapInPandas(extract, _STAGE_SCHEMA)
        # same range layout as the main postings: files cover contiguous
        # term spans (row-group pruning on term), groups complete per
        # partition, skew structurally bounded by bucket_docs
        (
            pos_rows.repartitionByRange(P, "term", "bucket")
            .mapInPandas(
                _encode_pos_partition(
                    meta.bucket_docs, with_payloads=payload_fn is not None
                ),
                POSITIONS_SCHEMA,
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        table_has_payloads = payload_fn is not None
    meta.has_positions = True
    meta.has_payloads = table_has_payloads
    meta.stages["positions"] = round(time.time() - t0, 3)
    meta.save()
    return meta


# ---------------------------------------------------------------------------
# query kernels


def _positional_scan(
    spark: SparkSession, meta: IndexMeta, terms: list[str], kernel, schema: str,
    payloads: bool = False,
) -> DataFrame:
    """The one positional plan: check the index has positions (or
    payloads), read the ``terms``' rows of its positions table (a
    term-pruned scan, the same row-group pruning as postings), and run
    ``kernel`` on each bucket's rows as {term: row}, decoded lazily by
    the kernel (docids first, positions only when the docid
    intersection survives). The range layout makes (term, bucket) groups
    complete and unique per partition, so each term maps to exactly one
    row. A segments.IndexView has no positions table."""
    if payloads and not getattr(meta, "has_payloads", False):
        raise ValueError("index has no payload stream (build_positions payload_fn)")
    if not getattr(meta, "has_positions", False):
        raise ValueError("index has no positions table (build_positions)")

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel({row["term"]: row for _, row in pdf.iterrows()})

    pos = index_table(spark, meta, "positions").where(F.col("term").isin(sorted(set(terms))))
    return pos.groupBy("bucket").applyInPandas(per_bucket, schema)


_KEY_SHIFT = np.int64(1) << np.int64(40)  # doc index < 4096 (bucket_docs),
# position < 2^40: key = idx * 2^40 + pos stays well inside int64


def _doc_pos_keys_and_mask(docids, counts, positions, common):
    """(docid, position) -> dense int64 keys (doc index within the sorted
    ``common`` docid set, position packed below); docs outside ``common``
    are dropped. Also returns the per-token keep mask so parallel
    streams (payloads) can be filtered identically."""
    loc = np.searchsorted(common, docids)
    ok = (loc < len(common)) & (common[np.minimum(loc, len(common) - 1)] == docids)
    tok_ok = np.repeat(ok, counts)
    doc_idx = np.repeat(np.where(ok, loc, 0), counts)[tok_ok]
    return doc_idx.astype(np.int64) * _KEY_SHIFT + positions[tok_ok], tok_ok


def _phrase_starts(rows: dict, terms: list[str], bucket_docs: int, payloads=None):
    """Intersect-and-chain of the phrase ``terms`` over one bucket's
    rows ({term: row}, see _positional_scan) -> (common, starts), or
    None if nothing matches. ``common`` is the sorted docids holding
    every term; each key in ``starts`` (doc index into ``common`` *
    _KEY_SHIFT + position) is one occurrence of the whole phrase, one
    key per start position. ``payloads`` (one per slot) keeps a slot's
    positions only where the payload equals the slot's."""
    uniq = sorted(set(terms))
    if any(t not in rows for t in uniq):
        return None
    # cheap phase first: docid-only decode + intersection — a bucket
    # missing any co-occurrence exits without paying the (dominant)
    # position-stream decode of common terms
    docs = {t: decode_run_docids(rows[t], bucket_docs) for t in uniq}
    common = docs[uniq[0]]
    for t in uniq[1:]:
        common = np.intersect1d(common, docs[t], assume_unique=True)
    if common.size == 0:
        return None
    keys, pays = {}, {}
    for t in uniq:
        counts, positions = decode_run_positions(rows[t])
        keys[t], tok_ok = _doc_pos_keys_and_mask(docs[t], counts, positions, common)
        if payloads is not None:
            pays[t] = decode_run_payloads(rows[t])[tok_ok]

    def slot(i):
        # the SAME term may require different payloads at different
        # slots, so the payload filter is per slot
        k = keys[terms[i]]
        return k if payloads is None else k[pays[terms[i]] == payloads[i]]

    starts = slot(0)
    for i in range(1, len(terms)):
        if starts.size == 0:
            return None
        starts = starts[np.isin(starts + np.int64(i), slot(i))]
    return (common, starts) if starts.size else None


def phrase_tf_frame(
    spark: SparkSession, meta: IndexMeta, terms: list[str]
) -> DataFrame:
    """Exact phrase frequency per doc from positional postings — zero
    content access, any phrase length, overlapping occurrences counted
    (Lucene PhraseQuery position semantics). Returns
    DataFrame(docid bigint, phrase_tf bigint), phrase_tf > 0 only."""
    if not terms:
        raise ValueError("phrase_tf_frame requires at least one term")
    bucket_docs = meta.bucket_docs
    terms_l = list(terms)

    def kernel(rows: dict) -> pd.DataFrame:
        hit = _phrase_starts(rows, terms_l, bucket_docs)
        if hit is None:
            return pd.DataFrame({"docid": pd.Series([], dtype="int64"),
                                 "phrase_tf": pd.Series([], dtype="int64")})
        common, cand = hit
        tf = np.bincount((cand // _KEY_SHIFT).astype(np.int64),
                         minlength=len(common))
        nz = np.flatnonzero(tf)
        return pd.DataFrame({"docid": common[nz], "phrase_tf": tf[nz].astype(np.int64)})

    return _positional_scan(spark, meta, terms_l, kernel, "docid bigint, phrase_tf bigint")


def span_match_frame(
    spark: SparkSession,
    meta: IndexMeta,
    term_a: str,
    term_b: str,
    slop: int,
    ordered: bool,
) -> DataFrame:
    """Docs where a span of (a, b) exists within ``slop`` — the surround
    parser's Nw (ordered) / Nn (unordered) verification over positional
    postings. Returns DataFrame(docid bigint)."""
    a, b = term_a, term_b
    bucket_docs = meta.bucket_docs

    def kernel(rows: dict) -> pd.DataFrame:
        empty = pd.DataFrame({"docid": pd.Series([], dtype="int64")})
        if a not in rows or b not in rows:
            return empty
        da = decode_run_docids(rows[a], bucket_docs)
        db = da if b == a else decode_run_docids(rows[b], bucket_docs)
        common = np.intersect1d(da, db, assume_unique=True)
        if common.size == 0:
            return empty
        ca, fa = decode_run_positions(rows[a])
        ka = _doc_pos_keys_and_mask(da, ca, fa, common)[0]
        if b == a:
            kb = ka
        else:
            cb, fb = decode_run_positions(rows[b])
            kb = _doc_pos_keys_and_mask(db, cb, fb, common)[0]
        # ka/kb are sorted ((doc, position) keys ascend within a run), so
        # one searchsorted window pair answers every slop at once instead
        # of 2*slop full isin passes. Windows can't leak across docs:
        # position < 2^40 and slop << 2^40 keep ka±slop inside the doc's
        # key range.
        if ordered:
            lo = np.searchsorted(kb, ka + np.int64(1), side="left")
            hi = np.searchsorted(kb, ka + np.int64(slop), side="right")
            hit = hi > lo
        else:
            lo = np.searchsorted(kb, ka - np.int64(slop), side="left")
            hi = np.searchsorted(kb, ka + np.int64(slop), side="right")
            # zero-delta is not a span: when a == b each key matches
            # itself exactly once (distinct terms never share a position)
            hit = (hi - lo) > (1 if a == b else 0)
        if not hit.any():
            return empty
        docs = np.unique((ka[hit] // _KEY_SHIFT).astype(np.int64))
        return pd.DataFrame({"docid": common[docs]})

    return _positional_scan(spark, meta, [a, b], kernel, "docid bigint")


# ---------------------------------------------------------------------------
# payload queries (the .pay consumers)

PAYLOAD_FUNCS = ("max", "min", "avg", "sum", "first")


def payload_score_frame(
    spark: SparkSession, meta: IndexMeta, term: str, func: str = "max"
) -> DataFrame:
    """{!payload_score} execution: for every doc containing ``term``,
    aggregate the payloads at the term's positions with ``func``
    (max/min/avg/sum/first — the PayloadFunction registry of
    solr/core/src/java/org/apache/solr/search/PayloadScoreQParserPlugin.java:1,
    util/PayloadUtils.java getPayloadFunction). Returns
    DataFrame(docid bigint, payload_score double). Scan ∝ the ONE term's
    postings (term-pruned parquet read), aggregation per bucket in numpy
    reduceat — no per-doc Python loop."""
    if func not in PAYLOAD_FUNCS:
        raise ValueError(f"unknown payload func {func!r}; one of {PAYLOAD_FUNCS}")
    bucket_docs = meta.bucket_docs

    def kernel(rows: dict) -> pd.DataFrame:
        empty = pd.DataFrame({"docid": pd.Series([], dtype="int64"),
                              "payload_score": pd.Series([], dtype="float64")})
        if term not in rows:
            return empty
        row = rows[term]
        docids = decode_run_docids(row, bucket_docs)
        counts = np.asarray(row["pos_counts"], dtype=np.int64)
        pay = decode_run_payloads(row).astype(np.float64)
        # a doc is in the run only because the term occurs there, so every
        # count >= 1 and the reduceat boundaries are strictly increasing
        seg = np.cumsum(counts) - counts
        if func == "sum":
            val = np.add.reduceat(pay, seg)
        elif func == "max":
            val = np.maximum.reduceat(pay, seg)
        elif func == "min":
            val = np.minimum.reduceat(pay, seg)
        elif func == "avg":
            val = np.add.reduceat(pay, seg) / counts
        else:  # first
            val = pay[seg]
        return pd.DataFrame({"docid": docids, "payload_score": val})

    return _positional_scan(
        spark, meta, [term], kernel, "docid bigint, payload_score double", payloads=True
    )


def payload_check_frame(
    spark: SparkSession, meta: IndexMeta, terms: list[str], payloads: list[int]
) -> DataFrame:
    """{!payload_check} execution: docs where the exact phrase ``terms``
    occurs with payload_i at slot i for EVERY slot of at least one
    occurrence (PayloadCheckQParserPlugin.java:1; Lucene
    SpanPayloadCheckQuery). Same cogrouped shape as phrase_tf_frame with
    each slot's (doc, position) keys pre-filtered by payload equality.
    Returns DataFrame(docid bigint)."""
    if len(terms) != len(payloads):
        raise ValueError("payload_check needs one payload per phrase slot")
    bucket_docs = meta.bucket_docs
    terms_l = list(terms)
    pays_l = [int(p) for p in payloads]

    def kernel(rows: dict) -> pd.DataFrame:
        hit = _phrase_starts(rows, terms_l, bucket_docs, pays_l)
        if hit is None:
            return pd.DataFrame({"docid": pd.Series([], dtype="int64")})
        common, cand = hit
        idx = np.unique((cand // _KEY_SHIFT).astype(np.int64))
        return pd.DataFrame({"docid": common[idx]})

    return _positional_scan(spark, meta, terms_l, kernel, "docid bigint", payloads=True)

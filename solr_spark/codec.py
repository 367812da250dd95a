"""Posting-list block codec: docID-delta + LEB128 varint, block-max metadata.

The on-disk postings row (one per (term, bucket); see indexer.py) stores
two byte streams — docid deltas and term frequencies — cut into blocks of
BLOCK_SIZE postings with per-block byte offsets, last-docid, max-tf and
min-doclen. This mirrors the role of Lucene 9.x's block postings format +
impacts (skip data with per-block maximum impact), which the reference
consumes via `org.apache.lucene:*=9.8.0` (/root/reference/versions.props);
the byte layout here is our own and everything is numpy-vectorized
(no per-row Python, per the build's north rule).

Block-max metadata contract: for any posting j in block i,
    score_contrib(j) <= idf * bm25_tf(block_max_tf[i], block_min_dl[i])
because BM25's tf-normalization is increasing in tf and decreasing in
doclen — this is the bound used for block skipping (kernel.py).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128
_MAX_VARINT_BYTES = 10  # 64-bit worst case


def varint_encode(values: np.ndarray, sizes: np.ndarray | None = None) -> np.ndarray:
    """Vectorized LEB128 encode of a uint64 array -> uint8 array.

    ``sizes``: optional precomputed ``_varint_sizes(values)`` — callers
    that already need the per-value byte sizes (for offset vectors) pass
    them back in so the size passes aren't run twice over the array.
    """
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return np.empty(0, dtype=np.uint8)
    nbytes = sizes if sizes is not None else _varint_sizes(a)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.cumsum(nbytes) - nbytes
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        payload = (a[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[starts[mask] + j] = payload.astype(np.uint8) | cont
    return out


def varint_decode(buf: np.ndarray | bytes, count: int | None = None) -> np.ndarray:
    """Vectorized LEB128 decode of a uint8 buffer -> uint64 array."""
    data = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, dtype=np.uint8)
    if data.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((data & 0x80) == 0)
    if count is not None:
        ends = ends[:count]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.shape, dtype=np.uint64)
    payload = (data & 0x7F).astype(np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= payload[starts[mask] + j] << np.uint64(7 * j)
    return vals


@dataclass
class EncodedPostings:
    """One (term, bucket) posting run in encoded form."""

    df: int                    # number of docs in this run
    cf: int                    # sum of tfs
    doc_bytes: bytes           # varint stream of docid deltas (first = docid - base)
    tf_bytes: bytes            # varint stream of (tf - 1)
    block_offs_doc: np.ndarray  # int32[n_blocks] byte offset of each block in doc_bytes
    block_offs_tf: np.ndarray   # int32[n_blocks]
    block_last: np.ndarray      # int64[n_blocks] last docid per block (skip data)
    block_max_tf: np.ndarray    # int32[n_blocks]
    block_min_dl: np.ndarray    # int32[n_blocks] min doclen per block (impact bound)


def encode_postings(
    docids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray, base: int
) -> EncodedPostings:
    """Encode one sorted posting run.

    ``docids`` strictly increasing int64 (absolute); ``base`` is the
    bucket's first docid (bucket * bucket_docs) so deltas stay small.
    """
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    doclens = np.ascontiguousarray(doclens, dtype=np.int64)
    n = docids.size
    deltas = np.empty(n, dtype=np.uint64)
    if n:
        deltas[0] = np.uint64(docids[0] - base)
        deltas[1:] = np.diff(docids).astype(np.uint64)
    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    offs_doc = np.zeros(n_blocks, dtype=np.int32)
    offs_tf = np.zeros(n_blocks, dtype=np.int32)
    # encode whole stream once; compute block byte offsets from per-value sizes
    tf_enc = (tfs - 1).astype(np.uint64)
    sizes_doc = _varint_sizes(deltas)
    sizes_tf = _varint_sizes(tf_enc)
    doc_stream = varint_encode(deltas, sizes=sizes_doc)
    tf_stream = varint_encode(tf_enc, sizes=sizes_tf)
    if n:
        cuts = np.arange(1, n_blocks) * BLOCK_SIZE
        offs_doc[1:] = np.cumsum(sizes_doc)[cuts - 1]
        offs_tf[1:] = np.cumsum(sizes_tf)[cuts - 1]
    block_idx = np.arange(n_blocks)
    last_pos = np.minimum((block_idx + 1) * BLOCK_SIZE, n) - 1
    block_last = docids[last_pos] if n else np.empty(0, np.int64)
    block_max_tf = np.array(
        [int(tfs[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE].max()) for i in range(n_blocks)],
        dtype=np.int32,
    )
    block_min_dl = np.array(
        [int(doclens[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE].min()) for i in range(n_blocks)],
        dtype=np.int32,
    )
    return EncodedPostings(
        df=int(n),
        cf=int(tfs.sum()) if n else 0,
        doc_bytes=doc_stream.tobytes(),
        tf_bytes=tf_stream.tobytes(),
        block_offs_doc=offs_doc,
        block_offs_tf=offs_tf,
        block_last=block_last.astype(np.int64),
        block_max_tf=block_max_tf,
        block_min_dl=block_min_dl,
    )


def _varint_sizes(a: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte count: 1 + floor((bit_length-1) / 7).

    Caps the pass count at the ACTUAL maximum byte length instead of the
    64-bit worst case: postings streams are overwhelmingly 1-2 byte
    values (delta/tf/doclen), so this turns nine full-array comparisons
    into one or two — the size passes were the single hottest loop of
    the map-side postings encode (stage 3a), which is memory-bandwidth
    bound under multi-task concurrency."""
    a = np.ascontiguousarray(a, dtype=np.uint64)
    nbytes = np.ones(a.shape, dtype=np.int64)
    if a.size == 0:
        return nbytes
    amax = np.uint64(a.max())
    for k in range(1, _MAX_VARINT_BYTES):
        t = np.uint64(1) << np.uint64(7 * k)
        if amax < t:
            break
        nbytes += (a >= t).astype(np.int64)
    return nbytes


def decode_postings(
    doc_bytes: bytes, tf_bytes: bytes, df: int, base: int
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a full posting run -> (docids int64, tfs int64)."""
    deltas = varint_decode(doc_bytes, count=df).astype(np.int64)
    if deltas.size:
        deltas[0] += base
    docids = np.cumsum(deltas)
    tfs = varint_decode(tf_bytes, count=df).astype(np.int64) + 1
    return docids, tfs


def decode_runs(
    doc_stream: np.ndarray | bytes, tf_stream: np.ndarray | bytes,
    lens: np.ndarray, bases: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode many posting runs stored back to back -> (docids int64,
    tfs int64), concatenated in run order. Run r's streams hold exactly
    lens[r] varints, its delta chain starting at bases[r]: one varint
    pass per stream, then a segmented cumsum (one global cumsum plus a
    per-run correction) rebases every run at once."""
    d = varint_decode(doc_stream).astype(np.int64)
    tfs = varint_decode(tf_stream).astype(np.int64) + 1
    if not d.size:
        return d, tfs
    starts = np.cumsum(lens) - lens
    c = np.cumsum(d)
    return c + np.repeat(d[starts] + bases - c[starts], lens), tfs


def decode_blocks(
    doc_bytes: bytes,
    tf_bytes: bytes,
    block_offs_doc: np.ndarray,
    block_offs_tf: np.ndarray,
    df: int,
    base: int,
    keep: np.ndarray,
    block_last: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the blocks selected by boolean mask ``keep``.

    Skipped-block docids are reconstructed from block boundaries: block i
    (i>0) starts its delta chain at block_last[i-1] — blocks are
    independently decodable, which is what makes block skipping possible.
    """
    n_blocks = len(block_offs_doc)
    if keep.all():
        return decode_postings(doc_bytes, tf_bytes, df, base)
    data_doc = np.frombuffer(doc_bytes, dtype=np.uint8)
    data_tf = np.frombuffer(tf_bytes, dtype=np.uint8)
    out_docs, out_tfs = [], []
    for i in np.flatnonzero(keep):
        lo_d = block_offs_doc[i]
        hi_d = block_offs_doc[i + 1] if i + 1 < n_blocks else data_doc.size
        lo_t = block_offs_tf[i]
        hi_t = block_offs_tf[i + 1] if i + 1 < n_blocks else data_tf.size
        cnt = min(BLOCK_SIZE, df - i * BLOCK_SIZE)
        deltas = varint_decode(data_doc[lo_d:hi_d], count=cnt).astype(np.int64)
        prev = base if i == 0 else int(block_last[i - 1])
        deltas[0] += prev
        out_docs.append(np.cumsum(deltas))
        out_tfs.append(varint_decode(data_tf[lo_t:hi_t], count=cnt).astype(np.int64) + 1)
    if not out_docs:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_docs), np.concatenate(out_tfs)


@dataclass
class FlatEncodedRuns:
    """Columnar form of MANY encoded posting runs — flat arrays indexed by
    run (plus contiguous byte streams with per-run offset vectors), the
    zero-copy shape the Arrow encode stage turns straight into a
    RecordBatch (indexer._encode_sorted) without creating one
    Python object per run."""

    lens: np.ndarray          # int64[G] df per run
    cfs: np.ndarray           # int64[G]
    stream_d: np.ndarray      # uint8[*] contiguous docid-delta varint stream
    stream_t: np.ndarray      # uint8[*] contiguous (tf-1) varint stream
    run_offs_d: np.ndarray    # int64[G+1] byte offset of each run in stream_d
    run_offs_t: np.ndarray    # int64[G+1]
    cum_nb: np.ndarray        # int64[G+1] block-count prefix (run g owns [cum_nb[g], cum_nb[g+1]))
    offs_d: np.ndarray        # int32[nb_total] per-block byte offs, run-relative
    offs_t: np.ndarray        # int32[nb_total]
    block_last: np.ndarray    # int64[nb_total]
    block_max_tf: np.ndarray  # int32[nb_total]
    block_min_dl: np.ndarray  # int32[nb_total]


def encode_posting_runs_flat(
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    bases: np.ndarray,
) -> FlatEncodedRuns:
    """Encode MANY sorted posting runs in one vectorized pass, returning
    the columnar FlatEncodedRuns form (no per-run Python objects).

    ``starts``/``ends`` delimit each run inside the parent arrays and must
    tile them contiguously in order; ``bases`` is each run's bucket base.
    All varint sizing/encoding happens over the whole partition at once;
    per-block max-tf / min-doclen use np.maximum/minimum.reduceat over the
    global block-start index vector (blocks tile the arrays exactly, so
    reduceat's [i, i+1) segment semantics give block ranges).
    """
    n = docids.size
    G = starts.size
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    doclens = np.ascontiguousarray(doclens, dtype=np.int64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    ends = np.ascontiguousarray(ends, dtype=np.int64)
    lens = ends - starts

    deltas = np.empty(n, dtype=np.uint64)
    if n > 1:
        np.subtract(docids[1:], docids[:-1], out=deltas[1:], casting="unsafe")
    if n:
        deltas[starts] = (docids[starts] - bases).astype(np.uint64)
    tf_enc = (tfs - 1).astype(np.uint64)

    sizes_d = _varint_sizes(deltas)
    sizes_t = _varint_sizes(tf_enc)
    stream_d = varint_encode(deltas, sizes=sizes_d)
    stream_t = varint_encode(tf_enc, sizes=sizes_t)
    cum_d = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes_d, out=cum_d[1:])
    cum_t = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes_t, out=cum_t[1:])

    # global block tiling: run g owns ceil(len_g/BLOCK) blocks
    nb = (lens + BLOCK_SIZE - 1) // BLOCK_SIZE
    nb_total = int(nb.sum())
    block_group = np.repeat(np.arange(G, dtype=np.int64), nb)
    cum_nb = np.zeros(G + 1, dtype=np.int64)
    np.cumsum(nb, out=cum_nb[1:])
    within = np.arange(nb_total, dtype=np.int64) - cum_nb[block_group]
    bstart = starts[block_group] + within * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, ends[block_group])
    block_last = docids[bend - 1] if nb_total else np.empty(0, np.int64)
    if nb_total:
        block_max_tf = np.maximum.reduceat(tfs, bstart).astype(np.int32)
        block_min_dl = np.minimum.reduceat(doclens, bstart).astype(np.int32)
    else:
        block_max_tf = np.empty(0, np.int32)
        block_min_dl = np.empty(0, np.int32)
    offs_d = (cum_d[bstart] - cum_d[starts[block_group]]).astype(np.int32)
    offs_t = (cum_t[bstart] - cum_t[starts[block_group]]).astype(np.int32)

    # per-run cf via reduceat over run starts
    cfs = np.add.reduceat(tfs, starts) if G else np.empty(0, np.int64)
    boundaries = np.append(starts, n)

    return FlatEncodedRuns(
        lens=lens,
        cfs=cfs,
        stream_d=stream_d,
        stream_t=stream_t,
        run_offs_d=cum_d[boundaries],
        run_offs_t=cum_t[boundaries],
        cum_nb=cum_nb,
        offs_d=offs_d,
        offs_t=offs_t,
        block_last=block_last,
        block_max_tf=block_max_tf,
        block_min_dl=block_min_dl,
    )

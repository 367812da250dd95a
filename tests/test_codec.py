import numpy as np
import pytest

from solr_spark.codec import (
    BLOCK_SIZE,
    decode_blocks,
    decode_postings,
    encode_postings,
    varint_decode,
    varint_encode,
)


@pytest.mark.parametrize("seed", range(5))
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 5000))
    vals = rng.integers(0, 2**62, size=n, dtype=np.uint64) >> rng.integers(0, 60, dtype=np.uint64)
    buf = varint_encode(vals)
    out = varint_decode(buf)
    np.testing.assert_array_equal(out, vals)


def test_varint_edges():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**35, 2**63 - 1], dtype=np.uint64)
    np.testing.assert_array_equal(varint_decode(varint_encode(vals)), vals)
    assert varint_encode(np.array([], np.uint64)).size == 0
    assert varint_decode(b"").size == 0


@pytest.mark.parametrize("seed,n", [(0, 1), (1, 127), (2, 128), (3, 129), (4, 1000), (5, 4096)])
def test_postings_roundtrip(seed, n):
    rng = np.random.default_rng(seed)
    base = 8192 * 3
    docids = base + np.sort(rng.choice(8192, size=min(n, 8192), replace=False)).astype(np.int64)
    tfs = rng.integers(1, 500, size=docids.size).astype(np.int64)
    dls = rng.integers(1, 2000, size=docids.size).astype(np.int64)
    enc = encode_postings(docids, tfs, dls, base)
    assert enc.df == docids.size and enc.cf == int(tfs.sum())
    d, t = decode_postings(enc.doc_bytes, enc.tf_bytes, enc.df, base)
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    # block metadata invariants
    nb = (docids.size + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(enc.block_last) == nb
    assert enc.block_last[-1] == docids[-1]
    for i in range(nb):
        blk_tfs = tfs[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE]
        blk_dls = dls[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE]
        assert enc.block_max_tf[i] == blk_tfs.max()
        assert enc.block_min_dl[i] == blk_dls.min()


def test_partial_block_decode_matches_full():
    rng = np.random.default_rng(7)
    docids = np.sort(rng.choice(100_000, size=1000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, size=1000).astype(np.int64)
    dls = rng.integers(5, 50, size=1000).astype(np.int64)
    enc = encode_postings(docids, tfs, dls, 0)
    nb = len(enc.block_last)
    keep = np.zeros(nb, dtype=bool)
    keep[[0, 2, nb - 1]] = True
    d, t = decode_blocks(
        enc.doc_bytes, enc.tf_bytes, enc.block_offs_doc, enc.block_offs_tf,
        enc.df, 0, keep, enc.block_last,
    )
    expect_idx = np.concatenate(
        [np.arange(i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, 1000)) for i in np.flatnonzero(keep)]
    )
    np.testing.assert_array_equal(d, docids[expect_idx])
    np.testing.assert_array_equal(t, tfs[expect_idx])


def test_batch_encoder_matches_single():
    """encode_posting_runs_flat (the indexer's partition-batch encoder)
    sliced per run is bit-identical to encode_postings run per group —
    the indexer's hot path contract."""
    import numpy as np

    from solr_spark.codec import encode_posting_runs_flat, encode_postings

    rng = np.random.default_rng(0)
    docids, tfs, dls, starts, ends, bases = [], [], [], [], [], []
    pos = 0
    for _ in range(50):
        L = int(rng.integers(1, 400))
        base = int(rng.integers(0, 5)) * 4096
        d = np.sort(rng.choice(np.arange(base, base + 4096), size=L, replace=False))
        docids.append(d)
        tfs.append(rng.integers(1, 900, size=d.size))
        dls.append(rng.integers(1, 3000, size=d.size))
        starts.append(pos)
        pos += d.size
        ends.append(pos)
        bases.append(base)
    docids, tfs, dls = map(np.concatenate, (docids, tfs, dls))
    f = encode_posting_runs_flat(
        docids, tfs, dls, np.array(starts), np.array(ends), np.array(bases)
    )
    assert len(f.lens) == len(starts)
    db, tb = f.stream_d.tobytes(), f.stream_t.tobytes()
    for g in range(len(starts)):
        s, e = starts[g], ends[g]
        ref = encode_postings(docids[s:e], tfs[s:e], dls[s:e], base=bases[g])
        assert db[f.run_offs_d[g] : f.run_offs_d[g + 1]] == ref.doc_bytes
        assert tb[f.run_offs_t[g] : f.run_offs_t[g + 1]] == ref.tf_bytes
        assert f.lens[g] == ref.df and f.cfs[g] == ref.cf
        b0, b1 = f.cum_nb[g], f.cum_nb[g + 1]
        for name, flat in (
            ("block_offs_doc", f.offs_d), ("block_offs_tf", f.offs_t),
            ("block_last", f.block_last), ("block_max_tf", f.block_max_tf),
            ("block_min_dl", f.block_min_dl),
        ):
            assert np.array_equal(flat[b0:b1], getattr(ref, name)), (g, name)

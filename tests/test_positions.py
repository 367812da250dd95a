"""Positional postings (solr_spark/positions.py) — codec round-trip and
analysis-kernel correctness vs a naive Python reference. The gate
entries fts_phrase*/fts_proximity* check the phrase and span paths
against independent DuckDB oracles."""

import os

import numpy as np
import pandas as pd
import pytest

SF_DIR = os.environ.get("SOLR_SPARK_TEST_SF_SMALL", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# codec round-trip (pure numpy, no Spark)


def test_position_codec_roundtrip():
    from solr_spark.positions import decode_position_run, encode_position_runs

    rng = np.random.default_rng(7)
    bucket_docs = 64
    rows = []  # (term, bucket, docid, positions)
    for term in ["alpha", "beta"]:
        for bucket in [0, 3]:
            docs = np.sort(
                rng.choice(np.arange(bucket * 64, bucket * 64 + 64), size=9, replace=False)
            )
            for d in docs:
                npos = int(rng.integers(1, 6))
                pos = np.sort(rng.choice(5000, size=npos, replace=False))
                rows.append((term, bucket, int(d), pos.astype(np.int64)))
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    terms = np.array([r[0] for r in rows])
    buckets = np.array([r[1] for r in rows], dtype=np.int64)
    docids = np.array([r[2] for r in rows], dtype=np.int64)
    counts = np.array([len(r[3]) for r in rows], dtype=np.int64)
    flat = np.concatenate([r[3] for r in rows])

    encoded = list(
        encode_position_runs(terms, buckets, docids, counts, flat, bucket_docs)
    )
    assert len(encoded) == 4  # 2 terms x 2 buckets
    back = {}
    for term, bucket, df, doc_bytes, pos_counts, pos_bytes, pay_bytes in encoded:
        assert pay_bytes is None  # no payload stream supplied
        row = {
            "df": df, "bucket": bucket, "doc_bytes": doc_bytes,
            "pos_counts": pos_counts, "pos_bytes": pos_bytes,
        }
        d_ids, d_counts, d_pos = decode_position_run(row, bucket_docs)
        back[(term, bucket)] = (d_ids, d_counts, d_pos)
    for term in ["alpha", "beta"]:
        for bucket in [0, 3]:
            want = [r for r in rows if r[0] == term and r[1] == bucket]
            d_ids, d_counts, d_pos = back[(term, bucket)]
            assert d_ids.tolist() == [r[2] for r in want]
            assert d_counts.tolist() == [len(r[3]) for r in want]
            assert d_pos.tolist() == np.concatenate([r[3] for r in want]).tolist()


# ---------------------------------------------------------------------------
# analysis kernel vs naive reference


def test_position_lists_matches_naive():
    from solr_spark.analysis import STOPWORDS, TOKEN_RE
    from solr_spark.positions import position_lists

    texts = pd.Series(
        [
            "The Spark window merges a window of Spark rows.",
            "",
            None,
            "spark spark spark",
            "the and of",  # all stopwords -> no rows
            "x_y z9 X_Y!! z9",
        ]
    )
    out = position_lists(np.arange(len(texts), dtype=np.int64), texts)
    got = {
        (int(r.docid), r.term): list(r.positions) for r in out.itertuples()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = [w for w in TOKEN_RE.findall((t or "").lower()) if w not in STOPWORDS]
        for p, w in enumerate(toks):
            want.setdefault((i, w), []).append(p)
    assert got == want


def test_position_lists_term_transform():
    from solr_spark.analysis import s_stem
    from solr_spark.positions import position_lists

    out = position_lists(
        np.array([0], dtype=np.int64),
        pd.Series(["windows window merges"]),
        term_transform=s_stem,
    )
    got = {r.term: list(r.positions) for r in out.itertuples()}
    # 'windows' and 'window' stem to the same term -> positions merge, ascending
    assert got == {"window": [0, 1], "merge": [2]}


# ---------------------------------------------------------------------------
# planted-corpus phrase frequency (overlapping occurrences, repeated terms)


@pytest.fixture(scope="module")
def planted_index(spark, tmp_path_factory):
    from solr_spark.indexer import build_index
    from solr_spark.positions import build_positions

    rows = [
        # 'the' is a stopword: adjacency is over SURVIVING tokens
        # (and single letters like 'a' are stopwords too -- use aa/bb)
        ("r0", "0", "c0", "py", "aa bb the aa bb aa"),  # surviving: aa0 bb1 aa2 bb3 aa4
        ("r0", "1", "c0", "py", "bb bb bb bb"),          # 'bb bb' overlapping -> tf 3
        ("r0", "2", "c0", "py", "aa xx bb"),             # no adjacent 'aa bb'... see below
        ("r0", "3", "c0", "py", "merge aa bb merge"),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path_factory.mktemp("pidx") / "idx")
    meta = build_index(spark, src, out, bucket_docs=2, num_partitions=2)
    meta = build_positions(spark, src, meta, num_partitions=2)
    return meta


def test_phrase_tf_planted(spark, planted_index):
    from solr_spark.positions import phrase_tf_frame

    def tf(terms):
        return {
            int(r["docid"]): int(r["phrase_tf"])
            for r in phrase_tf_frame(spark, planted_index, terms).collect()
        }

    # docids follow the (repo, path, commit) sort order -> path order here
    assert tf(["aa", "bb"]) == {0: 2, 3: 1}
    assert tf(["bb", "bb"]) == {1: 3}          # overlapping occurrences count
    assert tf(["aa", "bb", "aa"]) == {0: 2}    # stopword removed: 'aa bb (the) aa bb aa'
    assert tf(["aa", "zz"]) == {}              # absent term -> empty
    assert tf(["merge"]) == {3: 2}             # single term degenerates to tf


def test_span_match_planted(spark, planted_index):
    from solr_spark.positions import span_match_frame

    def span(a, b, slop, ordered):
        return sorted(
            int(r["docid"])
            for r in span_match_frame(spark, planted_index, a, b, slop, ordered).collect()
        )

    assert span("aa", "merge", 1, True) == []       # aa@1 -> merge@3: distance 2
    assert span("aa", "merge", 2, True) == [3]
    assert span("merge", "aa", 1, True) == [3]      # ordered: merge before aa
    assert span("aa", "merge", 1, False) == [3]     # aa@1 vs merge@0: |d|=1
    assert span("merge", "bb", 1, False) == [3]     # unordered |d|<=1
    assert span("aa", "zz", 5, True) == []


# ---------------------------------------------------------------------------
# payload stream (the .pay analog): codec + payload_score / payload_check


def test_payload_codec_roundtrip():
    from solr_spark.positions import decode_run_payloads, encode_position_runs

    rng = np.random.default_rng(11)
    terms = np.array(["t"] * 5)
    buckets = np.zeros(5, dtype=np.int64)
    docids = np.arange(5, dtype=np.int64)
    counts = rng.integers(1, 5, size=5).astype(np.int64)
    m = int(counts.sum())
    flat_pos = np.sort(rng.choice(1000, size=m, replace=False)).astype(np.int64)
    flat_pay = rng.integers(0, 300, size=m).astype(np.int64)  # >1-byte varints too
    (row_tuple,) = encode_position_runs(
        terms, buckets, docids, counts, flat_pos, 64, flat_pay=flat_pay
    )
    term, bucket, df, doc_bytes, pos_counts, pos_bytes, pay_bytes = row_tuple
    row = {"pos_counts": pos_counts, "pay_bytes": pay_bytes}
    assert decode_run_payloads(row).tolist() == flat_pay.tolist()


@pytest.fixture(scope="module")
def planted_pay_index(spark, tmp_path_factory):
    from solr_spark.indexer import build_index
    from solr_spark.positions import build_positions, default_payload_fn

    rows = [
        ("r0", "0", "c0", "py", "aa bb the aa bb aa"),  # aa@0 bb@1 aa@2 bb@3 aa@4
        ("r0", "1", "c0", "py", "bb bb bb bb"),
        ("r0", "2", "c0", "py", "aa xx bb"),
        ("r0", "3", "c0", "py", "merge aa bb merge"),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path_factory.mktemp("payidx") / "idx")
    meta = build_index(spark, src, out, bucket_docs=2, num_partitions=2)
    meta = build_positions(
        spark, src, meta, num_partitions=2, payload_fn=default_payload_fn
    )
    assert meta.has_payloads
    return meta


def test_positions_table_has_declared_schema(spark, planted_index, planted_pay_index):
    """The positions writer writes the schema index_table declares, with
    and without payloads, and opening the table runs no Spark job."""
    from solr_spark.indexer import index_table

    sc = spark.sparkContext
    for meta in (planted_index, planted_pay_index):
        written = spark.read.parquet(os.path.join(meta.out_dir, "positions")).schema
        tag = f"open_positions_{meta.has_payloads}"
        sc.setJobGroup(tag, tag)
        try:
            assert index_table(spark, meta, "positions").schema == written
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(tag) == []


def test_payload_score_planted(spark, planted_pay_index):
    from solr_spark.positions import payload_score_frame

    def score(term, func):
        return {
            int(r["docid"]): float(r["payload_score"])
            for r in payload_score_frame(spark, planted_pay_index, term, func).collect()
        }

    # payload = (len(token) + position) % 16 over surviving tokens
    assert score("aa", "max") == {0: 6.0, 2: 2.0, 3: 3.0}
    assert score("bb", "sum") == {0: 8.0, 1: 14.0, 2: 4.0, 3: 4.0}
    assert score("merge", "avg") == {3: 6.5}
    assert score("aa", "first") == {0: 2.0, 2: 2.0, 3: 3.0}
    assert score("zz", "max") == {}


def test_payload_bridge_value_source_defaults(spark, planted_pay_index):
    """The funcquery 'payload' name follows the reference value-source
    signature payload(field,value[,default,['min|max|average|first']])
    (ValueSourceParser.java:904-933): func defaults to AVERAGE and docs
    without the term get the default value (0.0 unless given)."""
    from solr_spark.functions.funcquery import REGISTRY

    bridge = REGISTRY["payload"]
    # default func == average (reference line 923), mapped to avg
    got = {
        int(r["docid"]): float(r["payload_score"])
        for r in bridge(spark, planted_pay_index, "merge").collect()
    }
    assert got == {3: 6.5}
    # with a docs domain, missing docs get the default value
    docs = spark.createDataFrame([(0,), (3,)], "docid bigint")
    got = {
        int(r["docid"]): float(r["payload_score"])
        for r in bridge(
            spark, planted_pay_index, "merge", default=-1.0, docs=docs
        ).collect()
    }
    assert got == {0: -1.0, 3: 6.5}


def test_payload_check_planted(spark, planted_pay_index):
    from solr_spark.positions import payload_check_frame

    def check(terms, pays):
        return sorted(
            int(r["docid"])
            for r in payload_check_frame(
                spark, planted_pay_index, terms, pays
            ).collect()
        )

    assert check(["aa", "bb"], [2, 3]) == [0]   # occurrence at p=0
    assert check(["aa", "bb"], [4, 5]) == [0]   # occurrence at p=2
    assert check(["aa", "bb"], [3, 4]) == [3]   # doc3's aa@1 bb@2
    assert check(["aa", "bb"], [9, 9]) == []    # phrase exists, payloads don't
    assert check(["aa"], [2]) == [0, 2]         # single-slot check
    assert check(["aa", "zz"], [1, 1]) == []    # absent term


# ---------------------------------------------------------------------------
# gate-corpus phrase path


def test_absent_phrase_is_empty(spark):
    from solr_spark.engine import gate_phrase

    assert gate_phrase(spark, SF_DIR, "zzz qqq", k=10).collect() == []


def test_positions_payload_resume_upgrade(spark, tmp_path_factory):
    """Resume safety: a positions table first built WITHOUT payloads must
    be rebuilt (not silently flagged has_payloads) when a later call asks
    for the payload stream — payload presence is derived from the TABLE,
    not from the current call's payload_fn."""
    from solr_spark.indexer import build_index
    from solr_spark.positions import (
        build_positions,
        default_payload_fn,
        payload_score_frame,
    )

    rows = [
        ("r0", "0", "c0", "py", "aa bb aa"),
        ("r0", "1", "c0", "py", "bb aa"),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path_factory.mktemp("payres") / "idx")
    meta = build_index(spark, src, out, bucket_docs=2, num_partitions=2)
    meta = build_positions(spark, src, meta, num_partitions=2)
    assert meta.has_positions and not meta.has_payloads
    # same call again: idempotent no-op, flag stays honest
    meta = build_positions(spark, src, meta, num_partitions=2)
    assert not meta.has_payloads
    # upgrade: payloads requested on the payload-less table -> rebuild
    meta = build_positions(
        spark, src, meta, num_partitions=2, payload_fn=default_payload_fn
    )
    assert meta.has_payloads
    got = payload_score_frame(spark, meta, "aa", func="max").collect()
    assert got  # the payload stream is actually queryable


# ---------------------------------------------------------------------------
# map-side per-doc encode == whole-partition encode (shuffle-volume rebuild)


def test_mapside_encode_matches_whole_partition():
    """The two-stage positions build (per-doc varint cells encoded
    map-side, byte-concatenated reduce-side) must produce byte-identical
    output rows to the legacy whole-partition encode_position_runs — the
    per-doc delta chains reset at doc boundaries, which is the property
    the rebuild relies on. Randomized over terms/buckets/docids with
    payloads, input deliberately unsorted."""
    import pyarrow as pa

    from solr_spark import positions as P

    rng = np.random.default_rng(7)
    rows = []
    for t in ["alpha", "beta", "gamma", "delta"]:
        for b in range(3):
            docs = np.sort(rng.choice(
                np.arange(b * 256, (b + 1) * 256), size=25, replace=False))
            for d in docs:
                pos = np.sort(rng.choice(
                    4000, size=int(rng.integers(1, 14)), replace=False
                )).astype(np.int64)
                rows.append((t, b, int(d), pos))
    rng.shuffle(rows)
    terms = np.array([r[0] for r in rows])
    buckets = np.array([r[1] for r in rows], dtype=np.int64)
    docids = np.array([r[2] for r in rows], dtype=np.int64)
    poslists = [r[3] for r in rows]
    pays = [(np.arange(len(p)) % 16).astype(np.int64) for p in poslists]

    order = np.lexsort((docids, buckets, terms))
    counts = np.array([len(poslists[i]) for i in order], dtype=np.int64)
    legacy = list(P.encode_position_runs(
        terms[order], buckets[order], docids[order], counts,
        np.concatenate([poslists[i] for i in order]), 256,
        flat_pay=np.concatenate([pays[i] for i in order]),
    ))

    def _list_arr(lists):
        offs = np.concatenate([[0], np.cumsum([len(p) for p in lists])])
        return pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32)),
            pa.array(np.concatenate(lists).astype(np.int32)),
        )

    pos_col, cnts = P._per_row_varints(pa, _list_arr(poslists), delta=True)
    pay_col, _ = P._per_row_varints(pa, _list_arr(pays), delta=False)
    pdf = pd.DataFrame({
        "term": terms, "bucket": buckets, "docid": docids,
        "count": cnts.astype(np.int32),
        "pos_bytes": pd.arrays.ArrowExtensionArray(pos_col),
        "pay_bytes": pd.arrays.ArrowExtensionArray(pay_col),
    })
    fn = P._encode_pos_partition(256, with_payloads=True)
    new = [tuple(r) for out in fn(iter([pdf]))
           for r in out.itertuples(index=False)]

    assert len(legacy) == len(new) and len(new) == 12
    for l, nw in zip(legacy, new):
        assert (l[0], l[1], l[2]) == (nw[0], nw[1], nw[2])
        assert l[3] == nw[3]                      # doc_bytes
        assert list(l[4]) == list(nw[4])          # pos_counts
        assert l[5] == nw[5]                      # pos_bytes
        assert l[6] == nw[6]                      # pay_bytes

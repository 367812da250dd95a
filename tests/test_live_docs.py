"""Deletes are a live-docs mask inside the scoring kernel.

The kernel clears a view's deleted docids from its ``alive`` mask, beside
the query's filter mask, before any prune, so every query shape drops
exactly the deleted docs and the survivors keep their exact scores
(statistics count deleted docs until a merge)."""

import pytest
from pyspark.sql import functions as F

from solr_spark.codec import decode_postings
from solr_spark.corpus import RARE1
from solr_spark import kernel
from solr_spark.indexer import build_index
from solr_spark.kernel import Searcher, decode_posting_frame
from solr_spark.segments import add_segment, delete_by_keys, open_base

K = 10


@pytest.fixture(scope="module")
def view(spark, small_corpus, tmp_path_factory):
    """Base + one delta segment over the 600-doc corpus, 128-doc buckets."""
    docs = spark.read.parquet(small_corpus)
    out = str(tmp_path_factory.mktemp("livedocs") / "view")
    v = open_base(
        spark, docs.filter(F.col("path") < "src/d8"), out,
        bucket_docs=128, num_partitions=4,
    )
    return add_segment(
        spark, v, docs.filter(F.col("path") >= "src/d8"), out, num_partitions=4
    )


def _hits(df):
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


def _key(spark, view, docid):
    docs = spark.read.parquet(*[m.docs_path for m in view.segments])
    r = docs.where(F.col("docid") == docid).collect()[0]
    return tuple(r[c] for c in view.id_cols)


def _path_filter_query(spark, view, k=5):
    """``license`` restricted to the paths of its top k hits: a
    many-valued ``path`` filter."""
    top = [d for d, _ in _hits(view.search(spark, "license", k=k))]
    docs = spark.read.parquet(*[m.docs_path for m in view.segments])
    paths = [r["path"] for r in docs.where(F.col("docid").isin(top)).collect()]
    return " ".join(f"path:{p}" for p in sorted(paths)) + " license"


@pytest.mark.parametrize("shape", [
    "license",            # single term: block-max prune
    "+int +license",      # pure AND: conjunction prune
    "license int public",  # OR: accumulate
    "lang:java license",  # one filter
    "path",               # path filter (query built below)
    "path+lang",          # multi-field AND (query built below)
    "lang:java lang:py license",  # multi-value OR
    "lang:java license -public",  # filter + prohibited
    "lang:zz license",    # a filter that matches no doc
])
def test_deleted_top_hit_never_returned(spark, view, shape):
    q = shape
    if shape == "path":
        q = _path_filter_query(spark, view)
    elif shape == "path+lang":  # keeps the java docs of the 20 paths
        q = "lang:java " + _path_filter_query(spark, view, 20)
    before = _hits(view.search(spark, q, k=K + 1))
    assert len(before) >= 2 or (shape == "lang:zz license" and before == []), q
    victim = (before or _hits(view.search(spark, "license", k=1)))[0][0]
    dview = delete_by_keys(view, [_key(spark, view, victim)])
    after = _hits(dview.search(spark, q, k=K))
    assert victim not in {d for d, _ in after}, q
    assert after == [h for h in before if h[0] != victim][:K], q
    # every entry point over the view applies its live-docs mask
    assert _hits(kernel.search(spark, dview, q, K)) == after, q
    assert _hits(Searcher(spark, dview, cache=False).search(q, K)) == after, q
    # the old view is a value: its own searcher still returns the doc
    assert _hits(view.search(spark, q, k=K + 1)) == before, q


def test_deleted_doc_absent_in_unsorted_mode(spark, view):
    every = set(_hits(view.search(spark, "license int", unsorted=True)))
    victim = max(every, key=lambda h: (h[1], -h[0]))[0]
    dview = delete_by_keys(view, [_key(spark, view, victim)])
    got = set(_hits(dview.search(spark, "license int", unsorted=True)))
    assert got == {h for h in every if h[0] != victim}


def test_view_with_deletes_resolves_its_live_docs_mask(spark, view):
    victim = _hits(view.search(spark, "license", k=1))[0][0]
    dview = delete_by_keys(view, [_key(spark, view, victim)])
    assert dview.frames(spark)[3] is not None
    dead = dview.dead_docids(spark)
    B = view.bucket_docs
    assert {b: list(v) for b, v in dead.items()} == {victim // B: [victim % B]}
    assert all(v.dtype == "int32" for v in dead.values())  # 4 bytes a deleted doc
    # a new view never reuses the old view's searcher
    assert dview.searcher(spark) is not view.searcher(spark)
    assert view.searcher(spark).dead == {}


def test_local_topk_on_view_carries_the_mask(monkeypatch, spark, view):
    from solr_spark.qparser import expand_synonyms, parse

    terms = ["license", "int", "public"]
    victim = _hits(view.search(spark, "license", k=1))[0][0]
    dview = delete_by_keys(view, [_key(spark, view, victim)])
    s = dview.searcher(spark)
    s.warm_local(terms)
    for q in ["license", "license int public", "+int +license", "int -public",
              "lang:java license", "license^2 int -public",
              expand_synonyms(parse("+license int"), {"license": ["public"]})]:
        for k in (0, 1, K, 1000):
            dist = _hits(s.search(q, k))
            with monkeypatch.context() as m:
                m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
                assert _hits(s.search(q, k)) == dist, (q, k)
            assert s.local_topk(q, k) == dist, (q, k)
            assert victim not in {d for d, _ in dist}, (q, k)


def test_local_topk_on_delta_segment(spark, view):
    """Driver arrays are indexed by docid, so a delta segment (docids
    from its docid_base) must size them by its end docid."""
    seg = view.segments[-1]
    assert seg.docid_base > 0
    s = Searcher(spark, seg, cache=False)
    s.warm_local(["license", "int", "public"])
    for q in ["license", "license int public", "+int +license"]:
        assert s.local_topk(q, K) == _hits(s.search(q, K)), q


# -- every reader takes a view ---------------------------------------------

TERMS = ["license", "int", "zz_definitely_absent"]


def _readers():
    from solr_spark.functions import funcquery as fq

    return {
        "hit_count": lambda s, i: kernel.hit_count(s, i, "license"),
        "explain_hits": lambda s, i: kernel.explain_hits(s, i, "license int", k=600),
        "term_contributions": lambda s, i: kernel.term_contributions(s, i, TERMS),
        "postings_rows": lambda s, i: kernel.postings_rows(s, i, TERMS),
        "total_term_freq": lambda s, i: kernel.total_term_freq(s, i, TERMS),
        "dismax_search": lambda s, i: kernel.dismax_search(s, i, TERMS, tie=0.1, unsorted=True),
        "sum_total_term_freq": lambda s, i: kernel.sum_total_term_freq(s, i),
        "docfreq_frame": lambda s, i: fq.docfreq_frame(s, i, TERMS),
        "idf_frame": lambda s, i: fq.idf_frame(s, i, TERMS),
        "termfreq_frame": lambda s, i: fq.termfreq_frame(s, i, TERMS),
        "tf_frame": lambda s, i: fq.tf_frame(s, i, TERMS),
        "norm_frame": lambda s, i: fq.norm_frame(s, i),
    }


@pytest.fixture(scope="module")
def fresh(spark, small_corpus, tmp_path_factory):
    """The view's 600 docs built as one index at the same bucket size."""
    out = str(tmp_path_factory.mktemp("livedocs_fresh") / "idx")
    return build_index(
        spark, spark.read.parquet(small_corpus), out, bucket_docs=128, num_partitions=4
    )


def _keyed(spark, segments, res):
    """A reader's result as sorted rows, docid replaced by the doc's
    (repo, path, commit) key: a delta segment's docids start at a bucket
    boundary, so the same doc has another docid in a fresh build."""
    if isinstance(res, tuple):  # hit_count
        return res
    if "docid" not in res.columns:
        return sorted(tuple(r) for r in res.collect())
    ids = list(segments[0].id_cols)
    docs = spark.read.parquet(*[m.docs_path for m in segments]).select("docid", *ids)
    cols = [c for c in res.columns if c != "docid"] + ids
    return sorted(tuple(r) for r in res.join(docs, "docid").select(*cols).collect())


@pytest.mark.parametrize("name", sorted(_readers()))
def test_reader_on_view_equals_fresh_build(spark, view, fresh, name):
    """Additions are append-only, so the view's statistics equal the
    fresh build's and every score is ``==``."""
    read = _readers()[name]
    got = _keyed(spark, view.segments, read(spark, view))
    assert got and got == _keyed(spark, [fresh], read(spark, fresh)), name


def test_readers_on_view_with_deletes(spark, view):
    """A deleted doc stops matching in every per-doc reader at once;
    the statistics keep counting it until a merge."""
    victim = _hits(view.search(spark, "license", k=1))[0][0]
    dview = delete_by_keys(view, [_key(spark, view, victim)])
    n = dview.search(spark, "license", unsorted=True).count()
    assert kernel.hit_count(spark, dview, "license") == (n, "EQ")
    assert kernel.hit_count(spark, view, "license") == (n + 1, "EQ")
    for name, read in _readers().items():
        if name == "hit_count":
            continue
        before, after = read(spark, view), read(spark, dview)
        if name in ("total_term_freq", "sum_total_term_freq", "docfreq_frame", "idf_frame"):
            assert sorted(after.collect()) == sorted(before.collect()), name
            continue
        want = sorted(r for r in before.collect() if r["docid"] != victim)
        assert len(want) < before.count(), name
        assert sorted(after.collect()) == want, name


def test_decode_rows_equals_per_row_decode(spark, small_index):
    """kernel._decode_rows (one varint pass per stream, a segmented
    cumsum) yields exactly the per-row decode_postings output on rows of
    every bucket, df = 1 rows and rows of more than one 128-posting block
    among them."""
    from solr_spark.codec import BLOCK_SIZE
    from solr_spark.kernel import _decode_rows

    pdf = Searcher(spark, small_index)._read("postings")
    pdf = pdf.sort_values(["bucket", "term"], kind="stable").reset_index(drop=True)
    assert pdf["bucket"].nunique() == 3
    assert (pdf["df"] == 1).sum() > 50 and (pdf["df"] > BLOCK_SIZE).sum() > 10
    lens, d, tf = _decode_rows(pdf, small_index.bucket_docs)
    assert lens.tolist() == pdf["df"].tolist()
    want = [
        decode_postings(r.doc_bytes, r.tf_bytes, int(r.df),
                        int(r.bucket) * small_index.bucket_docs)
        for r in pdf.itertuples()
    ]
    assert d.tolist() == [int(x) for w in want for x in w[0]]
    assert tf.tolist() == [int(x) for w in want for x in w[1]]
    empty = _decode_rows(pdf.iloc[:0], small_index.bucket_docs)
    assert [len(a) for a in empty] == [0, 0, 0]


def test_decode_posting_frame_equals_per_row_decode(spark, small_index):
    """The batched decode yields exactly the per-row decode_postings
    output: same rows, same order, across several arrow batches."""
    postings = spark.read.parquet(small_index.postings_path).where(
        F.col("term").isin(["license", "int", "public", RARE1.lower()])
    )
    want = []
    for r in postings.collect():
        d, tf = decode_postings(
            r["doc_bytes"], r["tf_bytes"], int(r["df"]),
            int(r["bucket"]) * small_index.bucket_docs,
        )
        want += [(r["term"], int(x), int(y)) for x, y in zip(d, tf)]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = [
            (r["term"], r["docid"], r["tf"])
            for r in decode_posting_frame(postings, small_index.bucket_docs).collect()
        ]
    finally:
        spark.conf.set(key, old)
    assert len(want) > 1000
    assert got == want
    assert len({t for t, _, _ in got}) == 4

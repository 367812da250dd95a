"""Bounded sorted top-k queries are scored in the driver.

A sorted query whose work — postings plus the doc slots of the buckets
they touch — fits ``kernel.DRIVER_MAX_POSTINGS`` takes its decoded
postings and bucket_stats doclens from the searcher's caches (a miss is
a pyarrow read in the driver) and scores every touched bucket in one
``_Scorer`` pass; forcing the bound to 0 sends it through the postings x
bucket_stats cogroup instead, whose per-bucket kernel scores through the
same ``_Scorer``. Both must return equal (docid, score) lists for every
query shape, filters (a cached docid mask on both paths) included, and
the driver path must run no Spark job.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_spark import kernel
from solr_spark.corpus import RARE1
from solr_spark.kernel import Searcher
from solr_spark.qparser import expand_synonyms, parse
from solr_spark.segments import IndexView, add_segment, delete_by_keys, open_base
from test_index_search import QUERIES

MUST_GROUP = expand_synonyms(parse("+license int"), {"license": ["public"]})


def _hits(df):
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


def _phys(df) -> str:
    return str(df._jdf.queryExecution().executedPlan().toString())


def _jobs(spark, tag, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _both(monkeypatch, searcher, q, k=10, prune=True):
    """(driver hits, cogroup hits) of one query on one searcher.
    ``prune`` reaches only the cogroup: the driver scores every posting."""
    drv = _hits(searcher.search(q, k, prune))
    drv_trace = searcher.last_trace
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
        cog = _hits(searcher.search(q, k, prune))
        cog_trace = searcher.last_trace
    if drv:
        assert drv_trace.path == "driver" and drv_trace.reason is None, q
        assert (cog_trace.path, cog_trace.reason) == ("cogroup", "postings bound"), q
    return drv, cog


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    return Searcher(spark, small_index)


def _path_filter_query(searcher, k=5):
    """``license`` restricted to the paths of its top k hits: a
    many-valued ``path`` filter."""
    top = [d for d, _ in _hits(searcher.search("license", k))]
    paths = [r["path"] for r in searcher.docs.where(F.col("docid").isin(top)).collect()]
    return " ".join(f"path:{p}" for p in sorted(paths)) + " license"


@pytest.mark.parametrize("q", QUERIES + [
    "lang:java license",        # one filter
    "path",                     # path filter (query built below)
    "path+lang",                # multi-field AND (query built below)
    "lang:java lang:py license",  # multi-value OR
    "lang:java license -public",  # filter + prohibited
    "lang:zz license",          # a filter that matches no doc
    "license^2 int",            # boosts
    "int^3 -public license",    # boost + prohibited
    "must_group",               # SynonymQuery in a MUST clause
])
def test_driver_equals_cogroup(monkeypatch, spark, searcher, q):
    # 4 build partitions: the driver's pyarrow read spans several files
    assert len(searcher._tables["postings"].files) > 1
    if q == "path":
        q = _path_filter_query(searcher)
    elif q == "path+lang":  # keeps the java docs of the 20 paths
        q = "lang:java " + _path_filter_query(searcher, 20)
    elif q == "must_group":
        assert MUST_GROUP.required_groups
        q = MUST_GROUP
    (drv, cog), n = _jobs(spark, f"eq-{q}", lambda: _both(monkeypatch, searcher, q))
    assert drv == cog, q
    if q == "lang:zz license":
        # the empty mask answers at once on both paths
        assert drv == [] and n == 0


@pytest.mark.parametrize("k", [0, 1, 10, 1000])
def test_driver_equals_cogroup_any_k(monkeypatch, searcher, k):
    for q in ["license int", f"+license +{RARE1}", "lang:java license"]:
        drv, cog = _both(monkeypatch, searcher, q, k)
        assert drv == cog, (q, k)
        if k == 0:
            assert drv == []
    # k beyond the match count returns every match
    every = _hits(searcher.search(f"+license +{RARE1}", unsorted=True))
    assert 0 < len(every) < 1000
    assert sorted(every, key=lambda h: (-h[1], h[0])) == _both(
        monkeypatch, searcher, f"+license +{RARE1}", 1000)[0]


def test_driver_equals_cogroup_on_score_ties(monkeypatch, spark, tmp_path):
    """The tie corpus of test_wand_prune_exact_on_score_ties: 300 docs in
    one bucket, all but one with the same score."""
    from solr_spark.indexer import build_index

    rows = [("r", f"f{i:05d}", "0", "en", "spark spark" if i == 150 else "spark x")
            for i in range(300)]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    meta = build_index(spark, docs, str(tmp_path / "tieidx"), bucket_docs=512,
                       num_partitions=1)
    s = Searcher(spark, meta, cache=False)
    for k in (2, 5, 130):
        for prune in (True, False):
            drv, cog = _both(monkeypatch, s, "spark", k, prune)
            assert drv == cog, (k, prune)
            assert len(drv) == k


@pytest.fixture(scope="module")
def dview(spark, small_corpus, tmp_path_factory):
    """(two-segment view with 3 deleted docs, their docids)."""
    docs = spark.read.parquet(small_corpus)
    out = str(tmp_path_factory.mktemp("drvview") / "view")
    view = open_base(spark, docs.filter(F.col("path") < "src/d8"), out,
                     bucket_docs=128, num_partitions=4)
    view = add_segment(spark, view, docs.filter(F.col("path") >= "src/d8"), out,
                       num_partitions=4)
    victims = [d for d, _ in _hits(view.search(spark, "license int", k=3))]
    seg_docs = spark.read.parquet(*[m.docs_path for m in view.segments])
    keys = [tuple(r[c] for c in view.id_cols)
            for r in seg_docs.where(F.col("docid").isin(victims)).collect()]
    return delete_by_keys(view, keys), victims


def test_driver_equals_cogroup_on_view_with_deletes(monkeypatch, spark, dview):
    """The live-docs mask is applied inside the kernel on both paths."""
    view, victims = dview
    s = view.searcher(spark)
    assert s.dead
    assert len(s._tables["postings"].files) > 2  # read across both segments
    for q in ["license", "license int", "+int +license", "lang:java license",
              "int -public", "license int public", "path", "+license +int -public"]:
        if q == "path":
            q = _path_filter_query(s)
        drv, cog = _both(monkeypatch, s, q)
        assert drv == cog, q
        assert not {d for d, _ in drv} & set(victims), q


def test_with_fields_equal_on_both_paths(monkeypatch, searcher):
    drv = [tuple(r) for r in searcher.search("license int", 5, with_fields=True).collect()]
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
        cog = [tuple(r) for r in searcher.search("license int", 5, with_fields=True).collect()]
    assert drv == cog and len(drv) == 5


def test_driver_read_prunes_by_statistics(searcher):
    """A one-term read opens only the postings row groups whose term
    range holds the term, not every file of the table."""
    d = searcher._tables["postings"]
    f = kernel._isin("term", ["license"])
    kept = sum(len(fr.split_by_row_group(f)) for fr in d.get_fragments(filter=f))
    assert 0 < kept < sum(fr.num_row_groups for fr in d.get_fragments())


def test_searcher_refuses_a_cached_table(spark, small_index):
    """Spark lists no files for a table it holds cached: opening a
    searcher then fails by name, not later on an empty read."""
    from solr_spark.indexer import index_table

    docs = index_table(spark, small_index, "docs").cache()
    try:
        with pytest.raises(ValueError, match="no docs files"):
            Searcher(spark, small_index)
    finally:
        docs.unpersist()
    assert Searcher(spark, small_index)._tables["docs"].files


def _driver_query(spark, s, q, tag):
    """Hits of one query on ``s``, after asserting it ran on the driver
    path as a local relation in no Spark job, plan and collect included."""
    (rows, plan), n = _jobs(spark, tag, lambda: (
        lambda df: (_hits(df), _phys(df)))(s.search(q, 10)))
    assert n == 0 and rows, (tag, q)
    assert "LocalTableScan" in plan, (tag, q)
    assert "FlatMapCoGroupsInPandas" not in plan and "TakeOrdered" not in plan
    assert s.last_trace.path == "driver" and s.last_trace.buckets > 0
    # the postings were read, or the postings cache served them
    assert s.last_trace.postings_rows > 0 or s.last_trace.cached_terms > 0
    return rows


def test_bounded_query_runs_no_spark_job(spark, small_index):
    s = Searcher(spark, small_index)
    s.search("license int", 10).collect()  # fills the df, postings and bucket-row caches
    assert len(_driver_query(spark, s, "license int", "drv-warm")) == 10
    assert (s.last_trace.postings_rows, s.last_trace.cached_terms) == (0, 2)
    assert s.last_trace.cached_buckets == s.last_trace.buckets
    # df-cold, under the bound: the one postings read also yields df
    assert "public" not in s._df_cache
    _driver_query(spark, s, "public", "drv-cold")
    assert s._df_cache["public"] > 0
    assert s.last_trace.postings_rows > 0 and s.last_trace.cached_terms == 0


def test_warm_local_topk_runs_no_spark_job(spark, small_index):
    """After warm_local, local_topk reads nothing: every term and bucket
    comes from the caches, and no Spark job runs."""
    s = Searcher(spark, small_index)
    info = s.warm_local(["License", "int", "public", "-"])
    assert info["terms"] == 4 and info["postings"] == sum(
        s._df_cache[t] for t in ("license", "int", "public"))
    for q in ["license int", "+license +int -public", "lang:java license"]:
        s.local_topk(q, 10)  # the lang: filter resolves its mask once
        got, n = _jobs(spark, f"local-{q}", lambda: s.local_topk(q, 10))
        tr = s.last_trace
        assert n == 0 and got and tr.path == "driver", q
        assert tr.postings_rows == 0 and tr.cached_terms == len(parse(q).scoring) + len(
            parse(q).prohibited), q
        assert tr.buckets > 0 and tr.cached_buckets == tr.buckets, q
        assert got == _hits(s.search(q, 10)), q


def test_local_topk_over_the_bound_collects_the_cogroup(monkeypatch, searcher):
    want = searcher.local_topk("license int", 10)
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
    assert searcher.local_topk("license int", 10) == want
    assert (searcher.last_trace.path, searcher.last_trace.reason) == (
        "cogroup", "postings bound")


def test_driver_reads_run_no_spark_job(spark, small_index, dview):
    """Opening a searcher, a bucket-row cache miss, a filter's mask read
    and its later cache hit, and the second query on a two-segment view
    with deletes read with pyarrow or not at all: no Spark job."""
    q = "lang:java " + _path_filter_query(Searcher(spark, small_index), 20)
    s, n = _jobs(spark, "drv-open", lambda: Searcher(spark, small_index))
    assert n == 0 and not s._filter_masks  # opening resolves no filter
    _driver_query(spark, s, "license int", "drv-miss")
    assert s.last_trace.cached_buckets == 0
    _driver_query(spark, s, q, "drv-mask")
    assert s.last_trace.cached_filters == 0 and len(s._filter_masks) == 2
    _driver_query(spark, s, q, "drv-mask-hit")
    assert s.last_trace.cached_filters == 2
    view = IndexView(segments=dview[0].segments, delete_keys=dview[0].delete_keys)
    view.search(spark, "license int", 10).collect()  # resolves the deletes
    assert view.searcher(spark).dead
    for i, q in enumerate(["license int", "lang:java public", "int -license"]):
        _driver_query(spark, view.searcher(spark), q, f"drv-view-{i}")


def test_cold_bound_over_limit_uses_exact_df(monkeypatch, spark, small_index):
    """A df-cold query bounds its scan by n_docs per term; past the limit
    it looks df up, and still scores in the driver if its exact work —
    postings plus touched buckets x bucket_docs — fits."""
    s = Searcher(spark, small_index, cache=False)
    # a term in one bucket: its work stays under the n_docs pre-bound
    term, df = s.postings.groupBy("term").agg(
        F.count("*").alias("n"), F.sum("df").alias("df")
    ).where("n = 1").orderBy("df", "term").select("term", "df").first()
    work = df + small_index.bucket_docs
    assert 0 < df < work < small_index.n_docs
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", work)
    drv, n = _jobs(spark, "exact-df", lambda: _hits(s.search(term, 10)))
    assert s.last_trace.path == "driver" and drv
    assert n == 0  # df lookup, postings and bucket_stats rows: pyarrow reads
    for bound, reason in ((work - 1, "docs bound"), (df - 1, "postings bound")):
        monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", bound)
        assert _hits(s.search(term, 10)) == drv
        assert (s.last_trace.path, s.last_trace.reason) == ("cogroup", reason)


def test_filtered_query_over_docs_bound(monkeypatch, searcher):
    """A filtered query fetches its touched buckets' bucket_stats rows
    into the driver; when those doc slots overflow the bound (its
    postings still fit), it runs the cogroup with equal results."""
    q = _path_filter_query(searcher)
    drv = _hits(searcher.search(q, 10))
    assert searcher.last_trace.path == "driver" and drv
    postings = searcher._df_cache["license"]
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", postings)
        assert _hits(searcher.search(q, 10)) == drv
        assert (searcher.last_trace.path, searcher.last_trace.reason) == (
            "cogroup", "docs bound")


def test_bucket_row_cache_is_capped(monkeypatch, spark, tmp_path):
    """The bucket-row cache keeps at most DRIVER_MAX_POSTINGS //
    bucket_docs rows, dropping the least recently used."""
    from solr_spark.indexer import build_index

    words = ["apple", "banana", "cherry"]  # one word per 4-doc bucket
    rows = [("r", f"f{i:05d}", "0", "en", f"{words[i // 4]} x") for i in range(12)]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    meta = build_index(spark, docs, str(tmp_path / "lru"), bucket_docs=4,
                       num_partitions=1)
    s = Searcher(spark, meta, cache=False)
    want = {}
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
        for w in words:
            want[w] = _hits(s.search(w, 10))
    # one query's work is 4 postings + 4 doc slots; the cap is 2 buckets
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 8)
    for i, w in enumerate(words + words[:1]):
        assert _hits(s.search(w, 10)) == want[w] and len(want[w]) == 4
        assert s.last_trace.path == "driver" and s.last_trace.buckets == 1
        assert len(s._bucket_rows) == min(i + 1, 2)
    # apple's row was dropped by the third query, so its second query
    # missed; a third one hits
    assert s.last_trace.cached_buckets == 0
    s.search("apple", 10)
    assert s.last_trace.cached_buckets == 1


def test_postings_cache_is_capped(monkeypatch, spark, tmp_path):
    """The postings cache keeps at most DRIVER_MAX_POSTINGS decoded
    postings, dropping the least recently used terms but never the
    latest query's; warm_local past the cap keeps only the cap."""
    from solr_spark.indexer import build_index

    words = ["apple", "banana", "cherry"]  # 4 postings a word, one bucket
    rows = [("r", f"f{i:05d}", "0", "en", f"{words[i % 3]} pad") for i in range(12)]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    meta = build_index(spark, docs, str(tmp_path / "pc"), bucket_docs=16,
                       num_partitions=1)
    s = Searcher(spark, meta, cache=False)
    want = {}
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
        for w in words:
            want[w] = _hits(s.search(w, 10))

    def held():
        return sum(len(h[0]) for h in s._decoded.values())

    # a word's work is 4 postings + 16 doc slots; the cap is 20 postings
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 20)
    s = Searcher(spark, meta, cache=False)
    for w in words + ["apple"]:
        assert _hits(s.search(w, 10)) == want[w] and len(want[w]) == 4
        assert s.last_trace.path == "driver"
    assert (s.last_trace.postings_rows, s.last_trace.cached_terms) == (0, 1)
    assert list(s._decoded) == ["banana", "cherry", "apple"] and held() == 12
    # pad's 12 postings are read (its docs overflow the bound), and
    # banana, least recently used, is dropped
    s.search("pad", 10)
    assert s.last_trace.reason == "docs bound"
    assert list(s._decoded) == ["cherry", "apple", "pad"] and held() == 20
    # banana is read again, and cherry dropped
    assert _hits(s.search("banana", 10)) == want["banana"]
    assert s.last_trace.postings_rows == 1 and s.last_trace.cached_terms == 0
    assert list(s._decoded) == ["apple", "pad", "banana"] and held() == 20
    # the latest query's terms stay, whatever was used before
    assert _hits(s.search("cherry apple", 10)) == _hits(s.search("apple cherry", 10))
    assert list(s._decoded)[-2:] == ["apple", "cherry"] and held() <= 20
    # warm_local past the cap keeps only the cap
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 8)
    s = Searcher(spark, meta, cache=False)
    assert s.warm_local(words) == {"terms": 3, "postings": 8}
    assert list(s._decoded) == ["banana", "cherry"]


def test_filter_mask_cache_is_capped(monkeypatch, spark, tmp_path):
    """The filter cache keeps its masks' docids within
    DRIVER_MAX_POSTINGS, dropping the least recently used mask, but
    always keeps one; a repeated filter is served from it."""
    from solr_spark.indexer import build_index

    # three langs over one 4-doc bucket of "apple" docs: 4 docids a mask
    rows = [("r", f"f{i:05d}", "0", f"l{i % 3}", f"{['apple', 'x', 'y'][i // 4]} x")
            for i in range(12)]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    meta = build_index(spark, docs, str(tmp_path / "fq"), bucket_docs=4,
                       num_partitions=1)
    s = Searcher(spark, meta, cache=False)
    langs = ["l0", "l1", "l2"]
    want = {}
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
        for lang in langs:
            want[lang] = _hits(s.search(f"lang:{lang} apple", 10))
    # one query's work is 4 postings + 4 doc slots; the cap is 2 masks
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 8)
    s = Searcher(spark, meta, cache=False)
    for i, lang in enumerate(langs + ["l0", "l2"]):
        assert _hits(s.search(f"lang:{lang} apple", 10)) == want[lang]
        assert want[lang] and s.last_trace.path == "driver"
        assert len(s._filter_masks) == min(i + 1, 2)
        assert [key[1] for key in s._filter_masks] == [
            (x,) for x in (langs + ["l0", "l2"])[max(0, i - 1):i + 1]]
    # l0's mask was dropped by the third query, so its second query
    # missed; l2's was still held
    assert s.last_trace.cached_filters == 1
    # a mask over the cap is still kept, alone
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 1)
    assert _hits(s.search("lang:l1 apple", 10)) == want["l1"]
    assert list(s._filter_masks) == [("lang", ("l1",))]


def test_filter_mask_ships_4_bytes_a_matching_doc(searcher, small_index):
    """A filter mask rides in the pickled cogroup closure at 4 bytes per
    matching doc (int32 bucket-local docids), plus a small header per
    bucket."""
    from pyspark import cloudpickle

    searcher.search("lang:java license", 10)
    keep = searcher._filter_mask({"lang": ["java"]})
    n = sum(len(v) for v in keep.values())
    assert n > 100 and all(v.dtype == np.int32 for v in keep.values())

    def closure_bytes(mask):
        s = kernel._Scorer({"license": 1.0}, {"license": 1.0}, [], [], [], mask,
                           searcher.dead, small_index.avgdl, small_index.bucket_docs, 10)
        return len(cloudpickle.dumps(kernel._bucket_kernel(s, True)))

    extra = closure_bytes(keep) - closure_bytes(None)
    assert 4 * n <= extra <= 4 * n + 64 * len(keep), (n, len(keep), extra)


def test_absent_term_collects_nothing_without_a_job(spark, small_index):
    s = Searcher(spark, small_index)
    assert _hits(s.search("zz_never_indexed", 10)) == []  # caches df = 0
    rows, n = _jobs(spark, "absent", lambda: _hits(s.search("zz_never_indexed", 10)))
    assert rows == [] and n == 0


def test_trace_reasons(monkeypatch, searcher):
    searcher.search("license", 10)
    assert searcher.last_trace.path == "driver"
    with monkeypatch.context() as m:
        m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
        searcher.search("license", 10)
        assert (searcher.last_trace.path, searcher.last_trace.reason) == (
            "cogroup", "postings bound")
    searcher.search("license", unsorted=True)
    assert (searcher.last_trace.path, searcher.last_trace.reason) == ("cogroup", "unsorted")


def test_unsorted_returns_every_match(searcher, small_index):
    every = _hits(searcher.search("license int", unsorted=True))
    top_all = _hits(searcher.search("license int", small_index.n_docs))
    assert searcher.last_trace.path == "driver"
    assert len(every) == len(top_all) > 10
    assert set(every) == set(top_all)

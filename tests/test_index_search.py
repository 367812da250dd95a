"""End-to-end: corpus -> index -> top-k BM25, differentially tested against
the brute-force pandas oracle (the reference's golden-output +
control-vs-distributed test patterns, SURVEY.md §5)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from solr_spark.analysis import tokenize_lists
from solr_spark.corpus import RARE1, corpus_pandas
from solr_spark.kernel import search
from solr_spark.qparser import parse
from solr_spark.scoring import bm25_pandas_oracle

N_DOCS = 600

QUERIES = [
    "license",                 # hot term
    "int",                     # hot term
    RARE1,                     # planted rare term
    "zz_definitely_absent",    # absent -> empty
    "the",                     # stopword-only -> empty
    "getFooBar license",       # OR mix
    "license int public",      # 3-term OR
    f"+license +{RARE1}",      # conjunction hot+rare (skip-intersection stress)
    "+int +license",           # conjunction hot+hot
    "License",                 # case folding
    "-license int",            # prohibited
    "getValueImpl readTokens parseQuery buildIndex",  # 4-term OR
]


@pytest.fixture(scope="module")
def oracle_corpus(small_index):
    """Pandas-side mirror: token lists indexed by engine docid
    (= ordinal of sort by repo,path,commit)."""
    pdf = corpus_pandas(0, N_DOCS)
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    toks = tokenize_lists(pdf["content"]).tolist()
    return pdf, toks


@pytest.mark.parametrize("q", QUERIES)
@pytest.mark.parametrize("k", [10])
def test_topk_matches_oracle(spark, small_index, oracle_corpus, q, k):
    pdf, toks = oracle_corpus
    parsed = parse(q)
    got = search(spark, small_index, q, k=k).collect()

    if parsed.prohibited or parsed.required:
        expect = _oracle_bool(toks, parsed, k)
    else:
        expect = bm25_pandas_oracle(toks, list(parsed.scoring.elements()), k)
    got_ids = [r["docid"] for r in got]
    exp_ids = [d for d, _ in expect]
    assert got_ids == exp_ids, f"q={q!r}: {got_ids} != {exp_ids}"
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, abs=1e-9), f"q={q!r} docid={r['docid']}"


def _oracle_bool(toks, parsed, k):
    """Brute-force boolean + BM25 oracle supporting +/- clauses."""
    n = len(toks)
    scoring = list(parsed.scoring.elements())
    base = bm25_pandas_oracle(toks, scoring, n)  # all matches, scored
    out = []
    for docid, score in base:
        ts = set(toks[docid])
        if any(t in ts for t in parsed.prohibited):
            continue
        if parsed.required and not all(t in ts for t in parsed.required):
            continue
        out.append((docid, score))
    return out[:k]


def test_filter_query(spark, small_index, oracle_corpus):
    pdf, toks = oracle_corpus
    got = search(spark, small_index, "lang:java license", k=10).collect()
    scored = bm25_pandas_oracle(toks, ["license"], len(toks))
    expect = [(d, s) for d, s in scored if pdf.iloc[d]["lang"] == "java"][:10]
    assert [r["docid"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, abs=1e-9)


def test_prune_equals_noprune(monkeypatch, spark, small_index):
    """WAND-on == WAND-off (FIXTURES.md §4). Pruning runs only in the
    cogroup, so the driver path's bound is forced to 0."""
    from solr_spark import kernel

    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
    s = kernel.Searcher(spark, small_index)
    for q in ["license", "int", f"+license +{RARE1}", "+int +license +public"]:
        a = s.search(q, k=10, prune=True).collect()
        assert s.last_trace.path == "cogroup", q
        b = s.search(q, k=10, prune=False).collect()
        assert [(r["docid"], r["score"]) for r in a] == [(r["docid"], r["score"]) for r in b]


def test_sha256_parity(spark, small_index, oracle_corpus):
    """Every indexed row's sha256 matches an independently computed hash
    of the source content (BASELINE input_hint invariant)."""
    pdf, _ = oracle_corpus
    got = (
        spark.read.parquet(small_index.docs_path)
        .select("docid", "sha256")
        .orderBy("docid")
        .toPandas()
    )
    assert len(got) == len(pdf)
    expect = pdf["content"].map(lambda s: hashlib.sha256(s.encode()).hexdigest())
    assert (got["sha256"].to_numpy() == expect.to_numpy()).all()


def test_docid_assignment_is_sort_ordinal(spark, small_index, oracle_corpus):
    pdf, _ = oracle_corpus
    got = (
        spark.read.parquet(small_index.docs_path)
        .select("docid", "repo", "path", "commit")
        .orderBy("docid")
        .toPandas()
    )
    assert got["docid"].tolist() == list(range(len(pdf)))
    assert got["repo"].tolist() == pdf["repo"].tolist()
    assert got["path"].tolist() == pdf["path"].tolist()


def test_with_fields(spark, small_index):
    rows = search(spark, small_index, "license", k=3, with_fields=True).collect()
    assert len(rows) == 3
    assert {"repo", "path", "commit", "lang", "sha256"} <= set(rows[0].asDict())


def test_meta_stats(small_index):
    assert small_index.n_docs == N_DOCS
    assert small_index.avgdl > 0
    assert small_index.n_terms > 100
    assert small_index.postings_bytes > 0
    assert len(small_index.lineage) >= 1
    assert small_index.skew_ratio > 1  # Zipf vocab must show skew
    # every build stage is timed, stage 5 (meta + lineage) included
    assert set(small_index.stages) == {
        "analyze", "doc_stats", "bucket_stats", "postings_3a", "postings",
        "term_stats", "meta",
    }


def test_hit_count_contract(spark, small_index):
    """minExactCount semantics (QueryCommand.java:40,164-168): exact df
    for single terms, lower-bound relation when the budget fills."""
    from solr_spark.kernel import hit_count, search

    exact = search(spark, small_index, "license", k=small_index.n_docs).count()
    n, rel = hit_count(spark, small_index, "license")
    assert (n, rel) == (exact, "EQ")  # term-dictionary answer, no scan
    n2, rel2 = hit_count(spark, small_index, "license int", min_exact_count=5)
    assert rel2 == "GTE" and n2 == 5
    n3, rel3 = hit_count(spark, small_index, "license int", min_exact_count=10**6)
    full = search(spark, small_index, "license int", k=small_index.n_docs).count()
    assert (n3, rel3) == (full, "EQ")


def test_synonym_expansion_equals_disjunction(spark, small_index):
    from solr_spark.kernel import search
    from solr_spark.qparser import expand_synonyms, parse

    q = expand_synonyms(parse("license"), {"license": ["int"]})
    got = search(spark, small_index, q, k=20).collect()
    want = search(spark, small_index, "license int", k=20).collect()
    assert [(r["docid"], r["score"]) for r in got] == [
        (r["docid"], r["score"]) for r in want
    ]


def test_wand_prune_exact_on_score_ties(monkeypatch, spark, tmp_path):
    """The strict-< skip condition: a later block whose bound EQUALS the
    kth score can hold an equal-score SMALLER-docid doc that wins the
    (score desc, docid asc) tie. Construct one bucket with >BLOCK_SIZE
    postings where a high-bound block decodes first and the low blocks
    tie its tail scores — pruned must equal unpruned exactly. Pruning
    runs only in the cogroup, so the driver path's bound is forced to 0."""
    from solr_spark import kernel
    from solr_spark.indexer import build_index

    # 300 docs in ONE bucket (bucket_docs=512): doc 150 has tf=2 (block 1
    # gets the highest bound and decodes first); every other doc scores
    # identically (tf=1, doclen 2)
    rows = []
    for i in range(300):
        text = "spark spark" if i == 150 else "spark x"
        rows.append(("r", f"f{i:05d}", "0", "en", text))
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    meta = build_index(
        spark, docs, str(tmp_path / "tieidx"), bucket_docs=512, num_partitions=1
    )
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
    s = kernel.Searcher(spark, meta)
    for k in (2, 5, 130):
        pruned = [
            (r["docid"], r["score"])
            for r in s.search("spark", k=k, prune=True).collect()
        ]
        assert s.last_trace.path == "cogroup", k
        unpruned = [
            (r["docid"], r["score"])
            for r in s.search("spark", k=k, prune=False).collect()
        ]
        assert pruned == unpruned, k
        # the tie must be broken toward the LOWEST docids
        assert pruned[-1][0] < 150 or k > 150 or pruned[0][0] == 150


def test_build_index_custom_id_cols(spark, tmp_path):
    """The documented id_cols contract: a (project, file, rev) key builds
    and searches; docs table carries the caller's column names."""
    from solr_spark.indexer import build_index
    from solr_spark.kernel import search

    rows = [(f"p{i % 2}", f"f{i}", f"v{i}", "en", "spark merge data") for i in range(50)]
    docs = spark.createDataFrame(
        rows, "project string, file string, rev string, lang string, content string"
    )
    meta = build_index(
        spark, docs, str(tmp_path / "cid"),
        id_cols=("project", "file", "rev"), bucket_docs=32, num_partitions=2,
    )
    assert meta.n_docs == 50
    dcols = set(spark.read.parquet(meta.docs_path).columns)
    assert {"project", "file", "rev", "lang", "sha256"} <= dcols
    assert search(spark, meta, "spark", k=5).count() == 5
    # no repo column: a repo filter names an unknown field
    with pytest.raises(ValueError, match="unknown filter field"):
        search(spark, meta, "repo:p0 spark", k=5)


@pytest.mark.parametrize("cogroup", [False, True])
def test_repo_filter_on_reordered_id_cols(monkeypatch, spark, small_corpus,
                                          small_index, tmp_path_factory, cogroup):
    """A repo filter on a (path, repo, commit) index reads the docs
    table's repo column, whatever the id_cols order, and matches the
    default-order index doc for doc."""
    from solr_spark import kernel
    from solr_spark.indexer import build_index
    from solr_spark.kernel import Searcher

    out = str(tmp_path_factory.mktemp("reorder") / "idx")
    reordered = build_index(
        spark, spark.read.parquet(small_corpus), out,
        id_cols=("path", "repo", "commit"), bucket_docs=256, num_partitions=4,
    )
    if cogroup:
        monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)

    def hits(meta, q):
        rows = Searcher(spark, meta).search(q, 1000, with_fields=True)
        return sorted((r["repo"], r["path"], r["commit"], r["score"])
                      for r in rows.collect())

    repos = sorted(r["repo"] for r in
                   spark.read.parquet(small_corpus).select("repo").distinct().collect())
    assert len(repos) > 1
    for repo in repos:
        want = hits(small_index, f"repo:{repo} license")
        assert want and {h[0] for h in want} == {repo}, repo
        assert hits(reordered, f"repo:{repo} license") == want, repo


def test_separator_in_id_fails_loudly(spark, tmp_path):
    from solr_spark.indexer import build_index

    docs = spark.createDataFrame(
        [("r", "bad\x01path", "0", "en", "text here")],
        "repo string, path string, commit string, lang string, content string",
    )
    with pytest.raises(Exception, match="separator"):
        build_index(spark, docs, str(tmp_path / "sep"), num_partitions=1)


def test_unknown_filter_field_raises(spark, small_index):
    from solr_spark.kernel import search
    from solr_spark.qparser import Query
    from collections import Counter

    q = Query(optional=Counter({"license": 1}), filters={"source": ["x"]})
    with pytest.raises(ValueError, match="unknown filter field"):
        search(spark, small_index, q, k=5).collect()


def test_dismax_term_named_docid(spark, small_index):
    """A query term spelled 'docid' must not collide with the pivot's
    group-key column (pivot emits one column per term VALUE)."""
    from solr_spark.kernel import dismax_search

    rows = dismax_search(spark, small_index, ["docid", "license"], k=5).collect()
    assert rows and set(rows[0].asDict()) == {"docid", "score"}


@pytest.mark.parametrize("terms,k", [([], 10), ([], -1), (["license"], -1), (["license"], 0)])
def test_dismax_edge_inputs_match_search(spark, small_index, terms, k):
    """No terms, or k <= 0, give search's empty result: a local relation
    that runs no Spark job."""
    from solr_spark.kernel import dismax_search

    sc, tag = spark.sparkContext, f"dismax_edge_{len(terms)}_{k}"
    sc.setJobGroup(tag, tag)
    try:
        res = dismax_search(spark, small_index, terms, k=k)
        assert res.columns == ["docid", "score"] and res.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(tag) == []
    assert search(spark, small_index, " ".join(terms), k=k).collect() == []


def test_search_unsorted_with_fields_raises(spark, small_index):
    """unsorted=True deliberately skips the stored-fields join; asking for
    both must fail loudly instead of silently dropping the doc columns."""
    import pytest as _pytest

    from solr_spark.kernel import search

    with _pytest.raises(ValueError, match="unsorted"):
        search(spark, small_index, "license", with_fields=True, unsorted=True)


# ---------------------------------------------------------------------------
# multi-term expansion over the term dictionary


def test_leading_wildcard_expansion(spark, tmp_path):
    """A leading-wildcard clause (the ReversedWildcardFilterFactory
    capability) expands over the terms table and matches the brute LIKE
    semantics exactly."""
    from solr_spark.engine import _multiterm_component
    from solr_spark.indexer import build_index
    from solr_spark.qparser import parse

    rows = [
        ("r", "a", "0", "x", "window shadow widow"),
        ("r", "b", "0", "x", "meadow below"),
        ("r", "c", "0", "x", "nothing here"),
        ("r", "d", "0", "x", "windows dow"),
    ]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    meta = build_index(
        spark, docs, str(tmp_path / "wc_idx"), bucket_docs=256,
        num_partitions=2,
    )

    def search(q):
        # multiterm clauses expand in the engine layer, not the kernel
        mt = parse(q).multiterm[0]
        res = _multiterm_component(spark, meta, mt)
        dm = spark.read.parquet(meta.docs_path).select("docid", "path")
        return {r["path"] for r in res.join(dm, "docid").collect()}

    # *dow matches window/shadow/widow/meadow/dow... every term ENDING
    # in 'dow' ('windows' does not match)
    assert search("*dow") == {"a", "b", "d"}
    # leading '?' with a literal tail
    assert search("?indow") == {"a"}
    # mixed leading pattern with an inner wildcard
    assert search("*ad?w") == {"a", "b"}  # shadow, meadow


def test_fuzzy_candidates_equal_brute_levenshtein(spark, small_index):
    """fuzzy_candidates' length-prefiltered scan returns EXACTLY the
    terms within the edit bound of a brute Levenshtein filter over the
    whole dictionary."""
    from pyspark.sql import functions as F

    from solr_spark.engine import fuzzy_candidates

    terms = spark.read.parquet(small_index.terms_path)
    for pattern, k in [("licence", 2), ("window", 1), ("getfoobaz", 2),
                       ("zzfrobnicat", 2), ("qqq", 1)]:
        scan = {
            r["term"]
            for r in terms.filter(
                F.levenshtein(F.col("term"), F.lit(pattern)) <= k
            ).collect()
        }
        got = {r["term"]
               for r in fuzzy_candidates(spark, small_index, pattern, k).collect()}
        assert got == scan, (pattern, k, got ^ scan)


def test_local_topk_identical_to_distributed(monkeypatch, spark, small_index):
    """The driver-resident millisecond path must return the SAME
    (docid, score) list as search and as the cogroup for every query
    shape, filters, MUST groups and boosts included, at any k, and read
    what the warm caches lack."""
    import time

    from solr_spark import kernel
    from solr_spark.kernel import Searcher
    from solr_spark.qparser import expand_synonyms

    s = Searcher(spark, small_index)
    s.warm_local(["license", "int", "public", RARE1, "getfoobar", "the"])
    local_qs = [q for q in QUERIES
                if all(t.lstrip("+-") in
                       ("license", "int", "public", RARE1.lower(), "getfoobar", "the")
                       for t in q.lower().split())]
    assert len(local_qs) >= 4
    local_qs += [
        "lang:java license", "lang:java lang:py license -public",
        "license^2 int", "int^3 -public license",
        expand_synonyms(parse("+license int"), {"license": ["public"]}),
    ]

    def hits(df):
        return [(int(r["docid"]), float(r["score"])) for r in df.collect()]

    for q in local_qs:
        for k in (0, 1, 10, 1000):
            dist = hits(s.search(q, k))
            with monkeypatch.context() as m:
                m.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
                assert hits(s.search(q, k)) == dist, (q, k)
            assert s.local_topk(q, k) == dist, (q, k)
            assert s.last_trace.path == "driver", (q, k)
    # a cold term is read, then served like the warm ones
    fb = s.local_topk("getvalueimpl", 5)
    assert s.last_trace.postings_rows > 0
    assert fb == hits(s.search("getvalueimpl", 5))
    # and the warm path is actually local: no Spark job, sub-10ms
    t0 = time.time()
    s.local_topk("+license +int", 10)
    assert time.time() - t0 < 0.05


def test_local_topk_k_zero_matches_distributed(spark, small_index):
    """k <= 0 selects nothing on both paths (np.partition used to raise
    on the driver path once the candidate set outgrew 4k)."""
    from solr_spark.kernel import Searcher

    s = Searcher(spark, small_index)
    s.warm_local(["license", "int", "public"])
    for q in ["license", "license int", "+license +int", "public -int"]:
        dist = [(int(r["docid"]), float(r["score"]))
                for r in s.search(q, 0).collect()]
        assert s.local_topk(q, 0) == dist == [], q
        assert s.local_topk(q, -1) == [], q

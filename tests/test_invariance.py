"""Differential tests: the reference's control-vs-distributed pattern
(BaseDistributedSearchTestCase.compareResponses) plus checkpoint/resume
(UpdateLog replay semantics). See FIXTURES.md §4."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_spark.indexer import build_index
from solr_spark.kernel import search


def _postings_fingerprint(spark, meta):
    return (
        spark.read.parquet(meta.postings_path)
        .select(
            "term", "bucket", "df", "cf",
            F.sha2(F.col("doc_bytes"), 256).alias("dh"),
            F.sha2(F.col("tf_bytes"), 256).alias("th"),
        )
        .orderBy("term", "bucket")
        .toPandas()
    )


@pytest.mark.parametrize("chunk", [None, 7], ids=["default_chunk", "tiny_chunk"])
def test_parallelism_invariance(
    spark, small_corpus, small_index, tmp_path, monkeypatch, chunk
):
    """Index built at 2 partitions == index built at 4 partitions:
    identical docids, identical encoded postings bytes, identical top-k.
    A merge_segments run over the 2-partition build writes the same
    postings again. With a 7-posting chunk the shared postings writer
    holds back (carries) a group at almost every encode pass, in build
    stage 3b and in the merge alike, and the bytes must not move."""
    from solr_spark import indexer
    from solr_spark.segments import IndexView, merge_segments

    if chunk is not None:
        monkeypatch.setattr(indexer, "ENCODE_CHUNK_POSTINGS", chunk)
    out2 = str(tmp_path / "idx2")
    meta2 = build_index(
        spark, spark.read.parquet(small_corpus), out2, bucket_docs=256, num_partitions=2
    )
    assert meta2.n_docs == small_index.n_docs
    assert meta2.avgdl == small_index.avgdl

    a = _postings_fingerprint(spark, small_index)
    b = _postings_fingerprint(spark, meta2)
    assert len(a) == len(b)
    assert (a.to_numpy() == b.to_numpy()).all()

    merged = merge_segments(
        spark, IndexView(segments=[meta2]), str(tmp_path / "merged"), num_partitions=3
    )
    assert _postings_fingerprint(spark, merged.segments[0]).equals(a)

    for q in ["license", "+int +license", "getFooBar license"]:
        ra = [(r["docid"], r["score"]) for r in search(spark, small_index, q, k=10).collect()]
        rb = [(r["docid"], r["score"]) for r in search(spark, meta2, q, k=10).collect()]
        assert ra == rb


@pytest.fixture(scope="module")
def stopped_build(spark, small_corpus, tmp_path_factory):
    """small_index's build stopped in stage 4: staging, docs,
    bucket_stats and postings committed, no terms table, no meta.json.
    Tests that resume it work on a copy."""
    from solr_spark import indexer

    def crash(*a, **kw):
        raise RuntimeError("stopped in stage 4")

    out = str(tmp_path_factory.mktemp("stopped") / "idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(indexer, "write_term_stats", crash)
        with pytest.raises(RuntimeError, match="stage 4"):
            build_index(
                spark, spark.read.parquet(small_corpus), out,
                bucket_docs=256, num_partitions=4,
            )
    assert not os.path.exists(os.path.join(out, "meta.json"))
    return out


def test_resume_skips_completed_stages(
    spark, small_corpus, small_index, stopped_build, tmp_path, monkeypatch
):
    """Kill-and-rerun: a build stopped in stage 4 resumes without
    recomputing its completed stages (mtime proof), writes the missing
    terms table, and ends identical to a clean build."""
    from solr_spark import indexer

    out = str(tmp_path / "idx_resume")
    shutil.copytree(stopped_build, out)
    post_marker = os.path.join(out, "postings", "_SUCCESS")
    stage_marker = os.path.join(out, "_stage", "tokens", "_SUCCESS")
    m_post, m_stage = os.path.getmtime(post_marker), os.path.getmtime(stage_marker)

    # the committed index holds no staging, so its marker is read while
    # stage 4 runs
    seen = {}
    write_term_stats = indexer.write_term_stats

    def spy(spark, meta, P):
        seen["stage"] = os.path.getmtime(stage_marker)
        write_term_stats(spark, meta, P)

    monkeypatch.setattr(indexer, "write_term_stats", spy)
    meta = build_index(
        spark, spark.read.parquet(small_corpus), out, bucket_docs=256, num_partitions=4
    )
    assert os.path.getmtime(post_marker) == m_post      # not recomputed
    assert seen["stage"] == m_stage                      # not recomputed
    assert os.path.exists(os.path.join(out, "terms", "_SUCCESS"))  # rebuilt
    assert meta.n_docs == small_index.n_docs
    assert meta.postings_bytes == small_index.postings_bytes

    ra = [(r["docid"], r["score"]) for r in search(spark, small_index, "license", k=5).collect()]
    rb = [(r["docid"], r["score"]) for r in search(spark, meta, "license", k=5).collect()]
    assert ra == rb


def test_resume_of_stopped_build_refuses_changed_config(
    spark, small_corpus, stopped_build, tmp_path
):
    """A resume of a partly built index (no meta.json yet) checks its
    config against _stage/config.json instead of reusing 256-doc tables
    under a 128-doc meta, and refuses a _stage that records none."""
    out = str(tmp_path / "idx")
    shutil.copytree(stopped_build, out)
    docs = spark.read.parquet(small_corpus)
    with pytest.raises(ValueError, match="bucket_docs"):
        build_index(spark, docs, out, bucket_docs=128, num_partitions=4)
    os.remove(os.path.join(out, "_stage", "config.json"))
    with pytest.raises(ValueError, match="config"):
        build_index(spark, docs, out, bucket_docs=256, num_partitions=4)


def test_resume_noop_when_complete(spark, small_corpus, small_index):
    """A finished index returns instantly from meta.json."""
    meta = build_index(
        spark, spark.read.parquet(small_corpus), small_index.out_dir,
        bucket_docs=256, num_partitions=4,
    )
    assert meta.n_docs == small_index.n_docs
    assert meta.stages == small_index.stages


@pytest.fixture(scope="module")
def merged_index(spark, small_index, tmp_path_factory):
    """small_index merged with five deleted docs: the merge writers'
    tables next to the build's."""
    from solr_spark.segments import IndexView, merge_segments

    victims = (
        spark.read.parquet(small_index.docs_path)
        .orderBy("docid").limit(5).select("repo", "path", "commit").collect()
    )
    view = IndexView(segments=[small_index], delete_keys=[tuple(r) for r in victims])
    out = str(tmp_path_factory.mktemp("merged") / "seg")
    return merge_segments(spark, view, out, num_partitions=3).segments[0]


def test_meta_counts_equal_written_tables(
    spark, small_corpus, small_index, merged_index, stopped_build, tmp_path
):
    """meta.json's counts are the committed tables' counts, read here with
    pyarrow (independent of the Spark aggregations that produced them):
    docs and doclens from the docs table, rows and bytes from the
    postings table, and per partition the build lineage's doc and
    posting counts from the staged doc rows and the postings' df sum.
    A committed index holds no staging, so the lineage is checked on a
    build stopped in stage 4 and then resumed."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for meta in (small_index, merged_index):
        docs = pq.read_table(meta.docs_path, columns=["doclen"])
        post = pq.read_table(meta.postings_path, columns=["df", "doc_bytes", "tf_bytes"])
        nbytes = sum(
            pc.sum(pc.binary_length(post[c])).as_py() for c in ("doc_bytes", "tf_bytes")
        )
        assert meta.n_docs == docs.num_rows == 600 - 5 * (meta is merged_index)
        assert meta.sum_doclen == pc.sum(docs["doclen"]).as_py()
        assert (meta.postings_rows, meta.postings_bytes) == (post.num_rows, nbytes)

    staged = pq.read_table(
        os.path.join(stopped_build, "_stage", "tokens"),
        columns=["pid"], filters=[("kind", "=", 0)],
    )
    pids, counts = np.unique(staged["pid"].to_numpy(), return_counts=True)
    out = str(tmp_path / "idx")
    shutil.copytree(stopped_build, out)
    resumed = build_index(
        spark, spark.read.parquet(small_corpus), out, bucket_docs=256, num_partitions=4
    )
    lineage = resumed.lineage
    assert [(p["pid"], p["n_docs"]) for p in lineage] == list(zip(pids.tolist(), counts.tolist()))
    post = pq.read_table(resumed.postings_path, columns=["df"])
    assert sum(p["n_postings"] for p in lineage) == pc.sum(post["df"]).as_py()


_TABLES = ("docs", "postings", "bucket_stats", "terms")


def _jobs(spark, tag, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def test_index_dir_holds_only_index_tables(small_index, merged_index):
    """A finished build and a merge leave the index tables and meta.json
    in the index directory, and no build scratch."""
    for meta in (small_index, merged_index):
        assert sorted(os.listdir(meta.out_dir)) == sorted(_TABLES + ("meta.json",))


@pytest.mark.parametrize("table", _TABLES)
def test_index_tables_have_declared_schema(spark, small_index, merged_index, table):
    """What the build and merge writers write is what index_table
    declares: the schema Spark infers from the written files equals the
    declared one."""
    from solr_spark.indexer import index_table

    for meta in (small_index, merged_index):
        written = spark.read.parquet(os.path.join(meta.out_dir, table)).schema
        assert written == index_table(spark, meta, table).schema, meta.out_dir


def test_index_table_and_searcher_run_no_jobs(spark, small_index, merged_index):
    """Opening any index table, of an index or of a two-segment view, and
    a Searcher without a df cache run no Spark job: the reader knows
    each table's schema and infers none."""
    from solr_spark.indexer import index_table
    from solr_spark.kernel import Searcher
    from solr_spark.segments import IndexView

    view = IndexView(segments=[small_index, merged_index])
    for index in (small_index, view):
        for table in _TABLES:
            _, n = _jobs(spark, f"open_{table}_{len(index.segments)}",
                         lambda: index_table(spark, index, table))
            assert n == 0, table
    _, n = _jobs(spark, "searcher_init", lambda: Searcher(spark, small_index, cache=False))
    assert n == 0


def test_build_add_merge_job_counts(spark, small_corpus, tmp_path):
    """Jobs per write operation on the 600-doc corpus, pinned at their
    measured counts: a build of 391 docs and an add_segment of the other
    209 23 each, a merge of the two segments with 5 deletes 26. Stage 4
    writes the one terms table, and no read infers a schema."""
    from solr_spark.segments import IndexView, add_segment, delete_by_keys, merge_segments

    docs = spark.read.parquet(small_corpus)
    out = str(tmp_path / "view")
    base, n_build = _jobs(spark, "count_build", lambda: build_index(
        spark, docs.filter(F.col("path") < "src/d5"), os.path.join(out, "seg_0"),
        bucket_docs=128, num_partitions=4,
    ))
    view, n_add = _jobs(spark, "count_add", lambda: add_segment(
        spark, IndexView(segments=[base]), docs.filter(F.col("path") >= "src/d5"),
        out, num_partitions=4,
    ))
    victims = (
        spark.read.parquet(base.docs_path)
        .orderBy("docid").limit(5).select("repo", "path", "commit").collect()
    )
    view = delete_by_keys(view, [tuple(r) for r in victims])
    _, n_merge = _jobs(spark, "count_merge", lambda: merge_segments(
        spark, view, str(tmp_path / "merged"), num_partitions=4
    ))
    assert n_build <= 23 and n_add <= 23 and n_merge <= 26, (n_build, n_add, n_merge)


@pytest.mark.parametrize(
    "change,named",
    [({"bucket_docs": 128}, "bucket_docs"), ({"analyzer": "code_stem"}, "analyzer")],
    ids=["bucket_docs", "analyzer"],
)
def test_resume_refuses_changed_config(spark, small_corpus, small_index, change, named):
    """A resume of a finished index with a different build config raises
    and names the field, instead of returning the stored meta."""
    kw = {"bucket_docs": 256, "num_partitions": 4, **change}
    with pytest.raises(ValueError, match=named):
        build_index(spark, spark.read.parquet(small_corpus), small_index.out_dir, **kw)


def test_meta_save_torn_write_keeps_previous(tmp_path, monkeypatch):
    """A save that dies partway through json.dump must leave the previous
    meta.json loadable: resume trusts any meta.json it finds."""
    import json

    import pytest

    from solr_spark.indexer import IndexMeta

    IndexMeta(out_dir=str(tmp_path), n_docs=7).save()

    def torn_dump(obj, f, **kw):
        f.write('{"n_docs": 9, "sum_')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        IndexMeta(out_dir=str(tmp_path), n_docs=9).save()
    monkeypatch.undo()
    assert IndexMeta.load(str(tmp_path)).n_docs == 7


def test_meta_load_names_unknown_keys(tmp_path):
    """An index whose meta.json carries a field this engine no longer
    knows (a flag of a retired index feature) is refused with the key
    named, not a bare TypeError."""
    import json

    import pytest

    from solr_spark.indexer import IndexMeta

    IndexMeta(out_dir=str(tmp_path)).save()
    path = tmp_path / "meta.json"
    d = json.loads(path.read_text())
    d["retired_flag"] = False
    path.write_text(json.dumps(d))
    with pytest.raises(ValueError, match="retired_flag"):
        IndexMeta.load(str(tmp_path))


def test_incremental_segments_equal_full_rebuild(spark, small_corpus, tmp_path_factory):
    """base + delta segments answer queries identically to a from-scratch
    rebuild (append-only: combined N/avgdl/df equal the full build's) —
    the DirectUpdateHandler2 addDoc->flush lifecycle as immutable delta
    segments; then live-docs delete semantics: deleted docs stop matching,
    surviving docs keep their exact scores (Lucene keeps deleted docs in
    the statistics until merge)."""
    from pyspark.sql import functions as F

    from solr_spark.indexer import build_index
    from solr_spark.kernel import search
    from solr_spark.segments import add_segment, delete_by_keys, open_base

    docs = spark.read.parquet(small_corpus)
    full_dir = str(tmp_path_factory.mktemp("segfull") / "idx")
    full = build_index(spark, docs, full_dir, bucket_docs=128, num_partitions=4)

    seg_dir = str(tmp_path_factory.mktemp("segview") / "view")
    cut = docs.select("repo").distinct().orderBy("repo").collect()
    mid = cut[len(cut) // 2]["repo"]
    view = open_base(
        spark, docs.filter(F.col("repo") < mid), seg_dir,
        bucket_docs=128, num_partitions=4,
    )
    view = add_segment(
        spark, view, docs.filter(F.col("repo") >= mid), seg_dir, num_partitions=4
    )
    assert view.n_docs == full.n_docs and view.avgdl == full.avgdl

    for q in ["license", "spark window merge", "+int +public"]:
        want = {
            (r["docid"], round(r["score"], 9))
            for r in search(spark, full, q, k=full.n_docs).collect()
        }
        # incremental docids differ (insertion order); compare by score set
        # joined back to stable keys
        got_df = view.search(spark, q, k=view.n_docs)
        vdocs = spark.read.parquet(*[m.docs_path for m in view.segments])
        fdocs = spark.read.parquet(full.docs_path).select(
            F.col("docid").alias("fdocid"), "repo", "path", "commit"
        )
        got = {
            (r["fdocid"], round(r["score"], 9))
            for r in got_df.join(vdocs, "docid")
            .join(fdocs, ["repo", "path", "commit"])
            .select("fdocid", "score")
            .collect()
        }
        assert got == want, q

    # deletes: pick one matching doc, delete it, others' scores unchanged
    first = search(spark, full, "license", k=1).collect()[0]
    fd = spark.read.parquet(full.docs_path).filter(
        F.col("docid") == first["docid"]
    ).collect()[0]
    dview = delete_by_keys(view, [(fd["repo"], fd["path"], fd["commit"])])
    before = {
        (r["repo"], r["path"]): r["score"]
        for r in view.search(spark, "license", k=view.n_docs)
        .join(spark.read.parquet(*[m.docs_path for m in view.segments]), "docid")
        .select("repo", "path", "score").collect()
    }
    after = {
        (r["repo"], r["path"]): r["score"]
        for r in dview.search(spark, "license", k=view.n_docs)
        .join(spark.read.parquet(*[m.docs_path for m in dview.segments]), "docid")
        .select("repo", "path", "score").collect()
    }
    assert (fd["repo"], fd["path"]) in before and (fd["repo"], fd["path"]) not in after
    del before[(fd["repo"], fd["path"])]
    assert before == after  # statistics unchanged by the live-docs mask


def test_merge_reclaims_deletes_equals_live_rebuild(spark, small_corpus, tmp_path_factory):
    """Segment merge: base + delta + delete-mask merged into one segment
    is BIT-IDENTICAL to a from-scratch rebuild over the surviving
    documents — docids, scores, every table row for row (docs, postings
    with their block metadata, bucket_stats, terms) and the meta counts. Lucene merge semantics: deleted
    docs leave postings AND statistics; and the merge never touches
    content (pure postings-level remap + re-encode)."""
    from pyspark.sql import functions as F

    from solr_spark.indexer import build_index
    from solr_spark.kernel import search
    from solr_spark.segments import (
        add_segment,
        delete_by_keys,
        merge_segments,
        open_base,
    )

    docs = spark.read.parquet(small_corpus)
    seg_dir = str(tmp_path_factory.mktemp("mrg") / "view")
    cut = docs.select("repo").distinct().orderBy("repo").collect()
    mid = cut[len(cut) // 2]["repo"]
    view = open_base(
        spark, docs.filter(F.col("repo") < mid), seg_dir,
        bucket_docs=128, num_partitions=4,
    )
    view = add_segment(
        spark, view, docs.filter(F.col("repo") >= mid), seg_dir, num_partitions=4
    )
    victims = (
        spark.read.parquet(view.segments[0].docs_path)
        .orderBy("docid").limit(7).select("repo", "path", "commit").collect()
    )
    keys = [(r["repo"], r["path"], r["commit"]) for r in victims]
    view = delete_by_keys(view, keys)

    merged = merge_segments(
        spark, view, str(tmp_path_factory.mktemp("mrgout") / "seg"),
        num_partitions=4,
    )
    m = merged.segments[0]

    # fresh build over exactly the live documents
    dels = spark.createDataFrame(keys, "repo string, path string, commit string")
    live = docs.join(F.broadcast(dels), ["repo", "path", "commit"], "left_anti")
    fresh_dir = str(tmp_path_factory.mktemp("mrgfresh") / "idx")
    fresh = build_index(spark, live, fresh_dir, bucket_docs=128, num_partitions=4)

    for f in (
        "n_docs", "sum_doclen", "avgdl", "n_terms", "postings_rows",
        "postings_bytes", "skew_max_df", "skew_ratio",
    ):
        assert getattr(m, f) == getattr(fresh, f), f
    for table, keys in (
        ("postings", ["term", "bucket"]),
        ("bucket_stats", ["bucket"]),
        ("terms", ["term"]),
    ):
        rows = lambda meta: (  # noqa: E731
            spark.read.parquet(os.path.join(meta.out_dir, table))
            .orderBy(*keys).collect()
        )
        assert rows(m) == rows(fresh), table

    md = {
        r["docid"]: (r["repo"], r["path"], r["sha256"], r["doclen"])
        for r in spark.read.parquet(m.docs_path).collect()
    }
    fd = {
        r["docid"]: (r["repo"], r["path"], r["sha256"], r["doclen"])
        for r in spark.read.parquet(fresh.docs_path).collect()
    }
    assert md == fd

    for q in ["license", "spark window merge", "+int +public"]:
        want = [
            (r["docid"], r["score"])
            for r in search(spark, fresh, q, k=fresh.n_docs).collect()
        ]
        got = [
            (r["docid"], r["score"])
            for r in search(spark, m, q, k=m.n_docs).collect()
        ]
        assert got == want, q


def test_add_segment_inherits_analyzer(spark, small_corpus, tmp_path):
    from pyspark.sql import functions as F

    from solr_spark.segments import add_segment, open_base

    docs = spark.read.parquet(small_corpus)
    view = open_base(
        spark, docs.filter(F.col("path") < "src/d8"), str(tmp_path / "v"),
        bucket_docs=128, num_partitions=2, analyzer="code_stem",
    )
    view = add_segment(
        spark, view, docs.filter(F.col("path") >= "src/d8"), str(tmp_path / "v"),
        num_partitions=2,
    )
    assert view.segments[1].analyzer == "code_stem"


def test_verify_content_integrity(spark, small_corpus, small_index):
    from pyspark.sql import functions as F

    from solr_spark.indexer import verify_content_integrity

    src = spark.read.parquet(small_corpus)
    row = verify_content_integrity(spark, small_index, src).collect()[0]
    assert row.n_docs == 600
    assert row.n_matched == 600
    assert row.n_sha_mismatch == 0
    assert row.n_missing_in_index == 0 and row.n_missing_in_source == 0
    # a tampered source row is caught
    bad = src.withColumn(
        "content",
        F.when(F.col("path") == src.select("path").first().path, F.lit("tampered"))
        .otherwise(F.col("content")),
    )
    row2 = verify_content_integrity(spark, small_index, bad).collect()[0]
    assert row2.n_sha_mismatch >= 1


def test_segments_custom_id_cols(spark, tmp_path):
    """The incremental lifecycle (delete mask + merge) must honor the
    composite key the index was built with — id_cols is persisted in
    meta.json, not assumed to be (repo, path, commit)."""
    from solr_spark.segments import delete_by_keys, merge_segments, open_base

    rows = [
        ("orgA", "f1", "r1", "py", "alpha beta gamma"),
        ("orgA", "f2", "r1", "py", "alpha alpha delta"),
        ("orgB", "f1", "r2", "py", "beta beta beta"),
        ("orgB", "f3", "r9", "py", "gamma delta alpha"),
    ]
    src = spark.createDataFrame(
        rows, "org string, file string, rev string, lang string, content string"
    )
    view = open_base(
        spark, src, str(tmp_path / "seg"),
        id_cols=("org", "file", "rev"), bucket_docs=2, num_partitions=2,
    )
    assert view.id_cols == ["org", "file", "rev"]
    # delete one doc by its composite key: it stops matching immediately
    view = delete_by_keys(view, [("orgB", "f1", "r2")])
    hits = {r["docid"] for r in view.search(spark, "beta", k=10).collect()}
    docs = spark.read.parquet(view.segments[0].docs_path)
    deleted_docid = docs.where(
        (F.col("org") == "orgB") & (F.col("file") == "f1")
    ).collect()[0]["docid"]
    assert deleted_docid not in hits and hits
    # merge reclaims the delete and keeps the custom key columns
    merged = merge_segments(spark, view, str(tmp_path / "merged"))
    assert merged.id_cols == ["org", "file", "rev"]
    assert merged.segments[0].n_docs == 3
    mdocs = spark.read.parquet(merged.segments[0].docs_path)
    assert {"org", "file", "rev"} <= set(mdocs.columns)
    mh = {r["docid"] for r in merged.search(spark, "beta", k=10).collect()}
    assert len(mh) == 1  # only f1@orgA still contains beta

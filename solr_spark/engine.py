"""Gate-facing facade: the full engine wired to the driver's test tables.

Adapts the ``documents`` table (doc_id, text, lang, source) to the
engine's source-code-corpus shape (repo, path, commit, lang, content —
the BASELINE.json input hint), builds/caches the index, and exposes
search with the rounded-score ranking contract shared with the DuckDB
oracle (see oracle.py for why ranking happens on the 6-dp-rounded score).

docid determinism: repo := source, path := lpad(doc_id, 8), commit := '0',
so the engine's global (repo, path, commit) sort ordinal — the docid —
enumerates documents in (source, doc_id) order at ANY parallelism, and
the oracle's tie-break ORDER BY source, doc_id equals docid ascending.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .indexer import IndexMeta, build_index, index_table
from .kernel import dismax_search, search
from .qparser import Query, parse

ENGINE_VERSION = "v6"  # bump to invalidate cached gate indexes (v6: bucket_stats keeps only doclens)


def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (repo, path, commit, lang, content)."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("source").alias("repo"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("path"),
        F.lit("0").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def _source_signature(sf_dir: str) -> str:
    """Cheap content signature of the documents source (file names, sizes,
    mtimes) — folded into the index cache key so a changed parquet under
    the same sf_dir path never silently reuses a stale index."""
    path = os.path.join(sf_dir, "documents.parquet")
    parts = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:8]


def ensure_index(
    spark: SparkSession,
    sf_dir: str,
    bucket_docs: int = 512,
    analyzer: str = "code",
    synonyms: dict | None = None,
) -> IndexMeta:
    """Build (or reuse, via the indexer's resume manifest) the index for
    one sf_dir under a content-addressed temp location, including the
    positional-postings table (positions.py) — the phrase/proximity plan:
    scan ∝ query-term postings, zero content re-read."""
    syn_key = ""
    if synonyms:
        import json as _json

        syn_key = ":syn" + _json.dumps(
            {k: sorted(v) if isinstance(v, list) else v
             for k, v in sorted(synonyms.items())},
            sort_keys=True,
        )
    key = hashlib.md5(
        (
            f"{ENGINE_VERSION}:{os.path.abspath(sf_dir)}:{bucket_docs}:"
            f"{analyzer}:{_source_signature(sf_dir)}" + syn_key
        ).encode()
    ).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"solr_spark_gate_{key}")
    meta = build_index(
        spark,
        documents_as_corpus(spark, sf_dir),
        out,
        bucket_docs=bucket_docs,
        resume=True,
        analyzer=analyzer,
        synonyms=synonyms,
    )
    if not meta.has_positions:
        from .positions import build_positions, default_payload_fn

        meta = build_positions(
            spark,
            documents_as_corpus(spark, sf_dir),
            meta,
            payload_fn=default_payload_fn,
        )
    return meta


def _with_doc_id(spark: SparkSession, meta: IndexMeta, res: DataFrame) -> DataFrame:
    docs = index_table(spark, meta, "docs").select("docid", "path")
    return res.join(docs, "docid").withColumn(
        "doc_id", F.col("path").cast("bigint")
    )


def _ranked(spark: SparkSession, meta: IndexMeta, res: DataFrame, k: int,
            score: str = "score") -> DataFrame:
    """The oracle's ranking contract on scored (docid, ``score``) rows:
    the top k by (round(score, 6) desc, docid asc) as (doc_id, score)."""
    out = _with_doc_id(spark, meta, res).withColumn("score", F.round(F.col(score), 6))
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k).select("doc_id", "score")


def _constant_ranked(
    spark: SparkSession, meta: IndexMeta, docids: DataFrame, k: int
) -> DataFrame:
    """Constant-score rewrite of matched ``docids``: score 1.0, the first
    k by (source, doc_id) as (doc_id, score). The tie-break comes from
    the index docs table (repo := source under the corpus mapping), so
    no source table is read."""
    docs = index_table(spark, meta, "docs").select(
        "docid", "path", F.col("repo").alias("source")
    )
    return (
        docids.join(docs, "docid")
        .withColumn("doc_id", F.col("path").cast("bigint"))
        .select("doc_id", F.lit(1.0).alias("score"), "source")
        .orderBy(F.asc("source"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )


def _filtered(
    spark: SparkSession, meta: IndexMeta, rows: DataFrame, filters: dict | None
) -> DataFrame:
    """``rows`` (keyed by docid) restricted to docs whose every
    ``filters`` field holds one of its listed values (fq restricts the
    emitted rows, never the scoring statistics)."""
    if not filters:
        return rows
    fdocs = index_table(spark, meta, "docs").select("docid", *sorted(filters))
    out = rows.join(fdocs, "docid")
    for f_name, vals in sorted(filters.items()):
        out = out.filter(F.col(f_name).isin(list(vals)))
    return out.select(*rows.columns)


def _view_hits(spark: SparkSession, view, q: str, k: int | None) -> DataFrame:
    """``view``'s hits for ``q`` as (doc_id, round(score, 6)). k=None is
    the full-result mode the oracle diffs: every match, as the unsorted
    component frame rather than a corpus-sized orderBy().limit(n_docs).
    k < 1 is rejected rather than silently returning an empty frame."""
    if k is not None and k < 1:
        raise ValueError("k must be >= 1 (or None for every match)")
    if k is None:
        res = view.search(spark, parse(q), unsorted=True)
    else:
        res = view.search(spark, parse(q), k=k)
    return _with_doc_id(spark, view, res).select(
        "doc_id", F.round(F.col("score"), 6).alias("score")
    )


def _copy_query(q: Query) -> Query:
    """Deep-enough copy so gate_search never mutates a caller's Query
    (it strips phrases/multiterm, remaps filters and may stem counters)."""
    from collections import Counter

    return Query(
        optional=Counter(q.optional),
        required=Counter(q.required),
        prohibited=set(q.prohibited),
        filters={k: list(v) for k, v in q.filters.items()},
        boosts=dict(q.boosts),
        phrases=[list(p) for p in q.phrases],
        multiterm=list(q.multiterm),
        required_groups=[list(g) for g in q.required_groups],
    )


def _like_pattern(pat: str) -> str:
    """Wildcard query pattern → SQL LIKE pattern with LITERAL '%'/'_'
    escaped (backslash is Spark's default LIKE escape). '_' is a legal
    token character in this engine's analysis contract ([a-z0-9_]+), so
    an unescaped translation would silently treat snake_case underscores
    as single-char wildcards."""
    return (
        pat.replace("\\", "\\\\")
        .replace("%", "\\%")
        .replace("_", "\\_")
        .replace("*", "%")
        .replace("?", "_")
    )


def fuzzy_candidates(
    spark: SparkSession, meta: IndexMeta, pattern: str, max_edits: int
) -> DataFrame:
    """Terms within ``max_edits`` classic Levenshtein of ``pattern``
    (columns of the terms table, exact-filtered) — the shared candidate
    generator behind fuzzy queries and spellcheck (the engine's
    alternative to Lucene's Levenshtein automata, DirectSpellChecker/
    FuzzyQuery): one scan of the term dictionary, length-prefiltered
    (a term more than ``max_edits`` longer or shorter cannot match)
    before the edit distance is computed. Cost ∝ vocabulary, not
    corpus."""
    p = pattern.lower()
    return (
        index_table(spark, meta, "terms")
        .filter(F.abs(F.length("term") - F.lit(len(p))) <= max_edits)
        .filter(F.levenshtein(F.col("term"), F.lit(p)) <= max_edits)
    )


def _multiterm_component(
    spark: SparkSession, meta: IndexMeta, mt, filters: dict | None = None
) -> DataFrame:
    """One prefix/wildcard/fuzzy clause: expand against the term
    dictionary (sorted terms table — a prefix predicate is a pushed-down
    range scan, any other pattern a filtered dictionary scan), decode
    the expanded terms' postings, emit each matching doc once with the
    clause's constant score (Lucene CONSTANT_SCORE rewrite;
    PrefixQParserPlugin.java, standard-query-parser.adoc fuzzy/wildcard).
    Fully distributed: the expansion is a broadcast semi-join,
    never a driver-side term list."""
    from .kernel import postings_rows

    terms_df = index_table(spark, meta, "terms")
    if mt.kind == "prefix":
        expanded = terms_df.filter(F.col("term").startswith(mt.pattern[:-1]))
    elif mt.kind == "wildcard":
        expanded = terms_df.filter(F.col("term").like(_like_pattern(mt.pattern)))
    else:  # fuzzy: classic Levenshtein (documented deviation from
        # Lucene's Damerau-Levenshtein, see qparser.MultiTermClause)
        expanded = fuzzy_candidates(spark, meta, mt.pattern, mt.max_edits)
    rows = postings_rows(spark, meta, expanded.select("term"))
    out = _filtered(spark, meta, rows.select("docid").dropDuplicates(["docid"]), filters)
    return out.withColumn("score", F.lit(float(mt.boost)))


def gate_search(
    spark: SparkSession,
    sf_dir: str,
    q: "str | Query",
    k: int = 10,
    synonyms: dict[str, list[str]] | None = None,
    analyzer: str = "code",
    index_synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Top-k BM25 with the oracle's ranking contract: rank by
    (round(score, 6) desc, docid asc); emit (doc_id, score).

    Mixed queries ('"spark window" merge') combine the inverted-index
    term kernel with positional phrase clauses: total score =
    term_score + phrase contributions (each a BM25 clause with
    tf = phrase frequency), candidates = OR of all clauses — Lucene
    BooleanQuery semantics with a PhraseQuery sub-clause
    (solr/core/src/java/org/apache/solr/search/SolrQueryParser.java).

    ``synonyms``: optional query-time synonym map applied through
    qparser.expand_synonyms (synonymGraphFilter slot).

    ``index_synonyms``: optional INDEX-time synonym rules
    (analysis.SynonymGraph — the index-analyzer synonymGraph +
    flattenGraph slot): the postings themselves carry the injected
    occurrences, so the query runs unexpanded. Phrase/proximity queries
    match through injected positions via the positional plan."""
    from collections import Counter

    from .analysis import ANALYZERS, PRE_TRANSFORMS
    from .qparser import expand_synonyms

    if isinstance(q, str) and analyzer in PRE_TRANSFORMS:
        # query/index analyzer symmetry for pre-transform chains (the
        # text_cjk bigram fold): the query string folds through the SAME
        # function the ingest path applied, BEFORE parsing — CJK runs
        # become the cjk_<hex> bigram terms the index actually holds
        q = PRE_TRANSFORMS[analyzer](q)
    meta = ensure_index(
        spark, sf_dir, analyzer=analyzer, synonyms=index_synonyms
    )
    query: Query = parse(q) if isinstance(q, str) else _copy_query(q)
    if synonyms:
        query = expand_synonyms(query, synonyms)
    transform = ANALYZERS[analyzer]
    if transform is not None:
        # query terms go through the same per-term analyzer transform the
        # index dictionary did (the query/index analyzer symmetry the
        # reference enforces per field type)
        if query.multiterm:
            # a wildcard/fuzzy PATTERN cannot be stemmed meaningfully —
            # failing loudly beats silently matching nothing against the
            # stemmed dictionary
            raise ValueError(
                "multi-term clauses (prefix/wildcard/fuzzy) are not "
                "supported with a non-default analyzer"
            )
        if query.phrases:
            # phrase terms skip the analyzer transform below, so they
            # would never match the stemmed positional postings
            raise ValueError(
                "phrase clauses are not supported with a non-default "
                "analyzer (phrase terms are not stemmed)"
            )
        for attr in ("optional", "required"):
            src_counter = getattr(query, attr)
            stemmed = Counter()
            for t, c in src_counter.items():
                stemmed[transform(t)] += c
            setattr(query, attr, stemmed)
        query.prohibited = {transform(t) for t in query.prohibited}
        query.boosts = {transform(t): b for t, b in query.boosts.items()}
        query.required_groups = [
            sorted({transform(t) for t in g}) for g in query.required_groups
        ]
    if "source" in query.filters:  # source column is mapped onto repo
        query.filters.setdefault("repo", []).extend(query.filters.pop("source"))
    phrases, query.phrases = query.phrases, []
    mterms, query.multiterm = query.multiterm, []
    parts = []
    if query.scoring:
        # component mode: downstream full_outer joins discard order, the
        # final user-k TakeOrdered happens once at the end of this fn
        parts.append(search(spark, meta, query, unsorted=True))
    for toks in phrases:
        comp = _phrase_component(spark, meta, toks, dict(query.filters))
        parts.append(comp.select("docid", F.col("p_score").alias("score")))
    for mt in mterms:
        parts.append(_multiterm_component(spark, meta, mt, dict(query.filters)))
    if not parts:
        return spark.createDataFrame([], "doc_id bigint, score double").limit(0)
    res = parts[0]
    for p in parts[1:]:
        # defined accumulation order: term kernel fold first, then each
        # phrase clause in query order — mirrored by the oracle SQL
        res = (
            res.withColumnRenamed("score", "s_a")
            .join(p.withColumnRenamed("score", "s_b"), "docid", "full_outer")
            .select(
                "docid",
                (
                    F.coalesce(F.col("s_a"), F.lit(0.0))
                    + F.coalesce(F.col("s_b"), F.lit(0.0))
                ).alias("score"),
            )
        )
    # Lucene BooleanQuery semantics across components:
    #  - MUST clauses define the admissible domain: phrase/multiterm
    #    SHOULD clauses may only add score to docs the term kernel kept
    #  - MUST_NOT excludes a doc from the WHOLE query, including docs
    #    reached only through phrase/multiterm clauses
    if (query.required or query.required_groups) and query.scoring and len(parts) > 1:
        res = res.join(parts[0].select("docid"), "docid", "left_semi")
    if query.prohibited:
        from .kernel import postings_rows

        proh = (
            postings_rows(spark, meta, sorted(query.prohibited))
            .select("docid")
            .dropDuplicates(["docid"])
        )
        res = res.join(proh, "docid", "left_anti")
    return _ranked(spark, meta, res, k)


def gate_dismax(
    spark: SparkSession, sf_dir: str, terms: list[str], tie: float, k: int
) -> DataFrame:
    """DisMax ranking under the same rounded-score contract."""
    meta = ensure_index(spark, sf_dir)
    return _ranked(spark, meta, dismax_search(spark, meta, terms, tie=tie, unsorted=True), k)


def gate_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global term dictionary (term, df, cf) — exact corpus-wide
    stats (stronger than the reference's default per-shard IDF;
    solr/core/src/java/org/apache/solr/search/stats/ExactStatsCache.java:61)."""
    meta = ensure_index(spark, sf_dir)
    return index_table(spark, meta, "terms").select("term", "df", "cf")


def _phrase_component(
    spark: SparkSession,
    meta: IndexMeta,
    terms: list[str],
    filters: dict | None = None,
) -> DataFrame:
    """One phrase clause, answered from positional postings
    (positions.phrase_tf_frame — the Lucene .pos analog): docid
    intersection + vectorized adjacency over decoded position arrays,
    overlapping occurrences counted (PhraseQuery position semantics),
    zero content access at ANY phrase length. Scored as BM25 with
    tf = phrase frequency, df = docs containing the phrase (PhraseQuery
    scoring: phraseFreq into the same tf-norm).

    Returns (docid, doc_id, phrase_tf, p_score) for docs where the exact
    phrase occurs."""
    from .positions import phrase_tf_frame
    from .scoring import idf_col, tfnorm_col

    docs = index_table(spark, meta, "docs").select("docid", "path", "doclen")
    matched = (
        phrase_tf_frame(spark, meta, terms)
        .join(docs, "docid")
        .withColumn("doc_id", F.col("path").cast("bigint"))
        .select("docid", "doc_id", "phrase_tf", "doclen")
    )
    # NOTE: the phrase df (BM25 idf input) is computed over ALL matching
    # docs BEFORE fq filters apply — fq never changes scoring statistics
    # (the reference's filter-vs-score separation; the term kernel's idf
    # is likewise global). Filters restrict only the emitted rows.
    dfp = matched.agg(F.count(F.lit(1)).cast("double").alias("df_p"))
    matched = _filtered(spark, meta, matched, filters)
    score = idf_col(F.col("df_p"), meta.n_docs) * tfnorm_col(
        F.col("phrase_tf"), F.col("doclen"), meta.avgdl
    )
    return (
        matched.crossJoin(F.broadcast(dfp))
        .withColumn("p_score", score)
        .select("docid", "doc_id", "phrase_tf", "p_score")
    )


def gate_phrase(
    spark: SparkSession, sf_dir: str, phrase: str, k: int = 10
) -> DataFrame:
    """Exact phrase query (pure phrase clause) under the rounded-score
    ranking contract; output (doc_id, phrase_tf, score). Reference:
    phrase queries in the standard parser
    (solr/core/src/java/org/apache/solr/search/SolrQueryParser.java;
    solr-ref-guide standard-query-parser.adoc)."""
    from .analysis import analyze_query

    meta = ensure_index(spark, sf_dir)
    terms = analyze_query(phrase)
    if not terms:
        return spark.createDataFrame([], "doc_id bigint, phrase_tf bigint, score double").limit(0)
    comp = _phrase_component(spark, meta, terms)
    out = comp.withColumn("score", F.round(F.col("p_score"), 6))
    return (
        out.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "phrase_tf", "score")
    )


def gate_incremental(
    spark: SparkSession,
    sf_dir: str,
    q: str,
    splits: tuple[int, int] = (2000, 2500),
    k: int | None = None,
) -> DataFrame:
    """Incremental index maintenance check: base segment + two delta
    batches (segments.add_segment), searched through the combined view.
    Emits ALL matching docs with rounded scores — because additions are
    append-only, combined stats (N, avgdl, per-term df) equal a
    from-scratch rebuild's exactly, so the oracle is simply the full-
    corpus BM25 SQL. Mirrors DirectUpdateHandler2.java:309-409 (addDoc →
    new segment) + UpdateLog replay batching."""
    from .segments import add_segment, open_base

    s0, s1 = f"{splits[0]:08d}", f"{splits[1]:08d}"
    corpus = documents_as_corpus(spark, sf_dir)
    key = hashlib.md5(
        f"{ENGINE_VERSION}:incr:{os.path.abspath(sf_dir)}:{splits}:{_source_signature(sf_dir)}".encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"solr_spark_incr_{key}")
    view = open_base(
        spark, corpus.filter(F.col("path") < s0), out_dir,
        bucket_docs=512, resume=True,
    )
    view = add_segment(
        spark, view,
        corpus.filter((F.col("path") >= s0) & (F.col("path") < s1)),
        out_dir, resume=True,
    )
    view = add_segment(
        spark, view, corpus.filter(F.col("path") >= s1), out_dir, resume=True
    )
    return _view_hits(spark, view, q, k)


def gate_merge(
    spark: SparkSession,
    sf_dir: str,
    q: str,
    delete_doc_ids: tuple[int, ...] = (3, 7, 11),
    split: int = 2500,
    k: int | None = None,
) -> DataFrame:
    """Segment-merge check: base + delta segments with a delete mask,
    merged into ONE segment (segments.merge_segments — the Lucene
    TieredMergePolicy lifecycle step), then searched. After a merge the
    deleted docs are gone from postings AND statistics, so the oracle is
    the full-corpus BM25 SQL over documents MINUS the deleted ids."""
    from .segments import add_segment, delete_by_keys, merge_segments, open_base

    s0 = f"{split:08d}"
    corpus = documents_as_corpus(spark, sf_dir)
    key = hashlib.md5(
        f"{ENGINE_VERSION}:merge:{os.path.abspath(sf_dir)}:{split}:{delete_doc_ids}:{_source_signature(sf_dir)}".encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"solr_spark_mrg_{key}")
    merged_meta_path = os.path.join(out_dir, "merged", "meta.json")
    if os.path.exists(merged_meta_path):
        from .indexer import IndexMeta
        from .segments import IndexView

        merged = IndexView(segments=[IndexMeta.load(os.path.join(out_dir, "merged"))])
    else:
        view = open_base(
            spark, corpus.filter(F.col("path") < s0), out_dir,
            bucket_docs=512, resume=True,
        )
        view = add_segment(
            spark, view, corpus.filter(F.col("path") >= s0), out_dir, resume=True
        )
        # delete keys follow the corpus mapping: repo=source, path=doc_id
        victims = (
            _source_docs(spark, sf_dir)
            .filter(F.col("doc_id").isin(list(delete_doc_ids)))
            .select("source", "doc_id")
            .collect()
        )
        keys = [(r["source"], f"{int(r['doc_id']):08d}", "0") for r in victims]
        view = delete_by_keys(view, keys)
        merged = merge_segments(spark, view, os.path.join(out_dir, "merged"))
    return _view_hits(spark, merged, q, k)


def gate_edismax(
    spark: SparkSession,
    sf_dir: str,
    q: str,
    qf_text: float = 1.0,
    qf_source: float = 0.0,
    mm: str = "1",
    tie: float = 0.0,
    pf2_weight: float = 0.0,
    pf3_weight: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """edismax: each analyzed query term is a DisjunctionMax clause over
    the qf fields (text — the indexed content field, scored via the
    inverted index; source — a keyword field with fieldlen 1, so its BM25
    tf-norm is exactly 1.0 and the contribution reduces to idf), combined
    as max + tie·(sum − max); min-should-match prunes docs matching fewer
    than calculate_mm(...) clauses; pf2/pf3 add shingled phrase-proximity
    boosts over adjacent query-term pairs/trigrams.

    Reference: ExtendedDismaxQParser.java:434 (setMinShouldMatch), :285-340
    and :608-650 (addShingledPhraseQueries for pf/pf2/pf3), :1747 (tie);
    clause combination per DisMaxQParser.java; mm arithmetic per
    SolrPluginUtils.java:625.

    Scale shape: candidates = union of term postings docs and keyword
    matches (never a full corpus scan), per-term contributions pivot wide
    (bounded by query length), phrase boosts verify only conjunctive
    candidates. Scoring/accumulation order is pinned (clauses in query
    order, then pf2 pairs, then pf3 trigrams) and mirrored literally by
    oracle.edismax_oracle_sql."""
    from .analysis import analyze_query
    from .kernel import term_contributions
    from .qparser import calculate_mm
    from .scoring import idf

    empty = spark.createDataFrame([], "doc_id bigint, score double").limit(0)
    meta = ensure_index(spark, sf_dir)
    clauses = analyze_query(q)
    if not clauses:
        return empty
    mm_n = calculate_mm(len(clauses), mm)
    uniq = sorted(set(clauses))
    contribs = term_contributions(spark, meta, uniq)
    # pivot column names are the raw term values — namespace them so a
    # query containing tokens like 'repo'/'doclen'/'docid' cannot collide
    # with the docs-table columns joined below (AMBIGUOUS_REFERENCE)
    tcol_name = {t: f"__t_{i}" for i, t in enumerate(uniq)}
    wide = contribs.groupBy("docid").pivot("term", uniq).agg(F.first("contrib"))
    wide = wide.select(
        "docid", *[F.col(f"`{t}`").alias(tcol_name[t]) for t in uniq]
    )
    docs = index_table(spark, meta, "docs").select("docid", "repo", "doclen")
    use_source = qf_source != 0.0
    src_idf: dict[str, float] = {}
    if use_source:
        src_counts = (
            docs.filter(F.col("repo").isin(uniq))
            .groupBy("repo")
            .agg(F.count(F.lit(1)).alias("dfs"))
            .collect()
        )
        src_idf = {r["repo"]: float(idf(r["dfs"], meta.n_docs)) for r in src_counts}
    cand = wide.select("docid")
    if src_idf:
        cand = cand.unionByName(
            docs.filter(F.col("repo").isin(sorted(src_idf))).select("docid")
        ).dropDuplicates(["docid"])
    base = docs.join(cand, "docid", "left_semi").join(wide, "docid", "left")

    total = None
    matched_count = None
    for t in clauses:  # query order; duplicate terms are separate clauses
        tcol = F.coalesce(F.col(tcol_name[t]), F.lit(0.0))
        a = F.lit(float(qf_text)) * tcol
        if use_source and t in src_idf:
            s = F.when(F.col("repo") == t, F.lit(src_idf[t])).otherwise(F.lit(0.0))
        else:
            s = F.lit(0.0)
        b = F.lit(float(qf_source)) * s
        mx = F.greatest(a, b)
        clause = mx + F.lit(float(tie)) * ((a + b) - mx)
        m = F.col(tcol_name[t]).isNotNull()
        if use_source and t in src_idf:
            m = m | (F.col("repo") == t)
        total = clause if total is None else total + clause
        mi = m.cast("int")
        matched_count = mi if matched_count is None else matched_count + mi

    scored = (
        base.withColumn("score", total)
        .withColumn("__nm", matched_count)
        .filter(F.col("__nm") >= mm_n)
        .select("docid", "score")
    )
    shingled: list[tuple[float, list[str]]] = []
    if pf2_weight:
        shingled += [(pf2_weight, clauses[i : i + 2]) for i in range(len(clauses) - 1)]
    if pf3_weight:
        shingled += [(pf3_weight, clauses[i : i + 3]) for i in range(len(clauses) - 2)]
    for j, (w, toks) in enumerate(shingled):
        p = _phrase_component(spark, meta, toks).select(
            "docid", F.col("p_score").alias(f"__p{j}")
        )
        scored = (
            scored.join(p, "docid", "left")
            .withColumn(
                "score",
                F.col("score")
                + F.lit(float(w)) * F.coalesce(F.col(f"__p{j}"), F.lit(0.0)),
            )
            .drop(f"__p{j}")
        )
    return _ranked(spark, meta, scored, k)


def gate_mlt(
    spark: SparkSession,
    sf_dir: str,
    doc_id: int,
    top_terms: int = 5,
    k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """more-like-this: pick the seed doc's top tf·idf terms, run them as
    an OR query, exclude the seed doc (MoreLikeThisHandler.java:1,
    search/mlt/SimpleMLTQParser.java; SURVEY §2.3 mlt row).

    Scale shape — MLT needs ONE document's term vector, never the
    corpus's: the seed's tf comes from re-analyzing its own content (a
    single-row predicate-pushdown read of the source table — the
    reference reads the seed's stored fields the same way), df comes from
    a term-pruned scan of the terms table, and the candidate query runs
    through per-(doc,term) contributions. No vocabulary ever reaches the
    driver.

    Score contract (mirrored by the oracle SQL): per-term BM25
    contributions rounded to 6 dp BEFORE summation, final sum rounded to
    6 dp — rounded inputs are multiples of 1e-6 while the fp error of any
    summation order is ~1e-14, so the double-rounded score is
    order-independent and exactly reproducible in SQL."""
    from collections import Counter

    import pandas as pd

    from .analysis import tokenize_lists
    from .kernel import term_contributions
    from .operators.graph import more_like_this_terms

    empty = spark.createDataFrame([], "doc_id bigint, score double").limit(0)
    meta = ensure_index(spark, sf_dir)
    seed = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where(F.col("doc_id") == doc_id)
        .select("text")
        .limit(1)
        .collect()
    )
    if not seed:
        return empty
    tfs = Counter(tokenize_lists(pd.Series([seed[0]["text"] or ""])).iloc[0])
    if not tfs:
        return empty
    # the seed's term vector as (docid, term, tf) triples of docid 0
    seed = spark.createDataFrame(
        [(0, t, int(c)) for t, c in sorted(tfs.items())],
        "docid bigint, term string, tf bigint",
    )
    stats = index_table(spark, meta, "terms").where(F.col("term").isin(sorted(tfs)))
    picked = more_like_this_terms(seed, stats, 0, meta.n_docs, top_terms, min_df)
    terms = [r["term"] for r in picked.collect()]
    if not terms:
        return empty
    contribs = term_contributions(spark, meta, terms)
    sc = contribs.groupBy("docid").agg(
        F.round(F.sum(F.round(F.col("contrib"), 6)), 6).alias("score")
    )
    out = _with_doc_id(spark, meta, sc).filter(F.col("doc_id") != doc_id)
    return (
        out.orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
        .select("doc_id", "score")
    )


def _source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def gate_complexphrase(
    spark: SparkSession, sf_dir: str, phrase: str, k: int = 10
) -> DataFrame:
    """{!complexphrase}: a quoted phrase whose positions may hold wildcard
    patterns — '"spark wind*"' matches 'spark window', 'spark windows', …
    (ComplexPhraseQParserPlugin.java:1; Lucene ComplexPhraseQueryParser).

    Two-phase like the plain phrase path: (1) candidates from the
    inverted index — concrete positions as a required conjunction,
    wildcard positions as dictionary-expanded OR groups (each an
    index-pruned postings read, never a content scan); (2) span verify by
    re-analyzing only the candidates: position i matches iff every
    offset j satisfies token[i+j] == term_j, or LIKE pattern_j for
    wildcard slots. Constant-score rewrite (the multi-term contract,
    matching _multiterm_component), tie-broken (source, doc_id)."""
    from .functions import textfn
    from .kernel import postings_rows

    meta = ensure_index(spark, sf_dir)
    slots = [t for t in phrase.lower().split() if t]
    if not slots:
        return spark.createDataFrame([], "doc_id bigint, score double").limit(0)
    concrete = [t for t in slots if "*" not in t and "?" not in t]

    # --- phase 1: index-pruned candidates --------------------------------
    if concrete:
        from collections import Counter

        q = Query(required=Counter(concrete))
        cand = search(spark, meta, q, unsorted=True).select("docid")
    else:
        # all-wildcard phrase: candidates = docs matching the first slot's
        # dictionary expansion (still index-pruned, no full scan)
        terms_df = index_table(spark, meta, "terms")
        pat = _like_pattern(slots[0])
        rows = postings_rows(spark, meta, terms_df.filter(F.col("term").like(pat)).select("term"))
        cand = rows.select("docid").dropDuplicates(["docid"])

    docs = index_table(spark, meta, "docs").select("docid", "path")
    src = _source_docs(spark, sf_dir).select("doc_id", "text")
    with_src = (
        cand.join(docs, "docid")
        .withColumn("doc_id", F.col("path").cast("bigint"))
        .join(src, "doc_id")
    )

    # --- phase 2: span verify on candidates only -------------------------
    toks = textfn.tokens(F.col("text"))
    L = len(slots)
    n_pos = F.size(toks) - L + 1

    def slot_pred(i, j, slot):
        el = F.element_at(toks, i + F.lit(j))
        if "*" in slot or "?" in slot:
            return el.like(_like_pattern(slot))
        return el == F.lit(slot)

    def pos_ok(i):
        cond = slot_pred(i, 0, slots[0])
        for j in range(1, L):
            cond = cond & slot_pred(i, j, slots[j])
        return cond

    hits = F.filter(F.sequence(F.lit(1), F.greatest(n_pos, F.lit(1))), pos_ok)
    matched = with_src.filter((n_pos >= 1) & (F.size(hits) > 0)).select("docid")
    return _constant_ranked(spark, meta, matched, k)


def gate_highlight(
    spark: SparkSession,
    sf_dir: str,
    q: str,
    k: int = 10,
    frag_tokens: int = 7,
    pre: str = "<em>",
    post: str = "</em>",
) -> DataFrame:
    """Highlighting: one snippet per top-k hit, query terms wrapped in
    pre/post tags (solr/core/src/java/org/apache/solr/highlight/
    DefaultSolrHighlighter.java:1; UnifiedHighlighter passage logic).

    Simplified contract (mirrored by the oracle): the snippet is a
    ``frag_tokens``-token window of the ANALYZED token stream starting
    two tokens before the first query-term hit — offset-free, so the
    whole thing is pure Catalyst array algebra evaluated only on the k
    winners (the reference also highlights only the returned page)."""
    from .analysis import analyze_query
    from .functions import textfn

    terms = sorted(set(analyze_query(q)))
    top = gate_search(spark, sf_dir, q, k)
    src = _source_docs(spark, sf_dir).select("doc_id", "text")
    joined = top.join(src, "doc_id")
    toks = textfn.tokens(F.col("text"))
    terms_arr = F.array(*[F.lit(t) for t in terms])
    hits = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda i: F.array_contains(terms_arr, F.get(toks, i - F.lit(1))),
    )
    pos = F.get(hits, 0)  # first hit (1-based); null-safe out-of-bounds
    start = F.greatest(F.lit(1), pos - F.lit(2))
    window = F.slice(toks, start, frag_tokens)
    hl = F.transform(
        window,
        lambda y: F.when(
            F.array_contains(terms_arr, y), F.concat(F.lit(pre), y, F.lit(post))
        ).otherwise(y),
    )
    return joined.select(
        "doc_id", "score", F.concat_ws(" ", hl).alias("snippet")
    )


def gate_suggest(
    spark: SparkSession, sf_dir: str, prefix: str, k: int = 5
) -> DataFrame:
    """Suggester / terms component: prefix completion from the term
    dictionary ranked by document frequency
    (solr/core/src/java/org/apache/solr/handler/component/TermsComponent.java:1,
    the suggest module's FreeTextLookup df-ranked analog). The terms
    table is range-partitioned and sorted by term, so the prefix
    predicate prunes to one file via row-group min/max — a dictionary
    range scan, never a corpus pass."""
    meta = ensure_index(spark, sf_dir)
    terms = index_table(spark, meta, "terms")
    return (
        terms.filter(F.col("term").startswith(prefix.lower()))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .select("term", "df")
    )


def gate_spellcheck(
    spark: SparkSession, sf_dir: str, word: str, max_edits: int = 2, k: int = 5
) -> DataFrame:
    """Spellcheck: correction candidates from the term dictionary within
    ``max_edits`` classic Levenshtein, ranked (distance asc, df desc)
    (solr/core/src/java/org/apache/solr/spelling/DirectSolrSpellChecker.java:1
    — Lucene DirectSpellChecker over the live term dictionary; classic
    edit distance is the documented deviation from its Damerau variant,
    same as the fuzzy-query path). Distributed shape: candidates via
    engine.fuzzy_candidates, one length-prefiltered scan of the terms
    table (vocabulary-sized, not corpus-sized)."""
    meta = ensure_index(spark, sf_dir)
    d = F.levenshtein(F.col("term"), F.lit(word.lower()))
    return (
        fuzzy_candidates(spark, meta, word, max_edits)
        .withColumn("dist", d)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(k)
        .select("term", "dist", "df")
    )


def gate_spellcheck_collate(
    spark: SparkSession, sf_dir: str, q: str, max_edits: int = 2, k: int = 10
) -> DataFrame:
    """spellcheck.collate: rewrite the query replacing every term absent
    from the index with its best correction (min edit distance, then max
    df — DirectSolrSpellChecker candidate ranking), then run the
    collated query (handler/component/SpellCheckComponent.java:1
    toNamedList collations). Per misspelled term exactly ONE corrected
    row reaches the driver (bounded by query length, never a term
    list)."""
    from .analysis import analyze_query

    from pyspark.sql import Window

    meta = ensure_index(spark, sf_dir)
    terms_df = index_table(spark, meta, "terms")
    qterms = analyze_query(q)
    stats = terms_df.where(F.col("term").isin(sorted(set(qterms)))).collect()
    present = {r["term"] for r in stats}
    missing = sorted({t for t in qterms if t not in present})
    corrections: dict[str, str] = {}
    if missing:
        # ONE vocabulary-sized job corrects every misspelled term: the
        # tiny missing list broadcasts against the terms table, per-term
        # best by (dist asc, df desc, term asc)
        miss_df = spark.createDataFrame([(m,) for m in missing], "miss string")
        scored = terms_df.join(
            F.broadcast(miss_df),
            F.levenshtein(F.col("term"), F.col("miss")) <= max_edits,
        ).withColumn("dist", F.levenshtein(F.col("term"), F.col("miss")))
        w = Window.partitionBy("miss").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        best = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("miss", "term")
            .collect()
        )
        corrections = {r["miss"]: r["term"] for r in best}
    collated = [corrections.get(t, t) for t in qterms]
    return gate_search(spark, sf_dir, " ".join(collated), k=k)


def gate_proximity(
    spark: SparkSession,
    sf_dir: str,
    term_a: str,
    term_b: str,
    slop: int,
    ordered: bool = True,
    k: int = 10,
) -> DataFrame:
    """Surround-parser proximity query — `3w(a, b)` (ordered within
    distance) / `3n(a, b)` (unordered within distance)
    (solr/core/src/java/org/apache/solr/search/SurroundQParserPlugin.java:1;
    Lucene surround query language, solr-ref-guide other-parsers.adoc).

    The span is verified from positional postings
    (positions.span_match_frame — the Lucene SpanNearQuery execution
    shape): ordered requires 0 < pos(b) − pos(a) ≤ slop; unordered
    requires |pos(a) − pos(b)| ≤ slop. Constant-score rewrite, tie-broken
    (source, doc_id) — the same contract as the other multi-term paths."""
    from .positions import span_match_frame

    meta = ensure_index(spark, sf_dir)
    a, b = term_a.lower(), term_b.lower()
    return _constant_ranked(spark, meta, span_match_frame(spark, meta, a, b, slop, ordered), k)


def gate_payload_score(
    spark: SparkSession, sf_dir: str, term: str, func: str = "max", k: int = 10
) -> DataFrame:
    """{!payload_score f=text v=term func=...}: rank docs containing
    ``term`` by an aggregate of the payloads at the term's positions
    (PayloadScoreQParserPlugin.java:1; func registry in
    util/PayloadUtils.java). Payloads come from the index's per-position
    payload stream (positions.default_payload_fn on the gate corpus —
    the DelimitedPayloadTokenFilter slot). Scan ∝ the one term's
    postings; ranking contract (round(score,6) desc, docid asc)."""
    from .positions import payload_score_frame

    meta = ensure_index(spark, sf_dir)
    res = payload_score_frame(spark, meta, term.lower(), func)
    return _ranked(spark, meta, res, k, score="payload_score")


def gate_payload_check(
    spark: SparkSession, sf_dir: str, phrase: str, payloads: list[int], k: int = 10
) -> DataFrame:
    """{!payload_check f=text v=phrase payloads=...}: docs where the
    exact phrase occurs with the given payload at every slot of at least
    one occurrence (PayloadCheckQParserPlugin.java:1; Lucene
    SpanPayloadCheckQuery). Constant-score rewrite, tie-broken
    (source, doc_id) — the same contract as the other span paths. Zero
    content access: phrase adjacency AND payload equality are both
    verified from positional postings."""
    from .analysis import analyze_query
    from .positions import payload_check_frame

    meta = ensure_index(spark, sf_dir)
    terms = analyze_query(phrase)
    if not terms:
        return spark.createDataFrame([], "doc_id bigint, score double").limit(0)
    return _constant_ranked(spark, meta, payload_check_frame(spark, meta, terms, payloads), k)

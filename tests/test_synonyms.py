"""Index-time SynonymGraph injection (analysis.SynonymGraph) — the
index-analyzer synonymGraph + flattenGraph slot (managed-schema.xml text
fieldTypes; lucene/analysis/common/.../synonym/SynonymGraphFilter.java,
FlattenGraphFilter.java). Pins the contract:

  * expand=true: originals kept, RHS tokens ADDED
  * flattened-graph positions: j-th RHS token at match_start + j,
    overlapping originals
  * posInc-0 semantics: injected tokens never shift original positions
    and never count toward doclen (Lucene discountOverlaps=true)
  * matching runs on the post-stop, pre-stem surviving-token stream
  * the persisted synonym table is part of the index contract (delta
    segments inherit it; the positional build reads it from meta)
"""

import numpy as np
import pandas as pd
import pytest


def _flat(texts):
    from solr_spark.analysis import surviving_positions, tokenize_arrow

    flat, parent = tokenize_arrow(pd.Series(texts))
    par = parent.to_numpy().astype(np.int64)
    return flat, par, surviving_positions(par)


# ---------------------------------------------------------------------------
# rule validation


def test_rule_validation():
    from solr_spark.analysis import SynonymGraph

    with pytest.raises(ValueError):
        SynonymGraph({"the": ["join"]})  # stopword LHS
    with pytest.raises(ValueError):
        SynonymGraph({"merge": ["JOIN"]})  # not an analyzed token
    with pytest.raises(ValueError):
        SynonymGraph({"merge": [""]})  # empty RHS
    with pytest.raises(ValueError):
        SynonymGraph({"foo-bar": ["x"]})  # punctuation never survives
    g = SynonymGraph({"new york": "ny", "ml": ["machine learning"]})
    assert g.to_meta() == {"new york": ["ny"], "ml": ["machine learning"]}


# ---------------------------------------------------------------------------
# vectorized matching


def test_single_token_injection():
    from solr_spark.analysis import SynonymGraph

    flat, par, pos = _flat(["merge the windows", "join windows"])
    add = SynonymGraph({"merge": ["join"]}).additions(flat, par, pos)
    atoks, apar, apos = add
    assert atoks.to_pylist() == ["join"]
    assert apar.tolist() == [0] and apos.tolist() == [0]


def test_multi_token_lhs_adjacency():
    from solr_spark.analysis import SynonymGraph

    g = SynonymGraph({"new york": ["ny"]})
    # stopword gap: 'the' is removed BEFORE matching, so 'new the york'
    # IS adjacent in surviving positions — the pinned post-stop contract
    flat, par, pos = _flat(["new the york city", "york new"])
    atoks, apar, apos = g.additions(flat, par, pos)
    assert atoks.to_pylist() == ["ny"]
    assert apar.tolist() == [0] and apos.tolist() == [0]
    # a span must not cross a document boundary even when array-adjacent
    flat, par, pos = _flat(["ends with new", "york starts"])
    assert g.additions(flat, par, pos) is None
    # non-adjacent real token between: no match
    flat, par, pos = _flat(["new big york"])
    assert g.additions(flat, par, pos) is None


def test_multi_token_rhs_flattened_positions():
    from solr_spark.analysis import SynonymGraph

    flat, par, pos = _flat(["use ml daily"])
    atoks, apar, apos = SynonymGraph({"ml": ["machine learning"]}).additions(
        flat, par, pos
    )
    # machine lands AT the match position, learning at +1 (flattened
    # graph: it overlaps the original 'daily'@2)
    assert list(zip(atoks.to_pylist(), apos.tolist())) == [
        ("machine", 1), ("learning", 2)
    ]


# ---------------------------------------------------------------------------
# tf / doclen semantics


def test_term_frequencies_discount_overlaps():
    from solr_spark.analysis import SynonymGraph, term_frequencies

    g = SynonymGraph({"merge": ["join"]})
    triples, doclens = term_frequencies(
        np.array([0, 1]), pd.Series(["merge the windows", "join windows"]),
        synonyms=g,
    )
    tf = {(int(r.docid), r.term): int(r.tf) for r in triples.itertuples()}
    assert tf[(0, "merge")] == 1 and tf[(0, "join")] == 1  # injected
    assert tf[(1, "join")] == 1 and tf[(0, "join")] == 1
    # doclen excludes the injected token (discountOverlaps)
    assert doclens.set_index("docid")["doclen"].to_dict() == {0: 2, 1: 2}
    dl_col = {int(r.docid): int(r.doclen) for r in triples.itertuples()}
    assert dl_col == {0: 2, 1: 2}


def test_injection_composes_with_stemmer():
    from solr_spark.analysis import ANALYZERS, SynonymGraph, term_frequencies

    # injected tokens pass through the dictionary stemmer like originals
    triples, _ = term_frequencies(
        np.array([0]), pd.Series(["merge code"]),
        term_transform=ANALYZERS["code_stem"],
        synonyms=SynonymGraph({"merge": ["joins"]}),
    )
    terms = set(triples["term"])
    assert "join" in terms and "joins" not in terms  # s_stem applied


# ---------------------------------------------------------------------------
# positional index semantics


def test_position_lists_injection_sorted():
    from solr_spark.analysis import SynonymGraph
    from solr_spark.positions import position_lists

    out = position_lists(
        np.array([7]), pd.Series(["use ml daily"]),
        synonyms=SynonymGraph({"ml": ["machine learning"]}),
    )
    rows = {r.term: list(r.positions) for r in out.itertuples()}
    assert rows == {
        "use": [0], "ml": [1], "daily": [2],
        "machine": [1], "learning": [2],
    }
    # injected occurrence of a term the doc also contains: positions for
    # that term must come back ascending (the lexsort path)
    out = position_lists(
        np.array([0]), pd.Series(["learning ml fast"]),
        synonyms=SynonymGraph({"ml": ["machine learning"]}),
    )
    rows = {r.term: list(r.positions) for r in out.itertuples()}
    assert rows["learning"] == [0, 2] and rows["machine"] == [1]
    for p in rows.values():
        assert p == sorted(p)


# ---------------------------------------------------------------------------
# end-to-end: postings carry injected occurrences; phrases match through


@pytest.fixture(scope="module")
def syn_index(spark, tmp_path_factory):
    from solr_spark.indexer import build_index
    from solr_spark.positions import build_positions

    docs = [
        ("r0", "0", "c", "py", "we use ml for ranking"),
        ("r0", "1", "c", "py", "machine learning ranks results"),
        ("r0", "2", "c", "py", "merge the sorted runs"),
        ("r1", "3", "c", "py", "join orders with customers"),
        ("r1", "4", "c", "py", "no relevant terms here"),
    ]
    df = spark.createDataFrame(
        docs, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path_factory.mktemp("synidx") / "idx")
    meta = build_index(
        spark, df, out, bucket_docs=64,
        synonyms={"ml": ["machine learning"], "merge": ["join"]},
    )
    return build_positions(spark, df, meta)


def test_meta_persists_synonyms(syn_index):
    from solr_spark.indexer import IndexMeta

    loaded = IndexMeta.load(syn_index.out_dir)
    assert loaded.synonyms == {"ml": ["machine learning"], "merge": ["join"]}


def test_phrase_matches_through_synonym(spark, syn_index):
    from solr_spark.positions import phrase_tf_frame

    got = {
        int(r["docid"]): int(r["phrase_tf"])
        for r in phrase_tf_frame(
            spark, syn_index, ["machine", "learning"]
        ).collect()
    }
    # docid = ordinal of the (repo, path, commit) sort = path here.
    # doc 0 contains only 'ml' — the injected flattened positions
    # machine@p, learning@p+1 make the phrase match with tf 1; doc 1
    # contains the literal phrase.
    assert got == {0: 1, 1: 1}


def test_term_query_statistics_shift(spark, syn_index):
    from solr_spark import kernel
    from solr_spark.qparser import parse

    res = kernel.search(spark, syn_index, parse("join"), k=10).collect()
    docids = {int(r["docid"]) for r in res}
    assert docids == {2, 3}  # merge-doc matched via injection


def test_delta_segment_inherits_synonyms(spark, syn_index, tmp_path_factory):
    from solr_spark.segments import IndexView, add_segment

    new = spark.createDataFrame(
        [("r2", "9", "c", "py", "another ml mention")],
        "repo string, path string, commit string, lang string, content string",
    )
    out = str(tmp_path_factory.mktemp("synseg"))
    view = add_segment(spark, IndexView(segments=[syn_index]), new, out)
    assert getattr(view.segments[1], "synonyms", None) == syn_index.synonyms


# ---------------------------------------------------------------------------
# SQL mirror agreement (the oracle's independent expansion)


def test_sql_mirror_matches_engine_tf():
    import duckdb

    from solr_spark.analysis import SynonymGraph, term_frequencies
    from solr_spark.oracle import synonym_toks_sql

    rules = {"merge": ["join"], "spark": ["flink", "beam"]}
    texts = [
        "merge spark jobs and merge again",
        "the spark join path",
        "nothing to expand",
    ]
    triples, _ = term_frequencies(
        np.arange(3), pd.Series(texts), synonyms=SynonymGraph(rules)
    )
    got = {
        (int(r.docid), r.term): int(r.tf) for r in triples.itertuples()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text)"
    )
    want = {
        (int(d), t): int(c)
        for d, t, c in con.execute(
            f"SELECT doc_id, term, count(*) FROM (SELECT doc_id, "
            f"unnest({synonym_toks_sql(rules)}) AS term FROM documents) "
            "GROUP BY doc_id, term"
        ).fetchall()
    }
    con.close()
    assert got == want
    with pytest.raises(ValueError):
        synonym_toks_sql({"new york": ["ny"]})  # multi-token LHS: pytest-only

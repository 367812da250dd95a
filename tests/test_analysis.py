import numpy as np
import pandas as pd

from solr_spark.analysis import (
    STOPWORDS,
    analyze_query,
    s_stem,
    term_frequencies,
    tokenize_lists,
)


def test_tokenize_basic():
    s = pd.Series(["public static void Main() { int x_1 = 0; }"])
    toks = tokenize_lists(s).iloc[0]
    assert toks == ["public", "static", "void", "main", "int", "x_1", "0"]


def test_stopwords_dropped_and_case_folded():
    s = pd.Series(["The License IS in THE file"])
    assert tokenize_lists(s).iloc[0] == ["license", "file"]
    assert "the" in STOPWORDS and len(STOPWORDS) == 33


def test_term_frequencies_and_doclen():
    ids = np.array([10, 11, 12], dtype=np.int64)
    texts = pd.Series(["foo bar foo", "the and of", ""])
    triples, dls = term_frequencies(ids, texts)
    got = {(r.docid, r.term): r.tf for r in triples.itertuples()}
    assert got == {(10, "foo"): 2, (10, "bar"): 1}
    assert dict(zip(dls.docid, dls.doclen)) == {10: 3, 11: 0, 12: 0}


def test_analyze_query_multiplicity():
    assert analyze_query("Foo the foo BAR") == ["foo", "foo", "bar"]


def test_snake_and_camel():
    s = pd.Series(["getFooBar snake_case_id x9"])
    assert tokenize_lists(s).iloc[0] == ["getfoobar", "snake_case_id", "x9"]


def test_s_stem_rules():
    # Harman 1991 three-rule S-stemmer + the length guard
    assert s_stem("queries") == "query"
    assert s_stem("bodies") == "body"
    assert s_stem("eies") == "eies" and s_stem("aies") == "aies"
    assert s_stem("merges") == "merge"
    assert s_stem("windows") == "window"
    assert s_stem("classes") == "classe"  # rule 2 drops one 's' only
    assert s_stem("trees") == "trees"  # 'ees' exception
    assert s_stem("goes") == "goes"  # 'oes' exception
    assert s_stem("status") == "status"  # 'us' exception
    assert s_stem("class") == "class"  # 'ss' exception
    assert s_stem("is") == "is" and s_stem("as") == "as"  # length guard
    assert s_stem("window") == "window"  # no suffix


def test_term_frequencies_stem_transform_merges_tfs():
    """The dictionary-level transform merges colliding stems' tfs and
    leaves doclen untouched (doclen counts surviving tokens pre-stem)."""
    ids = np.array([0], dtype=np.int64)
    texts = pd.Series(["window windows merge merges merge"])
    triples, dls = term_frequencies(ids, texts, term_transform=s_stem)
    got = {r.term: r.tf for r in triples.itertuples()}
    assert got == {"window": 2, "merge": 3}
    assert dls["doclen"].tolist() == [5]

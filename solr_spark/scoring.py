"""BM25 scoring — the correctness contract of the whole engine.

Formula (reference defaults: k1=1.2, b=0.75, discountOverlaps=true —
solr/core/src/java/org/apache/solr/search/similarities/
BM25SimilarityFactory.java:47-50; default similarity per
SchemaSimilarityFactory.java:34-38):

    idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    tfnorm(t,d)= tf * (k1+1) / (tf + k1 * (1 - b + b * dl_d / avgdl))
    score(q,d) = sum over matching clauses of idf(t) * tfnorm(t,d)

Pinned deviations from Lucene internals (documented per SURVEY.md §4):
  - dl_d is the EXACT post-stopword token count (Lucene quantizes the
    norm to 1 byte via SmallFloat; our pytest oracle uses exact doclen).
  - avgdl = sum(doclen) / N over ALL docs in the corpus (N = row count).
Ties broken by ascending docid (mergeIds queue semantics,
solr/core/src/java/org/apache/solr/handler/component/
ShardFieldSortedHitQueue.java).

The formula has one numpy form (idf, tfnorm, accumulate, top_k — which
kernel._Scorer calls on the driver path and, one bucket at a time, in
the cogroup's kernel) and one Catalyst form (idf_col, tfnorm_col —
phrase clauses and per-term contribution columns). bm25_pandas_oracle
is the independent reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def tfnorm(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float = K1, b: float = B) -> np.ndarray:
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def idf_col(df: Column, n_docs: int) -> Column:
    """idf as a Catalyst expression — the literal shape the DuckDB phrase
    oracles mirror (gate._PHRASE_SQL: ln(1.0 + (n - df + 0.5) / (df + 0.5)))."""
    return F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - df + F.lit(0.5)) / (df + F.lit(0.5))
    )


def tfnorm_col(tf: Column, dl: Column, avgdl: float) -> Column:
    """tfnorm as a Catalyst expression with the exact literal shape of
    ``tfnorm`` and of the DuckDB oracles, so per-row values are
    bit-identical to the numpy kernel's."""
    tf = tf.cast("double")
    return tf * (F.lit(K1) + F.lit(1.0)) / (
        tf + F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * dl.cast("double") / F.lit(avgdl))
    )


def accumulate(
    hits: dict,
    weights: dict[str, float],
    idfs: dict[str, float],
    dl: np.ndarray,
    avgdl: float,
    alive: np.ndarray,
    required=(),
    prohibited=(),
    groups=(),
) -> tuple[np.ndarray, np.ndarray]:
    """Score one docid space (the touched buckets of a query, or one
    bucket in the cogroup).

    ``hits``: term -> (docid indices into ``dl``/``alive``, tfs, ...) for
    the terms present in this space; ``weights``: term -> multiplicity x
    boost of the scoring clauses. Terms are summed in sorted order, so
    the float accumulation order is fixed for every caller.

    A doc is a candidate if it is alive, matched a scoring term, holds
    every ``required`` term (or, with MUST ``groups``, at least one term
    of every group) and no ``prohibited`` term. Returns (candidate
    docids ascending, their scores)."""
    scores = np.zeros(dl.size, np.float64)
    matched = np.zeros(dl.size, bool)
    req = set(required)
    req_count = np.zeros(dl.size, np.int16) if req else None
    grp_hit = np.zeros((dl.size, len(groups)), bool) if groups else None
    for t in sorted(weights):
        hit = hits.get(t)
        if hit is None:
            continue
        d, tf = hit[0], hit[1]
        w = weights[t] * idfs[t]
        scores[d] += w * tfnorm(tf, dl[d], avgdl)
        matched[d] = True
        if t in req:
            req_count[d] += 1
        if grp_hit is not None:
            for gi, g in enumerate(groups):
                if t in g:
                    grp_hit[d, gi] = True
    if grp_hit is not None:
        mask = alive & matched & grp_hit.all(axis=1)
    elif req:
        mask = alive & (req_count == len(req))
    else:
        mask = alive & matched
    for t in prohibited:
        hit = hits.get(t)
        if hit is not None:
            mask[hit[0]] = False
    cand = np.flatnonzero(mask)
    return cand, scores[cand]


def top_k(cand: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact top k of (cand, scores) by (score desc, docid asc); k <= 0
    selects nothing."""
    if k <= 0 or cand.size == 0:
        return cand[:0], scores[:0]
    if cand.size > 4 * k:
        # keep everything >= the k-th largest score (ties included), then
        # lexsort the remnant: an O(n) partition instead of an
        # O(n log n) full sort over a hot term's candidate set
        kth = np.partition(scores, cand.size - k)[cand.size - k]
        keep = scores >= kth
        cand, scores = cand[keep], scores[keep]
    sel = np.lexsort((cand, -scores))[:k]
    return cand[sel], scores[sel]


def bm25_pandas_oracle(
    docs: "list[list[str]]", query_terms: list[str], k: int
) -> list[tuple[int, float]]:
    """Independent brute-force oracle (pure python/numpy, no Spark):
    docs[i] = token list of docid i. Returns [(docid, score)] top-k,
    score desc, docid asc. Used only by tests."""
    n = len(docs)
    if n == 0:
        return []
    dls = np.array([len(d) for d in docs], dtype=np.float64)
    avgdl = dls.sum() / n
    scores = np.zeros(n, dtype=np.float64)
    matched = np.zeros(n, dtype=bool)
    for t in query_terms:
        tf = np.array([d.count(t) for d in docs], dtype=np.float64)
        has = tf > 0
        df_t = int(has.sum())
        if df_t == 0:
            continue
        w = idf(df_t, n)
        scores[has] += w * tfnorm(tf[has], dls[has], avgdl)
        matched |= has
    cand = np.flatnonzero(matched)
    order = sorted(cand, key=lambda i: (-scores[i], i))[:k]
    return [(int(i), float(scores[i])) for i in order]

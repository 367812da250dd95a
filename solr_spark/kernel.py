"""Distributed top-k BM25 query execution over the bucketed index.

The Spark shape of the reference's two-phase distributed search
(solr/core/src/java/org/apache/solr/handler/component/QueryComponent.java:747-1087):

  stage 1  parquet scan of postings WHERE term IN (query terms) — term-sorted
           layout makes this a pruned scan (predicate pushdown + row-group
           stats), the analog of the term-dictionary seek
  stage 2  per-bucket scoring kernel (cogroup postings x bucket_stats by
           docid bucket): the _Scorer's numpy dense scatter-add of BM25
           contributions over the bucket, or posting intersection with
           block skipping for conjunctions, block-max pruning for
           single-term queries (the reference's WAND path,
           SolrIndexSearcher.java:1786 minNumFound -> Lucene BMW)
  stage 3  per-bucket top-k heaps -> global orderBy(score desc, docid).limit(k)
           (Spark TakeOrdered == mergeIds' ShardFieldSortedHitQueue,
           QueryComponent.java:879-914)
  stage 4  (optional) join winners back to doc_stats for stored fields —
           the reference's second PURPOSE_GET_FIELDS phase, so content-sized
           columns never ride the scoring path

A sorted top-k query whose work (its postings plus the doc slots of the
buckets they touch) fits DRIVER_MAX_POSTINGS runs in the driver, as the
reference scores a shard inside its searcher process, and runs no Spark
job: stage 1 is a pyarrow read of the postings files Spark lists for
the table (DataFrame.inputFiles, metadata only; the same filesystem
assumption as build stage 3a, whose tasks read staging files with
pyarrow), which also yields the exact df, decoded in one pass and kept
per term in the searcher's postings cache; the doclens are read the
same way into the bucket-row cache; one _Scorer pass scores the doc
space of every touched bucket at once (the whole-list vectorized
scoring of a columnar index), no pruning needed, and the result is a
local relation. Searcher.local_topk is the same path returning a
list. Unsorted queries, which need every match to stay distributed,
and over-bound ones run the Spark plan above, whose kernel is the
same _Scorer on one bucket.

The docs side is always the bucket's bucket_stats row. Deletes and
filters (the reference's cached filter DocSets) are bucket -> local
docid masks that the kernel applies to its ``alive`` mask on both paths.

Stage 1 is also the only df source: a postings row carries its
(term, bucket) df, and a term's df is the sum of its rows. Every index
has every table, so the searcher probes for none.

Every entry point takes an IndexMeta or a segments.IndexView and reads
its tables through indexer.index_table, across every segment. As in the
reference's searcher, a view's deleted docs stop matching at once (no
per-doc output holds them) while df, idf, n_docs, avgdl and the
term-frequency totals count them until a merge.

Exactness contract: results (docids AND float64 scores) are identical with
pruning on or off, on the driver path or the cogroup, at any parallelism
— tested in tests/test_index_search.py::test_prune_equals_noprune and
tests/test_driver_topk.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial, reduce

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import decode_blocks, decode_postings, decode_runs
from .indexer import IndexMeta, _strip_file_scheme, bucket_local, index_table
from .qparser import Query, parse
from .scoring import accumulate, tfnorm, tfnorm_col, top_k
from .scoring import idf as idf_fn

RESULT_SCHEMA = "docid bigint, score double"
_NO_HITS = np.empty(0, np.int64), np.empty(0, np.float64)

# Work a sorted top-k query may do in the driver: its postings plus the
# doc slots (bucket_docs each) of the buckets they touch. Postings are
# bounded before the scan (by df), the docs side before it is fetched;
# over the bound the query runs the cogroup. Also the driver-memory bound
# of one query, and of a searcher's postings, bucket-row and filter
# caches. Up to this work every measured driver query beat the cogroup's
# fastest query by over 0.2 s, a floor (a job and a Python-worker stage)
# that more executors do not lower; at 2.2M work the margin was 0.07 s
# on a 118-bucket index (BASELINE.md, "Where the driver path and the
# cogroup cross"; scripts/driver_crossover.py).
DRIVER_MAX_POSTINGS = 1_000_000


@dataclass
class _Scorer:
    """One query's BM25 scorer over the doc space of some buckets: the
    driver path scores every bucket a query touches in one pass, and
    the cogroup's kernel one bucket at a time (``_bucket_kernel``).

    ``keep``: the query's filter mask, bucket -> sorted bucket-local
    docids that pass every filter (a bucket absent from it keeps no
    doc); ``None`` for an unfiltered query. ``dead``: the live-docs
    mask, bucket -> sorted bucket-local docids deleted in it (Lucene's
    liveDocs). Both are applied to ``alive`` when the doc space is
    built, before any scoring or pruning, so no prune threshold,
    accumulation or count ever sees a filtered-out or deleted doc.

    ``groups``: MUST groups (each = "match >= 1 of these terms") — the
    SynonymQuery-in-MUST shape; a candidate satisfies every group."""

    weights: dict
    idfs: dict
    required: list
    prohibited: list
    groups: list
    keep: dict | None
    dead: dict
    avgdl: float
    bucket_docs: int
    k: int

    def space(self, buckets: list[int], doclens: list[np.ndarray]) -> tuple:
        """(dl, alive) over the doc space of ``buckets``: slot
        ``i * bucket_docs + j`` holds local doc j of bucket
        ``buckets[i]``, whose doclens are ``doclens[i]``; the space ends
        with the last bucket's last doc. A slot past a bucket's last doc
        stays alive, harmlessly: no posting lands there."""
        B = self.bucket_docs
        # every bucket but the last spans B slots: pad one that ends early
        parts = [d if len(d) == B else np.pad(d, (0, B - len(d))) for d in doclens[:-1]]
        dl = np.concatenate(parts + doclens[-1:]) if parts else doclens[0]  # read only
        alive = np.ones(dl.size, bool) if self.keep is None else np.zeros(dl.size, bool)
        for i, b in enumerate(buckets if self.keep is not None or self.dead else ()):
            if self.keep is not None and b in self.keep:
                alive[i * B + self.keep[b]] = True
            if b in self.dead:
                alive[i * B + self.dead[b]] = False
        return dl, alive

    def __call__(self, buckets: list[int], doclens: list[np.ndarray], hits: dict) -> tuple:
        """The top k of ``buckets`` (sorted) as (docids, scores), by
        (score desc, docid asc). ``hits``: term -> (docids, tfs, ...)
        of the query terms (prohibited ones too) in those buckets."""
        B = self.bucket_docs
        dl, alive = self.space(buckets, doclens)
        remap = buckets[-1] != len(buckets) - 1  # else buckets == range(n): slot == docid
        if remap:  # a doc of bucket buckets[i] sits at slot docid - off[i]
            bk = np.asarray(buckets, np.int64)
            off = (bk - np.arange(bk.size)) * B
            hits = {t: (h[0] - off[np.searchsorted(bk, h[0] // B)], h[1])
                    for t, h in hits.items()}
        cand, sc = top_k(*accumulate(
            hits, self.weights, self.idfs, dl, self.avgdl, alive,
            self.required, self.prohibited, self.groups,
        ), self.k)
        return (cand + off[cand // B] if remap else cand), sc


def _bucket_kernel(s: _Scorer, prune: bool):
    """The cogroup's per-bucket function (pure numpy inside): the
    bucket's postings rows and its bucket_stats row (the doclens, indexed
    by bucket-local docid; indexer stage 2b) -> its top k. It is the
    driver's scorer on one bucket, except that with ``prune`` a
    single-term query takes block-max pruning and a pure conjunction
    the block-skipping intersection, over the same (dl, alive)
    (``_Scorer.space``). MUST groups need the general matching mask, so
    they never prune."""
    scoring_terms = sorted(s.weights)          # fixed order -> deterministic fp sums
    n_req = len(set(s.required))
    prune = prune and not s.groups
    single = prune and n_req == 0 and len(scoring_terms) == 1
    conj = prune and n_req >= 2 and n_req == len(scoring_terms)
    B = s.bucket_docs

    def kern(post_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"docid": np.array([], np.int64), "score": np.array([], np.float64)})
        if len(post_pdf) == 0 or len(docs_pdf) == 0:
            return empty
        bucket = int(post_pdf["bucket"].iloc[0])
        base = bucket * B
        dls = [np.asarray(docs_pdf["doclens"].iloc[0], dtype=np.float64)]
        rows = {r["term"]: r for _, r in post_pdf.iterrows()}

        def hit(t):
            r = rows[t]
            return decode_postings(r["doc_bytes"], r["tf_bytes"], int(r["df"]), base)

        if not (single or conj):
            docid, sc = s([bucket], dls, {t: hit(t) for t in rows})
        else:
            dl, alive = s.space([bucket], dls)
            # prohibited terms only kill candidates; dead before any
            # prune, so no threshold counts a prohibited doc
            for t in s.prohibited:
                if t in rows:
                    alive[hit(t)[0] - base] = False
            t = scoring_terms[0]
            if single and t not in rows:
                return empty
            cand, sc = top_k(*(
                _score_single_pruned(rows[t], s.weights[t] * s.idfs[t], s, base, dl, alive)
                if single else _score_conjunction_pruned(rows, scoring_terms, s, base, dl, alive)
            ), s.k)
            docid = cand + base
        return pd.DataFrame({"docid": docid.astype(np.int64), "score": sc})

    return kern


def _score_single_pruned(r, w, s: _Scorer, base, dl, alive) -> tuple:
    """Single-term block-max pruning: decode blocks in descending bound
    order, stop once the kth-best exact score beats the next block bound.
    Exact because a skipped block's every posting is <= its bound.
    ``w``: the term's weight x idf. Returns the alive bucket-local
    candidates (ascending) and their scores."""
    avgdl, k = s.avgdl, s.k
    scores = np.zeros(dl.size, dtype=np.float64)
    matched = np.zeros(dl.size, dtype=bool)
    max_tf = np.asarray(r["block_max_tf"], dtype=np.float64)
    min_dl = np.asarray(r["block_min_dl"], dtype=np.float64)
    bounds = w * tfnorm(max_tf, min_dl, avgdl)
    order = np.argsort(-bounds, kind="stable")
    offs_d = np.asarray(r["block_offs_doc"], dtype=np.int64)
    offs_t = np.asarray(r["block_offs_tf"], dtype=np.int64)
    last = np.asarray(r["block_last"], dtype=np.int64)
    df = int(r["df"])
    keep = np.zeros(len(order), dtype=bool)
    heap_scores: list[float] = []
    for bi in order:
        # strict <: a block bound EQUAL to the kth score may hold an
        # equal-score doc with a smaller docid, which wins the
        # (score desc, docid asc) tie — skipping it would break the
        # pruned == unpruned exactness contract
        if len(heap_scores) >= k and bounds[bi] < heap_scores[k - 1]:
            break
        keep[:] = False
        keep[bi] = True
        d, tf = decode_blocks(
            r["doc_bytes"], r["tf_bytes"], offs_d, offs_t, df, base, keep, last
        )
        loc = d - base
        contrib = w * tfnorm(tf, dl[loc], avgdl)
        scores[loc] += contrib
        matched[loc] = True
        live = contrib[alive[loc]]
        heap_scores = sorted(heap_scores + live.tolist(), reverse=True)[: k]
    cand = np.flatnonzero(alive & matched)
    return cand, scores[cand]


def _score_conjunction_pruned(rows, terms, s: _Scorer, base, dl, alive) -> tuple:
    """Pure-AND path: galloping posting-list intersection with block
    skipping. Decode the rarest term fully; for each further term decode
    only blocks whose docid range intersects surviving candidates.
    Returns the alive bucket-local docids holding every term
    (ascending) and their scores."""
    infos = []
    for t in terms:
        r = rows.get(t)
        if r is None:
            return _NO_HITS  # a required term absent from bucket -> no matches
        infos.append((int(r["df"]), t, r))
    infos.sort()
    df0, t0, r0 = infos[0]
    cand, tf0 = decode_postings(r0["doc_bytes"], r0["tf_bytes"], df0, base)
    term_hits = {t0: (cand, tf0)}
    for dfi, ti, ri in infos[1:]:
        if cand.size == 0:
            return _NO_HITS
        last = np.asarray(ri["block_last"], dtype=np.int64)
        nb = len(last)
        first = np.empty(nb, dtype=np.int64)
        first[0] = base
        first[1:] = last[:-1] + 1  # block i starts after block i-1's last docid
        lo = np.searchsorted(cand, first, side="left")
        hi = np.searchsorted(cand, last, side="right")
        keep = hi > lo
        d, tf = decode_blocks(
            ri["doc_bytes"], ri["tf_bytes"],
            np.asarray(ri["block_offs_doc"], np.int64),
            np.asarray(ri["block_offs_tf"], np.int64),
            dfi, base, keep, last,
        )
        pos = np.searchsorted(d, cand)
        pos_ok = pos < d.size
        hit = np.zeros(cand.shape, dtype=bool)
        hit[pos_ok] = d[pos[pos_ok]] == cand[pos_ok]
        cand = cand[hit]
        # narrow all previous terms' hit arrays lazily at the end instead
        term_hits[ti] = (d, tf)
    cand = cand[alive[cand - base]]
    loc, sc = cand - base, np.zeros(cand.size, np.float64)
    # alphabetical term order — identical fp accumulation order to the
    # unpruned path (exactness contract: prune on == prune off, bit-for-bit)
    for t in sorted(term_hits):
        d, tf = term_hits[t]
        sel_tf = tf[np.searchsorted(d, cand)]
        sc += s.weights[t] * s.idfs[t] * tfnorm(sel_tf, dl[loc], s.avgdl)
    return loc, sc


def _decode_rows(pdf: pd.DataFrame, bucket_docs: int) -> tuple:
    """Decode every postings row of ``pdf`` in row order →
    (postings per row, docids, tfs), the last two concatenated: the
    rows' streams back to back through one codec.decode_runs."""
    lens = pdf["df"].to_numpy(np.int64)
    d, tf = decode_runs(
        b"".join(pdf["doc_bytes"]), b"".join(pdf["tf_bytes"]),
        lens, pdf["bucket"].to_numpy(np.int64) * bucket_docs,
    )
    return lens, d, tf


def _isin(col: str, values: list):
    """pyarrow filter ``col in values``. The explicit [min, max] range
    lets the parquet row-group statistics of the term- and
    bucket-sorted tables prune the read; pyarrow prunes nothing for a
    bare ``isin``."""
    f = ds.field(col)
    if not values:
        return f.isin(values)
    return (f >= min(values)) & (f <= max(values)) & f.isin(values)


def _lru(cache: dict, keys: list, fetch, size, keep: int = 0) -> tuple[dict, int]:
    """The entries of ``keys`` in the LRU dict ``cache`` (most recently
    used last), ``fetch(missing)`` filling its misses, and how many of
    them the cache served. After a miss the least recently used entries
    are dropped while their ``size`` sum exceeds DRIVER_MAX_POSTINGS,
    down to the ``keep`` most recent, so a cache never holds more than
    one over-bound query could fetch. A query's own postings and doc
    slots are within that bound, so its entries always stay."""
    got = {key: cache.pop(key) for key in keys if key in cache}
    served = len(got)
    if served < len(keys):
        got.update(fetch([key for key in keys if key not in got]))
    cache.update(got)
    held = sum(map(size, cache.values())) if served < len(keys) else 0
    while len(cache) > keep and held > DRIVER_MAX_POSTINGS:
        held -= size(cache.pop(next(iter(cache))))
    return got, served


@dataclass
class QueryTrace:
    """What one ``Searcher.search`` or ``local_topk`` call did: the path
    that scored it ("driver" or "cogroup"), why it took the cogroup
    (``None``, "unsorted", "postings bound", or "docs bound" when the
    postings fit but the docs of the buckets they touch do not), the
    postings rows read into the driver and how many of the query's
    terms the postings cache served, the buckets scored there and how
    many of those the bucket-row cache served (0 on the cogroup path),
    and how many of the query's filter masks (one per filter field) the
    filter cache served, on either path."""

    path: str = "driver"
    reason: str | None = None
    postings_rows: int = 0
    cached_terms: int = 0
    buckets: int = 0
    cached_buckets: int = 0
    cached_filters: int = 0


class Searcher:
    """Warm query session over one index. The reference analog is
    SolrIndexSearcher, which reads its postings in-process
    (solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:894-986).

    ``meta`` is one IndexMeta or a segments.IndexView; each table is read
    through indexer.index_table, one multi-path scan across every
    segment (buckets never straddle segments, so the kernel needs no
    merge logic). ``postings``, ``docs`` and ``bucket_stats`` are those
    Spark DataFrames, which the cogroup reads. Opening the searcher also
    lists their files once (``DataFrame.inputFiles``, metadata only), and
    the driver path reads those files with pyarrow (``_read``), the
    filesystem assumption of build stage 3a: a bounded query runs no
    Spark job. Postings rows are the only df source. Given delete keys,
    the searcher resolves them once to ``dead``, the live-docs mask
    (bucket -> sorted bucket-local deleted docids) that every query
    applies; an IndexMeta has none and resolves nothing. ``cache`` is
    accepted for existing callers and changes nothing: Spark caching a
    table would hide its files from ``inputFiles`` for every later
    reader in the session, and a searcher opened while a frame of its
    tables is cached raises.

    Four driver caches serve the driver path: the df of every term
    queried so far; the decoded postings of recent query terms, term ->
    (docids, tfs, buckets); the ``bucket_stats`` doclens of the buckets
    recent bounded queries touched; and the filter cache (the
    reference's filterCache), each distinct filter resolved on first
    use, never at open, to its sorted docids (``_filter_mask``). The
    last three are LRU (``_lru``), capped at DRIVER_MAX_POSTINGS
    postings, doc slots or docids. The caches and the live-docs mask
    belong to this searcher alone — a view that adds segments or deletes
    gets a new searcher. ``last_trace`` is the QueryTrace of the latest
    ``search``, ``local_topk`` or ``warm_local``."""

    def __init__(self, spark: SparkSession, meta: IndexMeta, cache: bool = True):
        self.spark = spark
        self.meta = meta
        self.dead = meta.dead_docids(spark) if meta.delete_keys else {}
        self.postings = index_table(spark, meta, "postings")
        self.docs = index_table(spark, meta, "docs")
        self.bucket_stats = index_table(spark, meta, "bucket_stats")
        self._tables = {}
        for t in ("postings", "docs", "bucket_stats"):
            files = getattr(self, t).inputFiles()
            if not files:
                # inputFiles() lists nothing for a table Spark holds cached
                raise ValueError(
                    f"Spark lists no {t} files; unpersist any cached frame of "
                    "this index's tables before opening a Searcher"
                )
            self._tables[t] = ds.dataset([_strip_file_scheme(f) for f in files],
                                         format="parquet")
        # driver-side df cache for QUERY terms only (bounded by the terms
        # actually queried, never the vocabulary) — the term-dictionary-
        # in-heap part of SolrIndexSearcher; absent terms cache df=0
        self._df_cache: dict[str, int] = {}
        self._decoded: dict[str, tuple] = {}
        self._bucket_rows: dict[int, np.ndarray] = {}
        self._filter_masks: dict[tuple, np.ndarray] = {}
        self.last_trace: QueryTrace | None = None

    def warm_local(self, terms: list[str]) -> dict:
        """Pre-fill the df, postings and bucket-row caches with ``terms``
        and the buckets they touch, so that queries over them (``search``
        or ``local_topk``) read nothing: the reference keeps hot postings
        and norms resident in the searcher process. The caches keep
        their bound, so past DRIVER_MAX_POSTINGS postings only the most
        recently read terms stay. Returns the number of terms and of
        their postings the cache holds."""
        self.last_trace = QueryTrace()
        toks = sorted({t.lower() for t in terms})
        got = self._postings(toks)
        self._doclens(sorted({b for h in got.values() for b in h[2]}))
        return {"terms": len(toks), "postings": sum(
            len(self._decoded[t][0]) for t in toks if t in self._decoded)}

    def local_topk(self, q: "str | Query", k: int = 10) -> list[tuple[int, float]]:
        """``search(q, k)`` as a list [(docid, score)], score desc, docid
        asc (empty for k <= 0): the same driver scorer, with no Spark
        frame around it, so a query whose terms and buckets the caches
        hold (``warm_local``) reads nothing and runs no Spark job. Only
        a query over the bound collects ``search``'s cogroup."""
        top = self._top(parse(q) if isinstance(q, str) else q, k)
        if isinstance(top, DataFrame):
            return [(int(r["docid"]), float(r["score"])) for r in top.collect()]
        return list(zip(top[0].tolist(), top[1].tolist()))

    def search(self, q: str | Query, k: int = 10, prune: bool = True,
               with_fields: bool = False, unsorted: bool = False) -> DataFrame:
        """Top-k BM25 search. Returns DataFrame(docid, score) ordered by
        (score desc, docid asc), limited to k; with_fields joins doc columns.
        ``unsorted=True`` returns ALL scored matches UNSORTED and
        UNLIMITED — the component mode for candidate generation, score
        folds and hit counts, where the downstream join/union discards
        order anyway. A sorted k=n_docs call
        would compile to orderBy().limit(n_docs) — a corpus-sized
        TakeOrderedAndProject funneling every match through ONE task at
        scale; unsorted mode keeps the result distributed.

        A sorted query whose postings and touched buckets' doc slots fit
        DRIVER_MAX_POSTINGS is scored in the driver with no Spark job:
        its decoded postings from the postings cache (a miss is one
        pruned pyarrow read and one decode pass), one _Scorer pass over
        every bucket it touches, and a local result relation. Unsorted
        and over-bound queries run the postings x bucket_stats cogroup,
        whose per-bucket kernel scores through the same _Scorer, so
        their results are equal. ``prune`` steers only the cogroup
        (block-max and conjunction pruning, exact either way); the
        driver path scores every posting. Filters are the cached docid
        mask ``_filter_mask`` on both paths; one that matches no doc
        returns the empty result at once.

        df comes from the postings rows: a df-cold query whose terms'
        postings (df <= n_docs each) fit the bound reads its rows once,
        and learns df from them; any other df-cold query first reads the
        same rows' (term, df) columns alone."""
        if unsorted and with_fields:
            # loud guard: the unsorted component frame deliberately skips
            # the stored-fields join (it feeds other components, not a
            # result page) — silently returning (docid, score) would break
            # callers expecting doc columns
            raise ValueError("with_fields is not supported with unsorted=True")
        out = self._top(parse(q) if isinstance(q, str) else q, k, prune, unsorted)
        if not isinstance(out, DataFrame):
            # a pandas frame becomes a local relation, and limit(0) folds
            # to an empty one: no job on collect
            out = self.spark.createDataFrame(
                pd.DataFrame({"docid": out[0], "score": out[1]}), RESULT_SCHEMA
            ) if len(out[0]) else self.spark.createDataFrame([], RESULT_SCHEMA).limit(0)
        if with_fields:
            out = out.join(self.docs.drop("bucket", "doclen"), "docid", "left") \
                .orderBy(F.desc("score"), F.asc("docid"))
        return out

    def _top(self, query: Query, k: int, prune: bool = True, unsorted: bool = False):
        """``query``'s top k: (docids, scores) arrays from the driver
        scorer, or the cogroup's DataFrame when the query is unsorted or
        over the bound. Sets ``last_trace``."""
        meta = self.meta
        if unsorted:
            # no global sort → pruning must keep every match; k only feeds
            # the block-max WAND heap, so pin it corpus-sized (no-op prune)
            k = meta.n_docs
        if query.multiterm:
            raise ValueError(
                "kernel.search does not expand multi-term clauses "
                "(prefix/wildcard/fuzzy); use engine.gate_search"
            )
        if query.phrases:
            # Positionless postings cannot verify adjacency; the engine layer
            # (engine.gate_search / engine.gate_phrase) combines this kernel
            # with positional postings. Failing loudly beats silently
            # scoring a phrase query as a bag of nothing.
            raise ValueError(
                "kernel.search does not execute phrase clauses; use "
                "engine.gate_search (mixed) or engine.gate_phrase (pure phrase)"
            )
        trace = self.last_trace = QueryTrace("cogroup", "unsorted") if unsorted else QueryTrace()
        weights = dict(query.scoring)
        all_terms = sorted(set(weights) | query.prohibited)
        if not weights or k <= 0:
            return _NO_HITS
        keep = self._filter_mask(query.filters) if query.filters else None
        if keep == {}:
            return _NO_HITS
        hits = None  # the query's decoded postings, once in the driver
        # a df-cold query learns df from its postings read; df <= n_docs
        # bounds that read before any df is known
        cold = [t for t in all_terms if t not in self._df_cache]
        if cold and not unsorted and sum(
            self._df_cache.get(t, meta.n_docs) for t in all_terms
        ) <= DRIVER_MAX_POSTINGS:
            hits = self._postings(all_terms)
        elif cold:
            self._fetch_postings(cold, cols=["term", "df"])
        df_map = {t: self._df_cache[t] for t in all_terms}
        groups = [set(g) for g in (query.required_groups or [])]
        if groups:
            # a MUST group dies only if EVERY alternative is absent
            if any(all(df_map.get(t, 0) == 0 for t in g) for g in groups):
                return _NO_HITS
        elif any(df_map.get(t, 0) == 0 for t in query.required):
            return _NO_HITS
        present = [t for t in weights if df_map[t] > 0]
        if not present:
            return _NO_HITS
        # clause weight = multiplicity x boost (SolrQueryParser term^boost)
        weights = {t: weights[t] * query.boosts.get(t, 1.0) for t in present}
        idfs = {t: float(idf_fn(df_map[t], meta.n_docs)) for t in present}
        needed = sorted(set(present) | {t for t in query.prohibited if df_map[t] > 0})
        postings = sum(df_map[t] for t in needed)
        if hits is None and not unsorted and postings <= DRIVER_MAX_POSTINGS:
            hits = self._postings(needed)
        scorer = _Scorer(weights, idfs, sorted(query.required), sorted(query.prohibited),
                         groups, keep, self.dead, meta.avgdl, meta.bucket_docs, k)
        reason = "postings bound"
        if hits is not None:
            buckets = sorted({b for h in hits.values() for b in h[2]})
            if postings + len(buckets) * meta.bucket_docs <= DRIVER_MAX_POSTINGS:
                trace.buckets = len(buckets)
                return scorer(buckets, self._doclens(buckets), hits)
            # the postings fit, the docs of the buckets they touch do not
            reason = "docs bound"
        if not unsorted:
            trace.path, trace.reason = "cogroup", reason
        rows = self.postings.where(F.col("term").isin(needed))
        # the docs side: one bucket_stats row per bucket that holds at
        # least one query term, not one row per doc (indexer stage 2b)
        buckets = F.broadcast(rows.select("bucket").distinct())
        doc_stats = self.bucket_stats.join(buckets, "bucket", "left_semi")
        scored = (
            rows.groupby("bucket")
            .cogroup(doc_stats.groupby("bucket"))
            .applyInPandas(_bucket_kernel(scorer, prune), RESULT_SCHEMA)
        )
        return scored if unsorted else scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)

    def _fetch_postings(self, terms: list[str], cols: list[str] | None = None) -> pd.DataFrame:
        """Every postings row of ``terms``, read in the driver with
        pyarrow (``_read``; ``_isin`` lets the term-sorted files'
        row-group statistics prune it, ``cols`` prunes its columns). A
        row carries its (term, bucket) df and a term's df is the sum of its rows
        (indexer.write_term_stats), so the read also fills the df cache
        exactly; absent terms get 0."""
        rows = self._read("postings", _isin("term", terms), cols)
        df_sums = rows.groupby("term")["df"].sum()
        self._df_cache.update({t: int(df_sums.get(t, 0)) for t in terms})
        return rows

    def _postings(self, terms: list[str]) -> dict:
        """term -> (docids, tfs, sorted buckets) for those of ``terms``
        the index holds, from the postings cache. The misses are one
        ``_fetch_postings`` read, decoded by one ``_decode_rows`` pass."""

        def read(missing):
            rows = self._fetch_postings(missing).sort_values(["term", "bucket"],
                                                             ignore_index=True)
            self.last_trace.postings_rows += len(rows)
            lens, d, tf = _decode_rows(rows, self.meta.bucket_docs)
            ends, bks = np.cumsum(lens), rows["bucket"].tolist()
            out = {}
            for t, ix in rows.groupby("term").indices.items():
                lo, hi = ends[ix[0]] - lens[ix[0]], ends[ix[-1]]
                # copies, so a cached term does not pin the whole read's
                # arrays; float tfs, as scoring.tfnorm takes them
                out[t] = (d[lo:hi].copy(), tf[lo:hi].astype(np.float64),
                          bks[ix[0]:ix[-1] + 1])
            return out

        got, served = _lru(self._decoded, terms, read, lambda h: len(h[0]))
        self.last_trace.cached_terms += served
        return got

    def _doclens(self, buckets: list[int]) -> list[np.ndarray]:
        """The doclens of each of ``buckets``, from the bucket-row cache;
        the misses are one pyarrow read of ``bucket_stats``."""

        def read(missing):
            got = self._read("bucket_stats", _isin("bucket", missing))
            return {int(b): np.asarray(d, np.float64)
                    for b, d in zip(got["bucket"], got["doclens"])}

        B = self.meta.bucket_docs
        got, self.last_trace.cached_buckets = _lru(
            self._bucket_rows, buckets, read, lambda _: B)
        return [got[b] for b in buckets]

    def _filter_mask(self, filters: dict[str, list[str]]) -> dict[int, np.ndarray]:
        """The kernel's ``keep`` mask for ``filters``: bucket ->
        bucket-local docids whose every field holds one of its values
        (values OR'd within a field, fields AND'd). Each field's docids
        come from the filter cache, or on a miss from one pyarrow read
        of the docs table (``_read``: no Spark job). Raises ValueError
        naming the docs table's columns for a field it lacks."""
        available = set(self._tables["docs"].schema.names)
        unknown = sorted(set(filters) - available)
        if unknown:
            # e.g. 'source': a gate-table alias the engine layer remaps
            # onto 'repo'
            raise ValueError(
                f"unknown filter field(s) {unknown}; docs table columns: "
                f"{sorted(available)}"
            )

        def read(missing):
            return {key: np.sort(self._read(
                "docs", ds.field(key[0]).isin(list(key[1])), ["docid"]
            )["docid"].to_numpy(np.int64)) for key in missing}

        keys = [(f, tuple(sorted(set(vals)))) for f, vals in sorted(filters.items())]
        # the latest mask stays even when it alone is over the bound
        masks, self.last_trace.cached_filters = _lru(self._filter_masks, keys, read, len, 1)
        ids = reduce(partial(np.intersect1d, assume_unique=True), masks.values())
        return bucket_local(ids, self.meta.bucket_docs)

    def _read(self, table: str, filter=None, columns: list[str] | None = None) -> pd.DataFrame:
        """The rows of ``table`` matching the pyarrow expression
        ``filter``, read in the driver from the files listed when the
        searcher opened: no Spark job."""
        return self._tables[table].to_table(columns=columns, filter=filter).to_pandas()


def search(
    spark: SparkSession,
    meta: IndexMeta,
    q: str | Query,
    k: int = 10,
    prune: bool = True,
    with_fields: bool = False,
    unsorted: bool = False,
) -> DataFrame:
    """One query on a fresh Searcher (see Searcher.search)."""
    return Searcher(spark, meta).search(q, k, prune, with_fields, unsorted)


def hit_count(
    spark: SparkSession,
    meta: IndexMeta,
    q: str | Query,
    min_exact_count: int | None = None,
) -> tuple[int, str]:
    """Hit-count contract of the reference's QueryCommand
    (core/.../search/QueryCommand.java:40,164-168 — minExactCount) and
    Lucene's TotalHits relation: returns (count, relation) with relation
    'EQ' (exact) or 'GTE' (lower bound after early termination).

    - single optional term, no filters/prohibited/deletes: answered from
      the terms table alone (df is exact; zero postings scanned);
    - min_exact_count set: matches are scored only up to that many; if the
      budget fills, the count is reported as a 'GTE' lower bound —
      the caller opted out of an exact count, exactly the reference's
      approximate-hits semantics;
    - otherwise: exact aggregation over all matches ('EQ')."""
    query = parse(q) if isinstance(q, str) else q
    terms = list(query.scoring)
    if (
        len(terms) == 1
        and not meta.delete_keys
        and not query.filters
        and not query.prohibited
        and not query.phrases
        and not query.multiterm
    ):
        stats = (
            index_table(spark, meta, "terms")
            .where(F.col("term") == terms[0])
            .collect()
        )
        return (int(stats[0]["df"]) if stats else 0, "EQ")
    if min_exact_count is not None:
        n = len(search(spark, meta, query, k=min_exact_count).collect())
        return (n, "EQ" if n < min_exact_count else "GTE")
    # exact count: aggregate the scored matches, no global sort/limit
    n = search(spark, meta, query, unsorted=True).count()
    return (n, "EQ")


POSTING_ROWS_SCHEMA = "term string, docid bigint, tf bigint"


def decode_posting_frame(postings_df: DataFrame, bucket_docs: int) -> DataFrame:
    """Decode an arbitrary postings DataFrame back into (term, docid, tf)
    rows — the shared numpy varint explode used by the function-query
    surface AND the segment merge (one decode loop, never copies)."""

    def explode(batches):
        for pdf in batches:  # one output frame per input batch, row order kept
            if len(pdf) == 0:
                continue
            lens, d, tf = _decode_rows(pdf, bucket_docs)
            terms = np.repeat(pdf["term"].to_numpy(object), lens)
            yield pd.DataFrame({"term": terms, "docid": d, "tf": tf})

    return postings_df.mapInPandas(explode, POSTING_ROWS_SCHEMA)


def postings_rows(
    spark: SparkSession, meta: IndexMeta, terms: list[str] | DataFrame
) -> DataFrame:
    """Explode the encoded postings of ``terms`` back into
    (term, docid, tf) rows — the DataFrame face of the index used by the
    function-query surface (termfreq/tf/docfreq/idf columns,
    SURVEY.md §2.7: 'index-statistic functions are columns of our
    postings/stats tables'; reference registry
    solr/core/src/java/org/apache/solr/search/ValueSourceParser.java:163-1397).
    Decoding is the same numpy varint kernel the scorer uses.

    ``terms`` may be a literal list (pruned isin scan) or a single-column
    DataFrame of terms (broadcast semi-join) — the DataFrame form keeps
    dictionary-driven expansions (prefix/wildcard/fuzzy) fully
    distributed, no term list ever reaching the driver. A view's deleted
    docs get no rows."""
    postings = index_table(spark, meta, "postings")
    if isinstance(terms, DataFrame):
        postings = postings.join(F.broadcast(terms.select("term")), "term", "left_semi")
    else:
        postings = postings.where(F.col("term").isin(terms))
    return live_rows(spark, meta, decode_posting_frame(postings, meta.bucket_docs))


def live_rows(spark: SparkSession, meta: IndexMeta, rows: DataFrame) -> DataFrame:
    """``rows`` (with a docid column) without the docs ``meta`` deletes;
    without delete keys, ``rows`` itself and no scan."""
    if not meta.delete_keys:
        return rows
    dead = F.broadcast(meta.deleted(spark))
    return rows.join(dead, "docid", "left_anti").select(*rows.columns)


def term_contributions(spark: SparkSession, meta: IndexMeta, terms: list[str]) -> DataFrame:
    """Per-(docid, term) BM25 contribution as a DataFrame column —
    idf precomputed driver-side (same np.log as the scoring kernel), the
    tf-normalization evaluated as scoring.tfnorm_col, the Catalyst twin
    of scoring.tfnorm, so values are bit-identical to the fused kernel's
    contributions. A view's deleted docs get no rows."""
    stats = (
        index_table(spark, meta, "terms").where(F.col("term").isin(terms)).collect()
    )
    df_map = {r["term"]: int(r["df"]) for r in stats}
    present = [t for t in terms if df_map.get(t, 0) > 0]
    if not present:
        return spark.createDataFrame([], "docid bigint, term string, contrib double").limit(0)
    idf_rows = [(t, float(idf_fn(df_map[t], meta.n_docs))) for t in present]
    idf_df = spark.createDataFrame(idf_rows, "term string, idf double")
    rows = postings_rows(spark, meta, present)
    doclens = index_table(spark, meta, "docs").select("docid", "doclen")
    return (
        rows.join(F.broadcast(idf_df), "term")
        .join(doclens, "docid")
        .withColumn(
            "contrib",
            F.col("idf") * tfnorm_col(F.col("tf"), F.col("doclen"), meta.avgdl),
        )
        .select("docid", "term", "contrib")
    )


def dismax_search(
    spark: SparkSession,
    meta: IndexMeta,
    terms: list[str],
    tie: float = 0.0,
    k: int = 10,
    unsorted: bool = False,
) -> DataFrame:
    """DisMax scoring across query clauses: score = max(contribs) +
    tie * (sum(contribs) - max(contribs))
    (reference: solr/core/src/java/org/apache/solr/search/DisMaxQParser.java:1 —
    per-clause max plus tie-weighted remainder; tie at
    ExtendedDismaxQParser.java:1747).

    Implemented by pivoting per-term contributions wide and combining with
    greatest() — deterministic float evaluation order (sorted terms left
    to right), mirrored exactly by the DuckDB oracle. No terms, or a
    sorted call with k <= 0, return search's empty result."""
    terms = sorted(set(terms))
    if not terms or (k <= 0 and not unsorted):
        return spark.createDataFrame([], RESULT_SCHEMA).limit(0)
    contribs = term_contributions(spark, meta, terms)
    # pivot emits one column PER TERM VALUE — group under an alias the
    # tokenizer can never produce, or a query term spelled "docid" would
    # collide with the group key (AMBIGUOUS_REFERENCE)
    wide = (
        contribs.select(F.col("docid").alias("__docid"), "term", "contrib")
        .groupBy("__docid")
        .pivot("term", terms)
        .agg(F.first("contrib"))
    )
    cols = [F.coalesce(F.col(f"`{t}`"), F.lit(0.0)) for t in terms]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
    score = mx + F.lit(tie) * (total - mx)
    scored = wide.withColumn("score", score).select(
        F.col("__docid").alias("docid"), "score"
    )
    if unsorted:
        # component mode: the caller re-ranks on the ROUNDED score, so
        # this global TakeOrdered would be a corpus-sized funnel whose
        # ordering is discarded anyway
        return scored
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def total_term_freq(
    spark: SparkSession, meta: IndexMeta, terms: list[str]
) -> DataFrame:
    """totaltermfreq/ttf (ValueSourceParser 'totaltermfreq' →
    TotalTermFreqValueSource): corpus-wide occurrence count per term.
    One pruned postings scan (PushedFilters: In(term, ...)) feeding the
    same varint decode kernel the scorer uses; the per-term sum is a
    partial-aggregated groupBy — no doc rows reach the driver. Deleted
    docs count until a merge."""
    postings = index_table(spark, meta, "postings").where(
        F.col("term").isin(sorted(set(terms)))
    )
    rows = decode_posting_frame(postings, meta.bucket_docs)
    return rows.groupBy("term").agg(F.sum("tf").alias("ttf"))


def explain_hits(
    spark: SparkSession, meta: IndexMeta, q: str | Query, k: int = 10
) -> DataFrame:
    """``[explain]`` doc transformer (CORE/response/transform/
    ExplainAugmenterFactory.java:1 — per-hit Lucene score breakdown):
    the top-k hits augmented with an ``explain`` array of
    (term, weight, contrib) structs whose weighted contribs sum to the
    hit's BM25 score. Contribs come from kernel.term_contributions (the
    exact literal shape of the scoring kernel), weights are the query's
    per-term clause multiplicities; the join is broadcast on the k-row
    hit set, so explain touches only the hits' postings. A view's
    deleted docs are never hits."""
    query = parse(q) if isinstance(q, str) else q
    res = search(spark, meta, query, k=k)
    # materialize the k hits once: res is the whole scoring pipeline and is
    # referenced twice below (semi-join probe + final join), so without
    # this Spark would re-execute the top-k search per reference
    hit_rows = res.collect()
    res = (
        spark.createDataFrame(hit_rows, res.schema) if hit_rows else res
    )
    weights = sorted(query.scoring.items())
    if not weights or not hit_rows:
        return res.withColumn(
            "explain",
            F.lit(None).cast(
                "array<struct<term:string,weight:int,contrib:double>>"
            ),
        )
    # clause weight = multiplicity; the score path also folds term^boost
    # (search() line above: weights[t] * query.boosts.get(t, 1.0)) — the
    # explain contribs must fold the SAME boost or they stop summing to
    # the hit's score for boosted queries
    wdf = spark.createDataFrame(
        [(t, m, float(query.boosts.get(t, 1.0))) for t, m in weights],
        "term string, weight int, boost double",
    )
    contribs = term_contributions(spark, meta, [t for t, _ in weights])
    det = (
        contribs.join(F.broadcast(res.select("docid")), "docid", "left_semi")
        .join(F.broadcast(wdf), "term")
        .groupBy("docid")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "term",
                        "weight",
                        (
                            F.col("contrib")
                            * F.col("weight")
                            * F.col("boost")
                        ).alias("contrib"),
                    )
                )
            ).alias("explain")
        )
    )
    # the join discards search()'s ordering — restore rank order so pagers
    # that take row order as-is (write_response) render by score
    return res.join(det, "docid", "left").orderBy(
        F.desc("score"), F.asc("docid")
    )


def sum_total_term_freq(spark: SparkSession, meta: IndexMeta) -> DataFrame:
    """sumtotaltermfreq/sttf (SumTotalTermFreqValueSource): Σ ttf over
    every term of the field = Σ doclen over the docs table — computed
    from the 1-column doc-stats scan, NOT by decoding all postings (at
    100 TB the docs table is ~1e9 rows of one long vs postings in the
    trillions). Deleted docs count until a merge."""
    docs = index_table(spark, meta, "docs")
    return docs.agg(F.sum("doclen").cast("long").alias("sttf"))

"""Make one workload's inputs and expected answers, outside the measured process.

    python3 perfbench/prep.py <workload> <seed> <out_dir>

Writes the corpus parquet files and ``inputs.json`` (query stream, delete
keys) that the measured process reads, and ``expected.json`` (top-k per
query and per index state) that run.py checks the engine's answers
against. The expected answers come from DuckDB tokenization and a numpy
BM25 written here from the formula; no engine code computes them.
Everything is a pure function of (workload, seed).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spec  # noqa: E402

K1, B = 1.2, 0.75
LANGS = ("java", "py", "js", "go", "c", "md", "xml")


def corpus_rows(start: int, end: int, seed: int):
    """Rows [start, end) of the synthetic corpus (the engine's input generator)."""
    from solr_spark.corpus import corpus_pandas

    return corpus_pandas(start, end, seed=seed)


def query_vocab():
    """Non-stopword generator vocabulary in Zipf rank order, with rank weights."""
    from solr_spark.corpus import build_vocab

    vocab, cdf = build_vocab()
    w = np.diff(np.concatenate([[0.0], cdf]))
    keep = [i for i, t in enumerate(vocab) if t.lower() not in spec.STOPWORDS]
    terms = [vocab[i].lower() for i in keep]
    return terms, w[keep]


def make_stream(n: int, rng: np.random.Generator) -> list[str]:
    """``n`` queries whose shapes follow spec.SHAPE_CYCLE; terms are Zipf-drawn.
    The j-th query has the same shape and term count under every seed, so
    seeds differ only in which terms a run queries."""
    terms, w = query_vocab()

    def draw(lo: int, hi: int, m: int = 1) -> list[str]:
        p = w[lo:hi] / w[lo:hi].sum()
        return [terms[lo + i] for i in rng.choice(hi - lo, size=m, replace=False, p=p)]

    out = []
    for j in range(n):
        shape = spec.SHAPE_CYCLE[j % len(spec.SHAPE_CYCLE)]
        if shape == "hot":
            q = draw(0, 30)[0]
        elif shape == "rare":
            q = draw(1000, len(terms))[0]
        elif shape == "disj":
            q = " ".join(draw(0, 2000, 2 + j % 3))
        elif shape == "conj":
            q = " ".join("+" + t for t in draw(0, 60, 2 + j % 2))
        elif shape == "prohib":
            a, b = draw(0, 200, 2)
            q = f"{a} -{b}"
        else:  # lang
            q = f"lang:{LANGS[int(rng.integers(len(LANGS)))]} {draw(0, 500)[0]}"
        out.append(q)
    return out


def parse(q: str):
    """(scoring terms, required, prohibited, lang filter) of a stream query."""
    scoring, req, proh, langs = [], [], [], []
    for tok in q.split():
        if tok.startswith("lang:"):
            langs.append(tok[5:])
        elif tok.startswith("-"):
            proh.append(tok[1:])
        elif tok.startswith("+"):
            req.append(tok[1:])
            scoring.append(tok[1:])
        else:
            scoring.append(tok)
    return scoring, req, proh, langs


class Corpus:
    """Driver-side token statistics of a document set, from DuckDB."""

    def __init__(self, pdf, terms: set[str], spill_dir: str, prefix: int | None = None):
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{spill_dir}'")
        con.execute("SET threads TO 4")
        con.execute("SET enable_progress_bar = false")
        con.execute("SET memory_limit = '1GB'")
        stop = ", ".join(f"'{w}'" for w in sorted(spec.STOPWORDS))
        docs = pdf[["content"]].assign(i=np.arange(len(pdf), dtype=np.int64))
        con.register("docs", docs)
        con.execute(
            "CREATE TEMP TABLE toks AS SELECT i, unnest(list_filter("
            "string_split_regex(lower(content), '[^a-z0-9_]+'), "
            f"x -> x <> '' AND x NOT IN ({stop}))) AS term FROM docs"
        )
        self.n = len(pdf)
        self.keys = list(zip(pdf["repo"], pdf["path"], pdf["commit"]))
        self.lang = np.asarray(pdf["lang"], dtype=object)
        dl = con.execute("SELECT i, count(*) FROM toks GROUP BY i").fetchnumpy()
        self.doclen = np.zeros(self.n, np.int64)
        self.doclen[dl["i"]] = dl["count_star()"]
        self.n_terms = con.execute("SELECT count(DISTINCT term) FROM toks").fetchone()[0]
        # distinct terms of the first ``prefix`` rows (a base segment)
        self.prefix_terms = con.execute(
            "SELECT count(DISTINCT term) FROM toks WHERE i < ?", [prefix or self.n]).fetchone()[0]
        con.register("qterms", pa.table({"term": sorted(terms)}))
        tf = con.execute(
            "SELECT term, i, count(*) AS tf FROM toks WHERE term IN (SELECT term FROM qterms) "
            "GROUP BY term, i ORDER BY term, i"
        ).fetchnumpy()
        con.close()
        self.postings = {}
        t_all = np.asarray(tf["term"], dtype=object)
        if len(t_all):
            cut = np.flatnonzero(t_all[1:] != t_all[:-1]) + 1
            for lo, hi in zip(np.r_[0, cut], np.r_[cut, len(t_all)]):
                self.postings[t_all[lo]] = (tf["i"][lo:hi].astype(np.int64), tf["tf"][lo:hi].astype(np.float64))


def rank_docids(keys: list, base: int = 0) -> np.ndarray:
    """docid of each row: base + ordinal of its (repo, path, commit) key."""
    order = sorted(range(len(keys)), key=keys.__getitem__)
    out = np.empty(len(keys), np.int64)
    out[order] = np.arange(base, base + len(keys))
    return out


def topk(c: Corpus, q: str, stats: np.ndarray, live: np.ndarray, docid: np.ndarray, k: int) -> dict:
    """Expected answer over rows ``live``, with BM25 statistics over rows ``stats``.

    Returns the top-k (docid, score) by score desc, docid asc, and every
    further row whose score ties the k-th within spec.TOL.
    """
    scoring, req, proh, langs = parse(q)
    n = int(stats.sum())
    avgdl = float(c.doclen[stats].sum()) / n
    empty = {"hits": [], "ties": []}

    def df(t):
        p = c.postings.get(t)
        return 0 if p is None else int(stats[p[0]].sum())

    if any(df(t) == 0 for t in req):
        return empty
    present = sorted({t for t in scoring if df(t) > 0})
    if not present:
        return empty
    mult = {t: scoring.count(t) for t in present}
    score = np.zeros(c.n)
    matched = np.zeros(c.n, bool)
    nreq = np.zeros(c.n, np.int64)
    for t in present:
        rows, tf = c.postings[t]
        d = df(t)
        idf = np.log(1.0 + (n - d + 0.5) / (d + 0.5))
        dl = c.doclen[rows].astype(np.float64)
        score[rows] += mult[t] * idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl)))
        matched[rows] = True
        if t in req:
            nreq[rows] += 1
    alive = live.copy()
    for t in proh:
        if t in c.postings:
            alive[c.postings[t][0]] = False
    if langs:
        alive &= np.isin(c.lang, langs)
    mask = alive & (nreq == len(set(req))) if req else alive & matched
    rows = np.flatnonzero(mask)
    if rows.size == 0:
        return empty
    order = np.lexsort((docid[rows], -score[rows]))
    rows = rows[order]
    hits = [[int(docid[r]), float(score[r])] for r in rows[:k]]
    ties = []
    if len(rows) > k:
        kth = score[rows[k - 1]]
        for r in rows[k:]:
            if abs(score[r] - kth) > spec.TOL * max(1.0, abs(kth)):
                break
            ties.append([int(docid[r]), float(score[r])])
    return {"hits": hits, "ties": ties}


def write_parquet(pdf, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def prepare(workload: str, seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    spill = os.path.join(out, "tmp")
    rng = np.random.default_rng([seed, spec.WORKLOADS.index(workload)])
    pdf = corpus_rows(0, spec.n_docs_total(workload), seed)
    inputs: dict = {"workload": workload, "seed": seed}
    expected: dict = {"workload": workload, "seed": seed, "states": {}}

    stream = make_stream(spec.STREAM, rng)
    if workload == "serve":
        c = Corpus(pdf, {t for q in stream for t in parse(q)[0] + parse(q)[2]}, spill)
        write_parquet(pdf, os.path.join(out, "corpus.parquet"))
        everyone = np.ones(c.n, bool)
        docid = rank_docids(c.keys)
        expected["states"]["full"] = {
            "n_docs": c.n, "sum_doclen": int(c.doclen.sum()), "n_terms": int(c.n_terms),
            "deleted": [], "answers": [topk(c, q, everyone, everyone, docid, spec.K) for q in stream],
        }
        inputs.update(stream=stream, corpus="corpus.parquet")
    else:
        u = spec.UPDATE
        nb, bs = u["base"], u["batch"]
        c = Corpus(pdf, {t for q in stream for t in parse(q)[0] + parse(q)[2]}, spill, prefix=nb)
        write_parquet(pdf.iloc[:nb], os.path.join(out, "base.parquet"))
        batches = []
        for r in range(u["rounds"]):
            name = f"delta{r}.parquet"
            write_parquet(pdf.iloc[nb + r * bs: nb + (r + 1) * bs], os.path.join(out, name))
            batches.append(name)
        victims = rng.choice(nb, size=u["rounds"] * u["deletes"], replace=False)
        deletes = [sorted(victims[r * u["deletes"]:(r + 1) * u["deletes"]].tolist()) for r in range(u["rounds"])]
        # docids of a segmented view: each segment starts at the next
        # bucket boundary after the previous one, ranked by key inside it
        docid = np.empty(c.n, np.int64)
        docid[:nb] = rank_docids(c.keys[:nb])
        end = nb
        for r in range(u["rounds"]):
            lo = nb + r * bs
            base = -(-end // spec.BUCKET_DOCS) * spec.BUCKET_DOCS
            docid[lo:lo + bs] = rank_docids(c.keys[lo:lo + bs], base)
            end = base + bs
        in_base = np.zeros(c.n, bool)
        in_base[:nb] = True
        expected["states"]["base"] = {
            "n_docs": nb, "sum_doclen": int(c.doclen[:nb].sum()), "n_terms": int(c.prefix_terms),
            "deleted": [], "answers": [topk(c, q, in_base, in_base, docid, spec.K) for q in stream],
        }
        dead = np.zeros(c.n, bool)
        for r in range(u["rounds"]):
            present = np.zeros(c.n, bool)
            present[:nb + (r + 1) * bs] = True
            dead[deletes[r]] = True
            expected["states"][f"round{r}"] = {
                "deleted": sorted(int(docid[i]) for i in np.flatnonzero(dead)),
                "answers": [topk(c, q, present, present & ~dead, docid, spec.K) for q in stream],
            }
        live = ~dead
        merged_id = np.full(c.n, -1, np.int64)
        merged_id[live] = rank_docids([c.keys[i] for i in np.flatnonzero(live)])
        expected["states"]["merged"] = {
            "n_docs": int(live.sum()), "deleted": [],
            "answers": [topk(c, q, live, live, merged_id, spec.K) for q in stream],
        }
        inputs.update(
            stream=stream, base="base.parquet", batches=batches,
            deletes=[[list(c.keys[i]) for i in d] for d in deletes],
        )
    expected["stream"] = stream
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3])

#!/usr/bin/env python
"""Physical-plan audit — regenerates PLANS.md.

For each headline operator, prints the Catalyst physical plan and checks
the scale-critical properties this repo claims:

  - pruned scans (PushedFilters on the postings term predicate),
  - broadcast joins where a side is known-small,
  - no Exchange SinglePartition anywhere (nothing funnels one task),
  - WholeStageCodegen coverage for the JVM-side operator plane.

Run: python scripts/plan_audit.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


_LIMIT_RE = re.compile(r"TakeOrderedAndProject\(limit=(\d+)|GlobalLimit (\d+)")

# A TakeOrdered/limit final is only benign when its limit really is "a
# handful of rows". k=n_docs calls (the round-2 candidate-funnel bug)
# carry corpus-sized limits and must be flagged as funnels.
SMALL_LIMIT_CAP = 10_000

COGROUP = "fts_topk_bm25_cogroup (Searcher.search k=10, lang filter, over the bound)"


def _small_limit(line: str) -> bool:
    m = _LIMIT_RE.search(line)
    if not m:
        return False
    return int(m.group(1) or m.group(2)) <= SMALL_LIMIT_CAP


def bad_single_partitions(df) -> int:
    """Count SinglePartition exchanges that funnel DATA through one task.
    The finalization of a scalar aggregate (HashAggregate with no keys —
    a handful of partial rows) and the final step of a SMALL
    TakeOrdered/limit are benign by construction; anything else —
    including a TakeOrdered whose limit is corpus-sized — is a genuine
    funnel."""
    phys = str(df._jdf.queryExecution().executedPlan().toString())
    lines = phys.splitlines()
    bad = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        parent = lines[i - 1] if i > 0 else ""
        benign = (
            "HashAggregate(keys=[]" in child
            or "SortAggregate(key=[]" in child
            or (
                ("GlobalLimit" in parent or "TakeOrdered" in parent)
                and _small_limit(parent)
            )
        )
        if not benign:
            bad += 1
    return bad


def corpus_sized_takeordered(df) -> int:
    """TakeOrderedAndProject/GlobalLimit nodes with a corpus-sized limit
    anywhere in the plan — the k=n_docs funnel shape — regardless of
    whether AQE shows the SinglePartition exchange."""
    phys = str(df._jdf.queryExecution().executedPlan().toString())
    n = 0
    for m in _LIMIT_RE.finditer(phys):
        if int(m.group(1) or m.group(2)) > SMALL_LIMIT_CAP:
            n += 1
    return n


def main() -> None:
    from solr_spark import gate
    from solr_spark.engine import ensure_index
    from solr_spark import kernel
    from solr_spark.kernel import Searcher
    from solr_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="plan_audit", shuffle_partitions=8)
    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan audit of the headline operators\n\n"
        "Generated by `scripts/plan_audit.py` at sf0.01. Checks per plan:\n"
        "`single_partition=False` — no DATA-carrying exchange funnels one\n"
        "task (scalar-aggregate finalization and TakeOrdered finals move a\n"
        "handful of rows by construction and are excluded) — plus\n"
        "pushdown/broadcast evidence quoted from the plan itself.\n"
    )

    meta = ensure_index(spark, SF_DIR)
    searcher = Searcher(spark, meta)

    audits = {
        "fts_topk_bm25 (Searcher.search k=10)": searcher.search(
            "spark window merge", k=10
        ),
    }
    # the same query, filtered, over the driver bound: the postings x
    # bucket_stats cogroup that unsorted and large queries run
    bound, kernel.DRIVER_MAX_POSTINGS = kernel.DRIVER_MAX_POSTINGS, 0
    audits[COGROUP] = searcher.search("lang:en spark window merge", k=10)
    kernel.DRIVER_MAX_POSTINGS = bound
    for name in [
        "t_minhash_pairs",
        "e_knn_ivf",
        "j_hash_broadcast",
        "r_export_sorted",
        "w_rerank",
        "fts_edismax_mm",
        "a_facet_range",
        "w_ltr_linear",
        "fts_complexphrase",
        "fts_phrase",
        "fts_mixed_phrase",
        "fts_proximity",
        "fts_phrase_pos",
        "fts_phrase3_pos",
        "fts_proximity_pos",
        "fts_stemmed",
        "a_moving_median",
        "a_ema",
        "u_merge_segments",
        "a_facet_pivot",
        "a_igain",
        "fts_highlight",
        "w_elevate",
        "j_graph_capped",
        # round-4 additions: PQ-coded ANN, mergeable t-digest, Porter /
        # synonym-injected / copyField index variants, the es/it/pt
        # full-vocabulary stem differential
        "e_knn_ivfpq",
        "a_percentile_digest",
        "fts_stemmed_porter",
        "fts_synonyms_index",
        "u_copyfield",
        "t_stem_vocab",
        # round-4: leading-wildcard term-dictionary scan
        "fts_leading_wildcard",
        # round-5 additions: full Snowball French chain, Thai dictionary
        # segmentation, DateRangeField interval predicates, IVF-PQ
        # approximate regime
        "fts_stemmed_fr_snowball",
        "fts_stemmed_de_snowball",
        "fts_stemmed_es_snowball",
        "fts_thai_seg",
        "a_daterange_overlap",
        "e_knn_ivfpq_probe",
    ]:
        fn, _sql = gate.ENTRIES[name]
        audits[name] = fn(spark, SF_DIR)

    # positional phrase/proximity plans must never touch the SOURCE
    # corpus: scan cost ∝ query-term postings, not the 100 TB text
    # (fts_highlight/fts_complexphrase legitimately read stored text
    # for snippets / wildcard-slot verification)
    NO_SOURCE_SCAN = {
        "fts_phrase",
        "fts_mixed_phrase",
        "fts_phrase_pos",
        "fts_phrase3_pos",
        "fts_proximity",
        "fts_proximity_pos",
    }

    failures = []
    for name, df in audits.items():
        txt = plan_text(df)
        single = bad_single_partitions(df) > 0
        big_topk = corpus_sized_takeordered(df)
        src_scan = "documents.parquet" in txt
        pushed = re.findall(r"PushedFilters: \[[^\]]+\]", txt)
        bcast = len(re.findall(r"BroadcastHashJoin|BroadcastExchange", txt))
        codegen = len(re.findall(r"WholeStageCodegen", txt))
        out.write(f"\n## {name}\n\n")
        out.write(
            f"- single_partition={single} | corpus_sized_topk={big_topk} | "
            f"source_scan={src_scan} | broadcast_nodes={bcast} | "
            f"codegen_spans={codegen}\n"
        )
        for p in sorted(set(pushed))[:6]:
            if "[]" not in p:
                out.write(f"- {p}\n")
        if single:
            failures.append(name)
        if big_topk:
            failures.append(f"{name}:corpus_sized_topk")
        if name in NO_SOURCE_SCAN and src_scan:
            failures.append(f"{name}:source_scan")
        # keep the full plan for the most instructive entries only
        if name in ("fts_topk_bm25 (Searcher.search k=10)", COGROUP, "t_minhash_pairs"):
            out.write("\n```\n" + txt[:6000] + "\n```\n")

    out.write(
        "\n## Verdict\n\n"
        + (
            "All audited plans are free of single-partition exchanges.\n"
            if not failures
            else f"FAIL: single-partition exchange in {failures}\n"
        )
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print(("FAIL " + ",".join(failures)) if failures else "OK — PLANS.md written")


if __name__ == "__main__":
    main()

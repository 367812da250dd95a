#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.json north rule).

Runs the SAME index-build job on the SAME materialized corpus at two
parallelism levels — local[N] and local[4N] — in fresh JVMs (subprocess
per run, so executor-thread count is the only variable), reports
throughput at both plus scaling efficiency = (T_4N_throughput /
T_N_throughput) / 4. The sandbox stand-in for N vs 4N executor clusters
per the measurement protocol in BASELINE.md.

Usage: python scripts/scaling_bench.py [--docs 120000] [--n 8] [--runs 3]
                                       [--partitions P]
Writes results to BENCH_SCALING.json and prints a summary.

--partitions fixes the postings-partition count for BOTH arms. Default
keeps the historical behavior (partitions = cores), but for a clean
core-scaling measurement pass a fixed P: on a real cluster the partition
count is data-size-driven, not core-count-driven, and tying it to cores
conflates task granularity with parallelism (at N=1 it also concentrates
the full postings merge into one task, which OOMs at 480k docs).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from solr_spark.session import driver_heap  # noqa: E402

RUN_SNIPPET = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from solr_spark.session import get_spark
from solr_spark.indexer import build_index
from solr_spark.corpus import materialize_corpus

cpus = {cpus}
parts = {parts}
spark = get_spark(master=f"local[{{cpus}}]", shuffle_partitions=parts,
                  app_name="scaling_bench")
corpus = {corpus!r}
if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
    materialize_corpus(spark, {docs}, corpus, num_partitions=128)
# JMH-style warm-up: one full-size untimed build exercises codegen,
# python-worker startup and first-touch page faults outside the measured
# region (the reference's own harness uses JMH @Warmup iterations; this
# VM class additionally pays ~100s/GB on first-touch, so steady-state
# throughput is the meaningful quantity). Then measure 2 timed builds
# and report the best of 3 (min is robust to the
# host-level contention spikes this sandbox exhibits).
warm = f"/tmp/solr_spark_scale_warm_{{cpus}}"
shutil.rmtree(warm, ignore_errors=True)
build_index(spark, spark.read.parquet(corpus), warm, num_partitions=parts)
walls = []
for rep in range(3):
    idx = f"/tmp/solr_spark_scale_idx_{{cpus}}"
    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.time()
    meta = build_index(spark, spark.read.parquet(corpus), idx, num_partitions=parts)
    walls.append(time.time() - t0)
wall = min(walls)
print("RESULT " + json.dumps({{"cpus": cpus, "partitions": parts, "wall": wall, "walls": walls,
                               "docs": meta.n_docs,
                               "docs_per_sec": meta.n_docs / wall}}))
"""


def run_once(cpus: int, docs: int, corpus: str, parts: int,
             pin: bool = False) -> dict:
    code = RUN_SNIPPET.format(repo=REPO, cpus=cpus, docs=docs, corpus=corpus,
                              parts=parts)
    cmd = [sys.executable, "-c", code]
    if pin:
        # confine the WHOLE process tree (JVM GC/IO/shuffle threads,
        # python workers) to exactly `cpus` hardware threads — local[N]
        # alone only caps Spark TASK slots, so an unpinned local[1] JVM
        # still borrows the host's other cores for its service threads,
        # inflating the small arm and corrupting the N-vs-4N comparison.
        # taskset-pinned local[N] is the honest stand-in for an N-core
        # executor. STRIDE the picked vCPUs across the guest's range
        # rather than taking 0..cpus-1: guest-adjacent vCPU ids can map
        # to host SMT siblings / shared L2 clusters (measured: the same
        # 4-core build runs ~6% faster on {0,8,16,24} than on {0-3}),
        # and nothing in the N-executor stand-in requires adjacency.
        import multiprocessing

        ncpu = multiprocessing.cpu_count()
        if cpus > ncpu:
            # the modulo below would silently reuse CPU ids and confine
            # the run to fewer distinct cores than the arm label claims,
            # corrupting the N-vs-4N comparison — fail loudly instead.
            raise ValueError(f"arm requests {cpus} cores but host has {ncpu}")
        stride = max(ncpu // cpus, 1)
        cores = ",".join(str((i * stride) % ncpu) for i in range(cpus))
        cmd = ["taskset", "-c", cores] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True)
    if out.returncode != 0:
        raise RuntimeError(
            f"local[{cpus}] run failed (rc={out.returncode}); stderr tail:\n"
            + out.stderr[-4000:]
        )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line:\n{out.stdout}\n{out.stderr}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=120000)
    ap.add_argument("--n", type=int, default=8, help="small cluster size (big = 4N)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=0,
                    help="fixed postings-partition count for both arms "
                         "(0 = historical behavior: partitions = cores)")
    ap.add_argument("--pin", action="store_true",
                    help="taskset-pin each arm to exactly its core count "
                         "(see run_once; recommended for honest N-vs-4N)")
    args = ap.parse_args()

    corpus = f"/tmp/solr_spark_scale_corpus_{args.docs}"
    results = {"docs": args.docs, "n": args.n,
               "partitions": args.partitions or "=cores",
               "pinned": bool(args.pin),
               # identical for both arms; JVM startup (incl. AlwaysPreTouch
               # of this heap) is outside the measured build wall
               "driver_mem": os.environ.get("SOLR_SPARK_DRIVER_MEM") or driver_heap(),
               "runs": []}
    tput: dict[int, list[float]] = {args.n: [], 4 * args.n: []}
    for r in range(args.runs):
        for cpus in (args.n, 4 * args.n):
            parts = args.partitions or cpus
            res = run_once(cpus, args.docs, corpus, parts, pin=args.pin)
            results["runs"].append(res)
            tput[cpus].append(res["docs_per_sec"])
            print(f"run {r} local[{cpus}]: {res['docs_per_sec']:.0f} docs/s "
                  f"({res['wall']:.1f}s)")
    med_n = statistics.median(tput[args.n])
    med_4n = statistics.median(tput[4 * args.n])
    eff = (med_4n / med_n) / 4
    results.update(
        {
            "median_docs_per_sec_N": med_n,
            "median_docs_per_sec_4N": med_4n,
            "scaling_efficiency": eff,
            "pass_0_8": eff >= 0.8,
        }
    )
    # merge into the ledger under a dated key — never clobber the
    # headline measurement or earlier rounds' re-runs
    path = os.path.join(REPO, "BENCH_SCALING.json")
    ledger: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            ledger = json.load(f)
    if "headline" not in ledger:  # legacy flat file: nest it
        ledger = {"headline": ledger} if ledger else {}
    import datetime

    key = (f"rerun_{datetime.date.today().isoformat()}_n{args.n}"
           f"_docs{args.docs}"
           + (f"_p{args.partitions}" if args.partitions else "")
           + ("_pinned" if args.pin else ""))
    k, i = key, 2
    while k in ledger:  # same-day re-runs get their own entries
        k, i = f"{key}_r{i}", i + 1
    ledger[k] = results
    with open(path, "w") as f:
        json.dump(ledger, f, indent=1)
    print(f"\nN={args.n}: {med_n:.0f} docs/s | 4N={4*args.n}: {med_4n:.0f} docs/s "
          f"| efficiency {eff:.3f} ({'PASS' if eff >= 0.8 else 'FAIL'} >= 0.8)")


if __name__ == "__main__":
    main()

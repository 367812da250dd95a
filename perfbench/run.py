"""Benchmark of the solr_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {serve,update} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Three steps, each its own process:

1. prep.py makes the workload's inputs and expected answers from the seed
   (cached under perfbench/.work/ per workload and seed);
2. measure.py starts Spark on local[<cores>] and runs the workload;
3. this process watches the memory of step 2's process tree, checks every
   answer against step 1's, and prints one report line per metric followed
   by the JSON result line (end-to-end metrics with --trace 0, per-layer
   metrics with --trace 1).

If the measured process dies (a JVM out of memory, a crashed worker), every
operation it had not finished counts as failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import spec  # noqa: E402

DEADLINE_S = 170  # the whole run, prep included


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= spec.TOL * max(1.0, abs(b))


def same_answer(got: list, exp: dict) -> bool:
    """Engine top-k equals the oracle's: same docids in order and scores
    within spec.TOL, or differs only in which of several docs whose scores
    tie within spec.TOL at the k-th place were kept."""
    hits, ties = exp["hits"], exp["ties"]
    if len(got) != len(hits) or any(not close(g[1], e[1]) for g, e in zip(got, hits)):
        return False
    if [g[0] for g in got] == [e[0] for e in hits]:
        return True
    allowed = {d: s for d, s in hits + ties}
    ids = {g[0] for g in got}
    if len(ids) != len(got) or any(d not in allowed or not close(s, allowed[d]) for d, s in got):
        return False
    return all(d in ids for d, s in hits if not close(s, hits[-1][1]))


def same_local(local: list, dist: list) -> bool:
    return [d for d, _ in local] == [d for d, _ in dist] and all(
        close(a[1], b[1]) for a, b in zip(local, dist))


def pct(xs: list, p: float) -> float:
    """p-th percentile, nearest rank."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100.0 * len(s)) - 1))]


# -- processes ---------------------------------------------------------------------

def group_members(pgid: int, min_age_s: float = 0.0) -> list[int]:
    """Processes of a group that have existed for at least ``min_age_s``."""
    now = time.clock_gettime(time.CLOCK_BOOTTIME) * os.sysconf("SC_CLK_TCK")
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid and now - int(fields[19]) >= min_age_s * os.sysconf("SC_CLK_TCK"):
                pids.append(int(name))
        except (OSError, IndexError, ValueError):
            continue
    return pids


def group_rss_mb(pgid: int) -> float:
    """Resident memory of a process group. A child the JVM spawns shares its
    parent's address space until it execs and would count the JVM twice, so
    processes younger than half a second are left out."""
    total = 0
    for pid in group_members(pgid, min_age_s=0.5):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        if not group_members(proc.pid):
            return
        time.sleep(0.1)


def run_watched(cmd: list, env: dict, timeout: float) -> tuple[int, float]:
    """Run ``cmd`` in its own process group; returns (exit code, peak
    memory in MB of the group). Past ``timeout`` the group is killed."""
    proc = subprocess.Popen(cmd, env=env, start_new_session=True, stdout=sys.stderr)
    peak, end = 0.0, time.monotonic() + timeout
    try:
        while proc.poll() is None:
            peak = max(peak, group_rss_mb(proc.pid))
            if time.monotonic() > end:
                log(f"{cmd[1]} exceeded {timeout:.0f}s; killed")
                break
            time.sleep(0.25)
    finally:
        stop_group(proc)
    return proc.returncode, peak


def host_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stamp() -> str:
    h = hashlib.sha256()
    for name in ("spec.py", "prep.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare(workload: str, seed: int, work: str, env: dict) -> None:
    marker = os.path.join(work, "stamp")
    if os.path.exists(marker) and open(marker).read() == stamp():
        return
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code, _ = run_watched([sys.executable, os.path.join(HERE, "prep.py"), workload, str(seed), work],
                          env, 120)
    if code != 0:
        raise SystemExit(f"input preparation failed (exit {code})")
    with open(marker, "w") as f:
        f.write(stamp())


# -- scoring a run -----------------------------------------------------------------

def evaluate(workload: str, records: list, expected: dict, peak_mb: float) -> dict:
    """Check every recorded answer and derive the metrics."""
    states = expected["states"]
    kinds: dict[str, list] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r)
    ops = kinds.get("op", [])
    errors = kinds.get("error", [])
    problems: list[str] = [f"{e['layer']}.{e['op']} {e['rid']}: {e['error']}" for e in errors]
    attempted = len(ops) + len(errors)
    failed = len(errors)

    def fail(msg: str) -> None:
        nonlocal failed
        failed += 1
        problems.append(msg)

    dist: dict = {}
    for r in ops:
        if r["op"] in ("search", "view_search"):
            exp = states[r["state"]]["answers"][r["qi"]]
            dead = set(states[r["state"]]["deleted"])
            if any(d in dead for d, _ in r["hits"]):
                fail(f"{r['state']} q{r['qi']}: a deleted doc was returned")
            elif not same_answer(r["hits"], exp):
                fail(f"{r['state']} q{r['qi']} {expected['stream'][r['qi']]!r}: got {r['hits'][:3]}..., "
                     f"expected {exp['hits'][:3]}...")
            dist.setdefault((r["state"], r["qi"]), r["hits"])
        if "stages" in r:
            st = r["stages"]
            top = sum(st[s] for s in ("analyze", "doc_stats", "bucket_stats", "postings", "term_stats"))
            if top > r["wall"] + 0.005:
                fail(f"build stages sum {top:.3f}s > build wall {r['wall']:.3f}s")
            if st["postings_3a"] > st["postings"]:
                fail(f"postings_3a {st['postings_3a']}s > postings {st['postings']}s: nesting changed")
            if r["op"] in ("build", "open_base"):
                want = states["full" if r["op"] == "build" else "base"]
                got = (r["n_docs"], r["sum_doclen"], r["n_terms"])
                if got != (want["n_docs"], want["sum_doclen"], want["n_terms"]):
                    fail(f"index stats (docs, doclen, terms) {got} != oracle "
                         f"{(want['n_docs'], want['sum_doclen'], want['n_terms'])}")
        elif r["op"] == "merge" and r["docs"] != states["merged"]["n_docs"]:
            fail(f"merged view has {r['docs']} docs, oracle {states['merged']['n_docs']}")

    local_walls: list[float] = []
    for lr in kinds.get("local", []):
        local_walls += lr["walls"]
        if lr["repeat_mismatch"]:
            fail(f"local_topk gave {lr['repeat_mismatch']} answers that differ from its first")
        for qi, hits in lr["hits"].items():
            qi = int(qi)
            if not same_answer(hits, states[lr["state"]]["answers"][qi]):
                fail(f"local {lr['state']} q{qi} {expected['stream'][qi]!r}: got {hits[:3]}..., expected "
                     f"{states[lr['state']]['answers'][qi]['hits'][:3]}...")
            other = dist.get((lr["state"], qi))
            if other is not None and not same_local(hits, other):
                fail(f"local {lr['state']} q{qi}: differs from the distributed answer")
    attempted += len(local_walls)

    # operations a run planned but never reached count as failed, so a run
    # cut short by a dead JVM or an engine error never reads as faster
    plan = kinds.get("plan", [{"ops": 1}])[0]["ops"]
    finished = bool(kinds.get("done"))
    missing = max(plan - attempted, 0) or (0 if finished else 1)
    if missing:
        attempted += missing
        failed += missing
        problems.append(f"{missing} planned operations not run: "
                        + (kinds.get("dead") or [{"error": "the measured process stopped early"}])[0]["error"])

    def walls(*names):
        return [r["wall"] for r in ops if r["op"] in names]

    rep: dict[str, tuple] = {}  # name -> (value, unit, samples)
    if kinds.get("setup"):
        rep["setup_s"] = (kinds["setup"][0]["setup_s"], "s", 1)
    builds = [r for r in ops if r["op"] == "build"]
    writes = builds if workload != "update" else [r for r in ops if r["op"] in ("add_segment", "merge")]
    wdocs = sum(r["n_docs"] if "n_docs" in r else r["docs"] for r in writes)
    if writes:
        rep["write_docs_per_s"] = (wdocs / sum(r["wall"] for r in writes), "docs/s", len(writes))
    # the merged view's queries check the merge; they take the packed
    # single-segment path, so they are kept out of the delete-path median
    reads = [r["wall"] for r in ops
             if r["op"] in ("search", "view_search") and r["state"] != "merged" and not r["warmup"]]
    if reads:
        rep["read_p50_s"] = (statistics.median(reads), "s", len(reads))
    if local_walls:
        rep["local_p50_ms"] = (statistics.median(local_walls) * 1e3, "ms", len(local_walls))
    if workload == "update" and kinds.get("view"):
        v = kinds["view"][0]
        rep["index_bytes_per_doc"] = (v["bytes"] / v["docs"], "B/doc", 1)
    elif builds:
        rep["index_bytes_per_doc"] = (builds[-1]["bytes"]["total"] / builds[-1]["n_docs"], "B/doc", 1)
    rep["peak_rss_mb"] = (peak_mb, "MB", 1)

    # per-workload metrics printed in the report only
    extra: dict[str, tuple] = {}
    if builds:
        per = [r["n_docs"] / r["wall"] for r in builds]
        extra["build_docs_per_s"] = (statistics.median(per), "docs/s", len(per))
    searches = [r["wall"] for r in ops if r["op"] == "search" and not r["warmup"]]
    if searches:
        extra["search_p50_s"] = (statistics.median(searches), "s", len(searches))
        extra["search_p90_s"] = (pct(searches, 90), "s", len(searches))
    for name, xs in (("update_search", reads if workload == "update" else []),
                     ("merged_search", [r["wall"] for r in ops if r.get("state") == "merged"])):
        if xs:
            extra[f"{name}_p50_s"] = (statistics.median(xs), "s", len(xs))
    if local_walls:
        extra["local_p99_ms"] = (pct(local_walls, 99) * 1e3, "ms", len(local_walls))
    for w in kinds.get("warm", []):
        extra["local_warm_s"] = (w["wall"], "s", 1)
        extra["local_mem_mb"] = (w["mem_mb"], "MB", 1)
    if walls("add_segment"):
        extra["update_add_s"] = (statistics.median(walls("add_segment")), "s", len(walls("add_segment")))
    if walls("merge"):
        extra["merge_s"] = (walls("merge")[0], "s", 1)
    extra["error_rate"] = (failed / max(attempted, 1), "failed/attempted", attempted)

    layers = (kinds.get("layers") or [{"metrics": {}}])[0]["metrics"]
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "e2e": rep, "extra": extra, "layers": layers, "finished": finished}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "solr_spark", "__init__.py")):
        log("solr_spark/ not found: run from the repository root")
        return 2
    if args.seed < 0:
        log("--seed must be >= 0")
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}")
    scratch = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "PYTHONUNBUFFERED": "1",
        "SOLR_SPARK_DRIVER_MEM": spec.DRIVER_MEM,
        "TMPDIR": scratch,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the JVM writes its perf-data file to /tmp unless told not to
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
    })
    prepare(args.workload, args.seed, work, env)
    os.makedirs(scratch, exist_ok=True)
    results = os.path.join(work, f"results-{args.trace}.jsonl")
    try:
        left = DEADLINE_S - (time.monotonic() - t_start)
        ticks = host_ticks()
        code, peak = run_watched(
            [sys.executable, os.path.join(HERE, "measure.py"), args.workload, work,
             str(args.seconds), str(args.trace), results], env, left)
        ticks = [b - a for a, b in zip(ticks, host_ticks())]
        if code != 0:
            log(f"measured process exited with {code}")
        records = []
        if os.path.exists(results):
            with open(results) as f:
                for line in f:
                    try:
                        records.append(json.loads(line))
                    except json.JSONDecodeError:
                        break  # a torn last line from a killed process
        with open(os.path.join(work, "expected.json")) as f:
            expected = json.load(f)
        ev = evaluate(args.workload, records, expected, peak)
        # CPU time the hypervisor gave to other guests while the workload
        # ran: timings on a shared host spread with it
        ev["extra"]["host_steal_pct"] = (100.0 * ticks[7] / max(sum(ticks), 1), "%", 1)
    finally:
        for name in os.listdir(work):
            if name.startswith(("idx", "segs", "merged", "spark-local", "tmp", "results")):
                path = os.path.join(work, name)
                shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)

    for msg in ev["problems"][:20]:
        log("FAIL " + msg)
    e2e_units, layer_units = metric_units()
    names = layer_units if args.trace else e2e_units
    source = ev["layers"] if args.trace else {k: v[0] for k, v in ev["e2e"].items()}
    metrics = {}
    for name, unit in names.items():
        value = source.get(name)
        if value is None:
            ev["problems"].append(f"metric {name} not measured")
            continue
        metrics[name] = {"value": float(value), "unit": unit}
    lines = ev["e2e"] | ev["extra"]
    for name, (value, unit, n) in lines.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    if args.trace:
        for name, m in metrics.items():
            print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    correct = ev["failed"] == 0 and ev["finished"] and len(metrics) == len(names)
    print(json.dumps({"correct": correct, "attempted": ev["attempted"], "failed": ev["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Workload sizes and query-stream shapes, shared by every benchmark step.

Sizes are what fits a 4-vCPU / 15 GB box inside the per-run time budget
(see provenance.json): the whole run, input preparation and Spark session
start included, should end within about a minute on a loaded host, so that
48 runs fit in 3420 s.
"""

WORKLOADS = ("serve", "update")

K = 10  # top-k of every query
TOL = 1e-9  # relative score tolerance, engine vs oracle and local vs distributed
BUCKET_DOCS = 4096  # indexer.DEFAULT_BUCKET_DOCS; recorded, not passed
DRIVER_MEM = "2g"  # JVM heap (pre-touched by session.get_spark)
LOCAL_CALLS = 3000  # local_topk calls per run, so local_p99 has 30 samples beyond it

STREAM = 400  # queries generated per run; loops wrap around
SERVE = {"docs": 6000, "warmup": 1}
UPDATE = {
    "base": 3000,
    "batch": 400,  # docs per add_segment
    "rounds": 1,
    "deletes": 40,  # base keys deleted per round
    "merged_queries": 1,
}

# One 20-slot cycle fixes the share of each query shape in every stream.
SHAPE_CYCLE = (
    "hot", "disj", "conj", "hot", "rare", "disj", "lang", "prohib", "conj", "hot",
    "disj", "rare", "lang", "conj", "hot", "disj", "prohib", "lang", "conj", "disj",
)

# Classic 33-word English stop set; the oracle tokenizes with its own copy.
STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with".split()
)


def serve_queries(seconds: float) -> int:
    """Timed Searcher.search calls of a serve run: about --seconds of work,
    and a fixed count, so every run of a seed sends the same queries."""
    return max(16, round(2 * seconds))


def view_queries(seconds: float) -> int:
    """IndexView.search calls per update round (about 1.3 s each)."""
    return max(5, round(seconds / 2))


def local_share(i: int, n: int) -> int:
    """local_topk calls in the i-th of n blocks; the n blocks make LOCAL_CALLS."""
    return LOCAL_CALLS // n + (i < LOCAL_CALLS % n)


def n_docs_total(workload: str) -> int:
    """Rows of the generated corpus a workload reads."""
    if workload == "serve":
        return SERVE["docs"]
    return UPDATE["base"] + UPDATE["rounds"] * UPDATE["batch"]

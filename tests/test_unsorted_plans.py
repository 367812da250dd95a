"""Physical-plan regression for the full-result search paths.

gate_incremental / gate_merge fetch EVERY matching doc for their oracle
diffs. A k=n_docs sorted fetch compiles to a corpus-sized
TakeOrderedAndProject — a single-task funnel at scale whose ordering the
downstream docs join discards anyway. Since round 3 they use the
kernel's unsorted component mode; these tests pin that the compiled
physical plan carries no TakeOrdered/GlobalLimit node at all in
full-result mode. An explicit user-k returns the ordered head of the
result: chosen in the driver for a bounded query, by TakeOrdered past
kernel.DRIVER_MAX_POSTINGS.
"""

import pytest

SF = "/root/testdata/sf0.001"


def _phys(df) -> str:
    return str(df._jdf.queryExecution().executedPlan().toString())


@pytest.fixture(scope="module")
def incr_frames(spark):
    from solr_spark.engine import gate_incremental

    full = gate_incremental(spark, SF, "spark merge", splits=(200, 400))
    topk = gate_incremental(spark, SF, "spark merge", splits=(200, 400), k=5)
    return full, topk


def test_incremental_full_result_is_not_a_takeordered_funnel(incr_frames):
    full, _ = incr_frames
    phys = _phys(full)
    assert "TakeOrderedAndProject" not in phys
    assert "GlobalLimit" not in phys


def test_incremental_explicit_k_still_takeorders(monkeypatch, spark, incr_frames):
    """An explicit k returns at most k rows, the head of the full result
    in (score desc, doc_id asc) order, never the unsorted component
    frame. A bounded query picks its k rows in the driver (the plan
    scans a local relation); an over-bound one still TakeOrders."""
    from solr_spark import kernel
    from solr_spark.engine import gate_incremental

    full, topk = incr_frames
    assert "FlatMapCoGroupsInPandas" not in _phys(topk)

    def ordered(df):
        return sorted(((r["doc_id"], r["score"]) for r in df.collect()),
                      key=lambda h: (-h[1], h[0]))

    got, every = ordered(topk), ordered(full)
    assert len(got) == min(5, len(every))
    assert got == every[: len(got)]
    monkeypatch.setattr(kernel, "DRIVER_MAX_POSTINGS", 0)
    forced = gate_incremental(spark, SF, "spark merge", splits=(200, 400), k=5)
    assert "TakeOrderedAndProject" in _phys(forced)
    assert ordered(forced) == got


def test_incremental_full_equals_sorted_full(spark, incr_frames):
    """The unsorted component frame must carry exactly the rows the old
    sorted k=n_docs path produced (order is irrelevant — the gate's
    oracle compare sorts)."""
    full, _ = incr_frames
    rows = {(r["doc_id"], r["score"]) for r in full.collect()}
    assert rows  # the query matches something
    top = full.orderBy("score", ascending=False).limit(5)
    # explicit-k path returns a subset of the full-result rows
    from solr_spark.engine import gate_incremental

    topk = gate_incremental(spark, SF, "spark merge", splits=(200, 400), k=5)
    assert {(r["doc_id"], r["score"]) for r in topk.collect()} <= rows
    assert top.count() == min(5, len(rows))


def test_merge_full_result_is_not_a_takeordered_funnel(spark):
    from solr_spark.engine import gate_merge

    full = gate_merge(spark, SF, "spark merge", delete_doc_ids=(3, 7), split=250)
    phys = _phys(full)
    assert "TakeOrderedAndProject" not in phys
    assert "GlobalLimit" not in phys
    assert full.count() > 0

"""The event-log parser on a captured log: two SQL executions of one
crawl wave (the fused extraction UDF's hit checkpoint and the
dedup/budget kernel), cut down to the events the parser reads.

The same wave, run with the engine's own PYCRAWLER_TRACE, reported
"cands materialized (217)" and "kernel materialized (192)": the rows
the parser attributes to the kernel's plan node must match."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog as ev  # noqa: E402

LOG = ev.EventLog.read(os.path.join(HERE, "data", "eventlog_wave.jsonl"))


def _node(fragment):
    (node,) = [n for n in LOG.nodes() if ev.PY_RUN in n.metrics and fragment in n.desc]
    return node


def test_executions_jobs_stages():
    assert sorted(LOG.plans) == [6, 8]
    assert len(LOG.jobs) == 7
    assert {j.execution for j in LOG.jobs.values()} == {6, 8}
    assert sum(st.tasks for st in LOG.stages.values()) == 58


def test_kernel_node_rows_match_engine_trace():
    kernel = _node(" kernel(")
    assert kernel.name == "FlatMapCoGroupsInPandas"
    assert LOG.rows_into(kernel) == 217
    assert LOG.value(kernel, ev.OUT_ROWS) == 192
    assert LOG.value(kernel, ev.PY_RUN) == 372
    assert len(LOG.node_task_records(kernel)) == 1


def test_extraction_node_metrics():
    udf = _node("page_features_resolve_slim_udf")
    assert LOG.value(udf, ev.OUT_ROWS) == 8
    assert LOG.value(udf, ev.PY_RUN) == 4706
    assert LOG.value(udf, ev.PY_START) == 553
    assert LOG.value(udf, ev.PY_SENT) == 12968
    assert LOG.value(udf, ev.PY_RECV) == 31192


def test_nodes_are_deduplicated_across_plan_versions():
    keys = [tuple(sorted(n.metrics.values())) for n in LOG.nodes() if n.metrics]
    assert len(keys) == len(set(keys))


def test_windows():
    start = min(j.start_ms for j in LOG.jobs.values())
    end = max(j.end_ms for j in LOG.jobs.values())
    busy = LOG.busy_ms(start - 1000, end + 1000)
    longest = max(j.end_ms - j.start_ms for j in LOG.jobs.values())
    assert longest <= busy <= end - start
    assert LOG.busy_ms(end + 1, end + 1000) == 0
    assert len(LOG.jobs_in(start, end + 1)) == 7
    assert sorted(LOG.executions_in(start - 1000, end)) == [6, 8]


def test_skew():
    assert ev.skew([]) == 0.0
    assert ev.skew([0, 10, 10, 40]) == 4.0

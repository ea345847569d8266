"""Per-layer attribution of the query suite on the captured log: every
name it reports is declared, and a query's window takes the Python
runner time of the plan nodes that ran inside it."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog as ev  # noqa: E402
import layers  # noqa: E402

LOG = ev.EventLog.read(os.path.join(HERE, "data", "eventlog_wave.jsonl"))
START = min(j.start_ms for j in LOG.jobs.values()) / 1000 - 1
END = max(j.end_ms for j in LOG.jobs.values()) / 1000 + 1


def _job():
    times = {q: 1.0 for q in layers.HEADLINE}
    # the whole log falls in the window of q54 (graph)
    windows = {q: [0.0, 0.0] for q in layers.HEADLINE}
    windows["q54_pagerank"] = [START, END]
    return {"init_s": 0.5, "cpu_s": 10.0, "python_cpu_s": 2.5, "times": times,
            "query_windows": windows, "window": [START, END], "run_window": [START, END]}


def test_suite_names_declared():
    out = layers.suite_layers(LOG, _job())
    assert set(out) <= set(layers.PER_LAYER)
    for q in layers.HEADLINE:
        assert out[f"query.{q}_s"] == 1.0


def test_suite_attributes_by_window():
    out = layers.suite_layers(LOG, _job())
    py = [n for n in LOG.nodes() if ev.PY_RUN in n.metrics]
    assert out["ops.graph.python_s"] == sum(LOG.value(n, ev.PY_RUN) for n in py) / 1000
    assert out["ops.graph.shuffle_bytes"] == sum(st.shuffle_write for st in LOG.stages.values())
    assert out["ops.dedup.python_s"] == 0
    assert out["spark.python_cpu_share"] == 0.25

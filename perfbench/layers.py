"""Per-layer metrics of one traced job (a crawl or the query suite).

Layers are the repository's modules. Each metric is read from the
place the work happens: Spark's event log, attributed to the physical-
plan node that ran the layer's code (``eventlog.EventLog``), the job
directory on disk, or an in-process timing of the pure-Python kernels.
A layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Dict, List

import eventlog as ev

# The headline queries of __spark_entry__ (the analytics suite), each
# with the operator module it calls; "builtin" queries use Spark's own
# functions and the engine's UDFs only.
QUERY_MODULE = {
    "q1_lineitem_agg": "builtin", "q3_revenue_by_nation": "builtin",
    "q6_budget_cumsum": "builtin", "q11_minhash_signatures": "builtin",
    "q12_minhash_dup_pairs": "builtin", "q14_simhash16": "builtin",
    "q15_embedding_topk": "builtin", "q16_langid": "builtin",
    "q18_token_counts": "builtin", "q20_url_normalize": "builtin",
    "q46_boilerplate": "curation", "q47_bm25": "ranking",
    "q52_asof_join": "temporal", "q53_range_join": "temporal",
    "q54_pagerank": "graph", "q55_unigram_logprob": "quality",
    "q57_winnow_fingerprint": "dedup", "q58_fingerprint_dup_pairs": "dedup",
}
HEADLINE = list(QUERY_MODULE)
MODULES = sorted(set(QUERY_MODULE.values()))

# name -> (unit, better). The order is the print order.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.py_worker_start_s": ("s", "lower"),
    "session.peak_mem_mb": ("MB", "lower"),
    "crawl.init_job_s": ("s", "lower"),
    "crawl.urls_per_s": ("URLs/s", "higher"),
    "crawl.steady_urls_per_s": ("URLs/s", "higher"),
    "crawl.first_wave_s": ("s", "lower"),
    "crawl.wave_p50_s": ("s", "lower"),
    "crawl.waves": ("count", "lower"),
    "crawl.jobs_per_wave": ("count", "lower"),
    "crawl.stages_per_wave": ("count", "lower"),
    "crawl.tasks_per_wave": ("count", "lower"),
    "crawl.driver_gap_s": ("s", "lower"),
    "crawl.cpu_util": ("ratio", "higher"),
    "udfs.extract_python_s": ("s", "lower"),
    "udfs.extract_rows": ("count", "lower"),
    "udfs.extract_bytes_in": ("bytes", "lower"),
    "udfs.extract_bytes_out": ("bytes", "lower"),
    "udfs.extract_overhead_s": ("s", "lower"),
    "htmlkit.page_features_us": ("us", "lower"),
    "urlkit.resolve_us": ("us", "lower"),
    "links.kernel_python_s": ("s", "lower"),
    "links.kernel_rows_in": ("count", "lower"),
    "links.kernel_task_skew": ("ratio", "lower"),
    "seen.bloom_build_s": ("s", "lower"),
    "seen.bloom_probe_rows": ("count", "lower"),
    "seen.bloom_pass_rows": ("count", "lower"),
    "seen.semi_rows_out": ("count", "lower"),
    "seen.bloom_fpr": ("ratio", "lower"),
    "scheduler.python_s": ("s", "lower"),
    "scheduler.rows_in": ("count", "lower"),
    "scheduler.granted": ("count", "higher"),
    "stream.overhead_s": ("s", "lower"),
    "stream.micro_batches": ("count", "lower"),
    "storage.files": ("count", "lower"),
    "storage.bytes_per_url": ("B/URL", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.peak_exec_mem_mb": ("MB", "lower"),
    "spark.python_cpu_share": ("ratio", "lower"),
    "query.first_scan_s": ("s", "lower"),
    "query.geomean_s": ("s", "lower"),
    "query.cold_s": ("s", "lower"),
}
PER_LAYER.update({f"query.{q}_s": ("s", "lower") for q in HEADLINE})
for _m in MODULES:
    PER_LAYER[f"ops.{_m}.python_s"] = ("s", "lower")
    PER_LAYER[f"ops.{_m}.shuffle_bytes"] = ("bytes", "lower")


def _is_python(n: ev.Node) -> bool:
    return ev.PY_RUN in n.metrics


def _py(log: ev.EventLog, nodes: List[ev.Node], metric: str) -> int:
    return sum(log.value(n, metric) for n in nodes)


def _ancestor(node: ev.Node, pred):
    p = node.parent
    while p is not None and not pred(p):
        p = p.parent
    return p


def _is_semi(n: ev.Node) -> bool:
    return "Join" in n.name and "LeftSemi" in n.desc


def _probes_seen(n: ev.Node) -> bool:
    """Whether a Bloom ``mc`` node probes the seen table. The optimizer
    also copies the predicate onto the candidate-key side of the
    semi-join, below its distinct; that copy probes keys, not history."""
    first = _ancestor(n, lambda p: _is_semi(p) or p.name == "HashAggregate")
    return first is not None and _is_semi(first)


def kernel_micro(pages: Dict[str, bytes], n: int = 200, repeat: int = 5) -> Dict[str, float]:
    """In-process cost of the extraction kernels on the workload's own
    pages, median of ``repeat`` passes: htmlkit.page_features per page,
    and per href the resolution loop of the fused extraction UDF."""
    from pycrawler_spark import htmlkit, urlkit

    sample = sorted(pages.items())[:: max(1, len(pages) // n)][:n]
    feats = [htmlkit.page_features(html, True) for _url, html in sample]
    jobs = [(urlkit.parse_url(url), f[4]) for (url, _html), f in zip(sample, feats)]
    n_href = sum(len(h) for _p, h in jobs) or 1

    def pages_pass() -> None:
        for _url, html in sample:
            htmlkit.page_features(html, True)

    def hrefs_pass() -> None:
        for base, hrefs in jobs:
            for href in hrefs:
                r = urlkit.url_from_href(href, base)
                if r is not None:
                    urlkit.normalize_url(urlkit.url_str_with_query_fragment(r))

    def per_item_us(fn, items: int) -> float:
        times = []
        for _ in range(repeat):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return statistics.median(times) / items * 1e6

    return {
        "htmlkit.page_features_us": per_item_us(pages_pass, len(sample)),
        "urlkit.resolve_us": per_item_us(hrefs_pass, n_href),
    }


def storage(job_dir: str, urls: int) -> Dict[str, float]:
    files = size = 0
    for d, _dirs, names in os.walk(job_dir):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, name))
    return {"storage.files": files, "storage.bytes_per_url": size / max(1, urls)}


def micro_batches(job_dir: str) -> int:
    commits = os.path.join(job_dir, "_wave_stream_ckpt", "commits")
    if not os.path.isdir(commits):
        return 0
    return sum(1 for f in os.listdir(commits) if f.isdigit())


def crawl_layers(log: ev.EventLog, job: Dict, k: int, kernels: Dict[str, float]) -> Dict[str, float]:
    """Per-layer metrics of one crawl job (``job`` as worker.py wrote it)."""
    ms = 1000.0
    j0, j1 = job["window"][0] * ms, job["window"][1] * ms + 1
    r0, r1 = job["run_window"][0] * ms, job["run_window"][1] * ms + 1
    stats = job["stats"]
    nodes = log.nodes(log.executions_in(j0, j1))
    py = [n for n in nodes if _is_python(n)]
    extract = [n for n in py if "page_features_" in n.desc]
    kernel = [n for n in py if n.name == "FlatMapCoGroupsInPandas" and " kernel(" in n.desc]
    sched = [n for n in py if n.name == "FlatMapCoGroupsInPandas" and " plan(" in n.desc]
    bloom_build = [n for n in py if n.name == "MapInPandas" and "partial(" in n.desc]
    probe = [n for n in py if "[mc(" in n.desc and _probes_seen(n)]
    probe_filters = [
        f for f in (_ancestor(n, lambda p: p.name == "Filter") for n in probe) if f is not None
    ]
    semi = [n for n in nodes if _is_semi(n) and "url_norm" in n.desc]
    bloom_semi = {id(j): j for j in (_ancestor(f, _is_semi) for f in probe_filters) if j is not None}

    out: Dict[str, float] = {}
    out["session.py_worker_start_s"] = _py(log, py, ev.PY_START) / ms
    out["crawl.init_job_s"] = job["init_s"]
    out["crawl.waves"] = len(stats)

    # Jobs are counted from the end of the previous wave (the start of
    # run() for the first) to the end of this one: work between waves
    # (stream triggers, depth hand-over) goes with the wave it leads to.
    # A wave's own start (its end minus its wall time) can land within
    # 20 ms of the jobs that open it; in the logs examined every wave
    # end was >= 50 ms from any job start.
    jobs_w, stages_w, tasks_w, gaps = [], [], [], []
    prev_end = job["run_window"][0]
    for (s, e) in job["wave_windows"]:
        jobs = log.jobs_in(prev_end * ms, e * ms + 1)
        prev_end = e
        stages = log.stages_of(jobs)
        jobs_w.append(len(jobs))
        stages_w.append(len(stages))
        tasks_w.append(sum(st.tasks for st in stages))
        gaps.append(((e - s) * ms - log.busy_ms(s * ms, e * ms)) / ms)
    out["crawl.jobs_per_wave"] = statistics.median(jobs_w) if jobs_w else 0
    out["crawl.stages_per_wave"] = statistics.median(stages_w) if stages_w else 0
    out["crawl.tasks_per_wave"] = statistics.median(tasks_w) if tasks_w else 0
    out["crawl.driver_gap_s"] = statistics.median(gaps) if gaps else 0.0
    run_stages = log.stages_of(log.jobs_in(r0, r1))
    cpu_s = sum(st.cpu_ns for st in run_stages) / 1e9
    out["crawl.cpu_util"] = cpu_s / max(1e-9, job["crawl_s"] * k)

    out["udfs.extract_python_s"] = _py(log, extract, ev.PY_RUN) / ms
    out["udfs.extract_rows"] = _py(log, extract, ev.OUT_ROWS)
    out["udfs.extract_bytes_in"] = _py(log, extract, ev.PY_SENT)
    out["udfs.extract_bytes_out"] = _py(log, extract, ev.PY_RECV)
    out.update(kernels)
    out["udfs.extract_overhead_s"] = (
        out["udfs.extract_python_s"]
        - out["udfs.extract_rows"] * kernels["htmlkit.page_features_us"] / 1e6
    )

    out["links.kernel_python_s"] = _py(log, kernel, ev.PY_RUN) / ms
    out["links.kernel_rows_in"] = sum(log.rows_into(n) for n in kernel)
    out["links.kernel_task_skew"] = ev.skew(
        [r for n in kernel for r in log.node_task_records(n)]
    )

    probe_rows = _py(log, probe, ev.OUT_ROWS)
    pass_rows = sum(log.value(f, ev.OUT_ROWS) for f in probe_filters)
    out["seen.bloom_build_s"] = _py(log, bloom_build, ev.PY_RUN) / ms
    out["seen.bloom_probe_rows"] = probe_rows
    out["seen.bloom_pass_rows"] = pass_rows
    out["seen.semi_rows_out"] = sum(log.value(n, ev.OUT_ROWS) for n in semi)
    # Bloom passes that the exact semi-join above the probe then drops
    false_pass = pass_rows - sum(log.value(j, ev.OUT_ROWS) for j in bloom_semi.values())
    out["seen.bloom_fpr"] = false_pass / probe_rows if probe_rows else 0.0

    out["scheduler.python_s"] = _py(log, sched, ev.PY_RUN) / ms
    out["scheduler.rows_in"] = sum(log.rows_into(n) for n in sched)
    out["scheduler.granted"] = sum(s["scheduled"] for s in stats) if sched else 0

    out["stream.overhead_s"] = (
        job["crawl_s"] - sum(s["wall_sec"] for s in stats) if job["driver"] == "stream" else 0.0
    )
    out["stream.micro_batches"] = micro_batches(job["job_dir"])
    out.update(storage(job["job_dir"], sum(s["scheduled"] for s in stats)))

    out.update(spark_wide(log, j0, j1, job))
    return out


def spark_wide(log: ev.EventLog, j0: float, j1: float, job: Dict) -> Dict[str, float]:
    """Task metrics of every job in [j0, j1) ms, and the Python workers'
    share of the process-tree CPU over the measured work."""
    ms = 1000.0
    out: Dict[str, float] = {}
    all_stages = log.stages_of(log.jobs_in(j0, j1))
    out["spark.executor_cpu_s"] = sum(st.cpu_ns for st in all_stages) / 1e9
    out["spark.gc_s"] = sum(st.gc_ms for st in all_stages) / ms
    out["spark.shuffle_write_bytes"] = sum(st.shuffle_write for st in all_stages)
    out["spark.shuffle_read_bytes"] = sum(st.shuffle_read for st in all_stages)
    out["spark.spill_bytes"] = sum(st.spill for st in all_stages)
    out["spark.peak_exec_mem_mb"] = max((st.peak_mem for st in all_stages), default=0) / 2**20
    out["spark.python_cpu_share"] = job["python_cpu_s"] / max(1e-9, job["cpu_s"])
    return out


def suite_layers(log: ev.EventLog, job: Dict) -> Dict[str, float]:
    """Per-layer metrics of one traced query suite (``job`` as
    worker.py wrote it): each query's wall, and per operator module
    the Python runner time and shuffle bytes of its queries."""
    ms = 1000.0
    j0, j1 = job["window"][0] * ms, job["window"][1] * ms + 1
    out: Dict[str, float] = {}
    py = [n for n in log.nodes(log.executions_in(j0, j1)) if _is_python(n)]
    out["session.py_worker_start_s"] = _py(log, py, ev.PY_START) / ms
    out["query.first_scan_s"] = job["init_s"]
    for m in MODULES:
        out[f"ops.{m}.python_s"] = out[f"ops.{m}.shuffle_bytes"] = 0
    for q, (s, e) in job["query_windows"].items():
        out[f"query.{q}_s"] = job["times"][q]
        nodes = log.nodes(log.executions_in(s * ms, e * ms + 1))
        m = QUERY_MODULE[q]
        out[f"ops.{m}.python_s"] += _py(log, [n for n in nodes if _is_python(n)], ev.PY_RUN) / ms
        out[f"ops.{m}.shuffle_bytes"] += sum(
            st.shuffle_write for st in log.stages_of(log.jobs_in(s * ms, e * ms + 1)))
    r0, r1 = job["run_window"][0] * ms, job["run_window"][1] * ms + 1
    out.update(spark_wide(log, r0, r1, job))
    return out

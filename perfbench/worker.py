"""Spark side of one benchmark job: a fresh session and one crawl, or
one round of the analytics queries, at k cores, every timing taken
around calls into the engine's public API. Results go to a JSON file
for ``run.py``; the crawl's output tables are exported to parquet and
the queries' results hashed after the timed regions, so correctness
is checked outside them.

Usage (from run.py): python3 perfbench/worker.py SPEC.json
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from typing import Dict, List

import host


def _export(engine, out_prefix: str) -> None:
    """Output tables the checks compare, as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "fetches": ["task_id", "url", "depth", "seq", "repetition", "code"],
        "seen": ["task_id", "url_norm"],
    }
    for table, names in cols.items():
        df = engine.table(table).select(*names)
        pq.write_table(
            pa.Table.from_pandas(df.toPandas(), preserve_index=False),
            f"{out_prefix}_{table}.parquet",
        )


def _wave_windows(job_dir: str, stats: List[Dict]) -> List[List[float]]:
    """[start, end] epoch seconds of each wave: the engine writes
    ``metrics/wave=N`` right after it measures the wave's wall time."""
    out = []
    for s in stats:
        path = os.path.join(job_dir, "metrics", f"wave={s['wave_id']:05d}", "part-00000.parquet")
        end = os.path.getmtime(path)
        out.append([end - s["wall_sec"], end])
    return out


def _crawl_job(spark, spec: Dict, job_dir: str, label: str) -> Dict:
    from pycrawler_spark import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.streaming.stream import stream_crawl

    engine = CrawlEngine(spark, job_dir, CrawlConfig(**spec["crawl_cfg"]), job=label)
    if spec["priority_urls"]:
        from pycrawler_spark import urlkit

        engine.set_priority(spark.createDataFrame(
            [(urlkit.normalize_url(u), 1.0) for u in spec["priority_urls"]],
            "url_norm string, priority double",
        ))
    seeds = spark.read.parquet(spec["seeds"])
    t_init = time.time()
    t = time.perf_counter()
    engine.init_job(seeds, spec["pages"])
    init_s = time.perf_counter() - t
    t_run = time.time()
    cpu0 = host.cpu_split(os.getpid())
    t = time.perf_counter()
    try:
        stats = stream_crawl(engine) if spec["driver"] == "stream" else engine.run()
        error = None
    except Exception as e:  # a failed crawl is a counted failure, not a crash
        stats, error = [], f"{type(e).__name__}: {str(e)[:300]}"
    crawl_s = time.perf_counter() - t
    # the JVM and its Python workers live until spark.stop(), so the
    # tree's CPU counters cover the whole crawl
    cpu1 = host.cpu_split(os.getpid())
    t_end = time.time()
    res = {
        "init_s": init_s, "crawl_s": crawl_s,
        "cpu_s": cpu1[0] - cpu0[0], "python_cpu_s": cpu1[1] - cpu0[1],
        "stats": stats, "error": error,
        "window": [t_init, t_end], "run_window": [t_run, t_end],
        "job_dir": job_dir,
    }
    if error is None:
        res["wave_windows"] = _wave_windows(job_dir, stats)
        _export(engine, os.path.join(spec["work_dir"], label))
    return res


def _suite_job(spark, spec: Dict) -> Dict:
    """A first scan, then one round of the headline queries in a
    seed-shuffled order; every result is collected."""
    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(spec["root"], "scripts"))
    from check_oracles import canon

    tables = spec["tables"]
    queries = entry.queries()
    t_scan, t = time.time(), time.perf_counter()
    spark.read.parquet(os.path.join(tables, "lineitem.parquet")).count()
    scan_s = time.perf_counter() - t
    order = list(spec["queries"])
    random.Random(spec["seed"]).shuffle(order)
    times: Dict[str, float] = {}
    windows: Dict[str, List[float]] = {}
    results, errors = {}, []
    t_run = time.time()
    cpu0 = host.cpu_split(os.getpid())
    for name in order:
        w0, t = time.time(), time.perf_counter()
        try:
            df = queries[name](spark, tables)
            results[name] = (df.collect(), df.columns)
        except Exception as e:  # a failed query is a counted failure
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        times[name] = time.perf_counter() - t
        windows[name] = [w0, time.time()]
    cpu1 = host.cpu_split(os.getpid())
    t_end = time.time()
    # [canon hash, row count, sorted columns]; a failed query has none
    hashes = {
        n: [canon([tuple(x) for x in rows], cols), len(rows), sorted(cols)]
        for n, (rows, cols) in results.items()
    }
    return {
        "init_s": scan_s, "cpu_s": cpu1[0] - cpu0[0], "python_cpu_s": cpu1[1] - cpu0[1],
        "times": times, "hashes": hashes, "errors": errors, "query_windows": windows,
        "window": [t_scan, t_end], "run_window": [t_run, t_end],
    }


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from pycrawler_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{spec['k']}]",
        extra_conf=spec["spark_conf"],
    )
    result = {"get_spark_s": time.perf_counter() - t}
    try:
        if spec["kind"] == "suite":
            result["job"] = _suite_job(spark, spec)
        else:
            result["job"] = _crawl_job(spark, spec, os.path.join(spec["work_dir"], "job"), "job")
    finally:
        spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

"""SparkSession factory with scale-oriented defaults.

Every knob is set for the 100 TB / 1000-executor target and merely
*scaled down* for local testing:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's fixed one-site-per-process parallelism (main.py:123-140),
* Arrow-batched pandas UDFs with a bounded batch size so fat
  ``html: binary`` values don't blow worker memory
  (the analog of the reference's browser-restart hygiene,
  crawler.py:353-372),
* shuffle partition count sized by the caller (tests: 8/32; cluster:
  2-3x total cores).
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package for shipment to executors — the local-mode
    analog of ``spark-submit --py-files pycrawler_spark.zip`` (north
    rule deployment model). Without it, pandas-UDF workers spawned
    outside the repo root cannot unpickle UDF closures that reference
    package modules."""
    pkg_dir = pathlib.Path(__file__).resolve().parent
    out = os.path.join(tempfile.gettempdir(), "pycrawler_spark_pkg.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for py in sorted(pkg_dir.rglob("*.py")):
            z.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
        # package data (the vendored full public-suffix list) must
        # travel with the code: executors read it via
        # importlib.resources from this zip (psl.load_psl)
        for dat in sorted(pkg_dir.rglob("data/*")):
            if dat.is_file():
                z.write(dat, arcname=str(dat.relative_to(pkg_dir.parent)))
    return out


def _default_driver_mem() -> str:
    """Half the host's physical RAM: in local mode the driver JVM also
    runs every executor task, and the Python workers need the rest."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{ram_mb // 2}m"


def get_spark(
    app_name: str = "pycrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict | None = None,
    ship_package: bool = True,
) -> SparkSession:
    master = (
        master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0))}]"
    )
    if shuffle_partitions is None:
        # one-ish partition per core locally; on a real cluster pass 2-3x cores
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = 32 if inner == "*" else max(8, int(inner))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets SHUFFLE BYTES, but this engine's
        # post-shuffle stages are CPU-bound pandas kernels over highly
        # compressible url/text rows (~few MB shuffled for ~10 s of
        # Python work): the 1 MB default collapsed the dedup kernel to
        # 3 tasks. 64 KB keeps coalescing for truly-empty partitions
        # while preserving kernel parallelism.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick a shuffled-hash join when its size
        # conditions hold (guide: SHJ skips the per-partition sort and
        # is usually faster when one side is moderately small). Spark
        # falls back to sort-merge when neither side can build a local
        # hash map — but it decides that from Catalyst's size
        # estimates, so SMJ's spill-safety holds only when those are
        # right. After explode/UDF stages they often are not, and a
        # hash build side picked on a low estimate can OOM where
        # sort-merge would spill. Measured r6, interleaved medians at
        # sf0.1: q12 0.95->0.69 s, q58 1.53->1.37 s, q54 3.22->2.86 s,
        # no query slower.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # When a fetch wave outgrows the broadcast cap the corpus side
        # of the fetch join would shuffle; the runtime bloom filter
        # (built from the wave side) prunes corpus rows BEFORE the
        # exchange so only candidate pages move. creationSideThreshold
        # raised so waves of ~10^7 slim url rows still build a filter.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(256 * 1024 * 1024),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.reuse", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if ship_package:
        spark.sparkContext.addPyFile(_package_zip())
    return spark

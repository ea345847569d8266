"""Iceberg storage path for the crawl engine (north rule: the frontier
lives "over Iceberg tables" on a real cluster).

The engine's log-structured parquet layout was designed to map 1:1
onto Iceberg, so this module is a thin bridge, not a rewrite:

=====================  =======================================
engine (parquet mode)  Iceberg equivalent
=====================  =======================================
``table/wave=N`` dir   one snapshot (one append commit per wave)
``manifest.json``      table metadata + snapshot log
crash-safe dir rename  atomic snapshot commit
resume (drop
uncommitted dirs)      snapshot rollback / write-audit-publish
``CrawlEngine.compact``  ``rewrite_data_files`` (bin-packing)
host-bucket
``repartition``        ``PARTITIONED BY (bucket(N, host))``
tasks snapshot
rewrite                ``MERGE INTO`` on task_id
=====================  =======================================

The sandbox container has no ``iceberg-spark-runtime`` jar and no
network to fetch one, so every entry point degrades with a clear
error and ``tests/test_storage.py`` skips the round-trip when the
runtime is absent. On a real cluster, launch with::

    spark-submit --packages {ICEBERG_PACKAGE} \
        --conf spark.sql.catalog.crawl=org.apache.iceberg.spark.SparkCatalog \
        ... (see :func:`iceberg_conf`)

Reference parity note: the reference keeps all state in a single
PostgreSQL database mutated row-by-row (/root/reference/database.py);
the Iceberg layout replaces row mutation with per-wave commits, which
is the only state model that survives a 10^10-row frontier.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

# Spark 4.x / Scala 2.13 runtime artifact; pin explicitly so cluster
# submits are reproducible.
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"

# Partition spec per engine table. host-bucketing is the north rule's
# hash-partitioning; bucket() keeps partition count fixed while
# distributing mega-hosts, and pairs with the engine's salt column for
# intra-host spread. Tables without a host column commit unpartitioned
# (they are small snapshots or per-wave appends).
PARTITION_SPECS: Dict[str, str] = {
    "fetches": "bucket(64, host)",
    "frontier": "bucket(64, host)",
    "requests": "bucket(64, host)",
    "lineage": "bucket",         # engine's host-bucket column
    "seen": "",
    "tasks": "",
    "metrics": "",
}

# Tables whose snapshot semantics are LATEST-WINS (the engine rewrites
# the whole logical table each wave): synced via MERGE, not append.
MERGE_KEYS: Dict[str, List[str]] = {"tasks": ["task_id"]}


def iceberg_conf(
    catalog: str = "crawl", warehouse: Optional[str] = None
) -> Dict[str, str]:
    """Spark conf dict for a Hadoop-backed Iceberg catalog. Pass to
    ``get_spark(extra_conf=...)`` or translate to ``--conf`` flags on
    spark-submit. ``warehouse`` defaults to a local path for tests; on
    a cluster point it at object storage."""
    warehouse = warehouse or os.path.abspath("iceberg_warehouse")
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime classes are on the session's JVM
    classpath (i.e. the jar shipped via --packages/--jars)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _qualified(catalog: str, db: str, table: str) -> str:
    return f"{catalog}.{db}.{table}"


def ensure_table(
    spark: SparkSession, catalog: str, db: str, table: str, like: DataFrame
) -> str:
    """Create ``catalog.db.table`` as an Iceberg table with the
    engine's partition spec if it does not exist; return the qualified
    name. Schema comes from ``like`` (the engine's own output), so the
    DDL never drifts from the write path."""
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{db}")
    q = _qualified(catalog, db, table)
    spec = PARTITION_SPECS.get(table, "")
    part = f" PARTITIONED BY ({spec})" if spec else ""
    like.limit(0).createOrReplaceTempView(f"_ice_schema_{table}")
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {q} USING iceberg{part} "
        f"AS SELECT * FROM _ice_schema_{table}"
    )
    return q


def _synced_waves(spark: SparkSession, q: str) -> List[int]:
    rows = spark.sql(f"SHOW TBLPROPERTIES {q}").collect()
    props = {r["key"]: r["value"] for r in rows}
    raw = props.get("crawl.synced_waves", "")
    return [int(x) for x in raw.split(",") if x]


def _record_waves(spark: SparkSession, q: str, waves: List[int]) -> None:
    val = ",".join(str(w) for w in sorted(set(waves)))
    spark.sql(f"ALTER TABLE {q} SET TBLPROPERTIES ('crawl.synced_waves'='{val}')")


def sync_to_iceberg(
    engine, catalog: str = "crawl", db: str = "crawljob"
) -> Dict[str, int]:
    """Publish a :class:`CrawlEngine`'s committed waves into Iceberg
    tables — one append commit per new wave (so Iceberg's snapshot log
    mirrors the engine's manifest), MERGE for latest-wins tables.

    Idempotent: already-synced wave ids are tracked in the table
    property ``crawl.synced_waves`` and skipped, so the function can
    run per-wave (streaming publish) or once at the end (bulk export).
    Returns rows appended per table.
    """
    spark = engine.spark
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; launch with "
            f"--packages {ICEBERG_PACKAGE} and iceberg_conf(...)"
        )
    m = engine._load_manifest()
    out: Dict[str, int] = {}
    tables = sorted({t for w in m["waves"] for t in w.get("tables", [])})
    for t in tables:
        waves = engine._committed(m, t)
        if not waves:
            continue
        if t in MERGE_KEYS:
            # latest-wins snapshot: MERGE the newest wave only
            latest = max(waves)
            df = engine._read(t, [latest])
            if df is None:
                continue
            q = ensure_table(spark, catalog, db, t, df)
            if latest in _synced_waves(spark, q):
                continue
            keys = MERGE_KEYS[t]
            on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            df.createOrReplaceTempView(f"_ice_src_{t}")
            spark.sql(
                f"MERGE INTO {q} t USING _ice_src_{t} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            _record_waves(spark, q, [latest])
            out[t] = df.count()
        else:
            first = engine._read(t, waves[:1])
            q = ensure_table(spark, catalog, db, t, first)
            done = set(_synced_waves(spark, q))
            todo = [w for w in waves if w not in done]
            n = 0
            for w in todo:
                df = engine._read(t, [w])
                if df is None:
                    continue
                df.writeTo(q).append()  # one snapshot per wave
                n += df.count()
            if todo:
                _record_waves(spark, q, sorted(done | set(todo)))
            out[t] = n
    return out

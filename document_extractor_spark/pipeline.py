"""End-to-end extraction job — the Spark lifecycle from SURVEY.md §3.4.

    pages (Iceberg-style parquet, partitioned by warc_day)
      → scan with partition pruning (only uncommitted partitions)
      → mapInArrow extraction (Arrow batches, byte-capped)    ← NARROW
      → observe() metrics
      → dynamic-partition-overwrite parquet write
      → per-partition manifest commit

The default plan is ZERO-shuffle: extraction maps directly over
``maxPartitionBytes``-sized scan splits, which are host-agnostic — the
Zipfian host skew cannot unbalance a stateless per-row map, and at
100 TB a pre-extraction repartition would shuffle all 100 TB of raw
payload (measured 3.7× slower even at bench scale). Salting
(``extract_pages(num_partitions=…)``, the only caller of
``salted_repartition``) remains as an explicit knob for source layouts
whose *files* are skewed.

One partition = one job = one checkpoint grain. Killing the process
between jobs loses at most the in-flight partition, which the next run
redoes idempotently (overwrite). The whole pipeline is ONE Spark stage —
every reference thread/process boundary (``pdf_processor.py:151-268``
thread pool, per-page JSON files) collapses into Spark task/Arrow
boundaries.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import commit_partition, committed_partitions
from .operators.extract import extract_pages, observe_extract
from .sources.pages import (
    is_catalog_table,
    list_partitions,
    read_pages_table,
    table_partition_values,
    write_result,
)


def run_extract_job(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    num_partitions: int | None = None,
    salt: int = 16,
    resume: bool = True,
) -> dict:
    """Extract every uncommitted warc_day partition. Returns run summary.

    ``num_partitions=None`` (default) keeps the narrow zero-shuffle plan;
    pass a count only to force a salted repartition of the raw payload
    (skewed/unsplittable source files).

    ``in_path`` may be a filesystem path (Iceberg-style parquet layout)
    or a catalog table identifier (``db.pages``) — the latter binds the
    real Iceberg/Delta table on a cluster with the runtime jars, with
    partition planning via the catalog instead of directory listing.
    """
    if is_catalog_table(in_path):
        all_parts = table_partition_values(spark, in_path)
    else:
        all_parts = list_partitions(in_path)
    done = (committed_partitions(out_path, in_path, spark)
            if resume else set())
    todo = [p for p in all_parts if p not in done]
    summary = {
        "partitions_total": len(all_parts),
        "partitions_skipped": len(all_parts) - len(todo),
        "partitions_processed": 0,
        "docs": 0,
        "parse_failures": 0,
        "bytes_in": 0,
        "bytes_out": 0,
    }
    for part in todo:
        t0 = time.monotonic()
        pages = read_pages_table(spark, in_path) \
            .filter(F.col("warc_day") == part)
        result = extract_pages(
            pages, num_partitions=num_partitions, salt=salt, keep_warc_day=True
        )
        observed, obs = observe_extract(result)
        write_result(observed, out_path)
        row = obs.get
        metrics = {
            "docs": row.get("docs") or 0,
            "parse_failures": row.get("parse_failures") or 0,
            "bytes_in": row.get("bytes_in") or 0,
            "bytes_out": row.get("bytes_out") or 0,
        }
        commit_partition(out_path, in_path, part, metrics,
                         time.monotonic() - t0)
        summary["partitions_processed"] += 1
        for k, v in metrics.items():
            summary[k] += int(v)
    return summary


def read_extracted(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", out_path).parquet(out_path)

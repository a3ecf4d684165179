"""Per-partition checkpoint manifests — resumable, idempotent extraction.

The reference resumes nothing: a crash re-runs the whole document
(``pdf_processor.py:66-399`` is one monolithic try). The north rule
demands per-partition lineage + metrics with idempotent resume, so the
engine commits one JSON manifest per Iceberg-style partition AFTER that
partition's output is durably written:

    out/_manifests/warc_day=2026-03-04.json
      {partition, input_fingerprint, docs, parse_failures,
       bytes_in, bytes_out, wall_sec, engine_version}

Resume = skip partitions whose manifest exists AND whose input
fingerprint still matches (re-crawled partitions reprocess
automatically). Output writes use dynamic partition overwrite, so a
half-written partition from a killed run is fully replaced on retry —
rerun-until-success converges to the same bytes as a clean run (tested
kill-and-resume invariant, BASELINE.md).

At 100 TB the manifest dir holds one tiny JSON per partition (day × host
bucket granularity if needed) — driver-side listing cost is O(partitions),
not O(files); on a real cluster the same scheme rides on the object
store's atomic rename or an Iceberg snapshot commit.
"""

from __future__ import annotations

import json
import os
import time

from .sources.pages import is_catalog_table, strip_table_prefix

ENGINE_VERSION = 1  # bump to force global re-extraction


def catalog_partition_counts(spark, in_path: str) -> dict:
    """Per-``warc_day`` row counts of a catalog table in ONE Spark job
    (``groupBy(warc_day).count()``, answered from parquet footer /
    Iceberg manifest metadata, collected once on the driver).

    This exists so resume planning stays O(1) Spark jobs: fingerprinting
    each committed partition separately would launch one ``count()`` job
    PER partition PER resume — at 100k ``warc_day×bucket`` partitions
    that is hours of sequential driver planning before any work."""
    from pyspark.sql import functions as F

    rows = (spark.read.table(strip_table_prefix(in_path))
            .groupBy("warc_day").agg(F.count("*").alias("n")).collect())
    return {str(r["warc_day"]): int(r["n"]) for r in rows}


def _manifest_dir(out_path: str) -> str:
    return os.path.join(out_path, "_manifests")


def _manifest_path(out_path: str, partition: str) -> str:
    return os.path.join(_manifest_dir(out_path), f"warc_day={partition}.json")


def input_fingerprint(in_path: str, partition: str,
                      counts: dict | None = None) -> str:
    """Cheap lineage: (name, size) of each input file in the partition.
    Content-hash-free so resume planning stays metadata-only.

    Catalog-table sources have no listable files; the fingerprint is
    the table identifier + partition (+ the partition's row count from
    ``counts``, so a partition overwrite is still caught). Resume
    planning takes ``counts`` from ``catalog_partition_counts`` (ONE
    Spark job for every partition); a commit takes it from the
    partition's observed ``docs`` (no job at all). With a real Iceberg
    runtime this is where the SNAPSHOT ID binds instead (the format's
    own lineage handle — strictly stronger); the manifest schema
    carries it opaquely."""
    if is_catalog_table(in_path):
        base = f"table:{strip_table_prefix(in_path)}:warc_day={partition}"
        if counts is not None:
            return f"{base}:n={counts.get(str(partition), 0)}"
        return base
    d = os.path.join(in_path, f"warc_day={partition}")
    entries = []
    if os.path.isdir(d):
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p) and not name.startswith(("_", ".")):
                entries.append(f"{name}:{os.path.getsize(p)}")
    return ";".join(entries)


def committed_partitions(out_path: str, in_path: str,
                         spark=None) -> set:
    """Partitions safe to skip: manifest present, same engine version,
    input fingerprint unchanged. Catalog sources fingerprint ALL
    partitions off one batched count job (``catalog_partition_counts``),
    not one Spark job per manifest."""
    done = set()
    mdir = _manifest_dir(out_path)
    if not os.path.isdir(mdir):
        return done
    counts = None
    if spark is not None and is_catalog_table(in_path):
        counts = catalog_partition_counts(spark, in_path)
    for name in os.listdir(mdir):
        if not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(mdir, name), encoding="utf-8") as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        part = m.get("partition")
        if (
            part
            and m.get("engine_version") == ENGINE_VERSION
            and m.get("input_fingerprint")
                == input_fingerprint(in_path, part, counts)
        ):
            done.add(part)
    return done


def commit_partition(out_path: str, in_path: str, partition: str,
                     metrics: dict, wall_sec: float) -> None:
    """Write the partition's manifest. Extraction emits one row per
    input row, so ``metrics["docs"]`` is the partition's row count: a
    catalog source is fingerprinted from it, as resume planning
    fingerprints it from ``catalog_partition_counts``."""
    os.makedirs(_manifest_dir(out_path), exist_ok=True)
    counts = {str(partition): int(metrics["docs"])}
    manifest = {
        "partition": partition,
        "engine_version": ENGINE_VERSION,
        "input_fingerprint": input_fingerprint(in_path, partition, counts),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "wall_sec": round(wall_sec, 3),
        **{k: int(v) for k, v in metrics.items()},
    }
    tmp = _manifest_path(out_path, partition) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, _manifest_path(out_path, partition))  # atomic commit


def read_manifests(out_path: str) -> list:
    mdir = _manifest_dir(out_path)
    out = []
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name), encoding="utf-8") as f:
                    out.append(json.load(f))
    return out

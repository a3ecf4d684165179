"""Snapshot diff — compare two crawl snapshots by key and classify
every URL as added / removed / changed / unchanged. The crawl-ops use:
revisit policy tuning (how much of the web moved since last month?),
incremental re-extraction planning (only ``changed`` needs the
pipeline re-run), and index maintenance.

Scale shape: both sides reduce to (key, content-fingerprint) BEFORE
the compare, so the one full-outer shuffle moves two 16-byte-ish
columns per row, never the payload. The fingerprint is the repo's
md5-based ``fingerprint`` (exact DuckDB twin), so the whole diff has a
closed-form oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str = "url",
                  text_col: str = "text") -> DataFrame:
    """One row per key present in either snapshot:
    ``(key, status ∈ {added, removed, changed, unchanged})``. Keys must
    be unique per snapshot (crawl tables are, post-dedup). A NULL text
    fingerprints as NULL; two NULLs compare as unchanged (null-safe
    equality), NULL-vs-text as changed."""
    oh = old.select(F.col(key_col).alias("_k"),
                    fingerprint(text_col).alias("_oldh"),
                    F.lit(True).alias("_in_old"))
    nh = new.select(F.col(key_col).alias("_k"),
                    fingerprint(text_col).alias("_newh"),
                    F.lit(True).alias("_in_new"))
    j = oh.join(nh, "_k", "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_oldh").eqNullSafe(F.col("_newh")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("_k").alias(key_col), status.alias("status"))


def detect_moves(old: DataFrame, new: DataFrame, key_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """Content-keyed complement of :func:`snapshot_diff`: find content
    that CHANGED URL between two snapshots — ``snapshot_diff`` calls
    the old URL ``removed`` and the new one ``added``, but for index
    maintenance and redirect discovery they are one event: a move
    (site restructures, CMS slug changes, http→https cutovers that the
    server never announced with a 301).

    A move is a content fingerprint that appears in both snapshots but
    under disjoint URL sets: fingerprints are aggregated to their
    sorted distinct URL list PER SIDE first (so boilerplate duplicated
    across many URLs — the same fingerprint on both sides at different
    fan-in — is classified honestly, not zipped into fake pairs), and
    a fingerprint reports as moved only when the two sides share NO
    URL. Multi-URL content emits the full old/new URL lists; consumers
    decide redirect targets (``old_urls[0] → new_urls[0]`` is the
    deterministic default, both lists sorted).

    Scale shape: both sides reduce to the narrow (fingerprint, url)
    projection, one groupBy per side on the 16-byte fingerprint
    (map-side combinable), then one equi-join of the two fingerprint
    tables. Text never shuffles. NULL text has no fingerprint and
    cannot move.

    Fan-in cap: the emitted URL lists are the first 64 sorted URLs of
    each side, and ``capped`` marks a fingerprint with more than 64
    URLs on either side (the pathological all-empty-docs key —
    boilerplate, not movable content). ``moved`` is decided on the
    full URL sets, so a URL shared past the 64th position still
    counts.

    Output: ``(content_hash, old_urls, new_urls, moved, capped)``, one
    row per fingerprint present on both sides.
    """
    if old is new:
        raise ValueError("old and new must be different snapshots")
    cap = 64  # fan-in beyond this is boilerplate, not movable content

    def side(df: DataFrame, out: str) -> DataFrame:
        return (df.where(F.col(text_col).isNotNull())
                .select(fingerprint(text_col).alias("content_hash"),
                        F.col(key_col).alias("_u"))
                .groupBy("content_hash")
                .agg(F.array_sort(F.collect_set("_u")).alias(f"_all_{out}")))

    j = side(old, "old").join(side(new, "new"), "content_hash")
    return j.select(
        "content_hash",
        F.slice("_all_old", 1, cap).alias("old_urls"),
        F.slice("_all_new", 1, cap).alias("new_urls"),
        (F.size(F.array_intersect("_all_old", "_all_new")) == 0)
        .alias("moved"),
        ((F.size("_all_old") > cap) | (F.size("_all_new") > cap))
        .alias("capped"))

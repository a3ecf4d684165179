"""Structured Streaming operators — the streaming face of the engine.

The reference is strictly batch-per-upload (SURVEY.md §2.8: no streaming
ops exist), but a web-scale crawl pipeline ingests continuously, so the
engine exposes its operators as streaming jobs:

- ``stream_extract``   — the SAME ``extract_pages`` operator over
  ``readStream`` micro-batches (mapInArrow works unchanged in streaming).
- ``stream_event_counts`` — watermarked tumbling-window aggregation.
- ``stream_sessionize`` — ``session_window`` gap sessions.
- ``stream_host_stats`` — the batch ``textstats.host_stats``
  aggregation in update mode.
- ``stream_hll_distinct`` — the batch HyperLogLog registers as a
  streaming aggregation in update mode.

All testable synchronously against parquet sources with a memory sink
(``processAllAvailable``).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..operators.textstats import host_stats
from ..sources.pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_extract(pages_stream: DataFrame) -> DataFrame:
    """Streaming extraction: identical operator, streaming plan."""
    return extract_pages(pages_stream)


def stream_event_counts(events: DataFrame, window: str = "5 minutes",
                        slide: str | None = None,
                        watermark: str = "10 minutes") -> DataFrame:
    """Watermarked windowed aggregation over the events shape
    (late rows beyond the watermark are dropped, state is bounded)."""
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "sum_value",
        )
    )


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Gap-based sessions via the built-in session_window — the streaming
    twin of the batch lag/cumsum sessionizer in __spark_entry__."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id", "n_events",
        )
    )


def stream_host_stats(extracted_stream: DataFrame) -> DataFrame:
    """Per-host running crawl-health counters (docs, parse failures,
    bytes in; SURVEY.md §2.7 A4): the batch ``textstats.host_stats``
    as a streaming aggregation, with no Python. In update mode each
    trigger emits the new totals of the hosts it saw; state is one
    aggregation buffer per host."""
    return host_stats(extracted_stream, "url", bytes_col="n_bytes_in",
                      error_col="parse_error")


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "append") -> None:
    """Drive a streaming query to completion over the currently-available
    input (test/dev helper)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_dedup_exact(pages_stream: DataFrame,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop pages whose normalized content hash
    was already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state is evicted once the
    watermark passes, so state size is bounded by the horizon's volume,
    not the stream's lifetime). The streaming twin of
    ``operators.dedup.drop_exact_duplicates``; crawl re-fetches of an
    unchanged page inside the horizon are suppressed at ingest.

    The key is md5 of the RAW payload bytes — ingest-time dedup runs
    before extraction, payloads may be binary (PDF), and a byte-exact
    re-fetch is exactly the case to suppress; text-normalized dedup
    remains the batch operator's job downstream."""
    hashed = (
        pages_stream
        .withColumn("ts", F.coalesce(F.col("warc_ts"),
                                     F.current_timestamp()))
        .withColumn("content_hash", F.md5(F.col("html")))
        .withWatermark("ts", watermark)
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def run_stream_dedup_foreach_batch(spark: SparkSession, input_path: str,
                                   out_path: str, checkpoint: str,
                                   watermark: str = "1 hour") -> DataFrame:
    """Drive ``stream_dedup_exact`` over a parquet-backed page stream
    with a ``foreachBatch`` parquet sink (the deploy shape: idempotent
    append + checkpointed progress, resumable mid-stream), then return
    the accumulated survivors as a batch DataFrame. ``availableNow``
    processes the full backlog in bounded micro-batches and stops."""
    kept = stream_dedup_exact(stream_pages(spark, input_path),
                              watermark=watermark)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent commit: each micro-batch OVERWRITES its own
        # batch-keyed directory. foreachBatch gives at-least-once
        # delivery — a crash between the parquet write and the
        # streaming checkpoint replays the batch, and a plain append
        # would duplicate its rows (defeating the dedup job itself);
        # replaying an overwrite converges to the same bytes.
        batch_df.select("url").write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}")

    q = (
        kept.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Zero input batches → no sink directory was ever written; an empty
    # stream is a valid run (fresh checkpoint over an already-drained
    # source) and must yield an empty frame, not PATH_NOT_FOUND. Probe
    # by READING, not os.path.isdir: the sink can be s3a://... on a
    # deployment — a driver-local isdir is always false there and would
    # silently discard every survivor the stream just wrote.
    try:
        return spark.read.parquet(out_path).drop("batch")
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return spark.createDataFrame([], "url string")
        raise


def stream_hll_distinct(keyed_stream: DataFrame, key_col: str,
                        value_col: str) -> DataFrame:
    """Streaming HyperLogLog: continuous per-key distinct-count
    estimates as a streaming aggregation, with no Python. State is one
    aggregation buffer per key — the m=64 register maxima
    (``max(CASE WHEN bucket = b THEN rank END)``) and a row count —
    bounded by key cardinality, NEVER by stream length (the whole point
    of carrying a sketch instead of a seen-set).

    The (bucket, rank) projection is the SAME expression as the batch
    operator (``operators.hll.bucket_rank_projection``) and the
    estimate is the same ``hll_estimate`` Column; register max is
    commutative and idempotent, so the final state after any
    micro-batch slicing equals the batch sketch exactly — the driver
    oracle for the streaming query IS the batch oracle. In update mode
    each trigger emits ``(key, n_rows, n_used, est_distinct)`` for the
    keys it saw. ``n_rows`` (rows folded so far) grows with every
    emission of a key, so a final-state reader takes the max-``n_rows``
    row per key; ``est_distinct`` alone is not monotone across the
    linear-counting switch."""
    from ..operators.hll import (
        CAP, M, bucket_rank_projection, hll_estimate)

    projected = bucket_rank_projection(keyed_stream, key_col, value_col)
    registers = projected.groupBy("key").agg(
        F.array(*[F.max(F.when(F.col("bucket") == b, F.col("rank")))
                  for b in range(M)]).alias("regs"),
        F.count("*").alias("n_rows"))
    folded = registers.select(
        "key", "n_rows",
        F.size(F.filter("regs", lambda r: r.isNotNull())).alias("n_used"),
        F.expr(f"aggregate(regs, 0L, (acc, r) -> acc"
               f" + coalesce(shiftleft(1L, {CAP} - r), 0L))")
        .alias("s_used"))
    return folded.select(
        "key", "n_rows", "n_used",
        hll_estimate(F.col("n_used"), F.col("s_used"))
        .alias("est_distinct"))


#: a subscription set is standing-query metadata inlined into the plan
_MAX_PERCOLATE_RULES = 512


def stream_percolate(pages_stream: DataFrame, rules,
                     id_col: str = "url",
                     text_col: str = "text") -> DataFrame:
    """Standing-query percolation AT INGEST, streaming-native: emit
    ``(id, query_id)`` the moment a page arrives whose tokens contain
    ALL of a subscription's terms — alerting / routing / topic-feed
    maintenance over a live crawl (the Elasticsearch-percolator idea,
    Spark-first).

    The rule set is subscription METADATA — ``[(query_id, [terms])]``,
    bounded by ``_MAX_PERCOLATE_RULES`` and inlined as literals — so
    matching is a STATELESS in-row projection: per row one distinct
    lowercased token array (bound ONCE through a single-element
    ``transform`` so Catalyst's lambda inlining cannot re-tokenize per
    rule×term), one ``forall`` containment per rule, one staged
    explode of the matched ids. No state store, no watermark, no
    shuffle: any sink, append mode, and the identical expression runs
    unchanged on a batch DataFrame — batch/stream parity is
    structural, tested against ``operators.percolate.percolate``.

    Rules with empty/NULL term lists are rejected (they would match
    everything); NULL text matches nothing.
    """
    rl = [(q, [str(t) for t in terms]) for q, terms in rules]
    if not rl or len(rl) > _MAX_PERCOLATE_RULES:
        raise ValueError(
            f"need 1..{_MAX_PERCOLATE_RULES} rules, got {len(rl)}")
    if len({q for q, _ in rl}) != len(rl):
        raise ValueError("duplicate query_id in rules")
    for q, terms in rl:
        if not terms:
            raise ValueError(f"rule {q!r} has no terms")
    toks = F.array_distinct(F.transform(
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                 lambda t: t != F.lit("")),
        lambda t: F.lower(t)))

    def matches(tk):
        per_rule = F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.forall(
                    F.array(*[F.lit(t.lower()) for t in sorted(set(ts))]),
                    lambda t: F.array_contains(tk, t)).alias("m"))
            for q, ts in rl
        ])
        return F.transform(F.filter(per_rule, lambda s: s["m"]),
                           lambda s: s["q"])

    bound = F.element_at(F.transform(F.array(toks),
                                     lambda tk: matches(tk)), 1)
    staged = pages_stream.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), bound.alias("_q"))
    return (staged.select(F.col(id_col), F.explode("_q").alias("query_id")))


def stream_quality_gate(pages_stream: DataFrame, weights_milli,
                        text_col: str = "text",
                        bias_milli: int = 0,
                        threshold_milli: int = 0) -> DataFrame:
    """Model-based quality gating AT INGEST: score every arriving page
    with the fastText-style hashed linear model
    (``operators.linmodel.hashed_linear_score``) and carry the verdict
    — the DCLM/CCNet classifier gate applied where it is cheapest, at
    the crawl mouth, before a low-quality page ever costs downstream
    dedup/extraction work.

    The scoring fold is a STATELESS narrow projection (weights are one
    inlined string constant), so like :func:`stream_percolate` it
    needs no state store or watermark, works in append mode with any
    sink, and a micro-batch slicing change cannot alter a verdict —
    batch/stream parity is structural: the identical expression tree
    scores the batch corpus in the ``hashed_quality`` contract query.
    """
    from ..operators.linmodel import hashed_linear_score

    return hashed_linear_score(
        pages_stream, weights_milli, text_col=text_col,
        bias_milli=bias_milli, threshold_milli=threshold_milli)

"""Structured-Streaming variant of the quality cascade.

The reference is batch-only (SURVEY.md §2.10) — its only incremental
notion is persistent-override replay, which we implement as snapshot
checkpoints. This module exists because a 100 TB ingestion pipeline
usually *arrives* as a stream: the same stateless rule cascade applied
via readStream — the batch code's Arrow text pass (``text_signals``)
and hit builder (``rules.rule_hits``), so batch and stream decide
through one rule path — with a windowed per-minute metrics aggregation
(watermarked) as the streaming metrics sink.

Near-dup clustering is deliberately NOT in the streaming path — it is a
global self-join and belongs to the periodic batch compaction (the
standard lambda split); the streaming decisions carry rule/scrub
results only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.image import text_signals
from ..operators.cascade import resolve_decisions, score_signals
from ..operators.rules import RuleConfig, rule_hits
from ..schemas import PAIRS_SCHEMA
from ..session import widen_if_narrow


def _scored_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a pairs parquet directory -> the batch cascade's
    scored columns: the Arrow text pass (``functions.image.text_signals``,
    the half of ``decode_validate_inline`` that needs no bytes) and
    ``score_signals``. ``corrupt_image`` is judged from metadata only —
    the stream decodes no bytes — and no near-dup hit is built."""
    pairs = spark.readStream.schema(PAIRS_SCHEMA).parquet(input_dir)
    return score_signals(
        text_signals(pairs.select("image_id", "w", "h", "fmt", "caption"))
    )


def stream_decisions(
    spark: SparkSession, input_dir: str, cfg: RuleConfig | None = None
) -> DataFrame:
    """readStream over a parquet directory -> streaming decisions frame."""
    scored = _scored_stream(spark, input_dir)
    resolved = resolve_decisions(scored, rule_hits(scored, cfg or RuleConfig()))
    return resolved.select(
        "image_id", "decision", "rule", "severity", "caption_scrubbed", "lang"
    )


def stream_metrics(
    spark: SparkSession,
    input_dir: str,
    cfg: RuleConfig | None = None,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window keep/drop/scrub metrics stream.

    The streaming edition of the per-run summary rollup (reference
    matching_script.py:614-653): each micro-batch's decisions aggregate
    into event-time windows; the watermark bounds state for late rows.
    Event time is PROCESSING time stamped after the Arrow text pass
    (PAIRS_SCHEMA carries no event-time column — ingest_ts =
    current_timestamp()); a deployment whose rows arrive with a real
    event-time column would watermark that column instead.
    """
    scored = _scored_stream(spark, input_dir).withColumn(
        "ingest_ts", F.current_timestamp()
    )
    resolved = resolve_decisions(scored, rule_hits(scored, cfg or RuleConfig()))
    return (
        resolved.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window), "decision")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "decision", "n")
    )


def stage_and_drain(
    spark: SparkSession,
    df: DataFrame,
    make_stream,
    query_name: str,
    tag: str,
    output_mode: str = "append",
) -> DataFrame:
    """Replay a batch frame through a streaming transform, synchronously.

    Stages ``df`` to a per-process parquet dir under the first
    ``SPARK_LOCAL_DIRS`` entry (the system temp dir when unset), runs
    ``make_stream(spark, staging_dir)`` (a readStream-over-directory
    builder like ``stream_exact_dedup``/``stream_sessionize``) into a
    memory sink named ``query_name``, drains it to completion, and
    returns the sink's rows as a batch frame — the batch-equivalence
    grading harness shared by entry q19 and q53.

    Staging path = md5(tag) + pid: deterministic per process (re-runs in
    one driver overwrite ONE dir instead of leaking fresh copies — the
    old ``hash()`` path was PYTHONHASHSEED-randomized) while two drivers
    grading the same fixture concurrently never clobber each other.
    Cleanup is exception-safe: the query is stopped and the staging dir
    removed even when the drain (or the staging write itself) throws,
    so failed runs leak neither a running stream nor a per-pid parquet
    copy; the memory sink owns the rows once drained, so the returned
    frame survives the rmtree.
    """
    return stage_and_drain_many(
        spark, df, [(make_stream, query_name, output_mode)], tag
    )[query_name]


def stage_and_drain_many(
    spark: SparkSession,
    df: DataFrame,
    specs: list[tuple],
    tag: str,
) -> dict[str, DataFrame]:
    """``stage_and_drain`` for SEVERAL streaming transforms over ONE
    staged copy of ``df`` — the parquet staging write (the wide part)
    runs once, then every ``(make_stream, query_name, output_mode)``
    spec is STARTED before any is drained, so the independent streams'
    micro-batches overlap (each arm's spin-up and stragglers back-fill
    the others' idle cores — the overlap-independent-jobs pattern;
    measured on the three-arm q53: sequential drains cost the SUM of
    the arms, concurrent the max). ``processAllAvailable`` then waits
    per query; each stream consumes the same immutable staged files, so
    drain results are identical to the sequential order. Returns
    {query_name: batch frame}. Same per-process staging-path and
    exception-safe-cleanup contract as ``stage_and_drain``: every
    started query is stopped even when a start or drain throws. Each
    query checkpoints under a ``_ckpt`` dir beside the staging dir
    (not Spark's default under ``java.io.tmpdir``), removed with it."""
    import hashlib
    import os
    import shutil
    import tempfile

    names = "_".join(name for _, name, _ in specs)
    root = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    tmp = os.path.join(
        root or tempfile.gettempdir(),
        f"spark_graft_{hashlib.md5(names.encode()).hexdigest()[:8]}_"
        f"{hashlib.md5(tag.encode()).hexdigest()[:10]}_p{os.getpid()}",
    )
    ckpt = tmp + "_ckpt"
    out: dict[str, DataFrame] = {}
    # A staged frame derived from one small file writes ONE parquet
    # file, and the replay streams then scan it as ONE partition —
    # serializing each arm's whole per-row work (the q53 rule ladder is
    # ~1 ms/row) on a single core, so narrow frames are widened before
    # staging. Row placement does not affect any drain contract
    # (per-key state, sets, watermarked counts).
    df = widen_if_narrow(df)
    # the staging write sits INSIDE the try so a mid-write failure
    # (disk full, serialization error) still hits the finally rmtree
    try:
        df.write.mode("overwrite").parquet(tmp)
        # a stale checkpoint (a killed run of a reused pid) would make
        # a memory-sink query refuse to start
        shutil.rmtree(ckpt, ignore_errors=True)
        started: list = []
        try:
            for make_stream, query_name, output_mode in specs:
                started.append(
                    make_stream(spark, tmp)
                    .writeStream.outputMode(output_mode)
                    .format("memory")
                    .queryName(query_name)
                    .option("checkpointLocation", os.path.join(ckpt, query_name))
                    .start()
                )
            for (_, query_name, _), q in zip(specs, started):
                q.processAllAvailable()
                out[query_name] = spark.sql(f"SELECT * FROM {query_name}")
        finally:
            # an interrupted start/drain must not leave ANY query
            # running against tmp (the rmtree below would race it)
            for q in started:
                q.stop()
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_exact_dedup(
    spark: SparkSession, input_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup: first caption fingerprint wins within the
    watermark horizon (``dropDuplicatesWithinWatermark``).

    The streaming edition of operators/dedup.exact_dedup: the same md5
    content fingerprint keys the state store, and the watermark bounds
    state exactly like the batch op's corpus boundary — at 100 TB/day
    the horizon is the dedup window, and the periodic batch compaction
    (exact_dedup over the full table) removes cross-horizon survivors.
    """
    from ..functions.text import fingerprint

    pairs = spark.readStream.schema(PAIRS_SCHEMA).parquet(input_dir)
    pairs = pairs.withColumn("ingest_ts", F.current_timestamp()).withColumn(
        "fp", fingerprint(F.col("caption"), prefix_len=10_000)
    )
    return (
        pairs.withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("image_id", "fp", "caption")
    )


def stream_sessionize(
    spark: SparkSession, input_dir: str, gap_s: int = 1800
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: the
    streaming twin of the batch sessionizer (entry q19).

    Per user, GroupState carries (last_ts, n_sessions, n_events) across
    micro-batches; a >gap_s event-time silence starts a new session.
    Within a batch, the group's events sort by (ts, event_id) — the
    same total order as the batch window spec, so a single-batch run
    reproduces q19's counts exactly (tested) and a multi-batch run is
    the incremental continuation.

    Gap arithmetic is INTEGER MICROSECONDS (pandas .value // 1000) so
    all three q19 mirrors agree exactly: the batch arm uses
    unix_micros(ts) and the DuckDB oracle epoch_us(ts). Float seconds
    (t.timestamp()) vs the batch arm's old truncating unix_timestamp
    disagreed on fractional gaps at the 1800 s boundary.
    """
    import pandas as _pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the sessionizer consumes exactly (event_id, ts, user_id) — declare
    # only those so the parquet scan prunes and a staged copy may be
    # pre-projected (q19 stages the slim frame; parquet happily serves a
    # subset schema either way)
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).parquet(input_dir)

    def _fn(key, pdfs, state):
        if state.exists:
            last_ts, n_sess, n_ev = state.get
        else:
            last_ts, n_sess, n_ev = None, 0, 0
        chunks = [pdf[["ts", "event_id"]] for pdf in pdfs]
        allof = _pd.concat(chunks).sort_values(["ts", "event_id"])
        # the events table's ts is nullable and NaT.value is INT64_MIN —
        # one null-ts event would poison last_ts so the next event
        # always opens a spurious session (and pandas sorts NaT LAST
        # while the batch arm's orderBy puts nulls FIRST, so the two
        # graded mirrors would diverge). An event without a timestamp
        # cannot be sessionized: drop it in every mirror.
        allof = allof[allof["ts"].notna()]
        gap_us = gap_s * 1_000_000
        for t in allof["ts"]:
            ts_us = t.value // 1000  # ns -> us, exact integer
            if last_ts is None or ts_us - last_ts > gap_us:
                n_sess += 1
            last_ts = ts_us
            n_ev += 1
        if last_ts is None:
            # no prior state and no timestamped event in this batch:
            # nothing to record (int(None) would crash the task)
            return
        state.update((int(last_ts), int(n_sess), int(n_ev)))
        yield _pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sess], "n_events": [n_ev]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_ts long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

"""Live streaming pipeline wiring (SURVEY.md §3.2, §7 Phase 3-4).

The reference's hot path — source → debounce → micro-batch →
process → multi-sink → state commit — as one Structured Streaming query:

    readStream (file events, per-path debounce T1 in the source —
                sources/file_events_stream.py)
      → foreachBatch:
            transform — the agent's reads the batch's files, enriches
              them and applies the biz transform (M1-M4,
              plans/ingest.file_meta, the backfill's own)
            MultiSink fan-out (K6 priority order, fail-fast); a sink that
              takes logfile rows applies plans/ingest.logfile_rows
              (M5-M10), the backfill writer's projection
        # checkpoint commit AFTER foreachBatch success = K8 ordering, free

The query keeps no operator state: the source's offset (the settled
snapshot) is its only recovery state. A source batch holds each path at
most once, which is the reference's keep-latest dedup (T3,
watchdog.go:314-326).

The 200 ms batch tick (T2, watchdog.go:164) = processingTime trigger. No
per-trigger cap exists: a micro-batch holds every path whose debounce
window expired, and the reference's 100-record batch bound (T2/T6
backpressure, watchdog.go:22-27) is not ported.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from log_agent_spark.sinks.multi import MultiSink

MICRO_BATCH_TICK = "200 milliseconds"  # watchdog.go:164


def run_event_pipeline(
    events: DataFrame,
    multi_sink: MultiSink,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    validate: Callable[[DataFrame], DataFrame] | None = None,
    dead_letter: Callable[[DataFrame], None] | None = None,
    debounce_ms: int | None = 3000,
    checkpoint_dir: str | None = None,
    trigger: str = MICRO_BATCH_TICK,
) -> StreamingQuery:
    """Start the standing pipeline over a streaming event DataFrame.

    ``transform`` is the per-biz plugin hook (P4: Transform) applied inside
    each micro-batch; identity when None (the SPI plugin precedent,
    plugins/SPI.go:1-11). ``validate`` returns a DataFrame with a boolean
    ``_valid`` column (P4 CheckFile, plugin.go:84-98); rows failing it go to
    ``dead_letter`` instead of the sink chain — the Spark-native form of the
    reference's abort-record-on-error + Handle404Error paths
    (watchdog.go:394-409).

    ``debounce_ms`` is accepted and unused: the source debounces
    (``read_file_events`` passes the biz window). ``perfbench/wl_live_tail.py``
    still passes it; the keyword goes with the next change to perfbench/.
    """

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        flagged = None
        if validate is not None:
            flagged = validate(batch).persist()  # one materialization, 2 branches
            quarantined = flagged.filter(~F.col("_valid")).drop("_valid")
            if dead_letter is not None:
                dead_letter(quarantined)
            batch = flagged.filter(F.col("_valid")).drop("_valid")
        try:
            if transform is not None:
                batch = transform(batch)
            multi_sink(batch, epoch_id)
        finally:
            if flagged is not None:
                flagged.unpersist()

    writer = (
        events.writeStream.foreachBatch(process_batch)
        .outputMode("append")
        .trigger(processingTime=trigger)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()

"""Streaming continuous aggregates (SURVEY.md §2.9).

The reference has NO streaming (pull-based batch over a live store); the
engine's continuous-aggregate path is the incremental refresh of
:class:`tsengine.materialize.MaterializedTiers` per SURVEY.md §2.9.  This
module adds the Structured Streaming rendering for ingest:
:func:`stream_ingest_to_snapshot` commits each micro-batch of a file-source
stream into a :class:`~tsengine.sources.snapshots.SnapshotTable` exactly once
and can fold it into the tiers; the refresh's conv-state anchors carry the
latency plane across micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tsengine.synth import TRANSCRIPT_COLS


def last_stream_batch_id(table) -> int:
    """Largest stream batch id recorded in any committed snapshot of
    ``table`` (-1 when none): scanned newest-first so interleaved
    non-stream commits (retention, compaction) don't hide it."""
    for man in reversed(table.snapshots()):
        bid = man.get("properties", {}).get("stream_batch_id")
        if bid is not None:
            return int(bid)
    return -1


def stream_ingest_to_snapshot(
    spark: SparkSession, in_path: str, table, checkpoint: str,
    mat=None, max_files_per_trigger: int | None = None,
):
    """Structured-Streaming ingestion into a :class:`SnapshotTable` with
    EXACTLY-ONCE commits, optionally maintaining continuous aggregates.

    ``foreachBatch`` gives at-least-once delivery: after a crash between
    the sink call and the checkpoint commit, the same micro-batch is
    re-delivered on restart.  The sink makes that idempotent the standard
    way — the transactional boundary is the snapshot commit itself, which
    records ``stream_batch_id`` in its properties; a re-delivered batch id
    <= the last committed one is skipped.  (The Iceberg parallel: the
    commit carries the checkpoint epoch, and replays no-op.)

    When ``mat`` (a :class:`~tsengine.materialize.MaterializedTiers` over
    ``table``) is given, each committed batch is folded into the 1m/1h/1d
    tiers by an incremental refresh — streaming continuous aggregates WITH
    the latency plane (conv-state anchors carry cross-batch continuity),
    which a pure windowed streaming aggregate cannot express.  A kill
    anywhere (mid-refresh included) resumes cleanly: refresh() reconciles
    component positions, the sink skips replayed batches.

    Runs with Trigger.AvailableNow (drain-and-stop — deterministic tests /
    periodic micro-batch maintenance); pass ``max_files_per_trigger`` to
    force multi-batch runs.  Returns after the stream drains.
    """
    def sink(bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= last_stream_batch_id(table):
            return  # replayed delivery after a crash: already committed
        table.append(
            bdf.select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
            properties={"stream_batch_id": int(batch_id)},
        )
        if mat is not None:
            mat.refresh(bdf.sparkSession)

    reader = spark.readStream.schema(TRANSCRIPT_COLS).option(
        "pathGlobFilter", "*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        reader.parquet(in_path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

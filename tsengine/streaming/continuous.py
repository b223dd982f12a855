"""Streaming continuous aggregates (SURVEY.md §2.9).

The reference has NO streaming (pull-based batch over a live store); the
engine's continuous-aggregate path is the incremental refresh of
:class:`tsengine.materialize.MaterializedTiers` per SURVEY.md §2.9.  This
module adds the Structured Streaming rendering for ingest:
:func:`stream_ingest_to_snapshot` commits each micro-batch of a file-source
stream into a :class:`~tsengine.sources.snapshots.SnapshotTable` exactly once
and can fold it into the tiers, and :func:`latency_state_stream` keeps the
per-conversation latency plane as stateful streaming state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.synth import TRANSCRIPT_COLS

LATENCY_STATE_OUT = (
    "conv_id string, cnt long, cnt_lat long, vmin double, vmax double, "
    "vsum double, last_epoch long, late_dropped long"
)
_LATENCY_STATE = (
    "last_epoch long, last_turn int, cnt long, cnt_lat long, vmin double, "
    "vmax double, vsum double, late_dropped long"
)


def latency_state_stream(stream: DataFrame) -> DataFrame:
    """Per-conversation latency plane as a STATEFUL streaming operator
    (``applyInPandasWithState``): a windowed streaming aggregate cannot
    carry turn latency because lag() needs per-conv ordering ACROSS
    micro-batches — this operator keeps exactly that state (last epoch +
    last turn index per conv_id) and emits the running cnt/min/max/sum aggregate after every
    batch.  Each batch's rows are sorted by turn_idx inside the kernel and
    diffed vectorized (numpy), with the cross-batch boundary latency taken
    against the stored last epoch.

    Late-data policy: a turn at or below the stored turn index arrived out
    of order across batches — it is dropped and counted in ``late_dropped``
    (the streaming analogue of a watermark drop).
    """
    import numpy as np
    import pandas as pd

    def fn(key, pdfs, state):
        (conv_id,) = key
        if state.exists:
            le, lt, cnt, cl, mn, mx, sm, dropped = state.get
        else:
            le, lt, cnt, cl, mn, mx, sm, dropped = None, -1, 0, 0, None, None, 0.0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("turn_idx")
            keep = batch[batch["turn_idx"] > lt]
            dropped += len(batch) - len(keep)
            if len(keep):
                eps = (keep["ts"].astype("int64") // 10**9).to_numpy()
                lats = np.diff(eps).astype("float64")
                if le is not None:
                    lats = np.concatenate(([float(eps[0] - le)], lats))
                cnt += len(keep)
                cl += len(lats)
                if len(lats):
                    mn = float(lats.min()) if mn is None else min(mn, float(lats.min()))
                    mx = float(lats.max()) if mx is None else max(mx, float(lats.max()))
                    sm += float(lats.sum())
                le = int(eps[-1])
                lt = int(keep["turn_idx"].iloc[-1])
        state.update((le, lt, cnt, cl, mn, mx, sm, dropped))
        yield pd.DataFrame(
            [{"conv_id": conv_id, "cnt": cnt, "cnt_lat": cl, "vmin": mn,
              "vmax": mx, "vsum": sm, "last_epoch": le, "late_dropped": dropped}]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, LATENCY_STATE_OUT, _LATENCY_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


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

"""Continuous view maintenance: the reference's batch-pull model
(deltas accumulate in delta_T, processed on explicit PRAGMA ivm_upsert,
README.md:24-31) lifted to Structured Streaming.

Two modes:

1. ``StreamingViewMaintainer`` — micro-batch IVM: each arriving batch of
   delta rows (with the bool multiplicity column) is registered as
   delta_T, ΔV is computed with the SAME rewrite as batch mode, and
   merged into the view state inside ``foreachBatch``.  This supports
   the full view surface incl. deletes.  foreachBatch delivery is
   at-least-once, so the maintainer deduplicates on ``batch_id``
   (replays of an already-applied batch are skipped); for crash
   recovery across processes, pass ``state_dir`` so each batch commits
   engine state + the applied batch id, and rebuild with
   ``IVMEngine.load`` + the same ``state_dir`` (see ``__init__``).
2. ``windowed_aggregate`` — the native path for append-only event
   streams: watermark + tumbling/sliding window + groupBy aggregation
   in update mode.  Spark's own state store does the incremental
   maintenance; use this when the view is an insert-only windowed agg
   (no multiplicity needed — the platform-preferred shape at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ivm_extension_spark.engine import BaseFoldError, IVMEngine


class StreamingViewMaintainer:
    """Maintain one IMMV continuously from a stream of delta rows.

    The delta stream must carry the base table's columns plus
    ``_duckdb_ivm_multiplicity`` (true=insert, false=delete) — i.e. a
    CDC feed.  State after each micro-batch equals the batch engine's
    merge result; reads see it via ``engine.read_view(name)``.
    """

    def __init__(
        self,
        engine: IVMEngine,
        view_name: str,
        table: str,
        state_dir: str | None = None,
    ) -> None:
        """``state_dir`` (optional) makes maintenance restartable: after
        each applied batch the engine state is saved to a per-batch
        snapshot dir (``engine-<batch_id>``) and the marker file names
        the committed snapshot.  A maintainer constructed over the SAME
        state_dir (with an engine rebuilt via ``IVMEngine.load`` from the
        marker's snapshot) skips batches the saved state already
        reflects.  Without it the
        engine state is process-local: a restarted query resumes from the
        streaming checkpoint against a fresh engine, so the source must
        be replayed from the start (or the view re-materialized) —
        in-process replays of the last uncommitted batch are still
        deduplicated by batch id either way."""
        self.engine = engine
        self.view_name = view_name
        self.table = table
        self.state_dir = state_dir
        self.batches_applied = 0
        self.last_batch_id = -1
        # batch id whose merge committed but whose base fold/snapshot has
        # not — an in-process replay of exactly this batch must skip the
        # merge (see _process_batch)
        self._merged_batch_id: int | None = None
        if state_dir is not None:
            import json
            from pathlib import Path

            marker = Path(state_dir) / "last_batch_id.json"
            if marker.exists():
                self.last_batch_id = int(
                    json.loads(marker.read_text())["last_batch_id"]
                )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: after a failure the checkpoint
        # re-delivers the last batch, and an engine that already merged it
        # must not double-apply
        if batch_id <= self.last_batch_id:
            return
        if batch_id == self._merged_batch_id:
            # in-process replay of a batch whose MERGE committed but whose
            # apply_delta (or snapshot) failed: the view already absorbed
            # ΔV, so only the base fold is redone — without this flag the
            # replay would merge ΔV a second time
            self.engine.register_delta(self.table, batch_df)
            self.engine.apply_delta(self.table)
            self._finish_batch(batch_id)
            return
        if len(batch_df.take(1)) == 0:
            # commit empty batches through the same path: the marker (and,
            # when persistent, the snapshot it names) must advance too, or
            # a crash after an empty batch replays its non-empty successors
            # against a stale on-disk cursor while batches_applied and the
            # in-memory cursor disagree with it for the rest of the run
            self._finish_batch(batch_id)
            return
        # engine state is eagerly localCheckpoint'ed on merge, so nothing
        # keeps referencing this micro-batch's source after the batch ends
        self.engine.register_delta(self.table, batch_df)
        try:
            # one batch drive (engine.merge_and_advance): the micro-batch is
            # read once, state merge ∥ base fold; on BaseFoldError the merge
            # committed and only the fold remains, exactly the state the
            # _merged_batch_id replay path redoes
            self.engine.merge_and_advance(self.view_name, self.table)
        except BaseFoldError:
            self._merged_batch_id = batch_id
            raise
        self._finish_batch(batch_id)

    def _finish_batch(self, batch_id: int) -> None:
        self.batches_applied += 1
        self.last_batch_id = batch_id
        self._merged_batch_id = None
        if self.state_dir is not None:
            # snapshot-then-marker commit: the state is saved to a NEW
            # per-batch directory and the marker (written ATOMICALLY,
            # last — temp file + rename) is the commit point.  A crash
            # between the two leaves the marker on the previous snapshot,
            # so recovery replays this batch into that older state —
            # never a double-apply, never a loss, never a torn marker.
            # Each batch saves into its own new directory, so engine.save
            # skips its torn-save sentinel: a crash mid-save leaves no
            # catalog there, and IVMEngine.load refuses it.  The commit
            # costs one write per state/aux relation plus one for the
            # catalog.  (A replay that finds its crashed attempt's
            # complete save writes the sentinel over it first.)
            import json
            import os
            import shutil
            from pathlib import Path

            root = Path(self.state_dir)
            self.engine.save(str(root / f"engine-{batch_id}"))
            root.mkdir(parents=True, exist_ok=True)
            tmp = root / "last_batch_id.json.tmp"
            tmp.write_text(json.dumps({"last_batch_id": batch_id}))
            os.replace(tmp, root / "last_batch_id.json")
            for old in root.glob("engine-*"):
                if old.name != f"engine-{batch_id}":
                    shutil.rmtree(old, ignore_errors=True)

    def start(
        self,
        delta_stream: DataFrame,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
    ) -> StreamingQuery:
        writer = (
            delta_stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def windowed_aggregate(
    events: DataFrame,
    ts_col: str,
    window_duration: str,
    slide: str | None = None,
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Watermarked windowed aggregation over an (append-only) event
    stream — Spark-native incremental maintenance in update mode.

    ``aggs`` maps output alias -> SQL aggregate expression, e.g.
    {"n_events": "count(*)", "total": "sum(value)"}.  Works on batch
    DataFrames too (same plan, no watermark effect).
    """
    aggs = aggs or {"n_events": "count(*)"}
    out = events
    if out.isStreaming:
        out = out.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window_duration, slide) if slide else F.window(
        F.col(ts_col), window_duration
    )
    agg_cols = [F.expr(e).alias(a) for a, e in aggs.items()]
    return (
        out.groupBy(win.alias("w"), *[F.col(c) for c in group_cols])
        .agg(*agg_cols)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *[F.col(c) for c in group_cols],
            *[F.col(a) for a in aggs],
        )
    )

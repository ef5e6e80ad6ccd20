"""Structured Streaming front-end: the same epoch-write kernel as the
batch engine (engine.stage -> StagedEpoch.write -> commit; routed
tables through multi.apply_route) under foreachBatch (T1–T4
semantics, SURVEY.md §2.9).

Canal's pipeline is push-based (parse -> sink -> ring-buffer store ->
client ack); the streaming front-end maps it to Spark:

- the micro-batch IS the delivered batch (`getWithoutAck` analog);
- at-least-once redelivery from the source is made exactly-once by the
  table's idempotent epoch commits PLUS the recorded stream batch id
  (a replayed foreachBatch with an already-committed batch id is a
  no-op) — canal's ack/rollback protocol
  [C: server/.../CanalServerWithEmbedded.java :: #ack/#rollback];
- events past the last commit marker of their transaction cannot be
  re-read from a stream (unlike the batch engine, which re-slices the
  durable log), so the barrier writes them to a durable **pending
  store** inside the table directory, committed atomically with the
  epoch, and prepends them to the next batch — canal's
  EventTransactionBuffer [C: parse/.../EventTransactionBuffer.java],
  made durable;
- stale/duplicate events at or below the committed per-partition
  offset are dropped (offset high-watermark filter, T5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canal_spark.engine import StagedEpoch, stage
from canal_spark.operators import filters
from canal_spark.operators.txn import committed_watermarks, tx_barrier
from canal_spark.plans.table import SnapshotTable
from canal_spark.sources.changelog import CHANGELOG_DDL


def _past(inp: DataFrame, marks: dict[int, int]) -> DataFrame:
    """Events past their partition's mark. Past the committed
    checkpoints: the offset high-watermark that drops stale redelivery
    across restarts (T5). Past an epoch's watermarks: the durable
    pending set (incomplete transactions + DDL-clamped events). Shared
    by the single-table and multi-table streaming front-ends."""
    if not marks:
        return inp
    m = F.create_map(*[F.lit(x) for kv in marks.items() for x in kv])
    return inp.filter(F.col("lsn") > F.coalesce(m[F.col("source_partition")], F.lit(-1)))


def _epoch_input(
    spark: SparkSession,
    batch_df: DataFrame | None,
    pending: DataFrame | None,
    ckpts: dict[int, int],
) -> DataFrame:
    """(micro-batch ∪ durable pending) past the committed checkpoints;
    an empty changelog frame when there is neither."""
    frames = [f for f in (batch_df, pending) if f is not None]
    if not frames:
        return spark.createDataFrame([], CHANGELOG_DDL)
    inp = frames[0].unionByName(frames[1]) if len(frames) == 2 else frames[0]
    return _past(inp, ckpts)


def _write_pending(held: DataFrame, pending_dir: str) -> list[str]:
    """Write held-back events as a durable pending store; returns its
    files. Partitioned by source stream (not coalesce(1)): a burst of
    incomplete transactions writes in parallel, one task per source
    partition (AQE merges the usual near-empty tail)."""
    held.repartition(F.col("source_partition")).write.mode("overwrite").parquet(
        pending_dir
    )
    return [
        os.path.join(pending_dir, f)
        for f in os.listdir(pending_dir)
        if f.endswith(".parquet")
    ]


def _clamp_below_ddls(inp: DataFrame, pending_ddls: list[dict]) -> DataFrame:
    """DML strictly below every pending DDL position (ddlIsolation):
    clamped-out events stay out of the watermark, so they ride the
    durable pending store until the DDL commits."""
    if not pending_ddls:
        return inp
    clamp: dict[int, int] = {}
    for d in pending_ddls:
        p = d["source_partition"]
        clamp[p] = min(clamp.get(p, d["lsn"] - 1), d["lsn"] - 1)
    m = F.create_map(*[F.lit(x) for kv in clamp.items() for x in kv])
    return inp.filter(
        F.col("lsn") <= F.coalesce(m[F.col("source_partition")], F.lit(1 << 62))
    )


class StreamingUpsert:
    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        xa_mode: bool = False,
        sinks: tuple = (),
        write_mode: str = "cow",
        ddl_events_path: str | None = None,
        capture_changes: bool = False,
    ):
        self.spark = spark
        self.table = table
        self.xa_mode = xa_mode
        #: write-time CDF capture, same contract as
        #: CdcEngine(capture_changes=True): every DML epoch (numbered
        #: batches AND unnumbered DDL sub-epochs) records its net
        #: change set over the staged epoch's affected buckets. DDL
        #: epochs stay unmarked, so feeds crossing them fall back to
        #: the diff.
        self.capture_changes = capture_changes
        #: same OuterAdapter fan-out contract as CdcEngine.sinks
        self.sinks = tuple(sinks)
        #: same semantics as CdcEngine.write_mode: "mor" appends the
        #: micro-batch delta as O(delta) fragments (the low-latency
        #: choice for a stream — commit time no longer scales with
        #: touched-bucket size) and defers merging to readers +
        #: compact_files; "cow" keeps resolution-free scans
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        self.write_mode = write_mode
        #: same A3 DDL side-stream contract as CdcEngine: schema updates
        #: applied IN POSITION between micro-batch events (ddlIsolation)
        self.ddl_events_path = ddl_events_path
        self._ddl_cache: list[dict] | None = None

    # ------------------------------------------------------- ddl stream
    def _pending_ddls(self) -> list[dict]:
        """DDL events past the durable ddl watermark, in global apply
        order — same rule as CdcEngine._pending_ddls."""
        if not self.ddl_events_path:
            return []
        if self._ddl_cache is None:
            from canal_spark.engine import load_ddl_events

            self._ddl_cache = load_ddl_events(self.spark, self.ddl_events_path)
        wm = self.table.snapshot().get("meta", {}).get("ddl_wm")
        wm = (int(wm[0]), int(wm[1])) if wm else (-1, -1)
        return [d for d in self._ddl_cache if (d["lsn"], d["source_partition"]) > wm]

    def _apply_ddl(self, d: dict) -> None:
        from canal_spark.engine import apply_schema_update, parse_ddl_payload

        apply_schema_update(
            self.table,
            d["kind"],
            parse_ddl_payload(d),
            meta={"ddl_wm": [d["lsn"], d["source_partition"]]},
        )

    # ------------------------------------------------------------ batch
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """One micro-batch -> one commit epoch (plus, with a DDL
        side-stream, any in-position DDL epochs and DML sub-epochs the
        batch unlocks). Idempotent under foreachBatch redelivery.
        Returns True if the final batch commit happened.

        In-stream DDL (ddlIsolation, same semantics as the batch
        engine): a DDL at (lsn L, partition p) applies as its OWN
        epoch once p's checkpoint covers everything below L; DML at or
        past a pending DDL position never applies before the DDL — the
        clamp keeps those events out of the watermark, so they ride
        the durable pending store across sub-epochs and micro-batches
        (a stream cannot be re-read; the pending store is the replay
        buffer). A crash anywhere resolves on redelivery: applied
        events drop at the offset high-watermark, applied DDLs at the
        durable ddl watermark, and a batch whose sub-epoch already
        absorbed it into the pending store is NOT unioned twice (the
        durable `stream_sub_batch_id` mark — without it a redelivery
        after a crash between a sub-epoch and the final numbered epoch
        would duplicate every held event). Two stream-vs-batch semantic
        differences are inherent: a transaction straddling a DDL
        position, and a DDL positioned past its partition's final
        event — the batch engine can decide both because the log is
        finite (raise / apply-at-drain), a stream cannot distinguish
        either from events not yet arrived, so both stay pending."""
        snap = self.table.snapshot()
        meta = snap.get("meta", {})
        if batch_id <= meta.get("stream_batch_id", -1):
            return False  # redelivered batch: already committed

        # a sub-epoch of THIS batch already committed before a crash:
        # the batch's unapplied remainder lives in the pending store
        use_batch = meta.get("stream_sub_batch_id", -1) != batch_id
        if self.ddl_events_path:
            while True:
                ckpts = self.table.checkpoints()
                pend = self._pending_ddls()
                if pend and ckpts.get(pend[0]["source_partition"], -1) >= pend[0]["lsn"] - 1:
                    self._apply_ddl(pend[0])
                    continue
                if not pend:
                    break
                # DML below the pending DDL positions, as a sub-epoch;
                # after the first one the batch lives in the pending
                # store (never union it twice)
                if not self._apply_dml_epoch(
                    batch_df if use_batch else None, None, pend, sub_of=batch_id
                ):
                    break
                use_batch = False
        return self._apply_dml_epoch(
            batch_df if use_batch else None, batch_id, self._pending_ddls()
        )

    def _apply_dml_epoch(
        self,
        batch_df: DataFrame | None,
        batch_id: int | None,
        pending_ddls: list[dict],
        sub_of: int | None = None,
    ) -> bool:
        """One DML commit epoch from (micro-batch ∪ durable pending),
        clamped strictly below every pending DDL position.
        `batch_id=None` marks an unnumbered sub-epoch of batch
        `sub_of`: it is skipped (no commit) when no partition can
        progress, and its commit records `stream_sub_batch_id` so a
        redelivery after a crash knows the batch already lives in the
        pending store (unioning it again would double every held
        event). The commit retries a lost epoch-number race (concurrent
        maintenance) like every batch-engine path — returning False to
        foreachBatch would silently drop the batch, because Spark
        checkpoints it regardless of the callback's return value."""
        ckpts = self.table.checkpoints()
        inp = _epoch_input(
            self.spark, batch_df, self.table.read_pending(self.spark), ckpts
        )
        clamped = _clamp_below_ddls(inp, pending_ddls)

        wms = committed_watermarks(clamped, floors=ckpts)
        if batch_id is None and not any(wms.get(p, -1) > ckpts.get(p, -1) for p in wms):
            return False  # sub-epoch with nothing applicable: skip
        complete = tx_barrier(clamped, wms)
        if self.xa_mode:
            from canal_spark.operators.txn import drop_rolled_back

            complete = drop_rolled_back(complete)
        apply_df = filters.op_filter(complete)
        held = _past(inp, wms)
        meta = (
            {"stream_batch_id": batch_id}
            if batch_id is not None
            else {"stream_sub_batch_id": int(sub_of)}
        )
        staged = stage(self.table, apply_df)
        try:
            for _attempt in range(5):
                if self._try_commit_dml(staged, held, wms, meta):
                    return True
                # lost the epoch number to concurrent maintenance:
                # nothing landed (staged files are unreferenced
                # orphans); rewrite on the fresh snapshot
        finally:
            staged.release()
        raise RuntimeError("streaming epoch: lost the commit race 5 times")

    def _try_commit_dml(self, staged: StagedEpoch, held, wms, meta) -> bool:
        epoch = self.table.snapshot()["epoch"] + 1
        # NOT inside the epoch data dir — merge_epoch overwrites that dir.
        # The pending store is written on a background thread CONCURRENT
        # with the epoch write (r6, guide §2.6): both scan the same
        # micro-batch input but write disjoint dirs, and each job's
        # driver-serial windows back-fill the other's executors.
        from concurrent.futures import ThreadPoolExecutor

        pending_dir = os.path.join(self.table.root, "pending", f"epoch={epoch}")
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending = pool.submit(_write_pending, held, pending_dir)
            rewritten, changes_rel = staged.write(
                self.spark,
                epoch,
                mode=self.write_mode,
                sinks=self.sinks,
                capture=self.capture_changes,
            )
        return self.table.commit(
            epoch,
            rewritten,
            wms,
            staged.lineage(epoch),
            pending=pending.result(),
            # commit() MERGES meta: a sub-epoch records only its
            # stream_sub_batch_id and keeps the prior stream_batch_id,
            # so a crash before the final numbered epoch still replays
            # the batch on redelivery (from the pending store)
            meta=meta,
            append=(self.write_mode == "mor"),
            changes=changes_rel,
        )

    # ------------------------------------------------------------ start
    def start(
        self,
        source_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
    ):
        """Tail a directory of changelog parquet files (the file-source
        stand-in for a Kafka topic; swap `.format("kafka")` + from_json
        on a real bus — the batch kernel is unchanged)."""
        stream = (
            self.spark.readStream.schema(CHANGELOG_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingMultiUpsert:
    """One live changelog stream -> N routed tables under the shared
    atomic group epoch: MultiTableEngine's two-phase roll-forward
    protocol with the micro-batch as the slice (canal's instance
    tails ALL tables under one cursor; its adapters each route a
    subset [C: meta/.../FileMixedMetaManager :: one instance cursor;
    client-adapter/rdb/.../RdbSyncService.java :: per-`Dml.table`]).

    Exactly-once across N tables from an at-least-once stream:

    - the group marker records `stream_batch_id`; a redelivered
      micro-batch at or below it is a no-op (the whole group already
      committed);
    - a crash BETWEEN member commits and the marker publish leaves
      some tables at group epoch g with their slice watermarks
      recorded — on redelivery (Spark re-sends exactly the
      un-checkpointed batch) the recorded watermarks are adopted, the
      identical deterministic slice re-applies to the remaining tables
      only, and the marker publishes: the standard roll-forward, with
      the stream's redelivery as the retry loop;
    - events past the last commit marker of their transaction cannot
      be re-read from a stream, so the barrier's held-back events live
      in a GROUP-level durable pending store (`<group_dir>/pending/
      epoch=g/`), planned once on the unfiltered stream — the
      instance-cursor analog of StreamingUpsert's per-table pending —
      and referenced from the group marker, never from member tables.

    The slice is planned ONCE per micro-batch (one watermark pass over
    batch ∪ pending); each route then filters it with its `source`
    regex and runs the standard LWW -> bucket-pruned MERGE into its own
    table (`multi.apply_route` — byte-identical protocol to the batch
    engine, only the slice source differs)."""

    def __init__(
        self,
        spark: SparkSession,
        routes: list,
        group_dir: str,
        xa_mode: bool = False,
        write_mode: str = "cow",
        broadcast_threshold_rows: int = 4_000_000,
        ddl_events_path: str | None = None,
    ):
        from canal_spark.multi import GroupLog, check_routes

        check_routes(routes, write_mode)
        self.spark = spark
        self.routes = list(routes)
        self.group = GroupLog(group_dir)
        self.xa_mode = xa_mode
        self.write_mode = write_mode
        self.broadcast_threshold_rows = broadcast_threshold_rows
        #: A3 DDL side-stream replicated to EVERY route table in
        #: position, exactly as MultiTableEngine(ddl_events_path=...)
        self.ddl_events_path = ddl_events_path
        self._ddl_cache: list[dict] | None = None

    # ------------------------------------------------------ marker log
    def _marker(self) -> dict | None:
        cur = self.group.current_epoch()
        return self.group.marker(cur) if cur is not None else None

    def _publish_marker(
        self,
        g: int,
        new_ckpts: dict[int, int],
        table_epochs: dict[str, int],
        *,
        stream_batch_id: int | None = None,
        sub_batch_id: int | None = None,
        pending: list[str] | None = None,
        ddl_wm: list | None = None,
    ) -> bool:
        """Markers are full documents: any field this epoch does not
        change carries forward from the previous marker — the stream
        batch id (so a crash before the batch's FINAL epoch still
        replays the batch), the sub-batch mark (so that replay knows
        the batch already lives in the pending store and must not be
        unioned twice), the pending-store reference (a DDL epoch must
        not orphan the held events), the ddl watermark."""
        prev = self._marker() or {}
        marker = {
            "epoch": g,
            "checkpoints": {str(p): int(v) for p, v in new_ckpts.items()},
            "tables": table_epochs,
            "stream_batch_id": int(
                stream_batch_id
                if stream_batch_id is not None
                else prev.get("stream_batch_id", -1)
            ),
            "stream_sub_batch_id": int(
                sub_batch_id
                if sub_batch_id is not None
                else prev.get("stream_sub_batch_id", -1)
            ),
            "pending": pending if pending is not None else prev.get("pending", []),
        }
        wm = ddl_wm if ddl_wm is not None else prev.get("ddl_wm")
        if wm is not None:
            marker["ddl_wm"] = wm
        return self.group.publish(marker)

    # ------------------------------------------------------- ddl stream
    def _pending_ddls(self) -> list[dict]:
        if not self.ddl_events_path:
            return []
        if self._ddl_cache is None:
            from canal_spark.engine import load_ddl_events

            self._ddl_cache = load_ddl_events(self.spark, self.ddl_events_path)
        wm = (self._marker() or {}).get("ddl_wm")
        wm = (int(wm[0]), int(wm[1])) if wm else (-1, -1)
        return [d for d in self._ddl_cache if (d["lsn"], d["source_partition"]) > wm]

    def _apply_group_ddl(self, d: dict, g: int, ckpts: dict[int, int]) -> None:
        """Replicate one ready DDL to every route table as group epoch
        g (same member-skip roll-forward as MultiTableEngine)."""
        from canal_spark.multi import replicate_ddl_to_routes

        table_epochs = replicate_ddl_to_routes(self.routes, d)
        self._publish_marker(
            g, ckpts, table_epochs, ddl_wm=[d["lsn"], d["source_partition"]]
        )

    # ------------------------------------------------------------ batch
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """One micro-batch -> one group epoch across every route (plus,
        with a DDL side-stream, in-position DDL group epochs and DML
        sub-epochs, mirroring StreamingUpsert.apply_batch). Idempotent
        under foreachBatch redelivery; resumes a torn group (crash
        between member commits and the marker) by roll-forward. Returns
        True if the final batch marker was published by this call."""
        from canal_spark.multi import recorded_group_wms

        marker = self._marker()
        if batch_id <= (marker.get("stream_batch_id", -1) if marker else -1):
            return False  # redelivered batch: the whole group committed

        # a sub-epoch of THIS batch already published before a crash:
        # the batch's unapplied remainder lives in the group pending
        # store — unioning batch_df again would double every held event
        use_batch = (marker or {}).get("stream_sub_batch_id", -1) != batch_id
        if self.ddl_events_path:
            while True:
                g = (self.group.current_epoch() or 0) + 1
                ckpts = self.group.checkpoints()
                pend = self._pending_ddls()
                if (
                    pend
                    and recorded_group_wms(self.routes, g) is None
                    and ckpts.get(pend[0]["source_partition"], -1) >= pend[0]["lsn"] - 1
                ):
                    self._apply_group_ddl(pend[0], g, ckpts)
                    continue
                if not pend:
                    break
                if not self._apply_group_dml_epoch(
                    batch_df if use_batch else None, None, pend, sub_of=batch_id
                ):
                    break
                use_batch = False
        return self._apply_group_dml_epoch(
            batch_df if use_batch else None, batch_id, self._pending_ddls()
        )

    def _apply_group_dml_epoch(
        self,
        batch_df: DataFrame | None,
        batch_id: int | None,
        pending_ddls: list[dict],
        sub_of: int | None = None,
    ) -> bool:
        """One group DML epoch from (micro-batch ∪ group pending),
        clamped strictly below pending DDL positions. `batch_id=None`
        marks an unnumbered sub-epoch of batch `sub_of`: skipped when
        no partition can progress, and its marker records the
        sub-batch mark so a post-crash redelivery reads the batch from
        the pending store instead of unioning it twice; the final
        numbered epoch always commits and records the stream batch
        id."""
        from canal_spark.multi import apply_route, recorded_group_wms

        marker = self._marker()
        g = (self.group.current_epoch() or 0) + 1
        ckpts = self.group.checkpoints()

        pend = [os.path.join(self.group.root, p) for p in (marker or {}).get("pending", [])]
        inp = _epoch_input(
            self.spark, batch_df, self.spark.read.parquet(*pend) if pend else None, ckpts
        )
        clamped = _clamp_below_ddls(inp, pending_ddls)

        recorded = recorded_group_wms(self.routes, g)
        wms = recorded if recorded is not None else committed_watermarks(clamped, floors=ckpts)
        if (
            batch_id is None
            and recorded is None
            and not any(wms.get(p, -1) > ckpts.get(p, -1) for p in wms)
        ):
            return False  # sub-epoch with nothing applicable: skip
        complete = tx_barrier(clamped, wms)
        if self.xa_mode:
            from canal_spark.operators.txn import drop_rolled_back

            complete = drop_rolled_back(complete)
        apply_df = filters.op_filter(complete)

        # group-level durable pending: events past their partition's
        # watermark (incl. DDL-clamped events), written BEFORE any
        # member commit so a crash at any later point finds the store
        # in place (an unreferenced store from a crashed attempt is
        # invisible — only the marker refs it)
        pending_files = [
            os.path.relpath(p, self.group.root)
            for p in _write_pending(
                _past(inp, wms), os.path.join(self.group.root, "pending", f"epoch={g}")
            )
        ]

        table_epochs: dict[str, int] = {}
        for route in self.routes:
            snap = route.table.snapshot() if route.table.current_epoch() is not None else None
            if snap and snap.get("meta", {}).get("group_epoch", -1) >= g:
                table_epochs[route.name] = snap["epoch"]  # roll-forward skip
                continue
            t_epoch, _ = apply_route(
                self.spark,
                route,
                route.filtered(apply_df),
                g,
                wms,
                write_mode=self.write_mode,
                broadcast_threshold_rows=self.broadcast_threshold_rows,
                meta_extra=(
                    {"stream_batch_id": batch_id} if batch_id is not None else {}
                ),
            )
            table_epochs[route.name] = t_epoch

        new_ckpts = {**ckpts, **{int(p): int(v) for p, v in wms.items()}}
        won = self._publish_marker(
            g,
            new_ckpts,
            table_epochs,
            stream_batch_id=batch_id,
            sub_batch_id=sub_of if batch_id is None else None,
            pending=pending_files,
        )
        if won:
            # superseded pending stores (< g) are unreachable: only the
            # LATEST marker's pending is ever read (redelivery of an
            # older batch returns before reading), so reclaim them now —
            # a long-running stream must not grow one dir per batch
            import shutil

            proot = os.path.join(self.group.root, "pending")
            for d in os.listdir(proot) if os.path.isdir(proot) else []:
                if d.startswith("epoch=") and int(d.split("=", 1)[1]) < g:
                    shutil.rmtree(os.path.join(proot, d), ignore_errors=True)
        return won

    #: tail a directory of changelog parquet files, exactly as
    #: StreamingUpsert (the file-source stand-in for a Kafka topic)
    start = StreamingUpsert.start


class StreamingDeduper:
    """Structured-Streaming front-end for the persistent
    `IncrementalDeduper` (axes A+B over a live stream): each
    micro-batch of arriving documents is near-dup-deduplicated against
    itself and the whole retained corpus, and the admitted documents
    land in `out_dir/batch=<id>/` as the curated corpus slice.

    Exactly-once without a separate ledger: the deduper's state_dir
    commit protocol (unique data dir + exclusive marker election) is
    keyed by the foreachBatch `batch_id`, so a redelivered micro-batch
    replays its recorded survivors idempotently instead of recomputing
    or double-appending state, and the per-batch output write is a
    deterministic overwrite of the same `batch=<id>` dir. A crash at
    ANY point (before the state marker, between state and output)
    resolves on redelivery. Spark's file source only ever redelivers
    the LAST un-checkpointed batch, which is exactly the replay case
    the deduper's out-of-order guard admits.

    State growth is bounded inline: every `compact_every` batches the
    survivor log folds into one base relation (semantically invisible,
    crash-safe), so cold resume after 10^5 micro-batches plans
    O(n_files) inputs, not O(batches)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        out_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int | None = 16,
        **dedup_kwargs,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.text_col = text_col
        self.id_col = id_col
        self.compact_every = compact_every
        self.dedup_kwargs = dedup_kwargs

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch -> one deduper batch. Idempotent under
        foreachBatch redelivery. A FRESH deduper instance per batch
        keeps every call a cold resume — restart-safety is the
        default path, not a special case."""
        from canal_spark.operators.dedup import IncrementalDeduper

        dd = IncrementalDeduper(
            text_col=self.text_col,
            id_col=self.id_col,
            state_dir=self.state_dir,
            **self.dedup_kwargs,
        )
        survivors = dd.observe(
            batch_df.select(self.id_col, self.text_col), batch_id=int(batch_id)
        )
        # full admitted rows (all payload columns), not just ids; the
        # overwrite of a fixed batch-keyed dir makes redelivery a no-op
        batch_df.join(survivors, self.id_col, "left_semi").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.out_dir, f"batch={int(batch_id)}"))
        if self.compact_every and (int(batch_id) + 1) % self.compact_every == 0:
            dd.compact_state(self.spark)

    def start(
        self,
        source_dir: str,
        checkpoint_dir: str,
        schema_ddl: str,
        max_files_per_trigger: int = 1,
    ):
        """Tail a directory of document parquet files (file-source
        stand-in for a bus topic, exactly as StreamingUpsert.start)."""
        stream = (
            self.spark.readStream.schema(schema_ddl)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def admitted(self, spark: SparkSession, schema_ddl: str | None = None) -> DataFrame:
        """All admitted documents so far, tagged with the micro-batch
        that admitted them (`admitted_batch`, from the dir key)."""
        reader = spark.read.option("basePath", self.out_dir)
        if schema_ddl is not None:
            reader = reader.schema(schema_ddl + ", batch long")
        df = reader.parquet(os.path.join(self.out_dir, "batch=*"))
        return df.withColumn(
            "admitted_batch", F.col("batch").cast("int")
        ).drop("batch")

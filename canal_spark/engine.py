"""The replay engine: changelog -> filter -> tx barrier -> LWW -> MERGE
-> atomic epoch commit. One epoch == one canal get/ack cycle.

Pipeline per epoch e (SURVEY.md §3.1 mapped to Spark):

    plan_epoch(checkpoints)                  # position seek
    -> read_slice                            # binlog dump analog
    -> whitelist/blacklist (optional)        # F1/F2 pre-filters
    -> committed_watermarks + tx_barrier     # TRANSACTIONEND buffering
    -> drop heartbeats, op filter            # F4/F5
    -> stage                                 # A4 lineage + cached LWW winners
    -> StagedEpoch.write: lww_collapse       # A1 (map-side partial agg)
       -> merge_epoch / append_epoch         # J2 (bucket-pruned CoW / MoR)
    -> table.commit(e, files, checkpoints, lineage)   # atomic; idempotent

Everything from `stage` on is the epoch-write kernel every writer
shares: CdcEngine, multi.apply_route (MultiTableEngine and
StreamingMultiUpsert) and StreamingUpsert differ only in how they plan
the slice and number and commit the epoch.

Exactly-once: the commit is a single atomic manifest rename carrying
data-file list + per-partition offsets + lineage; a re-run of a
committed epoch is a no-op, a crash before commit leaves only orphan
files. Resumability: a fresh engine on the same table directory resumes
from the committed checkpoints (canal's cursor).

Epoch budget growth: if a transaction is larger than the lsn budget the
watermark cannot advance; the engine doubles the slice until either a
commit marker lands inside it or the partition's extent is reached
(a trailing incomplete transaction is never applied — matching the
reference's "only complete transactions are delivered").
"""

from __future__ import annotations

import datetime as _dt
import logging
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canal_spark.operators import filters
from canal_spark.operators.lww import (
    ORDER_COLS,
    _packed_order,
    lww_collapse,
    lww_collapse_partial_delta,
)
from canal_spark.operators.merge import merge_epoch
from canal_spark.operators.txn import committed_watermarks, tx_barrier
from canal_spark.plans.epoch import (
    changelog_schema,
    partition_extents,
    plan_epoch,
    read_slice,
)
from canal_spark.plans.table import SnapshotTable, bucket_expr

PAYLOAD_COLS = ("op", "tokens", "n_tok", "source")

log = logging.getLogger(__name__)


@dataclass
class EpochResult:
    epoch: int
    committed: bool
    n_events: int
    checkpoints: dict[int, int]


@dataclass
class _Prepared:
    """Pre-write state of one epoch (see CdcEngine._prepare)."""

    epoch: int
    wms: dict[int, int]
    ckpts_after: dict[int, int]
    staged: "StagedEpoch"


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        table: SnapshotTable,
        lsn_budget: int = 1_000_000,
        source_whitelist: str | None = None,
        source_blacklist: str | None = None,
        broadcast_threshold_rows: int = 4_000_000,
        ddl_events_path: str | None = None,
        xa_mode: bool = False,
        sinks: tuple = (),
        write_mode: str = "cow",
        auto_compact_fragments: int | None = None,
        compact_target_bytes: int = 128 << 20,
        capture_changes: bool = False,
        partial_updates: bool = False,
    ):
        self.spark = spark
        self.changelog_path = changelog_path
        self.table = table
        self.lsn_budget = lsn_budget
        self.source_whitelist = source_whitelist
        self.source_blacklist = source_blacklist
        #: optional DDL side-stream (FIXTURES.md A3): QUERY-event DDLs
        #: parsed out-of-band, applied in-position during replay —
        #: canal derives these by parsing binlog QUERY events
        #: [C: parse/.../ddl/DruidDdlParser.java;
        #:  parse/.../tsdb/DatabaseTableMeta.java :: #apply]
        self.ddl_events_path = ddl_events_path
        self._ddl_cache: list[dict] | None = None
        #: XA-aware replay: transactions terminated by XAROLLBACK are
        #: discarded before apply/lineage (txn.drop_rolled_back). Off by
        #: default — non-XA logs skip the extra marker scan, matching
        #: canal's opt-in XA parsing.
        self.xa_mode = xa_mode
        #: OuterAdapter-style fan-out (sinks.py): each sink receives the
        #: epoch delta BEFORE the atomic commit, writing epoch-keyed +
        #: overwrite so crash re-runs are byte-identical (exactly-once
        #: per epoch location). Empty by default — zero cost.
        self.sinks = tuple(sinks)
        # the winner/delta joins broadcast when the epoch's distinct-key
        # count is modest (no shuffle OR sort of the wide event stream —
        # measured much faster), and fall back to shuffled hash joins
        # when the key set would make the driver-side broadcast build
        # (which is serial) the bottleneck or an OOM risk.
        self.broadcast_threshold_rows = broadcast_threshold_rows
        #: epoch apply strategy. "cow" (default): bucket-pruned
        #: copy-on-write merge — epoch cost O(touched buckets), scans
        #: stay resolution-free. "mor": merge-on-read — the epoch
        #: appends LWW-collapsed delta fragments in O(delta) time
        #: (no old-state read, no merge joins; the update-heavy
        #: write-amplification fix at 10^10 events), readers resolve by
        #: `_seq`, and table.compact_files() periodically folds
        #: fragments back into a resolved base. Both modes converge to
        #: the same state (order-independent LWW) and interoperate:
        #: a CoW epoch over a fragmented table rewrites resolved state.
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        self.write_mode = write_mode
        #: standing maintenance for long MoR runs: after an epoch
        #: commits, if any bucket's fragment count reaches this
        #: threshold, fold it with compact_files as the next epoch —
        #: the guardrail that keeps a months-long CDC stream from
        #: walking into the small-file wall. None (default) = manual
        #: compaction only. With this set, run_to_completion uses the
        #: unpipelined loop (a compaction epoch may slot in between any
        #: two DML epochs, so e+1's number is not known before e
        #: commits — same reasoning as the DDL bridge; MoR epochs are
        #: cheap, the pipelining gain at that size is noise, measured
        #: in BENCH/BASELINE.md §DDL-bridge).
        self.auto_compact_fragments = auto_compact_fragments
        self.compact_target_bytes = compact_target_bytes
        #: write-time CDF capture (Delta change-data-files analog):
        #: each epoch additionally writes its NET change set — op,
        #: after-image, before-image, winner `_seq` — under
        #: `<table>/changes/epoch=<e>-*/` and records the dir in the
        #: snapshot (`commit(changes=...)`). read_changes then serves
        #: any fully-captured range in O(sum of deltas) with no table
        #: scan (the feed incremental-MV / outbox consumers poll every
        #: epoch). Cost: one extra pruned read of the epoch's affected
        #: buckets inside the write job — the same data the CoW merge
        #: reads anyway. Off by default.
        self.capture_changes = capture_changes
        #: sparse row images (canal Column#updated parity): UPDATE
        #: events carry only the columns named in their `updated_cols`
        #: array; the merge coalesces unwritten columns from the stored
        #: row per key (lww_collapse_partial_delta +
        #: merge_epoch(partial=True)). Valid only with the in-order CoW
        #: path: MoR read-resolution and CDF capture classification are
        #: row-granular (`_seq` names ONE producing event per row, but a
        #: partially-updated row is a composite of several), and sink
        #: fan-out ships the delta as full row images — all three are
        #: rejected rather than silently mis-applied.
        self.partial_updates = partial_updates
        if partial_updates and (
            write_mode != "cow" or capture_changes or self.sinks
        ):
            raise ValueError(
                "partial_updates requires write_mode='cow', "
                "capture_changes=False and no sinks"
            )
        self._extents: dict[int, int] | None = None
        #: the changelog's schema, learned together with the extents:
        #: every slice is planned from it instead of re-inferring it
        #: from parquet footers (one Spark job per slice otherwise)
        self._log_schema = None

    # ------------------------------------------------------------ plan
    @property
    def extents(self) -> dict[int, int]:
        if self._extents is None:
            self._log_schema = changelog_schema(self.spark, self.changelog_path)
            self._extents = partition_extents(
                self.spark, self.changelog_path, self._log_schema
            )
        return self._extents

    def budget_for_epochs(self, n_epochs: int) -> int:
        """LSN budget that consumes the remaining changelog in exactly
        `n_epochs` epochs (max over partitions of remaining extent / n).
        Avoids the degenerate trailing epoch a row-count heuristic
        produces — an (almost) empty epoch still pays the full fixed
        cost of planning, aggregation barriers, and commit."""
        ckpts = self.table.checkpoints()
        remaining = [
            self.extents[p] - ckpts.get(p, -1) for p in self.extents
        ]
        return max(1, (max(remaining) + n_epochs - 1) // n_epochs)

    def _slice(self, bounds: dict[int, tuple[int, int]]):
        df = read_slice(self.spark, self.changelog_path, bounds, self._log_schema)
        if self.source_whitelist:
            df = filters.whitelist(df, self.source_whitelist)
        if self.source_blacklist:
            df = filters.blacklist(df, self.source_blacklist)
        return df

    # ------------------------------------------------------------- run
    def _prepare(
        self,
        ckpts: dict[int, int],
        epoch: int,
        extents: dict[int, int] | None = None,
    ) -> "_Prepared | None":
        """Everything BEFORE the write job: plan bounds, find committed
        watermarks, and `stage` the epoch (lineage collect on a
        background thread, cached winners, bucket counts). Reads only
        the immutable changelog — never the table's data — so it is
        safe to run concurrently with the previous epoch's write
        (pipelining, see run_to_completion).

        `extents` overrides the true partition extents (the DDL bridge
        clamps a partition at the next pending DDL position so no event
        at or past the DDL is applied under the old schema)."""
        # partial-mode barrier: the at-extent apply-the-remainder
        # fallback is only sound against the TRUE extents — under a
        # DDL clamp, the clamped partition's post-DDL events DO follow
        # this slice, so the terminal fallback must stay off (a slice
        # with no clean cut below the DDL then returns None and
        # run_epoch raises, instead of corrupting per-column order)
        terminal_extents = extents is None
        extents = self.extents if extents is None else extents
        bounds = plan_epoch(ckpts, extents, self.lsn_budget)
        if bounds is None:
            return None

        # NOTE: the slice is deliberately NOT cached — it is consumed by
        # a handful of aggregations/joins that each re-scan the pruned
        # parquet range (vectorized, row-group-pruned, scales with
        # cores). Building a columnar cache of the wide token arrays
        # costs more heap + wall time than the re-scans (measured).
        floors = {p: f for p, (f, _) in bounds.items()}
        budget = self.lsn_budget
        while True:
            sl = self._slice(bounds)
            wms = committed_watermarks(sl, floors)
            at_extent = all(t >= extents[p] for p, (_, t) in bounds.items())
            if self.partial_updates:
                # sparse-row-image mode assumes every event applied in
                # epoch e outranks everything stored by earlier epochs;
                # per-partition watermarks skew across epochs and break
                # that (ADVICE r5) — clamp to a clean GLOBAL lsn cut
                wms = self._partial_barrier_wms(
                    sl, wms, floors, bounds, at_extent and terminal_extents
                )
            progressed = any(wms[p] > floors[p] for p in bounds)
            if progressed or at_extent:
                break
            # a tx larger than the budget: grow the slice (deterministic)
            budget *= 2
            bounds = {p: (f, min(f + budget, extents[p])) for p, (f, _) in bounds.items()}
            # in partial mode a missing clean cut can grow the slice up
            # to the whole remaining log (and the barrier's per-tx
            # collect with it), so make the escalation visible there
            log.log(
                logging.WARNING if self.partial_updates else logging.DEBUG,
                "epoch %d: no committed progress in the slice; lsn budget "
                "doubled to %d over %d partitions",
                epoch,
                budget,
                len(bounds),
            )

        if not any(wms[p] > floors[p] for p in bounds):
            # only a trailing incomplete tx remains anywhere -> done
            return None

        complete = tx_barrier(sl, wms)
        if self.xa_mode:
            from canal_spark.operators.txn import drop_rolled_back

            complete = drop_rolled_back(complete)
        apply_df = filters.op_filter(complete)
        return _Prepared(
            epoch=epoch,
            wms=wms,
            ckpts_after={**ckpts, **wms},
            staged=stage(self.table, apply_df, self.broadcast_threshold_rows),
        )

    def _partial_barrier_wms(
        self,
        sl,
        wms: dict[int, int],
        floors: dict[int, int],
        bounds: dict[int, tuple[int, int]],
        at_extent: bool,
    ) -> dict[int, int]:
        """Clamp an epoch's watermarks to a clean GLOBAL lsn cut
        (partial_updates correctness, ADVICE r5).

        The per-column CoW coalesce resolves a batch against the
        stored row with a single per-key `_seq` guard, which is only
        correct if every event applied in a later epoch outranks every
        event applied earlier. Unclamped per-partition watermarks do
        not guarantee that: each partition's watermark stops at its own
        last committed tx, and a budget-exceeding tx stalls one
        partition while others advance — a later epoch can then apply
        a same-key event with a SMALLER packed order and drop or
        misapply column writes.

        A cut L is CLEAN when no transaction of any partition SPANS it
        (an event with lsn <= L whose tx commits past L). Replaying
        (floor, L] per epoch then preserves the global invariant:
        every event applied later has lsn > L. Within one epoch,
        interleaved partitions are handled by the per-column winner
        aggregation, which is order-independent.

        One narrow aggregation computes each in-slice transaction's
        span (min event lsn, commit lsn — or open for an incomplete
        tail); the spans are swept driver-side for the LARGEST L at or
        below every partition's slice end that no span covers, strictly
        above every floor (the induction anchor: unapplied events all
        sit above every floor once this barrier disciplines the
        epochs). The collect is O(transactions in the slice) — bounded
        by the lsn budget, metadata next to the event scan — and runs
        in partial mode only.

        No clean cut: with `at_extent` the UNCLAMPED watermarks are
        returned — the whole remainder applies as ONE final epoch
        (nothing follows, so the cross-epoch invariant is vacuous);
        otherwise the floors are returned unchanged and the caller's
        budget-doubling loop grows the slice (a span-dense interleaving
        can degrade epoch granularity up to that single final epoch —
        the honest cost of a global barrier; the alternative is
        per-column `_seq` columns in table storage, a layout change).

        Tables whose checkpoints predate this barrier (skewed floors
        from an earlier engine version) replay forward correctly from
        here on, but historical skew cannot be repaired retroactively.
        """
        if not wms:
            return wms
        floor_hi = max(floors.values(), default=-1)
        # L may not exceed any partition's slice end: events past a
        # partition's slice are UNSEEN and would apply later with
        # lsn <= L otherwise
        hi = min(t for (_f, t) in bounds.values())
        if hi <= floor_hi:
            return wms if at_extent else dict(floors)
        rows = (
            sl.groupBy("source_partition", "tx_id")
            .agg(
                F.min("lsn").alias("lo"),
                F.max(F.when(F.col("tx_commit"), F.col("lsn"))).alias("c"),
            )
            .collect()
        )
        commits: dict[int, list[int]] = {p: [] for p in wms}
        spans: list[tuple[int, float]] = []
        for r in rows:
            p, lo = int(r["source_partition"]), int(r["lo"])
            c = None if r["c"] is None else int(r["c"])
            if c is not None:
                commits.setdefault(p, []).append(c)
            b = float("inf") if c is None else c - 1
            if b >= lo:
                spans.append((lo, b))
        # merge spans, then sweep downward from `hi` to the largest
        # uncovered point
        spans.sort()
        merged: list[list] = []
        for a, b in spans:
            if merged and a <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        L = hi
        for a, b in reversed(merged):
            if L > b:
                break
            if L >= a:
                L = a - 1
        if L > floor_hi:
            clean = {
                p: max(
                    floors.get(p, -1),
                    max((c for c in commits.get(p, []) if c <= L), default=-1),
                )
                for p in wms
            }
            if any(clean[p] > floors.get(p, -1) for p in clean):
                return clean
        if at_extent:
            # terminal slice: apply the whole committed remainder as
            # one epoch — no later epoch exists to violate the order
            return wms
        return dict(floors)

    @staticmethod
    def _discard(prep: "_Prepared | None") -> None:
        """Release a prepared epoch without executing it (failure
        paths), so no cached partitions or lineage threads leak."""
        if prep is not None:
            prep.staged.release()

    def _execute(self, prep: "_Prepared") -> EpochResult:
        """The write job + atomic commit for a prepared epoch.

        `committed=False` in the result means a concurrent commit won
        the epoch number (out-of-band maintenance): no table state
        changed and the caller must replan the slice (run_epoch's next
        call does so from the durable checkpoints; the pipelined loop
        replans explicitly). Sinks have already fanned out under the
        lost number by then — the slice re-emits under its new epoch,
        so a sink consumer may see the same delta under two epoch keys;
        the wire contract already dedups on (source_partition, lsn)
        watermarks (bus redelivery no-op, tests/test_bus_source.py)."""
        staged = prep.staged
        try:
            rewritten, changes_rel = staged.write(
                self.spark,
                prep.epoch,
                mode="partial" if self.partial_updates else self.write_mode,
                sinks=self.sinks,
                capture=self.capture_changes,
            )
        finally:
            staged.release()
        lineage = staged.lineage(prep.epoch)
        committed = self.table.commit(
            prep.epoch,
            rewritten,
            prep.wms,
            lineage,
            append=(self.write_mode == "mor"),
            changes=changes_rel,
        )
        n_events = sum(li["n_events"] for li in lineage)
        return EpochResult(prep.epoch, committed, n_events, prep.wms)

    # ------------------------------------------------------ ddl stream
    def _ddl_events(self) -> list[dict]:
        if self._ddl_cache is None:
            self._ddl_cache = load_ddl_events(self.spark, self.ddl_events_path)
        return self._ddl_cache

    def _ddl_watermark(self) -> tuple[int, int]:
        """Position of the last applied DDL, from the durable snapshot
        meta (crash/resume never re-applies a DDL)."""
        wm = self.table.snapshot().get("meta", {}).get("ddl_wm")
        return (int(wm[0]), int(wm[1])) if wm else (-1, -1)

    def _pending_ddls(self) -> list[dict]:
        if not self.ddl_events_path:
            return []
        wm = self._ddl_watermark()
        return [
            d
            for d in self._ddl_events()
            if (d["lsn"], d["source_partition"]) > wm
        ]

    def _ddl_clamped_extents(self, pending: list[dict]) -> dict[int, int]:
        return ddl_clamped_extents(self.extents, pending)

    def _ddl_ready(self, d: dict, ckpts: dict[int, int]) -> bool:
        return ddl_ready(d, ckpts, self.extents)

    def apply_ddl_event(self, d: dict) -> int:
        """Apply one A3-shape DDL event as its own commit epoch and
        durably advance the DDL watermark (atomic with the schema
        change — a crash between never replays it)."""
        return self.apply_schema_update(
            d["kind"],
            parse_ddl_payload(d),
            meta={"ddl_wm": [d["lsn"], d["source_partition"]]},
        )

    def run_epoch(self) -> EpochResult | None:
        """Run the next epoch. Returns None when the changelog is fully
        consumed (no committable events remain past any checkpoint).

        With a DDL side-stream configured, a ready DDL (its partition
        drained up to the DDL position) is applied as its OWN epoch
        before any further DML; DML epochs never cross a pending DDL
        position in the DDL's partition."""
        ckpts = self.table.checkpoints()
        pending = self._pending_ddls()
        if pending and self._ddl_ready(pending[0], ckpts):
            e = self.apply_ddl_event(pending[0])
            return EpochResult(e, True, 0, {})
        prep = self._prepare(
            ckpts,
            (self.table.current_epoch() or 0) + 1,
            extents=self._ddl_clamped_extents(pending) if pending else None,
        )
        if prep is None:
            if pending:
                d = pending[0]
                raise RuntimeError(
                    "DDL at (lsn={lsn}, partition={sp}) is unreachable: no "
                    "committable DML remains below it (a transaction "
                    "straddling a DDL position is invalid input)".format(
                        lsn=d["lsn"], sp=d["source_partition"]
                    )
                )
            return None
        result = self._execute(prep)
        self._maybe_auto_compact()
        return result

    def _maybe_auto_compact(self) -> None:
        """Fold fragments when any bucket accumulates
        `auto_compact_fragments` files BEYOND its bin-pack goal
        (ceil(bucket_bytes / compact_target_bytes)). The goal offset
        matters: a large bucket legitimately sits at several base
        files after compaction, and a bare file-count trigger would
        then fire after (almost) every delta epoch, rewriting the
        whole bucket each time — exactly the write amplification MoR
        exists to avoid. With the offset, a compaction resets the
        bucket to `goal` files and the next one happens only after
        `auto_compact_fragments` further fragment epochs. The trigger
        check is driver-side file metadata (no Spark job); the
        compaction itself is its own commit epoch."""
        if self.auto_compact_fragments is None:
            return
        import math
        import os

        snap = self.table.snapshot()
        over = []
        for b, fs in snap["files"].items():
            total = sum(
                os.path.getsize(os.path.join(self.table.root, fe["path"])) for fe in fs
            )
            goal = max(1, math.ceil(total / self.compact_target_bytes))
            if len(fs) >= goal + self.auto_compact_fragments:
                over.append(int(b))
        if over:
            # fold ONLY the buckets that crossed the trigger: a single
            # hot bucket must not make every barely-fragmented bucket
            # pay rewrite amplification (they fold when they themselves
            # accumulate `auto_compact_fragments` files past goal)
            self.table.compact_files(
                self.spark, target_bytes=self.compact_target_bytes, buckets=over
            )

    def run_to_completion(self, max_epochs: int = 10_000) -> int:
        """Replay the whole changelog; returns the final epoch number.

        PIPELINED: epoch e+1's bounds depend only on e's watermarks
        (known before e's write starts), so e+1's changelog scans and
        winner aggregation run on a background thread concurrent with
        e's write job — their work fills the executor idle time during
        e's driver-serial windows (planning, broadcast build, commit).
        Commits remain strictly sequential; a crash leaves the same
        states as the unpipelined loop (preparation only READS the
        immutable changelog).

        With a DDL side-stream, the loop runs unpipelined: a DDL epoch
        may slot in between any two DML epochs, so epoch e+1's number
        and clamps are not known before e commits. DDL workloads are
        rare; simplicity wins over overlap here."""
        import threading

        if self.ddl_events_path or self.auto_compact_fragments is not None:
            for _ in range(max_epochs):
                if self.run_epoch() is None:
                    break
            return self.table.current_epoch() or 0

        prep = self._prepare(
            self.table.checkpoints(), (self.table.current_epoch() or 0) + 1
        )
        for _ in range(max_epochs):
            if prep is None:
                break
            nxt: dict = {}

            def _prepare_next(ckpts=prep.ckpts_after, e=prep.epoch + 1) -> None:
                try:
                    nxt["prep"] = self._prepare(dict(ckpts), e)
                except Exception as ex:  # noqa: BLE001 - re-raised below
                    nxt["err"] = ex

            th = threading.Thread(target=_prepare_next, daemon=True)
            th.start()
            try:
                result = self._execute(prep)
            except BaseException:
                # don't abandon the in-flight preparation: wait for it,
                # then release its cached winners + lineage thread so a
                # failed run leaks nothing into the SparkSession
                th.join()
                self._discard(nxt.get("prep"))
                raise
            th.join()
            if "err" in nxt:
                raise nxt["err"]
            if not result.committed:
                # lost the epoch number to a concurrent commit (an
                # out-of-band maintenance run won the exclusive
                # publish): NOTHING of this slice reached the table,
                # so the speculatively prepared next epoch — built on
                # this slice's watermarks AND the stolen epoch number
                # — must be discarded, and the slice replans from the
                # durable state to reapply under the next number.
                # Without this, the pre-prepared epoch would commit
                # checkpoints past the lost slice and silently skip
                # its events.
                self._discard(nxt.get("prep"))
                prep = self._prepare(
                    self.table.checkpoints(), (self.table.current_epoch() or 0) + 1
                )
                continue
            prep = nxt.get("prep")
        return self.table.current_epoch() or 0

    # ------------------------------------------------------ maintenance
    def compact_tombstones(self) -> int:
        """Tombstone GC with the engine's full partition knowledge: the
        safety bound covers every partition present in the changelog,
        so a partition that has not yet committed pins compaction at
        zero (see SnapshotTable.compact_tombstones)."""
        return self.table.compact_tombstones(
            self.spark, source_partitions=sorted(self.extents)
        )

    # ----------------------------------------------------- subscriptions
    def subscribe(
        self,
        client: str,
        lsn_budget: int | None = None,
        source_whitelist: str | None = None,
        source_blacklist: str | None = None,
        op_types: tuple[str, ...] | None = None,
    ):
        """Register/resume a named read client with its own durable
        cursor and subscription filter (canal's per-(destination,
        clientId) meta [C: meta/.../FileMixedMetaManager.java ::
        #updateCursor] + #subscribe filter). Clients tail the same
        changelog at independent positions; none touches the table's
        write checkpoints."""
        from canal_spark.plans.cursors import ChangelogConsumer, CursorRegistry

        return ChangelogConsumer(
            self.spark,
            self.changelog_path,
            CursorRegistry(self.table.meta_dir),
            client,
            lsn_budget=lsn_budget or self.lsn_budget,
            source_whitelist=source_whitelist,
            source_blacklist=source_blacklist,
            op_types=op_types,
        )

    # -------------------------------------------------------- evolution
    def apply_schema_update(self, kind: str, payload: dict, meta: dict | None = None) -> int:
        return apply_schema_update(self.table, kind, payload, meta)


def load_ddl_events(spark, path: str) -> list[dict]:
    """The DDL side-stream, collected once, in global apply order
    (lsn, source_partition). Metadata-scale: DDLs are rare events.
    Shared by every engine consuming the A3 side-table (single-table,
    multi-table, streaming)."""
    rows = (
        spark.read.parquet(path)
        .select("lsn", "source_partition", "kind", "payload")
        .collect()
    )
    return sorted(
        (
            {
                "lsn": int(r["lsn"]),
                "source_partition": int(r["source_partition"]),
                "kind": r["kind"],
                "payload": r["payload"],
            }
            for r in rows
        ),
        key=lambda d: (d["lsn"], d["source_partition"]),
    )


def ddl_clamped_extents(extents: dict[int, int], pending: list[dict]) -> dict[int, int]:
    """Extents with each partition clamped just below its earliest
    pending DDL: no event at or past a DDL position is applied until
    the schema update has committed (ddlIsolation, in stream order)."""
    ext = dict(extents)
    for d in pending:
        p = d["source_partition"]
        if p in ext:
            ext[p] = min(ext[p], d["lsn"] - 1)
    return ext


def ddl_ready(d: dict, ckpts: dict[int, int], extents: dict[int, int]) -> bool:
    """A DDL at (p, L) applies once partition p's checkpoint covers
    everything before L (or the partition's whole DML extent, when
    that ends before L)."""
    p = d["source_partition"]
    target = min(d["lsn"] - 1, extents.get(p, -1))
    return ckpts.get(p, -1) >= target


def parse_ddl_payload(d: dict) -> dict:
    import json as _json

    return _json.loads(d["payload"]) if isinstance(d["payload"], str) else d["payload"]


def apply_schema_update(table, kind: str, payload: dict, meta: dict | None = None) -> int:
    """Apply one DDL event as its OWN commit epoch (ddlIsolation —
    canal isolates DDL from surrounding DML batches). Metadata-only:
    no data files are rewritten (field-id mapping at read time).
    Module-level: shared by the batch engine and the streaming
    front-end's in-stream DDL path.

    kinds: ADD_COLUMN {name,type} | RENAME_COLUMN {from,to} |
           WIDEN_TYPE {name,to} | DROP_COLUMN {name}
           (SURVEY.md §2 X3 / FIXTURES.md A3)

    Optimistic like every other commit path: a concurrent maintenance
    commit can steal the epoch number, in which case commit() returns
    False and the update is recomputed on the fresh snapshot and
    retried — silently dropping a DDL is the one failure a schema log
    cannot absorb."""
    for _attempt in range(5):
        epoch = _try_schema_update(table, kind, payload, meta)
        if epoch is not None:
            return epoch
    raise RuntimeError(f"apply_schema_update({kind}): lost the commit race 5 times")


def _try_schema_update(
    table, kind: str, payload: dict, meta: dict | None
) -> int | None:
    snap = table.snapshot()
    fields = [dict(f) for f in snap["schemas"][str(snap["schema_ver"])]]
    if kind == "ADD_COLUMN":
        if any(f["name"] == payload["name"] for f in fields):
            raise ValueError(f"ADD_COLUMN: column {payload['name']!r} already exists")
        nid = max(f["id"] for f in fields) + 1
        fields.append({"id": nid, "name": payload["name"], "type": payload["type"]})
    elif kind == "RENAME_COLUMN":
        # the key column's name is load-bearing everywhere (bucket
        # routing, merge alignment, manifest bounds, key-range
        # reads): renaming it would silently desynchronize all of
        # them — reject, like Iceberg rejects dropping a partition
        # source column
        if payload["from"] == snap["key_col"]:
            raise ValueError(
                f"RENAME_COLUMN: {payload['from']!r} is the table key "
                "column and cannot be renamed"
            )
        if any(f["name"] == payload["to"] for f in fields):
            raise ValueError(
                f"RENAME_COLUMN: target name {payload['to']!r} already exists"
            )
        _field(fields, payload["from"])["name"] = payload["to"]
    elif kind == "WIDEN_TYPE":
        # widening the key column changes xxhash64's input type
        # (hashInt vs hashLong code paths), so bucket_expr would
        # route the same key VALUE to a different bucket post-DDL:
        # updates land in new buckets, LWW never pairs them with
        # the old rows, stale duplicates survive. Same
        # load-bearing-key hazard as RENAME above — reject.
        if payload["name"] == snap["key_col"]:
            raise ValueError(
                f"WIDEN_TYPE: {payload['name']!r} is the table key "
                "column; widening it changes hash bucket routing "
                "and cannot be applied"
            )
        fld = _field(fields, payload["name"])
        _check_widening(fld["type"], payload["to"])
        fld["type"] = payload["to"]
    elif kind == "DROP_COLUMN":
        # metadata-only, like Iceberg drop-column: the field leaves the
        # current schema, old files keep their bytes, _normalize simply
        # never projects the dropped field id again. A later ADD_COLUMN
        # reusing the NAME gets a fresh field id, so dropped data can
        # never resurrect under the new column (field-id mapping, not
        # name mapping — tests/test_schema_evolution.py pins this).
        if payload["name"] == snap["key_col"]:
            raise ValueError(
                f"DROP_COLUMN: {payload['name']!r} is the table key "
                "column and cannot be dropped"
            )
        fld = _field(fields, payload["name"])
        fields.remove(fld)
    else:
        raise ValueError(f"unknown DDL kind: {kind}")
    epoch = (table.current_epoch() or 0) + 1
    committed = table.commit(
        epoch,
        rewritten={},
        checkpoints={},
        lineage=[],
        schema_update={"ver": snap["schema_ver"] + 1, "fields": fields},
        meta=meta,
    )
    return epoch if committed else None


_WIDENINGS = {
    ("int", "bigint"),
    ("int", "long"),
    ("float", "double"),
    ("array<int>", "array<bigint>"),
    ("array<int>", "array<long>"),
}


def _field(fields: list[dict], name: str) -> dict:
    for f in fields:
        if f["name"] == name:
            return f
    raise ValueError(f"no such column: {name!r} (have {[f['name'] for f in fields]})")


def _check_widening(frm: str, to: str) -> None:
    if (frm, to) not in _WIDENINGS:
        raise ValueError(f"illegal type change {frm} -> {to} (widenings only)")


# ------------------------------------------------------ epoch kernel
@dataclass
class StagedEpoch:
    """One epoch's barrier-filtered events, staged for the write (see
    `stage`). The epoch-write kernel shared by CdcEngine,
    multi.apply_route and StreamingUpsert: each stages once, calls
    `write` (again under a new epoch number when a concurrent commit
    won one) and `lineage`, commits, and calls `release` on every
    path, failures included."""

    table: SnapshotTable
    apply_df: DataFrame
    key: str
    winners: DataFrame
    n_buckets: int
    lineage_rows: Future
    affected: list[int] = field(default_factory=list)
    small: bool = True
    write_started: float = 0.0

    def _count_buckets(self) -> int:
        """Per-bucket winner counts: the affected buckets, and (summed)
        the epoch's exact distinct-key count."""
        counts = (
            self.winners.groupBy(bucket_expr(self.key, self.n_buckets).alias("bucket"))
            .count()
            .collect()
        )
        self.affected = sorted(int(r["bucket"]) for r in counts)
        return sum(int(r["count"]) for r in counts)

    def write(
        self,
        spark: SparkSession,
        epoch: int,
        mode: str = "cow",
        sinks: tuple = (),
        capture: bool = False,
    ) -> tuple[dict[int, list[str]], str | None]:
        """LWW -> merge (`cow`; `partial` for sparse row images) or
        append (`mor`) -> sink fan-out -> change capture, as epoch
        `epoch`. Returns the file map and the staged change dir (None
        without `capture`); commits nothing. Sinks run BEFORE the
        commit: at-least-once to sinks, exactly-once to the table (a
        retried write re-delivers the delta under a new epoch number;
        the RDB sink's LWW guard makes that a no-op, the MQ sink is a
        redeliverable bus)."""
        self.write_started = time.monotonic()
        n_buckets = self.table.snapshot()["n_buckets"]
        if n_buckets != self.n_buckets:
            # a rebucket committed since staging (concurrent
            # maintenance, the race the writers' commit retries
            # absorb): the staged bucket ids do not address its layout
            self.n_buckets = n_buckets
            self._count_buckets()
        if mode == "partial":
            # own per-key aggregate (needs per-column winner ords, not
            # just the max the winners frame caches); the winners frame
            # still serves the merge's anti/semi joins
            delta = lww_collapse_partial_delta(
                self.apply_df,
                key=self.key,
                payload_cols=PAYLOAD_COLS[1:],  # data cols, sans op
                broadcast_winners=self.small,
            )
        else:
            delta = lww_collapse(
                self.apply_df,
                key=self.key,
                payload_cols=PAYLOAD_COLS,
                broadcast_winners=self.small,
                with_seq=True,
                winners=self.winners,
            )
        if mode == "mor":
            # looked up at call time, where the benchmark tracer wraps it
            from canal_spark.operators.merge import append_epoch

            rewritten = append_epoch(
                spark, self.table, delta, epoch, affected=self.affected
            )
        else:
            rewritten = merge_epoch(
                spark,
                self.table,
                delta,
                epoch,
                broadcast_delta=self.small,
                key_frame=self.winners,
                affected=self.affected,
                partial=(mode == "partial"),
            )
        for sink in sinks:
            sink.apply(spark, delta, epoch)
        changes = (
            capture_epoch_changes(
                spark, self.table, delta, epoch, self.affected, small=self.small
            )
            if capture
            else None
        )
        return rewritten, changes

    def lineage(self, epoch: int) -> list[dict]:
        """The epoch's per-source-partition lineage records (A4), one
        shape for every writer; `wall_ms` runs from the last `write`."""
        rows = self.lineage_rows.result()
        wall_ms = int((time.monotonic() - self.write_started) * 1000)
        return [
            {
                "epoch": epoch,
                "source_partition": int(r["source_partition"]),
                "n_events": int(r["n_events"]),
                "n_upserts": int(r["n_upserts"] or 0),
                "n_deletes": int(r["n_deletes"] or 0),
                "sum_n_tok": int(r["sum_n_tok"] or 0),
                "min_lsn": int(r["min_lsn"]),
                "max_lsn": int(r["max_lsn"]),
                "max_ts": int(
                    r["max_ts"].replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6
                ),
                "wall_ms": wall_ms,
            }
            for r in rows
        ]

    def release(self) -> None:
        """Drop the cached winners and drain the lineage collect."""
        try:
            self.winners.unpersist()
        finally:
            wait([self.lineage_rows])


def stage(
    table: SnapshotTable,
    apply_df: DataFrame,
    broadcast_threshold_rows: int = 4_000_000,
) -> StagedEpoch:
    """Stage one epoch's barrier-filtered events `apply_df` for the
    write: start the lineage collect, cache the LWW winners and
    collect their per-bucket counts. Reads only `apply_df` and the
    table's metadata, never its data, so CdcEngine runs it
    concurrently with the previous epoch's write."""
    # per-partition lineage metrics in one NARROW scan (no HLL: an
    # approx_count_distinct over the key strings measurably dominated
    # this pass; key cardinality comes exact and free from the winners
    # count below).
    # (A grouping-sets fusion of this pass with the LWW winners agg was
    # measured and REJECTED: Expand doubles the input rows into an
    # 8-buffer aggregate — ~70% slower than the two narrow scans at 64M
    # events/local[8].)
    # The collect runs on a SEPARATE THREAD, concurrent with the
    # winners/merge jobs: its scan fills executor idle time during the
    # driver-serial windows (broadcast build, planning) instead of
    # extending the critical path.
    lineage_q = apply_df.groupBy("source_partition").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("op") != "DELETE").cast("long")).alias("n_upserts"),
        F.sum((F.col("op") == "DELETE").cast("long")).alias("n_deletes"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).alias("sum_n_tok"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
        F.max("ts").alias("max_ts"),
    )
    pool = ThreadPoolExecutor(max_workers=1)
    lineage_rows = pool.submit(lineage_q.collect)
    pool.shutdown(wait=False)

    # winners computed ONCE, cached: one job materializes the cache and
    # returns per-bucket counts — the exact key cardinality (broadcast
    # decision) AND the affected-bucket set, so the merge needs no
    # discovery job of its own; the cached frame also serves the LWW
    # winner join and the merge's anti/semi joins
    snap = table.snapshot()
    key = snap["key_col"]
    staged = StagedEpoch(
        table=table,
        apply_df=apply_df,
        key=key,
        winners=apply_df.groupBy(key)
        .agg(F.max(_packed_order(ORDER_COLS)).alias("_ord"))
        .persist(),
        n_buckets=snap["n_buckets"],
        lineage_rows=lineage_rows,
    )
    try:
        staged.small = staged._count_buckets() <= broadcast_threshold_rows
    except BaseException:
        staged.release()
        raise
    return staged


def capture_epoch_changes(
    spark: SparkSession,
    table,
    delta: DataFrame,
    epoch: int,
    affected: list[int],
    small: bool = False,
) -> str:
    """Write epoch `epoch`'s net change set (write-time CDF capture,
    shared by CdcEngine and StreamingUpsert). Returns the RELATIVE
    staged dir for `commit(changes=...)`.

    Classification replays exactly the merge's LWW decision against
    the PRE-epoch visible state of the affected buckets (the table has
    not committed yet, so `table.read` IS that state):

        delta loses (_seq <= stored row's)      -> no change row
        DELETE of a visible key                 -> DELETE + before
        DELETE of an absent/tombstoned key      -> TOUCH (internal)
        upsert over a visible key               -> UPDATE + before
        upsert over absent/tombstoned           -> INSERT

    TOUCH is capture-internal: a winning re-delete of an already-
    invisible key changes no visible state but ADVANCES the stored
    tombstone's `_seq` — without recording it, a later range-collapse
    would report the older deletion's `_seq` while the snapshot diff
    reads the newer tombstone (found by the streaming parity test).
    The range reader composes TOUCH like DELETE for end-state and like
    INSERT for start-visibility, and never emits it.

    The old-side read is bucket-pruned to the epoch's affected buckets
    and semi-filtered to the delta's keys (broadcast when
    `small`, the same cardinality gate as every other delta join).
    Staged under a unique dir; the commit records it, a lost commit
    race orphans it for remove_orphans."""
    import uuid as _uuid

    key = "doc_id"
    payload = [c for c in delta.columns if c not in (key, "op", "_seq")]
    old = table.read(
        spark, buckets=affected, with_bucket=False, internal=True
    ).select(
        key,
        *[F.col(c).alias(f"__old_{c}") for c in payload],
        F.col("_seq").alias("__old_seq"),
        F.col("_tombstone").alias("__old_tomb"),
    )
    keys = delta.select(key)
    if small:
        old = old.join(F.broadcast(keys), key, "left_semi")
        j = delta.join(F.broadcast(old), key, "left")
    else:
        old = old.join(keys, key, "left_semi")
        j = delta.join(old, key, "left")
    wins = F.col("__old_seq").isNull() | (F.col("_seq") > F.col("__old_seq"))
    vis = F.col("__old_seq").isNotNull() & ~F.coalesce(
        F.col("__old_tomb"), F.lit(True)
    )
    net = F.when(
        F.col("op") == "DELETE",
        F.when(vis, F.lit("DELETE")).otherwise(F.lit("TOUCH")),
    ).otherwise(F.when(vis, F.lit("UPDATE")).otherwise(F.lit("INSERT")))
    cap = (
        j.filter(wins)
        .withColumn("_net", net)
        .select(
            key,
            F.col("_net").alias("op"),
            *[
                F.when(~F.col("_net").isin("DELETE", "TOUCH"), F.col(c)).alias(c)
                for c in payload
            ],
            *[
                F.when(
                    ~F.col("_net").isin("INSERT", "TOUCH"), F.col(f"__old_{c}")
                ).alias(f"before_{c}")
                for c in payload
            ],
            F.col("_seq"),
        )
    )
    rel = os.path.join("changes", f"epoch={epoch}-{_uuid.uuid4().hex[:8]}")
    # delta-scale output: a handful of files, not one per shuffle
    # partition (the feed is re-unioned across many epochs by readers)
    cap.coalesce(8).write.mode("overwrite").parquet(os.path.join(table.root, rel))
    return rel

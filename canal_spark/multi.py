"""Multi-table routing: ONE changelog, MANY table targets, one shared
atomic group epoch.

Reference semantics: a canal instance tails ALL tables of a source
under ONE durable cursor, and its adapters dispatch each DML to its
own target table by `schema.table`
[C: client-adapter/rdb/.../RdbSyncService.java :: per-`Dml.table`
 dispatch; meta/.../FileMixedMetaManager.java :: one cursor per
 destination; filter/.../AviaterRegexFilter.java :: schema.table regex].
The single-table CdcEngine models one adapter; this module models the
instance: N `TableRoute`s (regex on `source`, canal's schema.table
analog) replayed from one interleaved changelog under a SHARED epoch,
so resume is consistent ACROSS tables.

Atomicity across tables (no cross-file atomic rename exists):
two-phase roll-forward, the classic coordinator-log shape —

1. every member table commits its own epoch carrying
   `meta.group_epoch = g` and `meta.group_wms` (the slice watermarks);
2. the group marker `group-g.json` (authoritative checkpoints) is
   published LAST, exclusively (os.link), into the group log.

A crash between (1) and (2) leaves some tables at group epoch g and
the marker at g-1. The next run detects a member already at g, adopts
its RECORDED watermarks (not a re-planned slice — immune to budget
changes between runs), replays the identical slice into the remaining
tables (deterministic: the changelog is immutable and the slice is a
pure function of the bounds), and publishes the marker. Re-applying to
an already-at-g table is skipped by the `group_epoch` check; the whole
protocol is idempotent. This is canal's instance-cursor semantics made
transactional across adapters.

Scale shape: the shared slice is PLANNED once (one watermark pass over
the unfiltered stream — the cursor must cover sources no route wants,
exactly like canal's instance cursor). Each route then re-scans the
slice with its own `source` regex pushed into the parquet scan and
runs the standard LWW -> bucket-pruned MERGE into its own table; per
route the cost is O(its events), and routes write to disjoint
directories so the write jobs share nothing. Each route goes through
the same epoch-write kernel as CdcEngine and StreamingUpsert
(engine.stage -> StagedEpoch.write -> commit). The slice is
deliberately NOT cached across routes: re-scanning a pruned parquet
range was measured cheaper than building a columnar cache of wide
token arrays (see engine._prepare), and the per-route filter prunes the
re-scan further.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from canal_spark.engine import stage
from canal_spark.operators import filters
from canal_spark.operators.txn import committed_watermarks, tx_barrier
from canal_spark.plans.epoch import (
    changelog_schema,
    partition_extents,
    plan_epoch,
    read_slice,
)
from canal_spark.plans.table import SnapshotTable

#: member applies per group epoch run on a thread pool this wide (2-4
#: in flight fill the driver-serial windows without routes fighting for
#: executors — guide §2.6)
ROUTE_PARALLELISM = 4

_MARKER_RE = re.compile(r"group-(\d{8})\.json$")


@dataclass(frozen=True)
class TableRoute:
    """One destination table and its subscription filter (the adapter's
    schema.table regex). Routes may overlap — an event matching two
    routes is applied to both tables, like two canal adapters
    subscribing to the same instance."""

    name: str
    table: SnapshotTable
    source_whitelist: str | None = None
    source_blacklist: str | None = None

    def filtered(self, df):
        if self.source_whitelist:
            df = filters.whitelist(df, self.source_whitelist)
        if self.source_blacklist:
            df = filters.blacklist(df, self.source_blacklist)
        return df


@dataclass
class GroupEpochResult:
    epoch: int
    n_events: dict[str, int]  # per route name, applied event count
    table_epochs: dict[str, int]
    checkpoints: dict[int, int]
    rolled_forward: bool = False
    ddl: dict | None = None  # the DDL event, when this was a DDL epoch


class GroupLog:
    """The coordinator log: one immutable JSON marker per group epoch,
    published atomically AND exclusively (os.link — two racers for the
    same epoch number cannot both win), same publish protocol as table
    snapshots. The marker carries the authoritative shared cursor."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, epoch: int) -> str:
        return os.path.join(self.root, f"group-{epoch:08d}.json")

    def current_epoch(self) -> int | None:
        epochs = [
            int(m.group(1)) for fn in os.listdir(self.root) if (m := _MARKER_RE.match(fn))
        ]
        return max(epochs) if epochs else None

    def marker(self, epoch: int) -> dict:
        with open(self._path(epoch)) as f:
            return json.load(f)

    def checkpoints(self) -> dict[int, int]:
        cur = self.current_epoch()
        if cur is None:
            return {}
        return {int(k): int(v) for k, v in self.marker(cur)["checkpoints"].items()}

    def publish(self, marker: dict) -> bool:
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(marker, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._path(marker["epoch"]))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True


class MultiTableEngine:
    """Replay one changelog into N routed tables under a shared atomic
    group epoch (see module docstring for the protocol)."""

    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        routes: list[TableRoute],
        group_dir: str,
        lsn_budget: int = 1_000_000,
        broadcast_threshold_rows: int = 4_000_000,
        write_mode: str = "cow",
        ddl_events_path: str | None = None,
    ):
        check_routes(routes, write_mode)
        self.spark = spark
        self.changelog_path = changelog_path
        self.routes = list(routes)
        self.group = GroupLog(group_dir)
        self.lsn_budget = lsn_budget
        self.broadcast_threshold_rows = broadcast_threshold_rows
        self.write_mode = write_mode
        #: A3 DDL side-stream replicated to EVERY route table (canal's
        #: instance parses one DDL stream and every subscribed adapter
        #: applies it [C: parse/.../ddl/DruidDdlParser.java +
        #: client-adapter schema mapping]); the group marker carries
        #: the authoritative ddl watermark
        self.ddl_events_path = ddl_events_path
        self._ddl_cache: list[dict] | None = None
        self._extents: dict[int, int] | None = None
        #: learned together with the extents (see changelog_schema)
        self._log_schema = None

    @property
    def extents(self) -> dict[int, int]:
        if self._extents is None:
            self._log_schema = changelog_schema(self.spark, self.changelog_path)
            self._extents = partition_extents(
                self.spark, self.changelog_path, self._log_schema
            )
        return self._extents

    # ------------------------------------------------------ ddl stream
    def _group_ddl_wm(self) -> tuple[int, int]:
        """Position of the last group-applied DDL, from the marker (the
        authoritative group-level record)."""
        cur = self.group.current_epoch()
        wm = self.group.marker(cur).get("ddl_wm") if cur is not None else None
        return (int(wm[0]), int(wm[1])) if wm else (-1, -1)

    def _pending_ddls(self) -> list[dict]:
        if not self.ddl_events_path:
            return []
        if self._ddl_cache is None:
            from canal_spark.engine import load_ddl_events

            self._ddl_cache = load_ddl_events(self.spark, self.ddl_events_path)
        wm = self._group_ddl_wm()
        return [d for d in self._ddl_cache if (d["lsn"], d["source_partition"]) > wm]

    def _apply_group_ddl(self, d: dict, g: int, ckpts: dict[int, int]) -> GroupEpochResult:
        """Replicate one ready DDL to EVERY route table (each as its own
        metadata-only epoch carrying `ddl_wm`), then publish the group
        marker advancing the group-level watermark. Crash-idempotent:
        a member whose ddl_wm already covers the position is skipped on
        roll-forward, exactly like the group_epoch skip for DML."""
        table_epochs = replicate_ddl_to_routes(self.routes, d)
        self._publish_marker(
            g, ckpts, table_epochs, ddl_wm=[d["lsn"], d["source_partition"]]
        )
        return GroupEpochResult(
            g, {r.name: 0 for r in self.routes}, table_epochs, dict(ckpts), ddl=d
        )

    def _plan_slice(self, ckpts: dict[int, int], extents: dict[int, int] | None = None):
        """Shared-cursor slice planning, identical growth rule to
        CdcEngine._prepare but over the UNFILTERED stream: the instance
        cursor must advance past events every route filters out.
        `extents` overrides the durable extents (the DDL clamp)."""
        ext = self.extents if extents is None else extents
        bounds = plan_epoch(ckpts, ext, self.lsn_budget)
        if bounds is None:
            return None
        floors = {p: f for p, (f, _) in bounds.items()}
        budget = self.lsn_budget
        while True:
            sl = read_slice(self.spark, self.changelog_path, bounds, self._log_schema)
            wms = committed_watermarks(sl, floors)
            progressed = any(wms[p] > floors[p] for p in bounds)
            at_extent = all(t >= ext[p] for p, (_, t) in bounds.items())
            if progressed or at_extent:
                break
            budget *= 2
            bounds = {
                p: (f, min(f + budget, ext[p])) for p, (f, _) in bounds.items()
            }
        if not any(wms[p] > floors[p] for p in bounds):
            return None
        return sl, wms

    # ------------------------------------------------------------- run
    def run_epoch(self) -> GroupEpochResult | None:
        """Apply the next shared slice to every route and publish the
        group marker. Returns None when the changelog is consumed.

        With a DDL side-stream, a ready DDL (its partition drained to
        the DDL position) replicates to every route table as the whole
        group epoch before any further DML, and DML slices never cross
        a pending DDL position (same ddlIsolation rule as CdcEngine)."""
        from canal_spark.engine import ddl_clamped_extents, ddl_ready

        g = (self.group.current_epoch() or 0) + 1
        ckpts = self.group.checkpoints()
        recorded = recorded_group_wms(self.routes, g)
        rolled_forward = recorded is not None
        pending_ddls = self._pending_ddls()
        if (
            recorded is None
            and pending_ddls
            and ddl_ready(pending_ddls[0], ckpts, self.extents)
        ):
            return self._apply_group_ddl(pending_ddls[0], g, ckpts)
        if recorded is not None:
            wms = recorded
            bounds = {
                p: (ckpts.get(p, -1), wms[p])
                for p in wms
                if wms[p] > ckpts.get(p, -1)
            }
            sl = read_slice(self.spark, self.changelog_path, bounds, self._log_schema)
        else:
            planned = self._plan_slice(
                ckpts,
                extents=ddl_clamped_extents(self.extents, pending_ddls)
                if pending_ddls
                else None,
            )
            if planned is None:
                if pending_ddls:
                    d = pending_ddls[0]
                    raise RuntimeError(
                        "DDL at (lsn={lsn}, partition={sp}) is unreachable: no "
                        "committable DML remains below it (a transaction "
                        "straddling a DDL position is invalid input)".format(
                            lsn=d["lsn"], sp=d["source_partition"]
                        )
                    )
                return None
            sl, wms = planned
        complete = tx_barrier(sl, wms)
        apply_df = filters.op_filter(complete)

        def _one(route: TableRoute) -> tuple[str, int, int]:
            snap = route.table.snapshot()
            if snap.get("meta", {}).get("group_epoch", -1) >= g:
                # already applied by the crashed run — roll-forward skip
                return route.name, snap["epoch"], 0
            t_epoch, n = apply_route(
                self.spark,
                route,
                route.filtered(apply_df),
                g,
                wms,
                write_mode=self.write_mode,
                broadcast_threshold_rows=self.broadcast_threshold_rows,
            )
            return route.name, t_epoch, n

        # member applies run CONCURRENTLY (r6, guide §2.6): each route
        # writes its own disjoint table dir and commits its own
        # snapshot, so the only serialization the old loop bought was
        # accidental — one route's driver-serial windows (winner-agg
        # collect, broadcast build, commit) left the executors idle
        # while the next route waited. A small pool overlaps them; the
        # group marker still publishes strictly AFTER every member
        # commit, and a crash mid-pool leaves some members at g — the
        # same states the serial loop's crash points left (roll-forward
        # handles any committed subset via recorded_group_wms).
        if len(self.routes) == 1:
            results = [_one(self.routes[0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(len(self.routes), ROUTE_PARALLELISM)
            ) as pool:
                results = list(pool.map(_one, self.routes))
        table_epochs = {name: te for name, te, _ in results}
        n_events = {name: n for name, _, n in results}

        new_ckpts = {**ckpts, **{int(p): int(v) for p, v in wms.items()}}
        self._publish_marker(g, new_ckpts, table_epochs)
        return GroupEpochResult(g, n_events, table_epochs, new_ckpts, rolled_forward)

    def _publish_marker(
        self,
        g: int,
        new_ckpts: dict[int, int],
        table_epochs: dict[str, int],
        ddl_wm: list | None = None,
    ) -> None:
        """Publish the group marker for epoch g, carrying the DDL
        watermark forward (markers are full documents — a DML marker
        must not lose the last DDL position)."""
        marker = {
            "epoch": g,
            "checkpoints": {str(p): int(v) for p, v in new_ckpts.items()},
            "tables": table_epochs,
        }
        carry = ddl_wm if ddl_wm is not None else list(self._group_ddl_wm())
        if carry != [-1, -1]:
            marker["ddl_wm"] = carry
        if not self.group.publish(marker):
            # a concurrent engine on the same group published g first;
            # the protocol is deterministic, so identical checkpoints
            # mean identical work — anything else is a configuration
            # error (two engines with different budgets/routes)
            other = self.group.marker(g)
            if other["checkpoints"] != marker["checkpoints"]:
                raise RuntimeError(
                    f"group epoch {g}: concurrent marker with different "
                    f"checkpoints ({other['checkpoints']} != "
                    f"{marker['checkpoints']}) — two engines with "
                    "different plans share this group log"
                )

    def run_to_completion(self, max_epochs: int = 10_000) -> int:
        for _ in range(max_epochs):
            if self.run_epoch() is None:
                break
        return self.group.current_epoch() or 0


def check_routes(routes: list[TableRoute], write_mode: str) -> None:
    """Reject a route set or write mode no group engine can run."""
    names = [r.name for r in routes]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate route names: {names}")
    if not routes:
        raise ValueError("at least one TableRoute is required")
    if write_mode not in ("cow", "mor"):
        raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")


def replicate_ddl_to_routes(routes: list[TableRoute], d: dict) -> dict[str, int]:
    """Apply one A3 DDL event to every route table as its own
    metadata-only epoch carrying `ddl_wm`, skipping members whose
    watermark already covers the position (the crash-mid-replication
    roll-forward). Shared by the batch MultiTableEngine and the
    streaming front-end — only the group-marker publish differs.
    Returns the per-route table epochs for the marker."""
    from canal_spark.engine import apply_schema_update, parse_ddl_payload

    pos = (d["lsn"], d["source_partition"])
    payload = parse_ddl_payload(d)
    table_epochs: dict[str, int] = {}
    for route in routes:
        snap = route.table.snapshot() if route.table.current_epoch() is not None else {}
        mwm = snap.get("meta", {}).get("ddl_wm")
        if mwm and (int(mwm[0]), int(mwm[1])) >= pos:
            table_epochs[route.name] = snap["epoch"]  # crashed run applied it
            continue
        apply_schema_update(route.table, d["kind"], payload, meta={"ddl_wm": list(pos)})
        table_epochs[route.name] = route.table.current_epoch()
    return table_epochs


def recorded_group_wms(routes: list[TableRoute], g: int) -> dict[int, int] | None:
    """If any member table already committed group epoch `g` (crash
    between member commits and the marker), its recorded slice
    watermarks are THE slice for the roll-forward — never a re-planned
    one, so a changed lsn_budget (or a redelivered micro-batch in the
    streaming front-end) cannot desynchronize members."""
    for route in routes:
        if route.table.current_epoch() is None:
            continue
        meta = route.table.snapshot().get("meta", {})
        if meta.get("group_epoch", -1) >= g:
            return {int(k): int(v) for k, v in meta["group_wms"].items()}
    return None


def apply_route(
    spark: SparkSession,
    route: TableRoute,
    routed,
    g: int,
    wms: dict[int, int],
    *,
    write_mode: str = "cow",
    broadcast_threshold_rows: int = 4_000_000,
    meta_extra: dict | None = None,
):
    """Stage -> write -> commit for one route through the shared
    epoch-write kernel (engine.stage), carrying the group membership in
    the table's own atomic commit. Shared by the batch MultiTableEngine
    and the streaming front-end (StreamingMultiUpsert) — the protocol is
    identical, only the slice source differs. A route with no events
    this epoch still commits (metadata-only): it advances its cursor and
    group membership."""
    meta = {
        "group_epoch": g,
        "group_wms": {str(p): int(v) for p, v in wms.items()},
        **(meta_extra or {}),
    }
    staged = stage(route.table, routed, broadcast_threshold_rows)
    try:
        for _attempt in range(5):
            t_epoch = (route.table.current_epoch() or 0) + 1
            rewritten, _ = staged.write(spark, t_epoch, mode=write_mode)
            lineage = staged.lineage(t_epoch)
            if route.table.commit(
                t_epoch,
                rewritten,
                wms,
                lineage,
                meta=meta,
                append=(write_mode == "mor" and bool(staged.affected)),
            ):
                return t_epoch, sum(li["n_events"] for li in lineage)
            # lost the epoch number to concurrent maintenance on
            # this table: nothing landed; recompute the number and
            # rewrite (the staged files of the lost attempt are
            # unreferenced orphans)
        raise RuntimeError(
            f"route {route.name!r}: lost the commit race 5 times"
        )
    finally:
        staged.release()

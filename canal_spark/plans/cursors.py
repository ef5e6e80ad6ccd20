"""Per-client cursor registry + get/ack consumer protocol.

Canal serves many independent clients per destination, each with its
own durable cursor and subscription filter
[C: meta/.../FileMixedMetaManager.java :: #updateCursor/#getCursor;
 server/.../CanalServerWithEmbedded.java :: #subscribe/#getWithoutAck/
 #ack/#rollback]. Round 1 carried exactly one checkpoint set (the MERGE
 writer's, inside the snapshot commit); this module adds the reader
side: any number of named consumers tail the same changelog at
independent positions without touching the table's write checkpoints.

Design:
- a cursor is per-(client, source_partition): the upper bound of the
  last acked LSN slice. Acking covers the RANGE, not just delivered
  events, so progress is monotone even through lsn gaps (the changelog
  lsn space is sparse per partition).
- cursor files are `meta/cursor-<client>.json` beside the table's
  snapshots (atomic tmp+rename like snapshot commits); they never
  collide with snapshot-*.json and are invisible to the table reader.
- the consumer protocol is canal's: get() plans the next bounded slice
  past the cursor (one outstanding batch), ack(batch_id) durably
  advances (strictly sequential), rollback() redelivers the same slice
  on the next get() — at-least-once delivery per client, made
  exactly-once by any idempotent downstream (e.g. SnapshotTable epoch
  commits keyed on the batch id).
- subscription filters (F6): per-client source whitelist/blacklist and
  op-type set applied to the delivered DataFrame; the cursor still
  covers the full lsn range, so filtered clients advance identically.

Scale: planning is O(P) driver-side metadata; the slice read is the
same pushed-down lsn-range scan the engine uses (plans/epoch.py) —
adding clients adds scans, never shuffles or locks.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from canal_spark.operators import filters
from canal_spark.plans.epoch import (
    changelog_schema,
    partition_extents,
    plan_epoch,
    read_slice,
)

_CURSOR_RE = re.compile(r"cursor-([A-Za-z0-9_\-\.]+)\.json$")


class CursorRegistry:
    """Durable per-client cursor store under a meta directory.

    Concurrency contract (canal's too): ONE live consumer per client
    id. Writes are atomic (tmp+rename) and positions max-merge, so a
    violated contract cannot corrupt or regress a cursor — but two
    concurrent same-client consumers would double-deliver slices
    (each believing the batch outstanding is its own)."""

    def __init__(self, meta_dir: str):
        self.meta_dir = meta_dir
        os.makedirs(meta_dir, exist_ok=True)

    def _path(self, client: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_\-\.]+", client):
            raise ValueError(f"invalid client id: {client!r}")
        return os.path.join(self.meta_dir, f"cursor-{client}.json")

    def get(self, client: str) -> dict:
        """{'positions': {partition -> acked lsn}, 'n_acks': int}."""
        p = self._path(client)
        if not os.path.exists(p):
            return {"positions": {}, "n_acks": 0}
        with open(p) as f:
            raw = json.load(f)
        return {
            "positions": {int(k): int(v) for k, v in raw["positions"].items()},
            "n_acks": int(raw["n_acks"]),
        }

    def advance(self, client: str, positions: dict[int, int]) -> dict:
        """Max-merge `positions` into the client's cursor and bump the
        ack counter, atomically (tmp + rename)."""
        cur = self.get(client)
        merged = dict(cur["positions"])
        for p, lsn in positions.items():
            merged[int(p)] = max(int(lsn), merged.get(int(p), -1))
        new = {"positions": {str(k): v for k, v in merged.items()}, "n_acks": cur["n_acks"] + 1}
        tmp = os.path.join(self.meta_dir, f".tmp-cursor-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(new, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._path(client))
        return {"positions": merged, "n_acks": new["n_acks"]}

    def clients(self) -> list[str]:
        return sorted(
            m.group(1)
            for fn in os.listdir(self.meta_dir)
            if (m := _CURSOR_RE.match(fn))
        )

    def state_rows(self) -> list[tuple[str, int, int]]:
        """(client, source_partition, acked_lsn) for every cursor —
        the canal `meta` inspection surface."""
        rows = []
        for c in self.clients():
            for p, lsn in sorted(self.get(c)["positions"].items()):
                rows.append((c, p, lsn))
        return rows


class ChangelogConsumer:
    """One client's pull loop over a changelog directory (canal's
    getWithoutAck/ack/rollback), positions in a CursorRegistry."""

    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        registry: CursorRegistry,
        client: str,
        lsn_budget: int = 1_000_000,
        source_whitelist: str | None = None,
        source_blacklist: str | None = None,
        op_types: tuple[str, ...] | None = None,
    ):
        self.spark = spark
        self.changelog_path = changelog_path
        self.registry = registry
        self.client = client
        self.lsn_budget = lsn_budget
        self.source_whitelist = source_whitelist
        self.source_blacklist = source_blacklist
        self.op_types = op_types
        self._extents: dict[int, int] | None = None
        #: learned together with the extents (see changelog_schema)
        self._log_schema = None
        self._outstanding: tuple[int, dict[int, tuple[int, int]]] | None = None

    @property
    def extents(self) -> dict[int, int]:
        if self._extents is None:
            self._log_schema = changelog_schema(self.spark, self.changelog_path)
            self._extents = partition_extents(
                self.spark, self.changelog_path, self._log_schema
            )
        return self._extents

    def positions(self) -> dict[int, int]:
        return self.registry.get(self.client)["positions"]

    def get(self) -> tuple[int, DataFrame] | None:
        """Next bounded slice past this client's cursor, or None when
        the changelog is exhausted. At most one outstanding batch."""
        if self._outstanding is not None:
            raise RuntimeError(
                f"client {self.client!r}: batch {self._outstanding[0]} not acked/rolled back"
            )
        state = self.registry.get(self.client)
        bounds = plan_epoch(state["positions"], self.extents, self.lsn_budget)
        if bounds is None:
            return None
        df = read_slice(self.spark, self.changelog_path, bounds, self._log_schema)
        if self.source_whitelist:
            df = filters.whitelist(df, self.source_whitelist)
        if self.source_blacklist:
            df = filters.blacklist(df, self.source_blacklist)
        if self.op_types is not None:
            df = filters.op_filter(df, self.op_types)
        batch_id = state["n_acks"] + 1
        self._outstanding = (batch_id, bounds)
        return batch_id, df

    def ack(self, batch_id: int) -> None:
        """Durably advance the cursor over the batch's lsn range.
        Strictly sequential: only the outstanding batch can be acked
        (canal rejects out-of-order acks)."""
        if self._outstanding is None or self._outstanding[0] != batch_id:
            have = None if self._outstanding is None else self._outstanding[0]
            raise ValueError(f"non-sequential ack: outstanding={have}, acking={batch_id}")
        _, bounds = self._outstanding
        self.registry.advance(self.client, {p: t for p, (_f, t) in bounds.items()})
        self._outstanding = None

    def rollback(self) -> None:
        """Discard the outstanding batch; the next get() redelivers the
        identical slice (bounds are a pure function of the cursor)."""
        self._outstanding = None

"""Iceberg-semantics snapshot table over Parquet (SURVEY.md §7.2 Plan A).

No `iceberg-spark-runtime` jar exists in this environment (verified,
SURVEY.md §0.4), so the table layer reimplements the *properties* the
north rule exercises, from scratch, over plain Parquet + JSON manifests:

- **snapshot isolation / time travel**: every commit epoch `e` writes an
  immutable `meta/snapshot-<e>.json` determining the exact data files of
  the table state after epoch `e`; readers resolve one snapshot and never
  see partial writes. On disk a snapshot stores only the TOUCHED buckets'
  file lists as a delta over its base (Iceberg manifest reuse — metadata
  per epoch is O(touched), not O(table)); `snapshot()` materializes
  chains transparently, bounded by MATERIALIZE_EVERY.
- **atomic, idempotent, EXCLUSIVE commits**: manifest published via
  temp-file + `os.link` (atomic on POSIX, fails on exists). Re-committing
  an epoch whose snapshot already exists is a no-op — the exactly-once
  heart (canal analog: ack/cursor protocol
  [C: meta/.../FileMixedMetaManager.java :: #updateCursor;
  server/.../CanalServerWithEmbedded.java :: #ack]) — and a concurrent
  writer racing for the same epoch number loses cleanly and replans
  (optimistic concurrency; see compact_files and the engine's
  lost-race replan).
- **per-file column bounds + file skipping**: commits record each data
  file's key/_seq min-max from the parquet footer; point/range reads and
  merge-on-read resolution open only files that can matter.
- **per-partition offset checkpoints + lineage IN the commit**: the
  snapshot carries `checkpoints{source_partition -> committed_lsn}` and
  per-epoch lineage metrics, so data + cursor commit atomically —
  canal's meta.dat cursor, made transactional with the data.
- **schema evolution via field ids**: add / rename / widen recorded as
  versioned schemas; data files carry the schema version they were
  written under and are normalized (select/alias/cast by field id) at
  read time — canal's tsdb "schema as of position"
  [C: parse/.../tsdb/DatabaseTableMeta.java] re-expressed as
  Iceberg-style schema versioning.
- **bucketed copy-on-write layout**: rows are hash-bucketed by key
  (`pmod(xxhash64(doc_id), n_buckets)`); an epoch rewrites ONLY the
  buckets containing changed keys and carries every other bucket's files
  forward by reference. At 100 TB this is the difference between
  rewriting the table per epoch and rewriting a bounded slice of it.

Crash model: data files for epoch e are written BEFORE the snapshot
rename; a crash in between leaves orphan data files that no snapshot
references (invisible; re-run of the epoch overwrites them
deterministically). Recovery never needs a pointer file: the current
snapshot is simply the max epoch present in meta/.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SNAP_RE = re.compile(r"snapshot-(\d{8})\.json$")

#: merge metadata stored in every data file: `_seq` = packed total event
#: order (lsn << 12 | source_partition) of the row's producing event;
#: `_tombstone` = deleted marker (kept so late lower-_seq updates cannot
#: resurrect the key). Hidden from default reads.
META_COLS = ("_seq", "_tombstone")

#: the input_hint data schema (BASELINE.json:15), with Iceberg-style field ids
DEFAULT_SCHEMA = [
    {"id": 1, "name": "doc_id", "type": "string"},
    {"id": 2, "name": "tokens", "type": "array<int>"},
    {"id": 3, "name": "n_tok", "type": "int"},
    {"id": 4, "name": "source", "type": "string"},
]


def _q(name: str) -> str:
    """`name` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def bucket_expr(key_col: str, n_buckets: int):
    """Engine-internal key→bucket routing (canal's pk-hash partition
    routing [C: connector/core/.../MQMessageUtils.java :: #messagePartition])."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def write_bucketed(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    n_tasks: int,
    max_rows: int | None = None,
    sort: bool = True,
) -> None:
    """The one bucket-write shape every replace-mode writer uses
    (Iceberg write sort-order analog): one shuffle on `bucket`, rows
    SORTED by key within each task, rolled to a new file every
    `max_rows` rows. Because a task's rows arrive key-sorted, the
    rolled files of a bucket are key-range-DISJOINT and internally
    sorted — manifest bounds (R12) are tight per FILE, and parquet
    row-group stats are tight within files, for every workload shape.
    (The previous compaction range-split — a decorrelated hash slice —
    balanced file sizes but left every file spanning the bucket's full
    key range, so update-shaped tables skipped nothing; see VERDICT
    r4 #2.) `max_rows` None = one file per bucket per task.

    `sort=False` skips the per-task key sort (meaningless without
    `max_rows`): the CoW/MoR HOT PATH sorts only when the table opted
    into the split layout. Measured cost scales with per-epoch write
    volume: ~5% of an 8M-event CoW replay at 100k-row epochs (paired
    control, 20.85 s vs 19.79 s best-of-6) but ~15-20% when every
    epoch rewrites a full 800k-row table, and the sort is memory-
    bandwidth-bound so it scales worse than the compute-bound default
    on a membw-saturated host (BENCH/BASELINE.md §r5 sorted-layout
    scaling) — a price only update-shaped tables that WANT tight
    bounds should pay, exactly like Iceberg's opt-in write sort
    order. Maintenance rewrites (compaction / tombstone GC /
    rebucket) always sort — off the hot path, and they are the layout
    repair mechanism."""
    out = df.repartition(n_tasks, "bucket")
    if sort:
        out = out.sortWithinPartitions("bucket", key_col)
    w = out.write.mode("overwrite")
    if max_rows:
        w = w.option("maxRecordsPerFile", int(max_rows))
    w.partitionBy("bucket").parquet(out_dir)


class SnapshotTable:
    #: materialize a full file map at least every K snapshots — bounds
    #: the delta-chain length a cold `snapshot()` resolves (Iceberg
    #: manifest reuse has the same shape: unchanged manifests are
    #: referenced, not rewritten, with periodic rewrites bounding reads)
    MATERIALIZE_EVERY = 16

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "meta")
        self.data_dir = os.path.join(root, "data")
        # materialized-snapshot memo: snapshots are immutable once
        # published (expire_snapshots, the one rewriter, invalidates),
        # so resolving a delta chain once per process is enough
        self._snap_cache: dict[int, dict] = {}

    # ------------------------------------------------------------ init
    @classmethod
    def create(
        cls,
        root: str,
        n_buckets: int = 32,
        schema: list[dict] | None = None,
        key_col: str = "doc_id",
        target_file_rows: int | None = None,
    ) -> "SnapshotTable":
        """`target_file_rows` (Iceberg write sort-order + target file
        size analog): when set, every replace-mode write (CoW merge,
        tombstone GC, rebucket) sorts each bucket's rows by key and
        rolls to a new file every N rows — the emitted files are
        key-range-DISJOINT and internally sorted, so manifest bounds
        stay tight for update-shaped workloads, not just append-shaped
        ones. None (default) = one file per bucket per epoch (sorted
        all the same — row-group pruning still benefits)."""
        t = cls(root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        if t.current_epoch() is None:
            schema = schema or DEFAULT_SCHEMA
            try:
                t._write_snapshot(
                    {
                        "epoch": 0,
                        "parent": None,
                        "n_buckets": n_buckets,
                        "key_col": key_col,
                        "target_file_rows": target_file_rows,
                        "schema_ver": 1,
                        "schemas": {"1": schema},
                        "files": {},
                        "checkpoints": {},
                        "lineage": [],
                    }
                )
            except FileExistsError:
                # a concurrent create published epoch 0 first — only
                # safe to proceed if it asked for the SAME layout;
                # silently adopting a different bucket count / key /
                # schema would corrupt every later routing decision
                existing = t.snapshot(0)
                if (
                    existing["n_buckets"] != n_buckets
                    or existing["key_col"] != key_col
                    or existing["schemas"]["1"] != schema
                ):
                    raise ValueError(
                        f"concurrent create of {root} with different "
                        f"parameters: existing n_buckets="
                        f"{existing['n_buckets']}/key={existing['key_col']}, "
                        f"requested n_buckets={n_buckets}/key={key_col}"
                    ) from None
        return t

    # ------------------------------------------------------- snapshots
    def _snap_path(self, epoch: int) -> str:
        return os.path.join(self.meta_dir, f"snapshot-{epoch:08d}.json")

    def _write_snapshot(self, snap: dict) -> None:
        """Publish a snapshot EXCLUSIVELY: `os.link` (unlike `os.rename`)
        fails with EEXIST if the destination already exists, so two
        writers racing to commit the same epoch cannot silently
        clobber each other — exactly one wins, the loser sees
        FileExistsError and replans (see compact_files). POSIX-atomic
        like the rename it replaces.

        Every published snapshot is wall-clock stamped
        (`committed_at_us`, set here so EVERY publish path — create,
        commit, rollback — gets one): the basis for timestamp time
        travel (`epoch_at`, Iceberg's `TIMESTAMP AS OF`). The stamp is
        set on the caller's dict too, so in-process snapshot caches
        agree with disk."""
        snap.setdefault("committed_at_us", time.time_ns() // 1000)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._snap_path(snap["epoch"]))
        finally:
            os.unlink(tmp)

    def current_epoch(self) -> int | None:
        if not os.path.isdir(self.meta_dir):
            return None
        epochs = [
            int(m.group(1)) for fn in os.listdir(self.meta_dir) if (m := _SNAP_RE.match(fn))
        ]
        return max(epochs) if epochs else None

    def snapshot(self, epoch: int | None = None) -> dict:
        """The MATERIALIZED snapshot for an epoch: delta-form manifests
        (`files_delta`/`files_removed` over `files_base`, see commit)
        are resolved against their base chain — bounded by
        MATERIALIZE_EVERY — and memoized, so every caller sees a plain
        `files` map regardless of the on-disk form. Returns a private
        copy (callers mutate freely)."""
        import copy

        epoch = self.current_epoch() if epoch is None else epoch
        if epoch is None:
            raise FileNotFoundError(f"no snapshots under {self.meta_dir}")
        cached = self._snap_cache.get(epoch)
        if cached is None:
            with open(self._snap_path(epoch)) as f:
                raw = json.load(f)
            if "files" not in raw:
                base = self.snapshot(raw["files_base"])
                files = base["files"]
                for b in raw.get("files_removed", []):
                    files.pop(str(b), None)
                files.update(raw["files_delta"])
                raw["files"] = files
                for k in ("files_delta", "files_removed", "files_base"):
                    raw.pop(k, None)
            cached = self._snap_cache[epoch] = raw
        return copy.deepcopy(cached)

    # ------------------------------------------------------------ read
    def read(
        self,
        spark: SparkSession,
        epoch: int | None = None,
        buckets: list[int] | None = None,
        with_bucket: bool = True,
        internal: bool = False,
        key_range: tuple | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Table state as of a snapshot (time travel via `epoch`;
        `ref="main"` resolves the epoch through a branch ref — the
        published-state read under write-audit-publish, see `set_ref`),
        optionally pruned to a bucket subset (file-level pruning — the
        files of other buckets are never opened).

        `key_range=(lo, hi)` (inclusive; either side None = unbounded)
        returns only rows with the key in range AND skips every data
        file whose manifest bounds (commit-time footer min/max, the
        Iceberg `lower_bounds`/`upper_bounds` analog) cannot overlap
        the range — a point/range lookup opens O(matching files), not
        O(bucket). Files committed without bounds are conservatively
        read and filtered row-wise (the residual predicate reaches the
        parquet scan — `PushedFilters: [GreaterThanOrEqual(key,lo),
        LessThanOrEqual(key,hi)]`, verified, including through the
        resolution Window — so kept files still skip row groups via
        their own statistics). A POINT lookup (lo == hi) additionally
        derives the key's bucket from the bucket function itself and
        prunes to it before any bounds check.

        Default reads hide merge metadata and filter tombstones;
        internal=True (the MERGE path) exposes `_seq`/`_tombstone` and
        keeps tombstone rows.

        Planning reads the manifest, never the files: each group of
        files written under one schema version is read with that
        version's schema as recorded in the snapshot (plus `_seq`,
        `_tombstone` and the `bucket` partition column, see
        _file_ddl), so building the frame starts no footer-inference
        Spark job; only a point lookup's bucket derivation (see
        `key_range` above) runs one.

        Merge-on-read resolution: file entries written by append_epoch
        carry `frag: true` in the manifest; a bucket containing any
        fragment entry holds deltas on top of its base, and only files
        that can actually CONFLICT pass through the `_seq` resolution —
        per key, keep the row with the greatest `_seq` BEFORE any
        tombstone filtering (a newer tombstone must suppress an older
        live row, and a late fragment must never resurrect one).
        Conflict detection is overlap components over the manifest key
        bounds (_resolution_set): a fragment wholly above/below every
        other file's key range — and every fragment-free bucket: the
        copy-on-write steady state and bin-packed compact_files bases
        (disjoint key slices, no duplicates) — bypasses the window
        entirely. The resolution shuffle touches exactly the data that
        can conflict, never the whole table."""
        if ref is not None:
            if epoch is not None:
                raise ValueError("read: pass epoch or ref, not both")
            epoch = self.ref_epoch(ref)
        snap = self.snapshot(epoch)
        current = snap["schemas"][str(snap["schema_ver"])]
        lo, hi = key_range if key_range is not None else (None, None)
        if lo is not None and lo == hi and buckets is None:
            # POINT lookup: the key determines its bucket — prune to it
            # before any file-bounds check. Hash bucketing scatters
            # every key range across all buckets, so bounds alone
            # cannot exclude other buckets' files; the bucket function
            # can (1/n_buckets of the table, before bounds shrink it
            # further). One row-local Spark job evaluates the same
            # xxhash64 expression the writers use — never a table scan.
            key_type = next(
                f["type"] for f in current if f["name"] == snap["key_col"]
            )
            buckets = [
                spark.range(1)
                .select(
                    F.lit(lo).cast(key_type).alias(snap["key_col"])
                )
                .select(bucket_expr(snap["key_col"], snap["n_buckets"]))
                .first()[0]
            ]
        plain_groups: dict[int, list[str]] = {}
        frag_groups: dict[int, list[str]] = {}
        for b, files in snap["files"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            live = (
                [fe for fe in files if self._entry_in_range(fe, lo, hi)]
                if key_range is not None
                else files
            )
            if any(fe.get("frag") for fe in live):
                need = self._resolution_set(live)
            else:
                need = [False] * len(live)
            for fentry, resolve in zip(live, need):
                tgt = frag_groups if resolve else plain_groups
                tgt.setdefault(fentry["schema_ver"], []).append(
                    os.path.join(self.root, fentry["path"])
                )

        def _union(groups: dict[int, list[str]], wb: bool, internal_: bool):
            # the schema comes from the manifest, never from the files:
            # an unschema'd parquet read starts a footer-inference Spark
            # job per call, the dominant fixed cost of a short read
            parts = [
                self._normalize(
                    spark.read.schema(self._file_ddl(snap, ver))
                    .option("basePath", self.data_dir)
                    .parquet(*paths),
                    snap,
                    ver,
                    wb,
                    internal_,
                )
                for ver, paths in groups.items()
            ]
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        plain = _union(plain_groups, with_bucket, internal)
        frag = _union(frag_groups, with_bucket, True)
        if frag is not None:
            from pyspark.sql import Window

            # one shuffle on the key, over the FRAGMENTED buckets only
            # — the MoR read tax; per-key group size is the fragment
            # count (bounded by epochs since last compaction), never
            # the event count, so there is no skew.
            # (The LWW-style max-agg + winner-join resolution was
            # measured and REJECTED here: 0.59-0.83 s vs 0.40-0.47 s
            # for the window at 8M-event/299-fragment scale — unlike
            # the epoch hot path, per-key groups are tiny, so the
            # window's sort is cheap and the extra aggregation pass +
            # join probe is pure overhead.)
            w = Window.partitionBy(snap["key_col"]).orderBy(F.desc("_seq"))
            frag = (
                frag.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            if not internal:
                frag = frag.filter(~F.col("_tombstone")).drop("_seq", "_tombstone")
        if plain is None and frag is None:
            out = self._empty(spark, current, with_bucket, internal)
        elif plain is None:
            out = frag
        elif frag is None:
            out = plain
        else:
            out = plain.unionByName(frag)
        if key_range is not None:
            # residual row filter: skipped files never reach here; files
            # kept conservatively (wider range / no bounds) are trimmed
            kc = F.col(snap["key_col"])
            if lo is not None:
                out = out.filter(kc >= F.lit(lo))
            if hi is not None:
                out = out.filter(kc <= F.lit(hi))
        return out

    @classmethod
    def _resolution_set(cls, entries: list[dict]) -> list[bool]:
        """Which of a fragment-bearing bucket's file entries need `_seq`
        resolution: union-find over the conflict graph, where an edge
        joins two files iff at least one is a delta FRAGMENT and their
        manifest key ranges can overlap (absent bounds = conservative
        overlap). Base files never conflict with each other — every
        replace-mode commit (CoW merge, compaction, rebucket) writes
        key-disjoint files. A file in a component of size 1 cannot
        share a key with any other file in the bucket (fragments are
        LWW-collapsed internally), so it scans plain: the
        merge-on-read read tax shrinks to the files that can actually
        conflict, e.g. a key-localized fragment over a range-ordered
        base leaves the non-overlapping base slices window-free.

        Complexity: O(n log n) interval sweep per bucket, not O(n^2)
        pairwise — a long-uncompacted bucket (thousands of fragments
        when auto-compaction is off) must not make read PLANNING
        quadratic driver CPU. Fragments sort by key_min and merge into
        disjoint contiguous clusters; each base then binary-searches
        the cluster list (a base overlaps a cluster hull iff it
        overlaps some member, because merged hulls are gap-free)."""
        from bisect import bisect_left, bisect_right

        n = len(entries)
        parent = list(range(n))

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        def union(i: int, j: int) -> None:
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[rj] = ri

        frag_idx = [i for i, e in enumerate(entries) if e.get("frag")]
        if not frag_idx:
            return [False] * n
        if any("key_min" not in entries[i] for i in frag_idx):
            # a boundless fragment conservatively overlaps everything:
            # the whole bucket is one conflict component
            for i in range(1, n):
                union(0, i)
        else:
            # sweep: merge overlapping fragments into disjoint clusters
            frag_idx.sort(key=lambda i: entries[i]["key_min"])
            clusters: list[list] = []  # [start, hull_end, root]
            for i in frag_idx:
                lo, hi = entries[i]["key_min"], entries[i]["key_max"]
                if clusters and lo <= clusters[-1][1]:
                    union(clusters[-1][2], i)
                    if hi > clusters[-1][1]:
                        clusters[-1][1] = hi
                else:
                    clusters.append([lo, hi, i])
            starts = [c[0] for c in clusters]
            ends = [c[1] for c in clusters]
            for i, e in enumerate(entries):
                if e.get("frag"):
                    continue
                if "key_min" not in e:
                    for c in clusters:  # boundless base joins every cluster
                        union(c[2], i)
                    continue
                # clusters overlapping [e.key_min, e.key_max]: ends and
                # starts are both sorted (clusters are disjoint)
                first = bisect_left(ends, e["key_min"])
                last = bisect_right(starts, e["key_max"])
                for c in clusters[first:last]:
                    union(c[2], i)
        sizes: dict[int, int] = {}
        for i in range(n):
            r = find(i)
            sizes[r] = sizes.get(r, 0) + 1
        return [sizes[find(i)] > 1 for i in range(n)]

    @staticmethod
    def _file_ddl(snap: dict, file_ver: int) -> str:
        """Read schema (DDL) of the data files written under schema
        version `file_ver`: that version's fields plus the merge
        metadata and the `bucket` partition column. Every writer
        (write_bucketed, via align_to_schema or a normalized read)
        stores exactly these column types, so the reader needs no
        footer inference. The `epoch=` path segment is still
        discovered from the paths; _normalize projects it away."""
        return ", ".join(
            [f"{_q(f['name'])} {f['type']}" for f in snap["schemas"][str(file_ver)]]
            + ["`_seq` bigint", "`_tombstone` boolean", "`bucket` int"]
        )

    def _normalize(
        self, df: DataFrame, snap: dict, file_ver: int, with_bucket: bool, internal: bool
    ) -> DataFrame:
        """Map a file's physical schema (version it was written under) to
        the table's current schema by FIELD ID: rename + widen are just
        alias/cast; added columns materialize as typed NULLs.

        The projection is built as SQL expression strings: one
        `selectExpr` call instead of several Py4J round trips per
        Column (`col`, `cast`, `alias`), which made up about half of
        a short read's planning time and most of its jitter."""
        current = snap["schemas"][str(snap["schema_ver"])]
        old = {f["id"]: f for f in snap["schemas"][str(file_ver)]}
        cols = []
        for fld in current:
            o = old.get(fld["id"])
            src = "NULL" if o is None else _q(o["name"])
            cols.append(f"CAST({src} AS {fld['type']}) AS {_q(fld['name'])}")
        if internal:
            cols += ["CAST(`_seq` AS bigint) AS `_seq`",
                     "CAST(`_tombstone` AS boolean) AS `_tombstone`"]
        else:
            df = df.filter("NOT `_tombstone`")
        if with_bucket:
            cols.append("CAST(`bucket` AS int) AS `bucket`")
        return df.selectExpr(*cols)

    def _empty(
        self, spark: SparkSession, schema_fields: list[dict], with_bucket: bool, internal: bool
    ) -> DataFrame:
        ddl = ", ".join(f"{f['name']} {f['type']}" for f in schema_fields)
        if internal:
            ddl += ", _seq long, _tombstone boolean"
        if with_bucket:
            ddl += ", bucket int"
        return spark.createDataFrame([], ddl)

    # ----------------------------------------------- per-file statistics
    #: string min/max longer than this may be writer-truncated (prefix
    #: only) and cannot be trusted as an exact bound — skip recording
    _STAT_MAX_STR = 64

    def _file_bounds(self, path: str, key_col: str) -> dict:
        """min/max of the key column and `_seq` from the parquet FOOTER
        (pure driver-side metadata — no data scan), recorded into the
        manifest file entry at commit time. This is the Iceberg
        manifest `lower_bounds`/`upper_bounds` analog (SURVEY §7.2):
        at 10^10 rows it is what lets a point/range read open only the
        files whose key range overlaps the predicate, and what lets
        the merge-on-read resolution skip fragments disjoint from the
        base slice being read. Missing/untrusted stats record nothing
        — readers treat absent bounds as "overlaps everything"."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return {}
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return {}
        # row count rides along free (same footer): driver-side
        # planning (maintenance heuristics, metadata inspection) can
        # size work without re-opening a single footer
        out: dict = {"rows": int(md.num_rows)}
        for col, lo_k, hi_k in ((key_col, "key_min", "key_max"), ("_seq", "seq_min", "seq_max")):
            lo = hi = None
            ok = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                st = None
                for ci in range(grp.num_columns):
                    c = grp.column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        break
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        ok = False
                        break
                if isinstance(mn, str) and (
                    len(mn) >= self._STAT_MAX_STR or len(mx) >= self._STAT_MAX_STR
                ):
                    ok = False  # possibly truncated bound — not exact
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if ok and lo is not None:
                out[lo_k], out[hi_k] = lo, hi
        return out

    @staticmethod
    def _entry_in_range(fe: dict, lo, hi) -> bool:
        """Can file entry `fe` contain a key in [lo, hi]? Absent bounds
        => conservatively yes. A query bound whose type is unorderable
        against the stored footer bounds (e.g. a str key against an
        int key column) also answers yes — pruning is an optimization
        and must never raise; the Spark-side residual filter (which
        the caller builds from the properly cast column) decides."""
        if "key_min" not in fe:
            return True
        try:
            if lo is not None and fe["key_max"] < lo:
                return False
            if hi is not None and fe["key_min"] > hi:
                return False
        except TypeError:
            return True
        return True

    @staticmethod
    def _entries_overlap(a: dict, b: dict) -> bool:
        """Can two file entries share a key? Absent bounds => yes."""
        if "key_min" not in a or "key_min" not in b:
            return True
        return not (a["key_max"] < b["key_min"] or b["key_max"] < a["key_min"])

    # ---------------------------------------------------------- commit
    def commit(
        self,
        epoch: int,
        rewritten: dict[int, list[str]],
        checkpoints: dict[int, int],
        lineage: list[dict],
        schema_update: dict | None = None,
        pending: list[str] | None = None,
        meta: dict | None = None,
        n_buckets_update: int | None = None,
        replace_all: bool = False,
        append: bool = False,
        changes: str | None = None,
    ) -> bool:
        """Atomically publish epoch `e`: carry forward untouched buckets,
        replace rewritten ones, merge checkpoints, append lineage.

        `replace_all` starts from an empty file map instead of the
        parent's (full-layout rewrites — see rebucket);
        `n_buckets_update` changes the bucket count from this snapshot
        on (only meaningful together with replace_all).

        `append` EXTENDS the rewritten buckets' file lists instead of
        replacing them (merge-on-read delta fragments — see
        merge.append_epoch); reads resolve multi-fragment buckets by
        `_seq` and compact_files folds them back into a single base.

        Returns False (no-op) if the snapshot already exists — idempotent
        re-apply. Enforces strictly sequential epochs (canal's sequential
        ack [C: meta/.../MemoryClientIdentityBatch :: #removeBatch])."""
        if os.path.exists(self._snap_path(epoch)):
            return False
        cur = self.current_epoch()
        if cur != epoch - 1:
            raise ValueError(f"non-sequential commit: current={cur}, committing={epoch}")
        snap = self.snapshot(cur)
        files = {} if replace_all else {b: list(v) for b, v in snap["files"].items()}
        new_ver = snap["schema_ver"]
        schemas = dict(snap["schemas"])
        if schema_update:
            new_ver = schema_update["ver"]
            schemas[str(new_ver)] = schema_update["fields"]
        # Iceberg-style per-file column bounds (footer metadata, no data
        # scan) — read-side file skipping. Footers are fetched on a small
        # thread pool: this sits in the driver-serial commit window, and
        # the serial fraction is what bounds scaling efficiency.
        from concurrent.futures import ThreadPoolExecutor

        all_paths = [p for paths in rewritten.values() for p in paths]
        if all_paths:
            with ThreadPoolExecutor(max_workers=min(8, len(all_paths))) as pool:
                bounds = dict(
                    zip(
                        all_paths,
                        pool.map(
                            lambda p: self._file_bounds(p, snap["key_col"]), all_paths
                        ),
                    )
                )
        else:
            bounds = {}
        for b, paths in rewritten.items():
            entries = [
                {
                    "path": os.path.relpath(p, self.root),
                    "schema_ver": new_ver,
                    # fragment marker: read() resolves ONLY buckets
                    # containing frag entries; replace-mode commits
                    # (CoW merge, compaction, rebucket) produce
                    # resolution-free bases even when bin-packing
                    # splits a bucket into several disjoint files
                    **({"frag": True} if append else {}),
                    **bounds[p],
                }
                for p in paths
            ]
            files[str(b)] = (files.get(str(b), []) + entries) if append else entries
            if not files[str(b)]:
                del files[str(b)]
        ckpts = dict(snap["checkpoints"])
        for p, lsn in checkpoints.items():
            ckpts[str(p)] = max(int(lsn), int(ckpts.get(str(p), -1)))
        new_snap = {
            "epoch": epoch,
            "parent": cur,
            "n_buckets": int(n_buckets_update or snap["n_buckets"]),
            "key_col": snap["key_col"],
            "target_file_rows": snap.get("target_file_rows"),
            "schema_ver": new_ver,
            "schemas": schemas,
            "files": files,
            "checkpoints": ckpts,
            "lineage": lineage,
            # held-back (uncommitted-transaction) events, replaced wholesale
            # each epoch — the durable analog of canal's transaction buffer
            "pending": (
                [os.path.relpath(p, self.root) for p in pending]
                if pending is not None
                else snap.get("pending", [])
            ),
            "meta": {**snap.get("meta", {}), **(meta or {})},
        }
        # write-time CDF capture reference (Delta change-file analog):
        # a RELATIVE dir of this epoch's net change set, or "" for a
        # provably-empty logical change (maintenance rewrites). NOT
        # carried forward — each snapshot speaks only for its own
        # epoch; read_changes falls back to the snapshot diff whenever
        # any epoch in the range is unmarked.
        if changes is not None:
            new_snap["changes"] = changes
        # Metadata written per epoch must be O(touched buckets), not
        # O(table): at 10^5 buckets a materialized file map is tens of
        # MB and writing one per epoch makes METADATA the write
        # amplification. Unchanged buckets' lists are carried forward
        # BY REFERENCE on disk (`files_delta` over `files_base`, the
        # Iceberg manifest-reuse analog); a full map is still
        # materialized every MATERIALIZE_EVERY snapshots — or whenever
        # the delta stops being small — to bound the chain a cold
        # reader resolves. snapshot() materializes transparently, so
        # no reader sees the delta form.
        chain = int(snap.get("files_chain", 0))
        to_disk = dict(new_snap)
        delta_map = {b: v for b, v in files.items() if snap["files"].get(b) != v}
        removed = [b for b in snap["files"] if b not in files]
        if (
            not replace_all
            and n_buckets_update is None
            and chain + 1 < self.MATERIALIZE_EVERY
            and (len(delta_map) + len(removed)) * 2 < max(1, len(files))
        ):
            del to_disk["files"]
            to_disk["files_delta"] = delta_map
            to_disk["files_removed"] = removed
            to_disk["files_base"] = cur
            new_snap["files_chain"] = to_disk["files_chain"] = chain + 1
        else:
            new_snap["files_chain"] = to_disk["files_chain"] = 0
        try:
            self._write_snapshot(to_disk)
        except FileExistsError:
            # lost a commit race for this epoch number after the
            # fast-path existence check — same outcome as the fast
            # path: not committed by us
            return False
        # to_disk is a shallow copy: carry the publish stamp into the
        # cached materialized form so cache and disk agree
        new_snap["committed_at_us"] = to_disk["committed_at_us"]
        self._snap_cache[epoch] = new_snap
        return True

    def read_pending(self, spark: SparkSession) -> DataFrame | None:
        """Events held back by the tx barrier in the last committed epoch
        (streaming mode), or None."""
        paths = [os.path.join(self.root, p) for p in self.snapshot().get("pending", [])]
        return spark.read.parquet(*paths) if paths else None

    def read_changes(
        self,
        spark: SparkSession,
        from_epoch: int,
        to_epoch: int | None = None,
        with_before: bool = False,
        source: str = "auto",
    ) -> DataFrame:
        """Net row-level changes between two snapshots, as a changelog
        (Delta CDF / Iceberg incremental-read analog): one row per key
        whose VISIBLE state differs between `from_epoch` and
        `to_epoch`, with `op` INSERT / UPDATE / DELETE and the new
        image (NULL payload for DELETE). This is the table-as-a-source
        feed: a downstream consumer (e.g. an incremental training-data
        refresh) holding state as of `from_epoch` applies exactly these
        rows to reach `to_epoch` — no full-table rescan, no replaying
        the raw changelog.

        Change detection is by `_seq` (the stored event version), so
        file-level rewrites that do not change logical rows —
        compaction, rebucket, schema-only epochs — emit NOTHING.
        Net semantics: intermediate flaps between the two epochs
        (insert→delete, repeated updates) collapse to the net effect;
        a key that is tombstoned in both snapshots is no change.

        Scale shape: planned from the two manifests alone (schemas
        included — no footer inference, so building the frame starts
        no Spark job). Only the BUCKETS WHOSE MANIFEST FILE LISTS
        DIFFER between the snapshots are read (a bucket's visible
        state is a pure function of its file list, so an identical
        list means zero changes: those buckets are never opened). When
        both snapshots have the same bucket count, a key lives in the
        same bucket at both ends, and the differing buckets split into
        three classes:
        - held only by the to-snapshot: a join-free scan of its
          visible rows, emitted as INSERT (`before_*` NULL) — e.g.
          every bucket of `read_changes(0, e)`, a consumer
          bootstrapping from the empty table;
        - held only by the from-snapshot: its visible rows as DELETE;
        - held by both: one full-outer join on the key column, with
          payload columns riding only on the new side; no join runs
          when there is no such bucket.
        A rebucket inside the range (bucket counts differ) moves keys
        between buckets, so then every differing bucket goes through
        the one join. Cost is O(touched buckets), the floor for
        snapshot differencing without a change index; an epoch that
        touched 1% of the buckets diffs 1% of the table.

        `to_epoch` is resolved ONCE (both sides and the schema come
        from the same snapshot), so a concurrent commit cannot mix
        views; requires from_epoch <= to_epoch.

        `with_before=True` additionally emits `before_<col>` columns —
        the OLD visible image (canal FlatMessage's `old` field / Delta
        CDF's update_preimage analog): populated for UPDATE and DELETE,
        NULL for INSERT. This is what lets a downstream consumer
        RETRACT the superseded contribution without holding its own
        per-key state (e.g. incremental aggregate maintenance,
        operators/mv.py). Old-side payload columns ride the SAME
        full-outer join (or the from-only scan) — no extra shuffle,
        just wider old-side rows over the already-pruned differing
        buckets. Before-images are projected through the `to_epoch`
        schema on BOTH sides (_normalize maps by field id), so columns
        added between the two epochs read as NULL before-values.

        `source`: "auto" (default) serves the feed from WRITE-TIME
        CAPTURE files (Delta's change-data-files analog — see
        CdcEngine(capture_changes=True)) whenever every epoch in the
        range carries a capture record, collapsing them to net changes
        with ONE hash aggregate over O(sum of deltas) rows — no table
        scan at all; otherwise it falls back to the snapshot diff
        above. "diff" forces the snapshot diff; "captured" forces the
        capture path and raises when unavailable. The two paths agree
        row-for-row (parity-pinned, tests/test_cdf_capture.py) with
        one documented nuance: for a DELETE whose tombstone was later
        collected by compact_tombstones INSIDE the range, `_seq` is
        the deletion's sequence under capture (the tombstone is gone
        from the diff's to-side, which then reports the superseded
        row's `_seq`).
        """
        snap_b = self.snapshot(to_epoch)
        snap_a = self.snapshot(from_epoch)
        if snap_a["epoch"] > snap_b["epoch"]:
            raise ValueError(
                f"read_changes: from_epoch={snap_a['epoch']} > "
                f"to_epoch={snap_b['epoch']}"
            )
        if source != "diff":
            rels = self._captured_range(snap_a["epoch"], snap_b["epoch"])
            if rels is not None:
                return self._read_changes_captured(spark, rels, snap_b, with_before)
            if source == "captured":
                raise ValueError(
                    "read_changes(source='captured'): the range "
                    f"({snap_a['epoch']}, {snap_b['epoch']}] contains an "
                    "epoch with no capture record (engine without "
                    "capture_changes, a DDL, or a rollback) — use "
                    "source='auto' to fall back to the snapshot diff"
                )
        key = snap_b["key_col"]
        cols = [
            f["name"]
            for f in snap_b["schemas"][str(snap_b["schema_ver"])]
            if f["name"] != key
        ]
        diff_buckets = sorted(
            int(bk)
            for bk in set(snap_a["files"]) | set(snap_b["files"])
            if snap_a["files"].get(bk) != snap_b["files"].get(bk)
        )
        # before-images: the old side carries its payload too, renamed
        # so the join output stays unambiguous. A column added between
        # the two epochs has no old-side value — typed NULL (field-id
        # mapping would do the same had the old FILES been read under
        # the new schema).
        a_fields = {
            f["name"] for f in snap_a["schemas"][str(snap_a["schema_ver"])]
        }
        b_types = {
            f["name"]: f["type"]
            for f in snap_b["schemas"][str(snap_b["schema_ver"])]
        }
        before = cols if with_before else []

        def _null(c: str):
            return F.lit(None).cast(b_types[c])

        def _old(c: str):
            return F.col(c).cast(b_types[c]) if c in a_fields else _null(c)

        # bucket classes (see Scale shape): a one-sided bucket can pair
        # with nothing on the other side only if no rebucket inside the
        # range moved keys between buckets
        if snap_a["n_buckets"] == snap_b["n_buckets"]:
            to_only = [bk for bk in diff_buckets if str(bk) not in snap_a["files"]]
            from_only = [bk for bk in diff_buckets if str(bk) not in snap_b["files"]]
        else:
            to_only, from_only = [], []
        one_sided = set(to_only) | set(from_only)
        shared = [bk for bk in diff_buckets if bk not in one_sided]

        def _visible(snap: dict, buckets: list[int]) -> DataFrame:
            return self.read(
                spark, epoch=snap["epoch"], buckets=buckets,
                with_bucket=False, internal=True,
            ).filter(F.col("_seq").isNotNull() & ~F.col("_tombstone"))

        parts = []
        if to_only:
            parts.append(
                _visible(snap_b, to_only).select(
                    key,
                    F.lit("INSERT").alias("op"),
                    *cols,
                    *[_null(c).alias(f"before_{c}") for c in before],
                    "_seq",
                )
            )
        if from_only:
            parts.append(
                _visible(snap_a, from_only).select(
                    key,
                    F.lit("DELETE").alias("op"),
                    *[_null(c).alias(c) for c in cols],
                    *[_old(c).alias(f"before_{c}") for c in before],
                    "_seq",
                )
            )
        if shared or not parts:
            parts.append(
                self._diff_join(
                    spark, snap_a, snap_b, shared, key, cols,
                    [_old(c).alias(f"_before_{c}") for c in before],
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _diff_join(
        self,
        spark: SparkSession,
        snap_a: dict,
        snap_b: dict,
        buckets: list[int],
        key: str,
        cols: list[str],
        before_cols: list,
    ) -> DataFrame:
        """The snapshot diff of `buckets` as one full-outer join on the
        key, op from per-side visibility and `_seq` — read_changes'
        path for the buckets both snapshots hold, and for every
        differing bucket across a rebucket."""
        a = self.read(
            spark, epoch=snap_a["epoch"], buckets=buckets,
            with_bucket=False, internal=True,
        ).select(
            key,
            *before_cols,
            F.col("_seq").alias("_seq_a"),
            F.col("_tombstone").alias("_tomb_a"),
        )
        b = self.read(
            spark, epoch=snap_b["epoch"], buckets=buckets,
            with_bucket=False, internal=True,
        ).select(
            key, *cols, F.col("_seq").alias("_seq_b"), F.col("_tombstone").alias("_tomb_b")
        )
        j = b.join(a, key, "full_outer")
        vis_a = F.col("_seq_a").isNotNull() & ~F.coalesce(F.col("_tomb_a"), F.lit(True))
        vis_b = F.col("_seq_b").isNotNull() & ~F.coalesce(F.col("_tomb_b"), F.lit(True))
        op = (
            F.when(vis_b & ~vis_a, F.lit("INSERT"))
            .when(vis_b & vis_a & (F.col("_seq_b") != F.col("_seq_a")), F.lit("UPDATE"))
            .when(~vis_b & vis_a, F.lit("DELETE"))
        )
        return (
            j.withColumn("op", op)
            .filter(F.col("op").isNotNull())
            .select(
                key,
                "op",
                *[
                    F.when(F.col("op") != "DELETE", F.col(c)).alias(c)
                    for c in cols
                ],
                *[
                    F.when(F.col("op") != "INSERT", F.col(f"_before_{c}")).alias(
                        f"before_{c}"
                    )
                    for c in (cols if before_cols else [])
                ],
                F.coalesce(F.col("_seq_b"), F.col("_seq_a")).alias("_seq"),
            )
        )

    def _captured_range(self, from_epoch: int, to_epoch: int) -> list[str] | None:
        """Relative capture dirs for every epoch in (from, to], or None
        when ANY epoch is unmarked (engine without capture, DDL,
        rollback, pre-capture history) or its manifest is already
        expired — the caller then falls back to the snapshot diff,
        which only needs the two endpoint snapshots. Empty markers
        (maintenance rewrites: provably no logical change) contribute
        nothing."""
        rels: list[str] = []
        for e in range(from_epoch + 1, to_epoch + 1):
            try:
                s = self.snapshot(e)
            except FileNotFoundError:
                return None
            c = s.get("changes")
            if c is None:
                return None
            if c:
                rels.append(c)
        return rels

    def read_changes_raw(
        self,
        spark: SparkSession,
        from_epoch: int,
        to_epoch: int | None = None,
    ) -> DataFrame | None:
        """RAW write-time capture rows for the range (from, to] — one
        row per (epoch, key), ops INSERT / UPDATE / DELETE / TOUCH,
        with before-images — or None when any epoch in the range lacks
        a capture record (callers fall back to `read_changes`).

        Unlike `read_changes`, rows are NOT collapsed to net changes
        across epochs, which removes the one shuffle the collapse
        pays: a per-key max_by/min_by over FULL-WIDTH payload structs
        (token arrays ride through the aggregation buffers). A
        consumer running an ADDITIVE algebra — the incremental
        aggregate's +after/−before (operators/mv.py) — composes
        per-epoch deltas to the same result as the net feed, because
        per-epoch captures are already net per key and the algebra
        telescopes: (+A1) then (−A1 +A2) ≡ (+A2). TOUCH rows (capture-
        internal tombstone-`_seq` advances) carry NULL payload AND
        NULL before-image, so they contribute nothing to either side.

        Consumers that need per-key net rows (outbox readers, row
        replication) must keep using `read_changes`."""
        snap_b = self.snapshot(to_epoch)
        snap_a = self.snapshot(from_epoch)
        if snap_a["epoch"] > snap_b["epoch"]:
            raise ValueError(
                f"read_changes_raw: from_epoch={snap_a['epoch']} > "
                f"to_epoch={snap_b['epoch']}"
            )
        rels = self._captured_range(snap_a["epoch"], snap_b["epoch"])
        if rels is None:
            return None
        key = snap_b["key_col"]
        fields = snap_b["schemas"][str(snap_b["schema_ver"])]
        types = {f["name"]: f["type"] for f in fields}
        cols = [f["name"] for f in fields if f["name"] != key]
        if not rels:
            ddl = (
                f"`{key}` {types[key]}, `op` string, "
                + ", ".join(f"`{c}` {types[c]}" for c in cols)
                + "".join(f", `before_{c}` {types[c]}" for c in cols)
                + ", `_seq` long"
            )
            return spark.createDataFrame([], ddl)
        df = spark.read.parquet(*[os.path.join(self.root, r) for r in rels])
        for c in cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
            if f"before_{c}" not in df.columns:
                df = df.withColumn(f"before_{c}", F.lit(None).cast(types[c]))
        return df.select(
            key, "op", *cols, *[f"before_{c}" for c in cols], F.col("_seq")
        )

    def _read_changes_captured(
        self, spark: SparkSession, rels: list[str], snap_b: dict, with_before: bool
    ) -> DataFrame:
        """Net change feed from write-time capture files: union the
        per-epoch captures and collapse per key with one hash aggregate
        (`max_by` = final image, `min_by` = the range's first
        before-image), composing ops exactly like the snapshot diff.
        The FIRST op encodes visibility at range start (INSERT/TOUCH =
        the key was invisible), the LAST op visibility at range end
        (DELETE/TOUCH = invisible) — TOUCH being the capture-internal
        tombstone-`_seq`-advance record (see capture_epoch_changes),
        never emitted:

            start invisible + end invisible -> no net row
            start invisible + end visible   -> INSERT (after = last)
            start visible   + end invisible -> DELETE (before = first's)
            start visible   + end visible   -> UPDATE (before = first's)

        O(sum of deltas) rows, one shuffle on the key — independent of
        table size, the property the capture files exist for."""
        key = snap_b["key_col"]
        fields = snap_b["schemas"][str(snap_b["schema_ver"])]
        types = {f["name"]: f["type"] for f in fields}
        cols = [f["name"] for f in fields if f["name"] != key]
        if not rels:
            ddl = (
                f"`{key}` {types[key]}, `op` string, "
                + ", ".join(f"`{c}` {types[c]}" for c in cols)
                + (
                    "".join(f", `before_{c}` {types[c]}" for c in cols)
                    if with_before
                    else ""
                )
                + ", `_seq` long"
            )
            return spark.createDataFrame([], ddl)
        df = spark.read.parquet(*[os.path.join(self.root, r) for r in rels])
        # pad columns a capture predates (added post-capture by DDL —
        # can only happen when the DDL itself was range-external, since
        # DDL epochs are unmarked): typed NULL, same as the diff path
        # reading an old file under the new schema
        for c in cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
            if f"before_{c}" not in df.columns:
                df = df.withColumn(f"before_{c}", F.lit(None).cast(types[c]))
        g = df.groupBy(key).agg(
            F.max_by(
                F.struct(F.col("op").alias("op"), *cols, F.col("_seq").alias("_seq")),
                "_seq",
            ).alias("_last"),
            F.min_by(
                F.struct(
                    F.col("op").alias("op"),
                    *[F.col(f"before_{c}").alias(f"b_{c}") for c in cols],
                ),
                "_seq",
            ).alias("_first"),
        )
        start_vis = ~F.col("_first.op").isin("INSERT", "TOUCH")
        end_vis = ~F.col("_last.op").isin("DELETE", "TOUCH")
        net = (
            F.when(~start_vis & end_vis, F.lit("INSERT"))
            .when(start_vis & ~end_vis, F.lit("DELETE"))
            .when(start_vis & end_vis, F.lit("UPDATE"))
        )
        return (
            g.withColumn("op", net)
            .filter(F.col("op").isNotNull())
            .select(
                key,
                "op",
                *[
                    F.when(F.col("op") != "DELETE", F.col(f"_last.{c}")).alias(c)
                    for c in cols
                ],
                *[
                    F.when(F.col("op") != "INSERT", F.col(f"_first.b_{c}")).alias(
                        f"before_{c}"
                    )
                    for c in (cols if with_before else [])
                ],
                F.col("_last._seq").alias("_seq"),
            )
        )

    # ------------------------------------------------------------- tags
    _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

    @property
    def tags_dir(self) -> str:
        return os.path.join(self.meta_dir, "tags")

    def tag(self, name: str, epoch: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg tag analog): the tagged
        epoch is excluded from `expire_snapshots`, so its manifest —
        and through `remove_orphans`' reference scan, its data files —
        survive retention until the tag is dropped. Named releases of
        a training-data table ("v1-train") are the use case; pair with
        `rollback_to(tag_epoch(name))` for named restore points.

        Tags are immutable and exclusive: re-tagging an existing name
        raises (drop it first) — two writers racing the same name see
        exactly one winner (`os.link` publish, like snapshot commits).
        Returns the tagged epoch."""
        if not self._TAG_NAME_RE.match(name):
            raise ValueError(f"invalid tag name {name!r}")
        snap = self.snapshot(epoch)  # raises if the epoch is gone
        os.makedirs(self.tags_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump({"epoch": snap["epoch"]}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(self.tags_dir, f"{name}.json"))
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        finally:
            os.unlink(tmp)
        return snap["epoch"]

    def tags(self) -> dict[str, int]:
        if not os.path.isdir(self.tags_dir):
            return {}
        out = {}
        for fn in sorted(os.listdir(self.tags_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.tags_dir, fn)) as f:
                    out[fn[:-5]] = int(json.load(f)["epoch"])
        return out

    def tag_epoch(self, name: str) -> int:
        try:
            with open(os.path.join(self.tags_dir, f"{name}.json")) as f:
                return int(json.load(f)["epoch"])
        except FileNotFoundError:
            raise KeyError(f"no such tag: {name!r}") from None

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.tags_dir, f"{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"no such tag: {name!r}") from None

    # ------------------------------------------------- branch refs / WAP
    @property
    def refs_dir(self) -> str:
        return os.path.join(self.meta_dir, "refs")

    def set_ref(self, name: str, epoch: int | None = None) -> int:
        """Create or MOVE a named mutable ref (Iceberg branch analog —
        a tag that can advance). Like a tag, a ref pins its epoch
        against `expire_snapshots`; unlike a tag, re-pointing an
        existing name is the operation, not an error.

        The load-bearing use is write-audit-publish: pin `main` at the
        published epoch, let the engine keep committing (audit epochs
        land on the chain but stay invisible to `read(ref="main")`),
        validate the head, then `fast_forward("main")` to publish — or
        `rollback_to(ref_epoch("main"))` to abort, which also rewinds
        the checkpoints so the poisoned events replay after the fix.

        Atomic via tmp-write + `os.replace`: readers see the old or the
        new epoch, never a torn file. Returns the pinned epoch."""
        if not self._TAG_NAME_RE.match(name):
            raise ValueError(f"invalid ref name {name!r}")
        snap = self.snapshot(epoch)  # raises if the epoch is gone
        os.makedirs(self.refs_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump({"epoch": snap["epoch"]}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.refs_dir, f"{name}.json"))
        return snap["epoch"]

    def refs(self) -> dict[str, int]:
        if not os.path.isdir(self.refs_dir):
            return {}
        out = {}
        for fn in sorted(os.listdir(self.refs_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.refs_dir, fn)) as f:
                    out[fn[:-5]] = int(json.load(f)["epoch"])
        return out

    def ref_epoch(self, name: str) -> int:
        try:
            with open(os.path.join(self.refs_dir, f"{name}.json")) as f:
                return int(json.load(f)["epoch"])
        except FileNotFoundError:
            raise KeyError(f"no such ref: {name!r}") from None

    def drop_ref(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.refs_dir, f"{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"no such ref: {name!r}") from None

    def fast_forward(self, name: str, epoch: int | None = None) -> int:
        """Advance ref `name` to `epoch` (default: the chain head) —
        the WAP publish step. Forward-only by contract: a backward move
        raises (an explicit rewind is `set_ref`, and state rewinds
        should be `rollback_to` so history stays append-only)."""
        target = self.current_epoch() if epoch is None else epoch
        cur = self.ref_epoch(name)  # raises if the ref doesn't exist
        if target is None or target < cur:
            raise ValueError(
                f"fast_forward: ref {name!r} at {cur} cannot move back to {target}"
            )
        return self.set_ref(name, target)

    def epoch_at(self, ts) -> int:
        """Largest RETAINED epoch committed at or before `ts` — the
        Iceberg `TIMESTAMP AS OF` resolution step; pair with
        `read(spark, epoch=epoch_at(ts))` for timestamp time travel,
        or `rollback_to(epoch_at(ts))` / CLI `rollback --at` for
        wall-clock restore points.

        `ts`: a datetime (naive = UTC), an ISO-8601 string, or epoch
        MICROSECONDS as int. Snapshots expired past retention (or
        written before this engine stamped `committed_at_us`) cannot
        be resolved; a `ts` earlier than every retained stamp raises.
        Commit stamps come from the committing process's wall clock —
        monotonic in practice because commits are strictly sequential,
        but a clock step between writers can blur the boundary between
        two adjacent epochs (the answer is still one of the two)."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            us = int(ts.timestamp() * 1_000_000)
        else:
            us = int(ts)
        best = None
        for fn in os.listdir(self.meta_dir):
            m = _SNAP_RE.match(fn)
            if not m:
                continue
            e = int(m.group(1))
            at = self.snapshot(e).get("committed_at_us")
            if at is not None and at <= us and (best is None or e > best):
                best = e
        if best is None:
            raise ValueError(
                f"epoch_at: no retained snapshot committed at or before {ts!r}"
            )
        return best

    # ------------------------------------------------- maintenance / GC
    def rollback_to(self, epoch: int) -> int:
        """Roll the table back to the state of `epoch` by committing a
        NEW snapshot that carries that epoch's files / checkpoints /
        schema verbatim (Iceberg `rollback_to_snapshot`: the pointer
        moves, history stays append-only — the bad epochs remain
        readable for forensics until expired). Returns the new epoch.

        Because the rolled-back snapshot also restores the CHECKPOINT
        watermarks, a subsequent engine run re-reads the changelog from
        `epoch`'s positions and re-applies the undone events — the
        recovery path for a poisoned batch: rollback, fix the source
        (or the filter), resume. Exactly-once still holds: the rewind
        is itself a recorded epoch, not a mutation of history.

        The target must still be within the snapshot-retention window
        (`expire_snapshots` erases older manifests — and
        `remove_orphans` may then have deleted their unreferenced data
        files), and must not sit behind a `rebucket` boundary: file
        entries are copied verbatim, so they must mean the same thing
        under the current bucket count. Both violations raise.

        Optimistic like every commit: returns the new epoch only once
        the snapshot file is published; a lost race (concurrent
        maintenance stole the number) retries on the fresh state."""
        for _ in range(5):
            cur = self.current_epoch()
            if cur is None:
                raise ValueError("rollback_to: table has no committed epoch")
            if epoch > cur:
                raise ValueError(f"rollback_to: epoch {epoch} > current {cur}")
            old = self.snapshot(epoch)  # raises if expired/never existed
            if old["n_buckets"] != self.snapshot(cur)["n_buckets"]:
                raise ValueError(
                    "rollback_to: target predates a rebucket "
                    f"({old['n_buckets']} -> {self.snapshot(cur)['n_buckets']} "
                    "buckets); file routing would not match"
                )
            if epoch == cur:
                return cur
            new_snap = {
                "epoch": cur + 1,
                "parent": cur,
                "n_buckets": old["n_buckets"],
                "key_col": old["key_col"],
                "target_file_rows": old.get("target_file_rows"),
                "schema_ver": old["schema_ver"],
                "schemas": old["schemas"],
                "files": old["files"],
                "checkpoints": old["checkpoints"],
                "lineage": [],
                "pending": old.get("pending", []),
                "meta": {
                    **old.get("meta", {}),
                    "rollback_of": cur,
                    "rollback_to": epoch,
                },
                "files_chain": 0,
            }
            try:
                self._write_snapshot(new_snap)
            except FileExistsError:
                continue  # lost the number race — replan on fresh state
            self._snap_cache[new_snap["epoch"]] = new_snap
            return new_snap["epoch"]
        raise RuntimeError("rollback_to: lost the commit race 5 times")

    def expire_snapshots(self, retain_last: int = 2) -> list[int]:
        """Drop snapshot manifests older than the last `retain_last`
        epochs (Iceberg's expire_snapshots). Time travel remains
        possible only within the retained window; resume/commit need
        only the CURRENT snapshot, which is always retained.

        At 10^10-event scale this is what bounds metadata: snapshots
        are O(n_buckets) JSON each, one per epoch, and without
        expiration every superseded data file stays pinned forever.

        Returns the expired epoch numbers. Lineage carried by expired
        snapshots is folded into the oldest retained snapshot's
        `lineage_archive` so per-partition totals stay auditable.

        TAGGED epochs (see `tag`) are never expired, however old: the
        tag pins the manifest, and `remove_orphans`' reference scan
        walks every remaining manifest, so the tagged snapshot's data
        files stay live too. A pinned manifest older than the window is
        rewritten self-contained (its delta chain materialized) before
        the manifests it chained through are deleted."""
        cur = self.current_epoch()
        if cur is None:
            return []
        keep_from = max(0, cur - retain_last + 1)
        # refs pin exactly like tags: an unpublished `main` must keep
        # its manifest (and, through remove_orphans' reference scan,
        # its data files) however far the audit chain runs ahead
        tagged = set(self.tags().values()) | set(self.refs().values())
        expired, archived, pinned = [], [], []
        for e in range(0, keep_from):
            p = self._snap_path(e)
            if not os.path.exists(p):
                continue
            if e in tagged:
                pinned.append(e)
                continue
            s = self.snapshot(e)
            # an expired snapshot may itself carry the archive of an
            # EARLIER expiration cycle — fold that in first, else the
            # second cycle silently drops the first cycle's totals
            archived.extend(s.get("lineage_archive", []))
            archived.extend(s["lineage"])
            expired.append(e)
        if not expired:
            return []
        oldest_kept = next(
            (e for e in range(keep_from, cur + 1) if os.path.exists(self._snap_path(e)))
        )

        # snapshot() materializes any delta chain THROUGH the epochs
        # being expired (they still exist here), so the rewrites below
        # are always self-contained: no retained manifest — pinned or
        # in-window — ever references an expired files_base
        def _rewrite_self_contained(epoch: int, snap: dict) -> None:
            snap["parent"] = None
            snap["files_chain"] = 0
            # rewrite-then-delete: a crash in between leaves extra
            # (stale) old snapshots, never a missing current one
            tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(snap, f, indent=1)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, self._snap_path(epoch))
            self._snap_cache.pop(epoch, None)  # rewritten in place

        for e in pinned:
            _rewrite_self_contained(e, self.snapshot(e))
        snap = self.snapshot(oldest_kept)
        snap["lineage_archive"] = snap.get("lineage_archive", []) + archived
        _rewrite_self_contained(oldest_kept, snap)
        for e in expired:
            os.remove(self._snap_path(e))
            self._snap_cache.pop(e, None)
        return expired

    def compact_tombstones(
        self, spark: SparkSession, source_partitions: list[int] | None = None
    ) -> int:
        """Physically drop tombstone rows that can never be outvoted:
        a DELETE marker is kept as a row so a late LOWER-`_seq` update
        cannot resurrect the key (merge.py), but once every source
        partition's committed checkpoint has advanced past the
        tombstone's event, no such late event can ever arrive (lsn is
        monotone per partition and the offset high-watermark filter
        drops stale replays). Those rows are pure bloat at 10^10 scale
        — an update-heavy workload accretes one per deleted key.

        Safety bound: a tombstone with packed order `_seq` is
        collectable iff `_seq` < min over ALL source partitions of
        pack(committed_lsn + 1, 0) — any future event in partition p
        has lsn > committed_lsn(p), hence packed order >= that bound.

        `source_partitions` must be the FULL set of source partitions
        that can emit events (e.g. `CdcEngine.extents.keys()`). A
        partition in that set with no committed checkpoint counts as
        checkpoint -1, making the bound 0 — nothing compacts until
        every source partition has committed at least once. When None,
        the bound falls back to the checkpointed partitions only, which
        is safe ONLY if no further source partition can ever appear in
        the changelog.

        Rewrites only buckets that contain collectable tombstones, as
        one new commit epoch (snapshot isolation preserved; time travel
        to earlier snapshots still sees the tombstones). Safe against a
        concurrent writer like compact_files: staged files + exclusive
        publish, replan-and-retry on conflict. Returns the number of
        rows dropped."""
        from canal_spark.operators.lww import SP_BITS

        for _attempt in range(5):
            snap = self.snapshot()
            # checkpoints from the SAME pinned snapshot as the data
            # scan below — reading self.checkpoints() separately could
            # mix a newer snapshot's bound with this snapshot's rows
            # if a commit lands in between
            ckpts = {int(k): int(v) for k, v in snap["checkpoints"].items()}
            if source_partitions is not None:
                for p in source_partitions:
                    ckpts.setdefault(int(p), -1)
            if not ckpts:
                return 0
            bound = min((lsn + 1) << SP_BITS for lsn in ckpts.values())
            if bound <= 0:
                return 0
            # manifest `seq_min` bounds prune the detection scan: a
            # bucket whose every file holds only rows with
            # `_seq >= bound` cannot contain a collectable tombstone —
            # skip it without opening a file (after one GC pass, all
            # newer data is skipped this way; absent bounds =
            # conservatively scanned)
            candidates = sorted(
                int(b)
                for b, fes in snap["files"].items()
                if any(fe.get("seq_min", -1) < bound for fe in fes)
            )
            if not candidates:
                return 0
            state = self.read(
                spark, epoch=snap["epoch"], buckets=candidates, internal=True
            )
            dead = state.filter(F.col("_tombstone") & (F.col("_seq") < bound))
            buckets = sorted(
                r["bucket"] for r in dead.select("bucket").distinct().collect()
            )
            if not buckets:
                return 0
            n_dead = dead.count()
            epoch = snap["epoch"] + 1
            keep = self.read(
                spark, epoch=snap["epoch"], buckets=buckets, internal=True
            ).filter(~(F.col("_tombstone") & (F.col("_seq") < bound)))
            cols = [f["name"] for f in snap["schemas"][str(snap["schema_ver"])]]
            out_dir = os.path.join(
                self.data_dir, f"epoch={epoch}-gctomb-{uuid.uuid4().hex[:8]}"
            )
            write_bucketed(
                keep.select(*cols, "_seq", "_tombstone", "bucket"),
                out_dir,
                snap["key_col"],
                n_tasks=len(buckets),
                max_rows=snap.get("target_file_rows"),
            )
            files = self._list_bucket_files(out_dir)
            try:
                committed = self.commit(
                    epoch, {b: files.get(b, []) for b in buckets}, {}, [],
                    changes="",
                )
            except ValueError:
                committed = False
            if committed:
                return int(n_dead)
        raise RuntimeError(
            "compact_tombstones: 5 consecutive commit conflicts — "
            "writer is outpacing maintenance; rerun when ingest is quieter"
        )

    def compact_files(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        buckets: list[int] | None = None,
        max_retries: int = 5,
    ) -> dict[int, tuple[int, int]]:
        """Bin-pack each bucket's accumulated small data files into
        ~`target_bytes` files and publish the rewrite as ONE commit
        epoch (Iceberg's `rewrite_data_files` binpack strategy, SURVEY
        §7.2). A long-running CDC stream writes per-bucket files every
        epoch; at 10^10 events a hot bucket accretes thousands of
        fragments and scan cost becomes file-open-bound — this is the
        first operational wall, and compaction is the standing repair.

        Planning is pure driver-side file metadata (`os.path.getsize`
        over the current snapshot's manifest — no data scan): bucket
        `b` with `n` files totalling `s` bytes is compacted iff
        `n > ceil(s / target_bytes)`, i.e. it is over-fragmented for
        its data volume. Untouched buckets are carried forward by
        reference, so the epoch cost is O(fragmented data), not
        O(table).

        `buckets` restricts the fold to a subset (auto-compaction
        passes exactly the buckets that crossed its trigger, so a
        single hot bucket's threshold never rewrites every
        barely-fragmented bucket in the table).

        Row content (including `_seq`/`_tombstone` merge metadata) is
        preserved exactly; `read()` before and after is identical.
        Crash model is the standard one: data files land in a staging
        directory BEFORE the snapshot publish, so a crashed compaction
        is invisible (orphans; remove_orphans reclaims them) and a
        completed compaction makes a re-run a no-op (every bucket is
        then at its bin-packed file count). Earlier snapshots still
        time-travel to the pre-compaction files until expired.

        SAFE AGAINST A CONCURRENT WRITER (Iceberg-style optimistic
        commit): the rewrite stages its files under a unique directory
        (never the engine's `epoch=N` path, so it can't clobber a
        racing epoch's data), and the snapshot publish is exclusive
        (os.link). If another commit lands between the snapshot read
        and the publish — the engine taking the epoch number, or
        advancing past it — the commit fails cleanly, the plan is
        recomputed on the NEW snapshot, and the rewrite retries, up to
        `max_retries` times. `maintain --compact-files` against a live
        streaming table is therefore linearizable with the writer.

        Returns {bucket: (files_before, files_after)} for the rewritten
        buckets; empty dict = nothing to do (no epoch committed)."""
        import math

        if target_bytes <= 0:
            raise ValueError(f"target_bytes must be positive, got {target_bytes}")
        only = None if buckets is None else {int(b) for b in buckets}
        for _attempt in range(max_retries):
            snap = self.snapshot()
            plan: dict[int, int] = {}
            before: dict[int, int] = {}
            for b, flist in snap["files"].items():
                if only is not None and int(b) not in only:
                    continue
                total = sum(
                    os.path.getsize(os.path.join(self.root, fe["path"])) for fe in flist
                )
                goal = max(1, math.ceil(total / target_bytes))
                # compact when over-fragmented for the data volume OR when
                # the bucket carries ANY merge-on-read fragment (folding
                # the fragment removes the read-side resolution tax even
                # if the file count is already at the bin-pack bound)
                if len(flist) > goal or any(fe.get("frag") for fe in flist):
                    plan[int(b)] = goal
                    before[int(b)] = len(flist)
            if not plan:
                return {}
            epoch = snap["epoch"] + 1
            folded = sorted(plan)
            cols = [f["name"] for f in snap["schemas"][str(snap["schema_ver"])]]
            state = self.read(spark, epoch=snap["epoch"], buckets=folded, internal=True)
            # RANGE-split via sorted roll (replaces the r2-r4 hash
            # slice, which balanced sizes but left every file spanning
            # the bucket's whole key range — update-shaped tables
            # skipped nothing): each bucket's task writes key-SORTED
            # rows and rolls a new file every `rpf` rows, emitting
            # range-disjoint, internally-sorted files. Roll size =
            # max over buckets of ceil(out_rows/goal) so no bucket
            # ever exceeds its bin-pack goal (a smaller per-bucket
            # value could oscillate with the trigger). Output rows
            # come from one count over the persisted RESOLVED state —
            # manifest input rows overstate fragment-heavy buckets by
            # the full fragment multiplicity, which would collapse the
            # split back to one file per bucket. A shrunken goal on
            # the NEXT run (output bytes < input bytes after heavy
            # resolution) may refold once more; convergence is ≤ 2
            # passes, tested.
            state = state.select(*cols, "_seq", "_tombstone", "bucket").persist()
            try:
                out_rows = {
                    int(r["bucket"]): int(r["count"])
                    for r in state.groupBy("bucket").count().collect()
                }
                rpf = max(
                    (-(-out_rows.get(b, 0) // plan[b]) for b in folded), default=0
                )
                # staging dir: unique per attempt (a racing engine epoch
                # owns `epoch=N` — writing there with mode=overwrite would
                # clobber its committed data files); keeps key=value path
                # form so partition-column inference stays consistent
                # ({epoch,bucket}) across mixed file sets under the shared
                # basePath
                out_dir = os.path.join(
                    self.data_dir, f"epoch={epoch}-compact-{uuid.uuid4().hex[:8]}"
                )
                write_bucketed(
                    state,
                    out_dir,
                    snap["key_col"],
                    n_tasks=len(folded),
                    max_rows=rpf or None,
                )
            finally:
                state.unpersist()
            files = self._list_bucket_files(out_dir)
            try:
                committed = self.commit(
                    epoch,
                    rewritten={b: files.get(b, []) for b in folded},
                    checkpoints={},
                    lineage=[],
                    meta={"last_compaction_epoch": epoch},
                    changes="",
                )
            except ValueError:
                committed = False  # current epoch advanced past ours
            if committed:
                return {b: (before[b], len(files.get(b, []))) for b in folded}
            # conflict: a concurrent commit won the epoch — the staged
            # files are unreferenced orphans (GC'd later); replan on
            # the fresh snapshot and retry
        raise RuntimeError(
            f"compact_files: {max_retries} consecutive commit conflicts — "
            "writer is outpacing maintenance; rerun when ingest is quieter"
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        max_retries: int = 5,
    ) -> dict[int, int]:
        """Predicate DELETE (Iceberg `DELETE FROM ... WHERE` CoW analog):
        remove every visible row matching `predicate` — an ANSI SQL
        boolean over the table's user columns — as ONE commit epoch.
        The takedown / right-to-be-forgotten path of a training-data
        lake: "drop everything from source X" must be a first-class,
        crash-safe operation at 100 TB, not a full-table re-ingest.

        Two-phase, so the rewrite cost is O(affected buckets):
        1. one resolved scan finds the buckets containing matches
           (an arbitrary predicate can't use the key-bounds manifest
           stats, so the FIND phase reads every bucket once — but it
           reads only the predicate's columns, column-pruned);
        2. only those buckets are rewritten (key-sorted, range-disjoint
           files via `write_bucketed`, same as compaction), everything
           else is carried forward by reference.

        Semantics notes:
        - NULL predicate results keep the row (SQL DELETE semantics:
          only definite matches are deleted).
        - merge metadata (`_seq`) and tombstone markers are preserved
          for surviving rows — late out-of-order events older than a
          surviving row still lose, exactly as before the delete.
          Deleted rows are PHYSICALLY removed (no tombstone): a later
          event for that key re-inserts it, which is the documented
          difference from an in-band DELETE event.
        - the epoch is committed UNMARKED for CDF (`changes=None`), so
          `read_changes` over a range containing it falls back to the
          snapshot diff and reports the removed rows as DELETEs with
          their before-images — correct, at diff cost; fine for a rare
          maintenance op.

        Optimistic-commit loop identical to compact_files: staged files
        under a unique dir, exclusive snapshot publish, replan-on-race.
        Returns {bucket: rows_deleted}; empty dict = no matches, no
        epoch committed."""
        # the predicate is scoped to the table's USER columns (ADVICE
        # r5): merge metadata is renamed away while it is evaluated, so
        # a predicate referencing `_seq`/`_tombstone`/`bucket` fails to
        # resolve (explicit error) instead of silently deleting on
        # internals — and a future user column named `bucket` cannot
        # collide with the routing column here
        _hidden = ("_seq", "_tombstone", "bucket")

        def _marked(df: DataFrame) -> DataFrame:
            ev = df
            for c in _hidden:
                ev = ev.withColumnRenamed(c, f"__dw_{c}")
            m = F.coalesce(F.expr(predicate), F.lit(False)) & ~F.coalesce(
                F.col("__dw__tombstone"), F.lit(False)
            )
            ev = ev.withColumn("__dw_match", m)
            for c in _hidden:
                ev = ev.withColumnRenamed(f"__dw_{c}", c)
            return ev

        for _attempt in range(max_retries):
            snap = self.snapshot()
            state = _marked(self.read(spark, epoch=snap["epoch"], internal=True))
            hits = {
                int(r["bucket"]): int(r["n"])
                for r in state.filter(F.col("__dw_match"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if not hits:
                return {}
            epoch = snap["epoch"] + 1
            affected = sorted(hits)
            cols = [f["name"] for f in snap["schemas"][str(snap["schema_ver"])]]
            kept = (
                _marked(
                    self.read(
                        spark, epoch=snap["epoch"], buckets=affected, internal=True
                    )
                )
                .filter(~F.col("__dw_match"))
                .select(*cols, "_seq", "_tombstone", "bucket")
            )
            out_dir = os.path.join(
                self.data_dir, f"epoch={epoch}-delete-{uuid.uuid4().hex[:8]}"
            )
            write_bucketed(
                kept,
                out_dir,
                snap["key_col"],
                n_tasks=len(affected),
                max_rows=snap.get("target_file_rows"),
            )
            files = self._list_bucket_files(out_dir)
            try:
                committed = self.commit(
                    epoch,
                    rewritten={b: files.get(b, []) for b in affected},
                    checkpoints={},
                    lineage=[],
                    meta={"last_delete_where": predicate},
                )
            except ValueError:
                committed = False  # current epoch advanced past ours
            if committed:
                return hits
            # conflict: replan on the fresh snapshot (the matching row
            # set may have changed) and retry; staged files orphan
        raise RuntimeError(
            f"delete_where: {max_retries} consecutive commit conflicts — "
            "writer is outpacing maintenance; rerun when ingest is quieter"
        )

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int:
        """Bucket-layout evolution: rewrite the table into
        `new_n_buckets` hash buckets as ONE commit epoch. A long-lived
        table must be able to grow its bucket count (copy-on-write
        epoch cost and file counts are O(touched buckets); at 10^10+
        keys the layout chosen at create time stops being right) —
        Iceberg's analog is a partition-spec evolution + rewrite.

        Honest cost: this is a FULL table rewrite (one shuffle on the
        new bucket key) — schedule it like any majour compaction. All
        merge metadata (_seq, _tombstone) is preserved; replay resumes
        against the new layout with no engine changes (bucket count is
        read from the current snapshot every epoch); earlier snapshots
        still time-travel against the old layout until expired.

        Conflict-safe like the other maintenance rewrites: staged files
        + exclusive publish; a commit landing mid-rewrite triggers a
        replan from the new snapshot (the full rewrite re-runs — an
        honest retry cost for a full-table operation)."""
        for _attempt in range(5):
            snap = self.snapshot()
            if new_n_buckets == snap["n_buckets"]:
                return snap["epoch"]
            epoch = snap["epoch"] + 1
            cols = [f["name"] for f in snap["schemas"][str(snap["schema_ver"])]]
            state = self.read(
                spark, epoch=snap["epoch"], with_bucket=False, internal=True
            )
            out_dir = os.path.join(
                self.data_dir, f"epoch={epoch}-rebucket-{uuid.uuid4().hex[:8]}"
            )
            write_bucketed(
                state.withColumn(
                    "bucket", bucket_expr(snap["key_col"], new_n_buckets)
                ).select(*cols, "_seq", "_tombstone", "bucket"),
                out_dir,
                snap["key_col"],
                n_tasks=new_n_buckets,
                max_rows=snap.get("target_file_rows"),
            )
            files = self._list_bucket_files(out_dir)
            try:
                committed = self.commit(
                    epoch,
                    rewritten=files,
                    checkpoints={},
                    lineage=[],
                    n_buckets_update=new_n_buckets,
                    replace_all=True,
                    changes="",
                )
            except ValueError:
                committed = False
            if committed:
                return epoch
        raise RuntimeError(
            "rebucket: 5 consecutive commit conflicts — writer is "
            "outpacing maintenance; rerun when ingest is quieter"
        )

    def remove_orphans(self, min_age_seconds: float = 0.0) -> int:
        """Delete data files referenced by NO remaining snapshot
        (Iceberg's remove_orphan_files): superseded bucket rewrites
        past the retention window, and leftovers of crashed epochs.

        `min_age_seconds` is the in-flight guard (Iceberg's
        `older_than`): files younger than the cutoff are spared, so
        data being written by a not-yet-committed epoch (crash-model
        window, or the pipelined run loop) is never deleted mid-write.
        With the default 0 the sweep takes everything unreferenced —
        only safe when no engine is concurrently writing this table.
        Returns the number of files removed."""
        import time as _time

        cutoff = _time.time() - min_age_seconds
        referenced: set[str] = set()
        referenced_changes: set[str] = set()
        for fn in os.listdir(self.meta_dir):
            m = _SNAP_RE.match(fn)
            if not m:
                continue
            # snapshot() — NOT a raw json read: a delta-form manifest
            # references most of its files through its base chain, and
            # missing those references would delete live data
            s = self.snapshot(int(m.group(1)))
            for flist in s["files"].values():
                referenced.update(fe["path"] for fe in flist)
            referenced.update(s.get("pending", []))
            if s.get("changes"):
                referenced_changes.add(s["changes"])
        removed = 0
        for dirpath, _dirnames, filenames in os.walk(self.data_dir, topdown=False):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if (
                    fn.endswith(".parquet")
                    and rel not in referenced
                    and os.path.getmtime(full) <= cutoff
                ):
                    os.remove(full)
                    removed += 1
            if not os.listdir(dirpath):
                os.rmdir(dirpath)
        # write-time capture dirs (CDF): unreferenced = a lost commit
        # race's stage, or an expired epoch's capture past retention
        ch_root = os.path.join(self.root, "changes")
        if os.path.isdir(ch_root):
            import shutil as _shutil

            for d in sorted(os.listdir(ch_root)):
                full = os.path.join(ch_root, d)
                rel = os.path.relpath(full, self.root)
                if rel in referenced_changes or not os.path.isdir(full):
                    continue
                inner = [
                    os.path.join(dp, fn)
                    for dp, _dn, fns in os.walk(full)
                    for fn in fns
                ]
                newest = max(
                    (os.path.getmtime(p) for p in inner),
                    default=os.path.getmtime(full),
                )
                if newest <= cutoff:
                    removed += sum(1 for p in inner if p.endswith(".parquet"))
                    _shutil.rmtree(full, ignore_errors=True)
        # pending/ lives outside data_dir
        pend_root = os.path.join(self.root, "pending")
        if os.path.isdir(pend_root):
            for dirpath, _dirnames, filenames in os.walk(pend_root, topdown=False):
                for fn in filenames:
                    full = os.path.join(dirpath, fn)
                    if (
                        os.path.relpath(full, self.root) not in referenced
                        and os.path.getmtime(full) <= cutoff
                    ):
                        os.remove(full)
                        removed += 1
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
        return removed

    # ------------------------------------------------------- utilities
    def checkpoints(self) -> dict[int, int]:
        return {int(k): int(v) for k, v in self.snapshot()["checkpoints"].items()}

    def epoch_data_dir(self, epoch: int) -> str:
        return os.path.join(self.data_dir, f"epoch={epoch}")

    def list_epoch_files(self, epoch: int) -> dict[int, list[str]]:
        """Enumerate bucket=<k>/ parquet files written for an epoch."""
        return self._list_bucket_files(self.epoch_data_dir(epoch))

    @staticmethod
    def _list_bucket_files(root: str) -> dict[int, list[str]]:
        """Enumerate bucket=<k>/ parquet files under any staging root."""
        out: dict[int, list[str]] = {}
        if not os.path.isdir(root):
            return out
        for d in sorted(os.listdir(root)):
            if not d.startswith("bucket="):
                continue
            b = int(d.split("=", 1)[1])
            out[b] = sorted(
                os.path.join(root, d, fn)
                for fn in os.listdir(os.path.join(root, d))
                if fn.endswith(".parquet")
            )
        return out

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """All committed epochs' lineage as a DataFrame (A4 metrics)."""
        rows = []
        cur = self.current_epoch() or 0
        for e in range(1, cur + 1):
            if os.path.exists(self._snap_path(e)):
                rows.extend(self.snapshot(e)["lineage"])
        ddl = (
            "epoch int, source_partition int, n_events long, n_upserts long, "
            "n_deletes long, sum_n_tok long, min_lsn long, max_lsn long, "
            "max_ts timestamp, wall_ms long"
        )
        import datetime

        for r in rows:
            if isinstance(r.get("max_ts"), (int, float)):
                r["max_ts"] = datetime.datetime.fromtimestamp(
                    r["max_ts"] / 1e6, tz=datetime.timezone.utc
                ).replace(tzinfo=None)
        return spark.createDataFrame(rows, ddl) if rows else spark.createDataFrame([], ddl)

"""Key-partitioned MERGE apply (J2) — versioned, bucket-pruned
copy-on-write upsert.

Reference semantics: canal's RDB adapter applies the change stream to a
JDBC target by primary key — INSERT, UPDATE-by-pk, DELETE-by-pk,
batched, serialized per pk-hash bucket
[C: client-adapter/rdb/.../RdbSyncService.java :: #sync/#update/#delete].
Canal relies on arrival order; this engine makes the merge
ORDER-INDEPENDENT so that any slicing of the changelog (batch epochs,
per-file micro-batches, multi-source unions) converges to the same
state:

- every stored row carries `_seq` — the packed (lsn << 12 | source
  partition) of the event that produced it — and `_tombstone` for
  deletes (kept as rows so a late lower-`_seq` update cannot resurrect
  a deleted key; compaction of old tombstones is a metadata-only
  follow-up, see table.py);
- MERGE keeps, per key, the row with the greater `_seq` between the
  target and the delta: last-writer-wins by total event order, not by
  application order.

Scale shape (the broadcast never touches the big side):

    untouched = old ANTI-JOIN delta-keys      (broadcast, no shuffle)
    contested = old SEMI-JOIN delta-keys      (broadcast, <= |delta| rows)
    resolved  = contested FULL-OUTER delta    (both sides delta-sized)
    new bucket = untouched UNION resolved

Only buckets containing changed keys are read/rewritten; all other
bucket files carry forward by reference in the manifest (table.py) —
epoch cost is O(touched data), not O(table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canal_spark.plans.table import (
    META_COLS,
    SnapshotTable,
    bucket_expr,
    write_bucketed,
)

#: field ids of the changelog payload columns (matches DEFAULT_SCHEMA ids)
CHANGELOG_FIELD_IDS = {1: "doc_id", 2: "tokens", 3: "n_tok", 4: "source"}


def align_to_schema(
    delta: DataFrame, schema_fields: list[dict], key: str, by_name: bool = False,
    partial: bool = False,
) -> DataFrame:
    """Project changelog payload columns onto the table's current schema
    by field id (rename/widen/add handled declaratively), carrying the
    merge metadata (`_seq`, `_tombstone`, bucket).

    `by_name=True` for deltas ALREADY in table-schema shape (the
    change-feed replicator): columns map by name, so post-DDL fields —
    which have no changelog field id — carry through instead of
    nulling.

    `partial=True` for sparse-row-image delta summaries
    (lww_collapse_partial_delta): additionally carries `_had_del` and a
    `_wrote_<field>` flag per schema field (renamed through the same id
    map as the value; a field the changelog cannot write — post-DDL
    adds — gets a constant False, so the merge carries it from the
    stored row). `_tombstone` is the batch's net state IGNORING the
    stored row (delete with no surviving writes); the partial resolve
    recomputes visibility against the old row."""
    cols = []
    flags = []
    wrote_any = F.lit(False)
    for fld in schema_fields:
        src = fld["name"] if by_name else CHANGELOG_FIELD_IDS.get(fld["id"])
        if fld["name"] == key:
            continue
        if src is not None and src in delta.columns:
            cols.append(F.col(src).cast(fld["type"]).alias(fld["name"]))
            if partial:
                flags.append(F.col(f"_wrote_{src}").alias(f"_wrote_{fld['name']}"))
                wrote_any = wrote_any | F.col(f"_wrote_{src}")
        else:
            cols.append(F.lit(None).cast(fld["type"]).alias(fld["name"]))
            if partial:
                flags.append(F.lit(False).alias(f"_wrote_{fld['name']}"))
    tomb = (
        (F.col("_had_del") & ~wrote_any) if partial else (F.col("op") == "DELETE")
    )
    extra = [F.col("_had_del"), *flags] if partial else []
    return delta.select(
        F.col(key),
        *cols,
        F.col("_seq").cast("long").alias("_seq"),
        tomb.alias("_tombstone"),
        "bucket",
        *extra,
    )


def append_epoch(
    spark: SparkSession,
    table: SnapshotTable,
    delta: DataFrame,
    epoch: int,
    affected: list[int] | None = None,
    delta_by_name: bool = False,
) -> dict[int, list[str]]:
    """Merge-on-read apply: write the LWW-collapsed delta as FRAGMENT
    files appended to each touched bucket's file list, touching no
    existing data (Iceberg MoR / delta-file commit). The write is
    O(delta) — no old-state read, no anti/semi/resolve joins, no
    broadcast — which is the point: at 10^10 events an update-heavy
    epoch under copy-on-write rewrites whole buckets to change a few
    rows (write amplification is the scale wall), while MoR commits in
    delta time and defers the merge to readers
    (SnapshotTable.read resolves by `_seq`) until `compact_files`
    folds the fragments back into a resolved base.

    Same crash model as merge_epoch: files land under epoch=N before
    the commit; caller commits with append=True. `delta` must be
    LWW-collapsed (unique key) with `op` and `_seq` columns.
    """
    snap = table.snapshot()
    n_buckets = snap["n_buckets"]
    key = snap["key_col"]
    fields = snap["schemas"][str(snap["schema_ver"])]
    delta = align_to_schema(
        delta.withColumn("bucket", bucket_expr(key, n_buckets)), fields, key,
        by_name=delta_by_name,
    )
    if affected is None:
        affected = sorted(
            r["bucket"] for r in delta.select("bucket").distinct().collect()
        )
    if not affected:
        return {}
    out_dir = table.epoch_data_dir(epoch)
    # sorted iff the table opted into the split layout (hot path —
    # see write_bucketed): with it, sorted row groups give the
    # resolution scan and key-range reads tight row-group stats, and
    # a key-LOCALIZED delta emits tight bounds that let
    # _resolution_set skip disjoint base slices
    tfr = snap.get("target_file_rows")
    write_bucketed(
        delta,
        out_dir,
        key,
        n_tasks=len(affected),
        max_rows=tfr,
        sort=tfr is not None,
    )
    files = table.list_epoch_files(epoch)
    return {b: files.get(b, []) for b in affected}


def merge_epoch(
    spark: SparkSession,
    table: SnapshotTable,
    delta: DataFrame,
    epoch: int,
    broadcast_delta: bool = True,
    key_frame: DataFrame | None = None,
    affected: list[int] | None = None,
    delta_by_name: bool = False,
    partial: bool = False,
) -> dict[int, list[str]]:
    """Write epoch `e`'s rewritten buckets; return {bucket: [files]}.

    `delta` must be LWW-collapsed (unique key) with `op` and `_seq`
    columns. `delta_by_name` — see align_to_schema. Does NOT commit — the caller commits the returned file map
    atomically (engine.py), so a crash here leaves only unreferenced
    orphan files.

    `partial=True` applies a sparse-row-image delta summary
    (lww_collapse_partial_delta): column c of the stored row changes
    only when the batch WROTE c (after its latest DELETE for the key);
    unwritten columns carry forward from the stored row — canal's
    Column#updated apply semantics. Requires in-order epochs (the
    engine's lsn slices are monotone); a stale delta (`_seq` <= stored)
    leaves the stored row untouched, which makes crash-replay
    idempotent exactly like the full-row path.

    `key_frame` (optional): a small frame holding exactly the delta's
    distinct keys (the engine passes its cached LWW winners). With it,
    bucket discovery and the anti/semi join keys come from the cache,
    the wide delta is consumed EXACTLY ONCE (inside the write job) and
    is never persisted — measurably less driver latency and GC churn
    per epoch than caching the token arrays.
    """
    snap = table.snapshot()
    n_buckets = snap["n_buckets"]
    key = snap["key_col"]
    fields = snap["schemas"][str(snap["schema_ver"])]

    delta = align_to_schema(
        delta.withColumn("bucket", bucket_expr(key, n_buckets)), fields, key,
        by_name=delta_by_name, partial=partial,
    )
    own_persist = key_frame is None
    if own_persist:
        # no key frame: the delta is consumed several times (bucket
        # discovery, join keys, resolve) — persist it so the upstream
        # LWW aggregation runs exactly once per epoch
        delta = delta.persist()
        keys_df = delta.select("bucket", key)
        affected_src = keys_df.select("bucket")
    else:
        # pass the key frame through VERBATIM as the join side: the
        # same (cached) winners frame the LWW winner join broadcasts,
        # keyed on `key` alone. The executed plan does NOT share one
        # broadcast between them: the anti, semi and winner joins each
        # build their own BroadcastExchange over the cached winners
        # (no ReusedExchange; three small cache-scan jobs per epoch)
        keys_df = key_frame
        affected_src = key_frame.select(bucket_expr(key, n_buckets).alias("bucket"))
    # driver-side metadata, bounded by n_buckets — never by data size;
    # the engine passes `affected` precomputed from its winners job
    if affected is None:
        affected = sorted(r["bucket"] for r in affected_src.distinct().collect())
    if not affected:
        if own_persist:
            delta.unpersist()
        return {}

    old = table.read(spark, buckets=affected, internal=True)
    delta_keys = keys_df
    if broadcast_delta:
        delta_keys = F.broadcast(delta_keys)

    # keyed on `key` ALONE when a key frame is passed: `old` is already
    # pruned to the affected buckets and bucket = f(key), so key
    # equality implies bucket equality. Each of these joins broadcasts
    # the frame separately (see above).
    join_on = [key] if key_frame is not None else ["bucket", key]
    untouched = old.join(delta_keys, join_on, "left_anti")
    contested = old.join(delta_keys, join_on, "left_semi")

    payload = [f["name"] for f in fields if f["name"] != key]
    data_cols = payload + ["_seq", "_tombstone"]
    o, d = contested.alias("o"), delta.alias("d")
    delta_wins = F.col("d._seq") > F.coalesce(F.col("o._seq"), F.lit(-1))
    if not partial:
        resolved_cols = [
            F.when(delta_wins | F.col("o._seq").isNull(), F.col(f"d.{c}"))
            .otherwise(F.col(f"o.{c}"))
            .alias(c)
            for c in data_cols
        ]
    else:
        # per-column coalesce against the stored row. A batch DELETE
        # wipes the stored state first (only the batch's own post-
        # delete writes survive); otherwise unwritten columns carry
        # from the stored row IF it was visible — a stored tombstone's
        # residual payload (e.g. the DELETE event's `source`) must not
        # resurrect through a later sparse UPDATE.
        old_visible = F.col("o._seq").isNotNull() & ~F.coalesce(
            F.col("o._tombstone"), F.lit(True)
        )
        wrote = {c: F.col(f"d._wrote_{c}") for c in payload}
        any_wrote = F.greatest(*wrote.values()) if len(payload) > 1 else wrote[payload[0]]
        visible_after = any_wrote | (~F.col("d._had_del") & old_visible)
        resolved_cols = [
            F.when(~delta_wins, F.col(f"o.{c}"))
            .otherwise(
                F.when(
                    visible_after,
                    F.when(wrote[c], F.col(f"d.{c}")).when(
                        ~F.col("d._had_del") & old_visible, F.col(f"o.{c}")
                    ),
                )
            )
            .alias(c)
            for c in payload
        ] + [
            F.when(~delta_wins, F.col("o._seq")).otherwise(F.col("d._seq")).alias("_seq"),
            F.when(~delta_wins, F.col("o._tombstone"))
            .otherwise(~visible_after)
            .alias("_tombstone"),
        ]
    resolved = o.join(d, ["bucket", key], "full_outer").select(
        "bucket",
        key,
        *resolved_cols,
    )
    # column order: key, data..., meta..., bucket (match align output)
    ordered = [key, *data_cols, "bucket"]
    new_state = untouched.select(*ordered).unionByName(resolved.select(*ordered))

    out_dir = table.epoch_data_dir(epoch)
    # key-sorted bucket write (Iceberg write sort-order analog), iff
    # the table opted in via `target_file_rows`: the rewritten bucket
    # rolls into range-disjoint files, so manifest bounds stay tight
    # even under update-shaped workloads that rewrite hot buckets
    # every epoch. Default tables skip the sort — the ~5% hot-path
    # cost (measured, see write_bucketed) buys nothing without the
    # split.
    tfr = snap.get("target_file_rows")
    write_bucketed(
        new_state,
        out_dir,
        key,
        n_tasks=len(affected),
        max_rows=tfr,
        sort=tfr is not None,
    )
    if own_persist:
        delta.unpersist()
    files = table.list_epoch_files(epoch)
    return {b: files.get(b, []) for b in affected}


__all__ = ["merge_epoch", "align_to_schema", "CHANGELOG_FIELD_IDS", "META_COLS"]

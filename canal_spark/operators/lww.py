"""Last-writer-wins collapse per key (A1) — the heart of the upsert.

Reference semantics: canal preserves per-key order end-to-end through a
single-writer pipeline and per-pk-hash serial buckets in the adapter, so
the last event per primary key wins at the sink
[C: client-adapter/rdb/.../RdbSyncService.java :: #pkHash, serial
dmlsPartition[] buckets]. Canal has NO skew handling — a hot pk
serializes on one bucket; here skew is handled structurally.

Spark-first design (scale-critical, measured — see BENCH/BASELINE.md):

The naive formulations do NOT scale with wide payloads (token arrays):
- `row_number() OVER (...) = 1` shuffles ALL events of a key to one
  task and sorts them (no partial evaluation) — canal's hot-pk skew.
- `max_by(struct(payload), struct(order))` is a DeclarativeAggregate
  over a non-fixed-width buffer, so Spark falls back to
  **SortAggregate**: every task sorts the full wide slice. Measured
  ~2.5x slower than the chosen plan at 4M events and badly
  GC/spill-bound.

Chosen plan — "max-ord + winner join":
1. pack the total order (lsn, source_partition) into ONE BIGINT
   `ord = lsn << sp_bits | sp` (tie-break is total: lsn DESC then
   source_partition DESC, required for byte-exact replay parity,
   BASELINE.json:6);
2. `groupBy(key).agg(max(ord))` — a fixed-width **HashAggregate** with
   map-side partial aggregation: a hot doc_id with 10^6 events in an
   epoch collapses to ONE row per map task BEFORE the shuffle, and the
   shuffled rows are (key, long), payload-free;
3. join the winners back on (key, ord): the winner set (one row per
   distinct key, two columns) is broadcast when small, so the wide
   event stream is never shuffled OR sorted at all. When too big to
   broadcast, it degrades to a shuffled hash join on the key —
   still sort-free, and AQE skew-join splits hot partitions.

Requires (order_cols) to be unique per key — true by construction for
the changelog ((lsn, source_partition) is unique; lsn is strictly
monotone per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ("lsn", "source_partition")

#: bits reserved for source_partition in the packed order key: 4096
#: source partitions; leaves 51 bits for lsn (>= 2*10^10-event scale
#: at lsn gaps ~2, 10^10 events fit in 2^45)
SP_BITS = 12


def _packed_order(order_cols: tuple[str, ...], sp_bits: int = SP_BITS):
    """Total order as one BIGINT (fixed-width => hash-aggregable)."""
    if len(order_cols) == 1:
        return F.col(order_cols[0]).cast("long")
    if len(order_cols) == 2:
        return F.shiftleft(F.col(order_cols[0]).cast("long"), sp_bits) + F.col(
            order_cols[1]
        ).cast("long")
    raise ValueError("order must be 1 or 2 integer columns")


def lww_collapse(
    df: DataFrame,
    key: str = "doc_id",
    order_cols: tuple[str, ...] = ORDER_COLS,
    payload_cols: tuple[str, ...] | None = None,
    broadcast_winners: bool = True,
    with_seq: bool = False,
    winners: DataFrame | None = None,
) -> DataFrame:
    """One row per key: the payload of the greatest (lsn, source_partition).

    with_seq=True appends the winner's packed order as `_seq` — the
    version column the conditional MERGE compares against the target's
    stored versions (late/out-of-order deltas must never overwrite a
    newer row).

    `winners` may be precomputed (columns: key, `_ord`) — the
    epoch-write kernel passes its cached winners (engine.stage) so the
    slice is aggregated once per epoch, not twice."""
    if payload_cols is None:
        payload_cols = tuple(c for c in df.columns if c != key)
    ord_col = _packed_order(order_cols)
    if winners is None:
        winners = df.groupBy(key).agg(F.max(ord_col).alias("_ord"))
    if broadcast_winners:
        winners = F.broadcast(winners)
    # join keyed on `key` ALONE (winner match = post-filter on the
    # packed order), the same key as the MERGE's anti/semi joins over
    # the engine's cached winners frame. The executed write job still
    # builds one BroadcastExchange per join (three per CoW epoch, no
    # ReusedExchange). Each event row matches exactly one winner row
    # (winners are unique per key), so the join does not expand.
    out = (
        df.withColumn("_ord_ev", ord_col)
        .join(winners, [key])
        .filter(F.col("_ord_ev") == F.col("_ord"))
    )
    cols = [key, *payload_cols] + ([F.col("_ord").alias("_seq")] if with_seq else [])
    return out.select(*cols)


def lww_collapse_maxby(
    df: DataFrame,
    key: str = "doc_id",
    order_cols: tuple[str, ...] = ORDER_COLS,
    payload_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Single-pass max_by variant. Semantically identical
    (property-tested); compiles to SortAggregate for wide payloads, so
    it is kept for comparison and for narrow fixed-width payloads where
    one pass beats agg+join."""
    if payload_cols is None:
        payload_cols = tuple(c for c in df.columns if c != key)
    return (
        df.groupBy(key)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload_cols]),
                F.struct(*[F.col(c) for c in order_cols]),
            ).alias("_last")
        )
        .select(key, "_last.*")
    )


def lww_collapse_partial(
    df: DataFrame,
    key: str = "doc_id",
    order_cols: tuple[str, ...] = ORDER_COLS,
    payload_cols: tuple[str, ...] = (),
    updated_col: str = "updated_cols",
    broadcast_winners: bool = True,
) -> DataFrame:
    """COLUMN-level last-writer-wins: collapse a changelog whose UPDATE
    events carry only a SUBSET of the payload columns.

    Canal marks each column of an UPDATE row with an `updated` flag
    [C: protocol/.../EntryProtocol.proto :: Column#updated] and its RDB
    adapter applies ONLY the changed columns
    [C: client-adapter/rdb/.../RdbSyncService.java :: update sets
    changed columns by the flag]; MQ flat formats likewise ship sparse
    row images. Row-level LWW (`lww_collapse`) is wrong for such a
    stream: the last event's missing columns would null out older
    writes that are still current.

    Semantics (events applied in packed total order per key):
    - INSERT writes EVERY payload column (full row image; missing
      values are genuine NULLs);
    - UPDATE writes exactly the columns named in `updated_col`
      (array<string>); an UPDATE to an absent key upserts a partial
      row (the adapter's insert-on-miss path);
    - DELETE removes the row — columns written before the delete are
      gone; only writes AFTER the latest delete survive.
    Final value of column c = the value carried by the LATEST event
    that writes c after the key's latest DELETE; NULL if none.

    Scale shape — the per-column generalization of lww_collapse's
    "max-ord + winner join", same reasons (see module docstring):
    1. ONE fixed-width HashAggregate per key computes the latest
       DELETE ord and, per payload column, the latest writing ord —
       all BIGINTs, map-side partial combine, shuffled rows are
       payload-free (key + k+1 longs);
    2. the winner frame (one narrow row per key) joins back to the
       event stream keyed on `key` alone, broadcast when small —
       the wide payload never shuffles or sorts;
    3. rows matching NO per-column winner ord are filtered at the
       join, and one tiny per-key aggregate (≤ k surviving rows per
       key) picks each column from its own winner row.
    """
    _, packed = _column_winners(
        df, key, order_cols, payload_cols, updated_col, broadcast_winners
    )
    return packed.select(key, *[_pick(c) for c in payload_cols])


def lww_collapse_partial_delta(
    df: DataFrame,
    key: str = "doc_id",
    order_cols: tuple[str, ...] = ORDER_COLS,
    payload_cols: tuple[str, ...] = (),
    updated_col: str = "updated_cols",
    broadcast_winners: bool = True,
) -> DataFrame:
    """Per-key BATCH summary of a sparse-row-image changelog — the
    delta form `merge_epoch(partial=True)` applies against the stored
    state (vs `lww_collapse_partial`, which produces the final state of
    a self-contained stream).

    One row per key with:
      - `_seq`            packed order of the key's LATEST event (the
                          MERGE version guard, same as lww_collapse);
      - `_had_del`        batch contains a DELETE for this key (the
                          stored row's prior state is wiped before the
                          batch's surviving writes apply);
      - per payload col c: `c` = the value written by the latest event
        writing c AFTER the batch's latest DELETE (NULL if none), and
        `_wrote_<c>` = whether such a write exists.

    Same plan shape as lww_collapse_partial (fixed-width HashAggregate,
    broadcast winner join, ObjectHashAggregate assembly); the caller's
    merge coalesces unwritten columns from the stored row, which is
    valid because epochs apply IN ORDER (lsn slices are monotone), the
    same arrival-order contract canal's adapters rely on
    [C: client-adapter/rdb/.../RdbSyncService.java :: update sets only
    columns flagged Column#updated]."""
    summary, packed = _column_winners(
        df, key, order_cols, payload_cols, updated_col, broadcast_winners
    )
    with_winners = packed.select(
        key,
        "_seq",
        "_had_del",
        *[_pick(c) for c in payload_cols],
        *[F.col(f"_w_{c}").isNotNull().alias(f"_wrote_{c}") for c in payload_cols],
    )
    # keys whose batch is DELETE-only (or writes nothing surviving) are
    # dropped by the winner join above — reinstate them as pure-delete
    # summaries via an anti-join on the narrow winner frame (broadcast
    # the RIGHT side: both frames are per-key-narrow, and the left of
    # a left_anti cannot be the broadcast build side)
    only_del = (
        summary.join(
            F.broadcast(packed.select(key)) if broadcast_winners else packed.select(key),
            [key],
            "left_anti",
        )
        .select(
            key,
            "_seq",
            "_had_del",
            *[F.lit(None).alias(c) for c in payload_cols],
            *[F.lit(False).alias(f"_wrote_{c}") for c in payload_cols],
        )
    )
    return with_winners.unionByName(only_del)


def _column_winners(
    df: DataFrame,
    key: str,
    order_cols: tuple[str, ...],
    payload_cols: tuple[str, ...],
    updated_col: str,
    broadcast_winners: bool,
) -> tuple[DataFrame, DataFrame]:
    """Per-column winner aggregate shared by lww_collapse_partial and
    lww_collapse_partial_delta. Returns `(summary, packed)`:

    - `summary`, one row per key: `_seq` (packed order of the key's
      latest event), `_had_del` (the key has a DELETE) and, per payload
      column c, `_w_<c>` = the order of the latest event writing c
      after the latest DELETE (NULL if none);
    - `packed`, one row per key with at least one surviving write: the
      same columns plus `_rows`, the winning events (order `o` and
      payload), from which `_pick` selects each column's value.

    Plan shape: see lww_collapse_partial."""
    if not payload_cols:
        raise ValueError("payload_cols is required (per-column semantics)")
    ev = df.withColumn("_ord", _packed_order(order_cols))
    is_ins = F.col("op") == "INSERT"
    is_upd = F.col("op") == "UPDATE"

    def writes(c: str):
        return is_ins | (is_upd & F.array_contains(F.col(updated_col), c))

    agg = ev.groupBy(key).agg(
        F.max("_ord").alias("_seq"),
        F.max(F.when(F.col("op") == "DELETE", F.col("_ord"))).alias("_del"),
        *[F.max(F.when(writes(c), F.col("_ord"))).alias(f"_w_{c}") for c in payload_cols],
    )
    summary = agg.select(
        key,
        "_seq",
        F.col("_del").isNotNull().alias("_had_del"),
        *[
            F.when(
                F.col(f"_w_{c}") > F.coalesce(F.col("_del"), F.lit(-(2**62))),
                F.col(f"_w_{c}"),
            ).alias(f"_w_{c}")
            for c in payload_cols
        ],
    )

    def any_of(conds):
        # greatest() needs >= 2 args
        return F.greatest(*conds) if len(conds) > 1 else conds[0]

    # only keys with a surviving write can match a winner row below
    winners = summary.filter(any_of([F.col(f"_w_{c}").isNotNull() for c in payload_cols]))
    if broadcast_winners:
        winners = F.broadcast(winners)
    # keep only rows that ARE some column's winner (each key yields
    # <= len(payload_cols) rows here)
    j = ev.join(winners, [key]).filter(
        any_of([F.col("_ord") == F.col(f"_w_{c}") for c in payload_cols])
    )
    # Final per-key assembly. `max(when(ord==w_c, c))` would be the
    # obvious reduction, but max/first over ARRAY payloads is a
    # declarative aggregate with a non-mutable buffer -> SortAggregate
    # (sorts the winner rows, which are final-state-sized — the exact
    # cost lww_collapse exists to avoid). collect_list is a
    # TypedImperativeAggregate -> ObjectHashAggregate: hash-based, no
    # sort, and bounded at <= len(payload_cols) rows per key by the
    # winner filter above.
    rows_struct = F.struct(F.col("_ord").alias("o"), *[F.col(c) for c in payload_cols])
    packed = j.groupBy(key).agg(
        F.collect_list(rows_struct).alias("_rows"),
        F.max("_seq").alias("_seq"),
        F.max("_had_del").alias("_had_del"),
        *[F.max(F.col(f"_w_{c}")).alias(f"_w_{c}") for c in payload_cols],
    )
    return summary, packed


def _pick(c: str):
    """Column c's value from its own winner row in `packed._rows`."""
    # single-arg lambda (a second arg would make PySpark pass the
    # element index); the outer-column reference resolves against
    # `packed`. try_element_at: the filtered list is EMPTY when the
    # column has no surviving winner (ANSI element_at would throw)
    return F.try_element_at(
        F.filter("_rows", lambda r: r["o"] == F.col(f"_w_{c}")), F.lit(1)
    )[c].alias(c)

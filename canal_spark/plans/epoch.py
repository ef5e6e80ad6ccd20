"""Epoch planning — bounded, deterministic LSN slices per source partition.

Canal analog: the client pull loop `getWithoutAck(batchSize)` bounds
each delivered batch by item count / memory
[C: server/.../CanalServerWithEmbedded.java :: #getWithoutAck;
store/.../MemoryEventStorePutGetImpl.java :: batchMode ITEMSIZE/MEMSIZE].

Spark-first: an epoch is `(from_lsn, to_lsn]` per source partition,
a pure function of (checkpoint, lsn_budget) — deterministic, so crash
re-runs re-derive the identical slice. The slice read pushes a coarse
global lsn range into the parquet scan (row-group pruning via min/max
stats on the lsn-sorted files) and refines per partition with a tiny
literal map — no join, no second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _read_log(
    spark: SparkSession, changelog_path: str, schema: StructType | None
) -> DataFrame:
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(changelog_path)


def changelog_schema(spark: SparkSession, changelog_path: str) -> StructType:
    """The changelog's schema, inferred from its parquet footers (one
    small Spark job). Callers learn it once and pass it to
    `partition_extents` / `read_slice`, so no later slice pays the
    inference again — valid because the changelog is immutable, the
    same assumption cached extents make."""
    return spark.read.parquet(changelog_path).schema


def partition_extents(
    spark: SparkSession, changelog_path: str, schema: StructType | None = None
) -> dict[int, int]:
    """Max lsn per source partition. One columnar scan of two columns,
    computed once per replay run (metadata-scale result: P rows)."""
    rows = (
        _read_log(spark, changelog_path, schema)
        .groupBy("source_partition")
        .agg(F.max("lsn").alias("mx"))
        .collect()
    )
    return {int(r["source_partition"]): int(r["mx"]) for r in rows}


def plan_epoch(
    checkpoints: dict[int, int],
    extents: dict[int, int],
    lsn_budget: int,
) -> dict[int, tuple[int, int]] | None:
    """Next epoch's (from_exclusive, to_inclusive] per partition, or
    None when every partition is exhausted."""
    bounds = {}
    for p, extent in extents.items():
        frm = checkpoints.get(p, -1)
        if frm >= extent:
            continue
        bounds[p] = (frm, min(frm + lsn_budget, extent))
    return bounds or None


def read_slice(
    spark: SparkSession,
    changelog_path: str,
    bounds: dict[int, tuple[int, int]],
    schema: StructType | None = None,
) -> DataFrame:
    """Epoch slice scan: coarse pushed-down lsn range + exact
    per-partition refinement (canal's position seek,
    [C: parse/.../AbstractEventParser.java :: #findStartPosition]).
    `schema` (see changelog_schema) skips the per-call footer
    inference job."""
    lo = min(b[0] for b in bounds.values())
    hi = max(b[1] for b in bounds.values())
    frm_map = F.create_map(*[F.lit(x) for p, (f, _) in bounds.items() for x in (p, f)])
    to_map = F.create_map(*[F.lit(x) for p, (_, t) in bounds.items() for x in (p, t)])
    sp = F.col("source_partition")
    return (
        _read_log(spark, changelog_path, schema)
        # coarse: reaches the parquet scan as PushedFilters (row-group pruning)
        .filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        # exact: per-partition range via literal maps (metadata-size expr)
        .filter(
            (F.col("lsn") > F.coalesce(frm_map[sp], F.lit(2**62)))
            & (F.col("lsn") <= F.coalesce(to_map[sp], F.lit(-1)))
        )
    )

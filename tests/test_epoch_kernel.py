"""The shared epoch-write kernel (engine.stage -> StagedEpoch.write ->
lineage -> commit) behind CdcEngine, the multi-table routes and the
streaming upsert."""

from __future__ import annotations

from canal_spark.engine import CdcEngine
from canal_spark.multi import MultiTableEngine, TableRoute
from canal_spark.plans.table import SnapshotTable
from canal_spark.streaming.stream import StreamingUpsert
from tests.conftest import assert_state_equals_oracle
from tests.oracle_replay import replay

_LINEAGE = {
    "n_events": "sum",
    "n_upserts": "sum",
    "n_deletes": "sum",
    "sum_n_tok": "sum",
    "min_lsn": "min",
    "max_lsn": "max",
    "max_ts": "max",
}


def _lineage_by_partition(spark, table) -> dict:
    lin = table.lineage_df(spark).toPandas()
    return lin.groupby("source_partition").agg(_LINEAGE).to_dict("index")


def test_lineage_records_agree_across_writers(spark, changelog_dir, tmp_path):
    """The batch engine, a catch-all route and the streaming upsert
    apply the same events, so their lineage must agree per source
    partition on every metric (routes used to record zero token sums
    and 1970 timestamps, the stream NULLs)."""
    batch = SnapshotTable.create(str(tmp_path / "batch"), n_buckets=4)
    CdcEngine(spark, changelog_dir, batch, lsn_budget=10**9).run_to_completion()
    routed = SnapshotTable.create(str(tmp_path / "routed"), n_buckets=4)
    MultiTableEngine(
        spark,
        changelog_dir,
        [TableRoute("all", routed)],
        str(tmp_path / "grp"),
        lsn_budget=10**9,
    ).run_to_completion()
    streamed = SnapshotTable.create(str(tmp_path / "streamed"), n_buckets=4)
    StreamingUpsert(spark, streamed).apply_batch(spark.read.parquet(changelog_dir), 0)

    want = _lineage_by_partition(spark, batch)
    assert len(want) == 4 and all(r["sum_n_tok"] > 0 for r in want.values())
    assert _lineage_by_partition(spark, routed) == want
    assert _lineage_by_partition(spark, streamed) == want


def test_staged_epoch_writes_after_concurrent_rebucket(spark, changelog_dir, tmp_path):
    """A rebucket committed between staging and writing (the race a
    writer's commit retry loop absorbs) changes the bucket layout: the
    write must address the new layout, not the staged bucket ids."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400)
    eng.run_epoch()
    eng.lsn_budget = 10**9  # stage the whole remainder of the log
    prep = eng._prepare(table.checkpoints(), table.current_epoch() + 1)
    staged = prep.staged
    try:
        table.rebucket(spark, 8)  # takes the staged epoch's number
        epoch = table.current_epoch() + 1
        rewritten, _ = staged.write(spark, epoch)
    finally:
        staged.release()
    assert table.commit(epoch, rewritten, prep.wms, staged.lineage(epoch))
    assert table.snapshot()["n_buckets"] == 8
    assert_state_equals_oracle(table.read(spark), replay(changelog_dir))

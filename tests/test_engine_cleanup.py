"""Failure paths must not leak cached partitions or abandoned
preparation threads (ADVICE r1: engine.py pipelined cleanup)."""

from __future__ import annotations

import pytest

import canal_spark.engine as eng_mod
from canal_spark.engine import CdcEngine
from canal_spark.plans.table import SnapshotTable


def _persisted_ids(spark) -> set[int]:
    # ids, not a count: earlier tests' localCheckpoint frames linger
    # until Python GC + ContextCleaner release them asynchronously, so
    # a shared-session COUNT baseline can shrink mid-test; the leak
    # property under test is "no NEW persisted RDD survives"
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


def test_execute_failure_unpersists_all_prepared_epochs(
    spark, changelog_dir, tmp_path, monkeypatch
):
    before = _persisted_ids(spark)

    def boom(*a, **k):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(eng_mod, "merge_epoch", boom)
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_to_completion()
    # both the failing epoch's winners and the concurrently-prepared
    # next epoch's winners must be unpersisted
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"engine leaked persisted RDDs: {sorted(leaked)}"
    # table untouched: resume works with the real merge
    monkeypatch.undo()
    eng2 = CdcEngine(spark, changelog_dir, table, lsn_budget=10**9)
    eng2.run_to_completion()
    from tests.conftest import assert_state_equals_oracle
    from tests.oracle_replay import replay

    assert_state_equals_oracle(table.read(spark), replay(changelog_dir))


def test_stream_and_route_failures_release_staged_epochs(
    spark, changelog_dir, tmp_path, monkeypatch
):
    """The streaming upsert and the multi-table routes stage through the
    same kernel (cached winners + lineage thread): a write failure in
    either must release both, and leave the tables resumable."""
    from canal_spark.multi import MultiTableEngine, TableRoute
    from canal_spark.streaming.stream import StreamingUpsert
    from tests.conftest import assert_state_equals_oracle
    from tests.oracle_replay import replay

    before = _persisted_ids(spark)

    def boom(*a, **k):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(eng_mod, "merge_epoch", boom)
    streamed = SnapshotTable.create(str(tmp_path / "s"), n_buckets=4)
    with pytest.raises(RuntimeError, match="injected"):
        StreamingUpsert(spark, streamed).apply_batch(
            spark.read.parquet(changelog_dir), 0
        )
    routed = SnapshotTable.create(str(tmp_path / "r"), n_buckets=4)
    routes = [TableRoute("all", routed)]
    grp = str(tmp_path / "grp")
    with pytest.raises(RuntimeError, match="injected"):
        MultiTableEngine(spark, changelog_dir, routes, grp, lsn_budget=400).run_epoch()
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"writers leaked persisted RDDs: {sorted(leaked)}"
    assert streamed.current_epoch() == 0 and routed.current_epoch() == 0

    monkeypatch.undo()
    assert StreamingUpsert(spark, streamed).apply_batch(
        spark.read.parquet(changelog_dir), 0
    )
    MultiTableEngine(spark, changelog_dir, routes, grp, lsn_budget=10**9).run_to_completion()
    oracle = replay(changelog_dir)
    assert_state_equals_oracle(streamed.read(spark), oracle)
    assert_state_equals_oracle(routed.read(spark), oracle)

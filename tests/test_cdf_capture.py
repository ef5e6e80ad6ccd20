"""Write-time CDF capture (Delta change-data-files analog): with
`CdcEngine(capture_changes=True)` every epoch also writes its net
change set (op, after, before, winner _seq) and `read_changes` serves
fully-captured ranges with one O(sum-of-deltas) aggregate instead of a
two-snapshot diff. The two paths must agree row-for-row."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from canal_spark.engine import CdcEngine
from canal_spark.plans.table import SnapshotTable


def _pdf(df):
    p = df.toPandas()
    for c in ("tokens", "before_tokens"):
        if c in p.columns:
            p[c] = p[c].map(lambda a: None if a is None else tuple(a))
    return p.sort_values("doc_id").reset_index(drop=True)


def _assert_parity(spark, table, a, b, drop=()):
    cap = table.read_changes(spark, a, b, with_before=True, source="captured")
    diff = table.read_changes(spark, a, b, with_before=True, source="diff")
    assert cap.columns == diff.columns
    pc, pd_ = _pdf(cap.drop(*drop)), _pdf(diff.drop(*drop))
    pd.testing.assert_frame_equal(pc, pd_)
    return pc


def _capture_replay(spark, changelog_dir, path, budget=400, **kw):
    table = SnapshotTable.create(str(path), n_buckets=8)
    eng = CdcEngine(
        spark, changelog_dir, table, lsn_budget=budget, capture_changes=True, **kw
    )
    eng.run_to_completion()
    return table, eng


def test_capture_parity_cow(spark, changelog_dir, tmp_path):
    table, _ = _capture_replay(spark, changelog_dir, tmp_path / "t")
    final = table.current_epoch()
    assert final >= 4
    # whole history, a mid slice, a single epoch, and the empty range
    full = _assert_parity(spark, table, 0, final)
    assert {"INSERT", "UPDATE", "DELETE"} >= set(full["op"])
    _assert_parity(spark, table, 1, 3)
    _assert_parity(spark, table, final - 1, final)
    empty = table.read_changes(spark, 2, 2, with_before=True, source="captured")
    assert empty.count() == 0
    assert (
        empty.columns
        == table.read_changes(spark, 2, 2, with_before=True, source="diff").columns
    )
    # every DML epoch carries a capture record pointing at real files
    for e in range(1, final + 1):
        rel = table.snapshot(e)["changes"]
        assert rel and os.path.isdir(os.path.join(table.root, rel))


def test_capture_parity_mor_and_across_compaction(spark, changelog_dir, tmp_path):
    table, eng = _capture_replay(
        spark, changelog_dir, tmp_path / "t", write_mode="mor"
    )
    mid = table.current_epoch()
    table.compact_files(spark, target_bytes=1 << 30)  # marked changes=""
    final = table.current_epoch()
    assert final == mid + 1
    # the compaction epoch is inside the range and provably empty:
    # the captured path must still serve it
    _assert_parity(spark, table, 0, final)
    _assert_parity(spark, table, mid - 1, final)


def test_capture_fallback_on_unmarked_epoch(spark, changelog_dir, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(
        spark, changelog_dir, table, lsn_budget=600, capture_changes=True
    )
    eng.run_epoch()
    e_ddl = eng.apply_schema_update("ADD_COLUMN", {"name": "lang", "type": "string"})
    eng.run_to_completion()
    final = table.current_epoch()
    # a DDL epoch has no capture record: forced-captured raises ...
    with pytest.raises(ValueError, match="no capture record"):
        table.read_changes(spark, 0, final, source="captured")
    # ... auto falls back to the diff and the results agree
    auto = _pdf(table.read_changes(spark, 0, final, with_before=True))
    diff = _pdf(table.read_changes(spark, 0, final, with_before=True, source="diff"))
    pd.testing.assert_frame_equal(auto, diff)
    # ranges strictly after the DDL are captured again
    if final > e_ddl:
        _assert_parity(spark, table, e_ddl, final)


def test_capture_seq_nuance_across_tombstone_gc(spark, changelog_dir, tmp_path):
    """compact_tombstones inside the range: all columns agree except
    the documented `_seq` nuance for deleted keys (capture reports the
    deletion's seq; the diff reports the superseded row's)."""
    table, eng = _capture_replay(spark, changelog_dir, tmp_path / "t")
    final_dml = table.current_epoch()
    dropped = table.compact_tombstones(
        spark, source_partitions=list(eng.extents.keys())
    )
    assert dropped > 0
    final = table.current_epoch()
    cap = _pdf(
        table.read_changes(spark, 0, final, with_before=True, source="captured")
    )
    diff = _pdf(table.read_changes(spark, 0, final, with_before=True, source="diff"))
    pd.testing.assert_frame_equal(cap.drop(columns="_seq"), diff.drop(columns="_seq"))
    agree = cap[cap.op != "DELETE"]["_seq"].reset_index(drop=True)
    assert agree.equals(diff[diff.op != "DELETE"]["_seq"].reset_index(drop=True))


def test_capture_orphans_swept_with_retention(spark, changelog_dir, tmp_path):
    table, _ = _capture_replay(spark, changelog_dir, tmp_path / "t")
    final = table.current_epoch()
    ch_root = os.path.join(table.root, "changes")
    n_before = len(os.listdir(ch_root))
    assert n_before == final  # one capture dir per DML epoch
    table.expire_snapshots(retain_last=2)
    removed = table.remove_orphans()
    assert removed > 0
    kept = os.listdir(ch_root)
    # retained epochs' captures survive; expired epochs' are gone
    assert len(kept) == 2
    _assert_parity(spark, table, final - 1, final)


def test_mv_refresh_served_by_capture(spark, changelog_dir, oracle_state, tmp_path):
    """The consumer the capture exists for: MV maintenance over a
    capture-enabled replay equals the from-scratch aggregate."""
    from canal_spark.operators.mv import MaterializedAggregate

    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(
        spark, changelog_dir, table, lsn_budget=400, capture_changes=True
    )
    mv = MaterializedAggregate(table, str(tmp_path / "mv"))
    while eng.run_epoch() is not None:
        mv.refresh(spark)
    got = {
        r["source"]: (r["cnt"], r["sum_value"]) for r in mv.read(spark).collect()
    }
    exp = oracle_state.groupby("source").agg(
        cnt=("doc_id", "size"), sum_value=("n_tok", "sum")
    )
    assert got == {
        s: (int(r.cnt), int(r.sum_value)) for s, r in exp.iterrows()
    }


def test_streaming_capture_parity(spark, changelog_dir, oracle_state, tmp_path):
    """StreamingUpsert(capture_changes=True): every micro-batch epoch
    records its capture, the captured feed agrees with the snapshot
    diff over the whole stream, and redelivery stays a no-op."""
    from canal_spark.streaming.stream import StreamingUpsert
    from tests.conftest import assert_state_equals_oracle

    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    su = StreamingUpsert(spark, table, capture_changes=True)
    q = su.start(changelog_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    q.awaitTermination(300)
    final = table.current_epoch()
    assert final == 4
    assert_state_equals_oracle(table.read(spark), oracle_state)
    for e in range(1, final + 1):
        assert table.snapshot(e)["changes"]
    _assert_parity(spark, table, 0, final)
    _assert_parity(spark, table, 1, 3)
    # manual redelivery: no new epoch, no new capture dirs
    n_dirs = len(os.listdir(os.path.join(table.root, "changes")))
    assert su.apply_batch(spark.read.parquet(changelog_dir), batch_id=0) is False
    assert table.current_epoch() == final
    assert len(os.listdir(os.path.join(table.root, "changes"))) == n_dirs


def test_capture_annotations_resolve():
    """The capture entry points' `DataFrame` annotations resolve at run
    time (typing.get_type_hints), not only as postponed strings: the
    capture itself and the epoch-write kernel that calls it."""
    import typing

    from pyspark.sql import DataFrame

    from canal_spark.engine import capture_epoch_changes, stage

    assert typing.get_type_hints(capture_epoch_changes)["delta"] is DataFrame
    assert typing.get_type_hints(stage)["apply_df"] is DataFrame

"""Incremental change reads (table-as-a-source, Delta-CDF analog):
read_changes(a, b) emits exactly the net row-level delta between two
snapshots — applying it to state(a) reconstructs state(b); logical
no-ops (compaction, re-deletes) emit nothing."""

from __future__ import annotations

import pyspark.sql.functions as F

from canal_spark.engine import CdcEngine
from canal_spark.plans.table import SnapshotTable
from tests.conftest import assert_state_equals_oracle

COLS = ["doc_id", "tokens", "n_tok", "source"]


def _apply_changes(state_a, changes):
    """The downstream-consumer contract: drop changed keys, add the new
    images of non-deletes."""
    keys = changes.select("doc_id")
    kept = state_a.join(keys, "doc_id", "left_anti")
    new = changes.filter(F.col("op") != "DELETE").select(*COLS)
    return kept.select(*COLS).unionByName(new)


def _frames_equal(x, y) -> bool:
    return x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0


def test_changes_reconstruct_later_snapshot(spark, changelog_dir, oracle_state, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400)
    for _ in range(3):
        eng.run_epoch()
    e1 = table.current_epoch()
    eng.run_to_completion()
    final = table.current_epoch()

    changes = table.read_changes(spark, e1, final)
    ops = {r["op"] for r in changes.select("op").distinct().collect()}
    assert "UPDATE" in ops and "INSERT" in ops, f"split must exercise ops, got {ops}"
    state_a = table.read(spark, epoch=e1, with_bucket=False)
    reconstructed = _apply_changes(state_a, changes)
    state_b = table.read(spark, epoch=final, with_bucket=False).select(*COLS)
    assert _frames_equal(reconstructed, state_b)
    assert_state_equals_oracle(reconstructed, oracle_state)


def test_changes_from_empty_are_pure_inserts(spark, changelog_dir, tmp_path):
    """(0, e): every bucket is held by the to-snapshot only — pure
    INSERTs with NULL before-images, and the rows ARE the table."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    CdcEngine(spark, changelog_dir, table, lsn_budget=10**9).run_to_completion()
    final = table.current_epoch()
    changes = table.read_changes(spark, 0, final, with_before=True)
    assert changes.columns == [
        "doc_id", "op", *COLS[1:], *[f"before_{c}" for c in COLS[1:]], "_seq"
    ]
    odd = F.col("op") != "INSERT"
    for c in COLS[1:]:
        odd = odd | F.col(f"before_{c}").isNotNull()
    assert changes.filter(odd).count() == 0
    assert _frames_equal(
        changes.select(*COLS), table.read(spark, epoch=final, with_bucket=False)
    )


def test_changes_compose_across_a_split(spark, changelog_dir, tmp_path):
    """Net changes compose: applying changes(0,e1) then changes(e1,f)
    equals applying changes(0,f) — flaps collapse consistently."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400)
    for _ in range(2):
        eng.run_epoch()
    e1 = table.current_epoch()
    eng.run_to_completion()
    final = table.current_epoch()
    empty = table.read(spark, epoch=0, with_bucket=False).select(*COLS)
    via_split = _apply_changes(
        _apply_changes(empty, table.read_changes(spark, 0, e1)),
        table.read_changes(spark, e1, final),
    )
    direct = _apply_changes(empty, table.read_changes(spark, 0, final))
    assert _frames_equal(via_split, direct)


def test_logical_noops_emit_nothing(spark, changelog_dir, tmp_path):
    """Compaction and tombstone GC rewrite files but change no logical
    row: the change feed between those epochs must be EMPTY."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400, write_mode="mor")
    eng.run_to_completion()
    pre = table.current_epoch()
    assert table.compact_files(spark, target_bytes=1 << 30)
    post = table.current_epoch()
    assert post == pre + 1
    assert table.read_changes(spark, pre, post).count() == 0
    # tombstone GC: visible state unchanged => no UPDATE/INSERT rows;
    # dropped tombstones were already invisible => no DELETE rows either
    dropped = eng.compact_tombstones()
    assert dropped > 0
    assert table.read_changes(spark, post, table.current_epoch()).count() == 0


def test_changes_include_deletes_with_null_payload(spark, changelog_dir, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400)
    for _ in range(3):
        eng.run_epoch()
    e1 = table.current_epoch()
    eng.run_to_completion()
    dels = table.read_changes(spark, e1, None).filter(F.col("op") == "DELETE")
    if dels.count():
        r = dels.first()
        assert r["tokens"] is None and r["n_tok"] is None and r["source"] is None


# ---------------------------------------------------------------------
# bucket classes of the snapshot diff: buckets only the to-snapshot
# holds scan as INSERTs, buckets only the from-snapshot holds as
# DELETEs, and only buckets both hold are joined — unless a rebucket
# inside the range changed the bucket count, which forces the join.


def _single_join(table, spark, frm, to):
    """The reference plan: ONE full-outer join over every differing
    bucket, whatever the bucket classes (with before-images)."""
    a, b = table.snapshot(frm), table.snapshot(to)
    key = b["key_col"]
    cols = [f["name"] for f in b["schemas"][str(b["schema_ver"])] if f["name"] != key]
    diff = sorted(
        int(bk)
        for bk in set(a["files"]) | set(b["files"])
        if a["files"].get(bk) != b["files"].get(bk)
    )
    a_fields = {f["name"] for f in a["schemas"][str(a["schema_ver"])]}
    types = {f["name"]: f["type"] for f in b["schemas"][str(b["schema_ver"])]}
    before = [
        (F.col(c) if c in a_fields else F.lit(None)).cast(types[c]).alias(f"_before_{c}")
        for c in cols
    ]
    return table._diff_join(spark, a, b, diff, key, cols, before)


def _visible_seqs(table, spark, epoch):
    return (
        table.read(spark, epoch=epoch, with_bucket=False, internal=True)
        .filter(~F.col("_tombstone"))
        .select("doc_id", "_seq")
        .toPandas()
    )


def _pandas_ops(table, spark, frm, to) -> dict:
    """Net op counts from a pandas diff of the two visible states."""
    m = _visible_seqs(table, spark, frm).merge(
        _visible_seqs(table, spark, to), on="doc_id", how="outer",
        suffixes=("_a", "_b"), indicator=True,
    )
    return {
        "INSERT": int((m["_merge"] == "right_only").sum()),
        "DELETE": int((m["_merge"] == "left_only").sum()),
        "UPDATE": int(((m["_merge"] == "both") & (m["_seq_a"] != m["_seq_b"])).sum()),
    }


def _op_counts(changes) -> dict:
    got = {r["op"]: r["count"] for r in changes.groupBy("op").count().collect()}
    return {op: int(got.get(op, 0)) for op in ("INSERT", "DELETE", "UPDATE")}


def test_changes_over_to_only_and_shared_buckets(spark, changelog_dir, tmp_path):
    """A 64-bucket table whose first epoch touches only some buckets:
    (e1, final) mixes to-only and shared buckets, and a rollback to e1
    makes the reverse range from-only + shared."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=64)
    CdcEngine(spark, changelog_dir, table, lsn_budget=4).run_epoch()
    e1 = table.current_epoch()
    CdcEngine(spark, changelog_dir, table, lsn_budget=10**9).run_to_completion()
    final = table.current_epoch()
    held_1 = set(table.snapshot(e1)["files"])
    held_f = set(table.snapshot(final)["files"])
    assert held_1 and held_f - held_1, "need both shared and to-only buckets"

    changes = table.read_changes(spark, e1, final, with_before=True)
    assert _frames_equal(changes, _single_join(table, spark, e1, final))
    reconstructed = _apply_changes(table.read(spark, epoch=e1, with_bucket=False), changes)
    assert _frames_equal(
        reconstructed, table.read(spark, epoch=final, with_bucket=False).select(*COLS)
    )
    assert _op_counts(changes) == _pandas_ops(table, spark, e1, final)

    # reverse: the rolled-back snapshot holds e1's buckets only
    back = table.rollback_to(e1)
    rev = table.read_changes(spark, final, back, with_before=True)
    assert _frames_equal(rev, _single_join(table, spark, final, back))
    counts = _op_counts(rev)
    assert counts["DELETE"] > 0 and counts == _pandas_ops(table, spark, final, back)


def test_changes_across_rebuckets(spark, changelog_dir, tmp_path):
    """Rebucketing moves keys to other buckets; a per-bucket split
    without the bucket-count guard would emit DELETE + INSERT for each
    moved key. Maintenance-only ranges must be empty (`source="diff"`:
    otherwise their capture records serve them), and a range with DML
    and an 8->16 rebucket must still rebuild the later state."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=600)
    eng.run_epoch()
    e1 = table.current_epoch()
    eng.run_to_completion()
    e8 = table.current_epoch()
    e16 = table.rebucket(spark, 16)
    e8b = table.rebucket(spark, 8)
    for frm, to in ((e8, e16), (e16, e8b), (e8, e8b)):
        changes = table.read_changes(spark, frm, to, with_before=True, source="diff")
        assert changes.count() == 0, (frm, to)
    changes = table.read_changes(spark, e1, e16)
    reconstructed = _apply_changes(table.read(spark, epoch=e1, with_bucket=False), changes)
    assert _frames_equal(
        reconstructed, table.read(spark, epoch=e16, with_bucket=False).select(*COLS)
    )
    assert _op_counts(changes) == _pandas_ops(table, spark, e1, e16)


def test_planning_reads_starts_no_spark_job(spark, changelog_dir, tmp_path):
    """Reads are planned from the manifest: building read / read_changes
    frames over a history with an ADD_COLUMN runs no Spark job (no
    footer inference), and old files still read the new column as
    NULL."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=400)
    eng.run_epoch()
    e1 = table.current_epoch()
    eng.apply_schema_update("ADD_COLUMN", {"name": "lang", "type": "string"})
    eng.run_epoch()
    final = table.current_epoch()
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return sorted(tracker.getJobIdsForGroup())

    before = jobs()
    frames = [
        table.read(spark),
        table.read(spark, epoch=e1, internal=True),
        table.read_changes(spark, 0, final, with_before=True),
        table.read_changes(spark, e1, final, with_before=True),
    ]
    assert jobs() == before
    cur = frames[0]
    assert "lang" in cur.columns and "lang" not in frames[1].columns
    assert cur.count() > 0 and cur.filter(F.col("lang").isNotNull()).count() == 0
    assert frames[3].filter(F.col("before_lang").isNotNull()).count() == 0

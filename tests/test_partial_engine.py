"""Engine-level sparse-row-image apply (canal Column#updated parity):
CdcEngine(partial_updates=True) coalesces UPDATE events that carry only
their changed columns against the stored row, per column, epoch by
epoch — vs the independent pandas oracle's per-column replay.
"""

from __future__ import annotations

import math
import shutil

import pytest

from canal_spark.engine import CdcEngine
from canal_spark.plans.table import SnapshotTable
from canal_spark.sources.changelog import ChangelogSpec, generate_changelog
from tests.oracle_replay import replay


def _norm_n(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return int(v)


def _norm_rows(pdf):
    out = {}
    for r in pdf.itertuples(index=False):
        toks = None if r.tokens is None else list(r.tokens)
        src = r.source if isinstance(r.source, str) else None
        out[r.doc_id] = (toks, _norm_n(r.n_tok), src)
    return out


@pytest.fixture(scope="module")
def partial_log(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plog"))
    generate_changelog(
        d, ChangelogSpec(n_events=6000, n_partitions=4, n_keys=250, partial_updates=True)
    )
    return d


def test_partial_engine_watermark_skew_parity(spark, tmp_path, caplog):
    """ADVICE r5 (high) reproduction: a 2-partition log where p1's only
    write to a key sits inside a transaction committing past the lsn
    budget. Unbarriered per-partition watermarks let p0 race ahead in
    epoch 1, then epoch 2 applies p1's SMALLER-ord column write and the
    single per-key `_seq` guard drops it (engine said srcA, oracle
    srcB). The partial-mode global clean-cut barrier must make the
    engine match the sequential oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from canal_spark.sources.changelog import BASE_TS_US, SCHEMA

    # p0: INSERT k lsn1 (own tx), UPDATE tokens lsn10 (own tx)
    # p1: UPDATE source lsn5 in a tx committing at lsn20
    rows = [
        # (op, doc_id, lsn, sp, tx_id, tx_commit, tokens, n_tok, source, updated)
        ("INSERT", "k", 1, 0, 100, True, [7], 1, "srcA", ["tokens", "n_tok", "source"]),
        ("UPDATE", "k", 10, 0, 101, True, [9], 1, None, ["tokens"]),
        ("UPDATE", "k", 5, 1, 200, False, None, None, "srcB", ["source"]),
        ("UPDATE", "other", 20, 1, 200, True, [3], 1, None, ["tokens", "n_tok"]),
    ]
    schema = SCHEMA.append(pa.field("updated_cols", pa.list_(pa.string())))
    table = pa.Table.from_pydict(
        {
            "op": [r[0] for r in rows],
            "doc_id": [r[1] for r in rows],
            "lsn": pa.array([r[2] for r in rows], pa.int64()),
            "source_partition": pa.array([r[3] for r in rows], pa.int32()),
            "tx_id": pa.array([r[4] for r in rows], pa.int64()),
            "tx_commit": [r[5] for r in rows],
            "ts": pa.array([BASE_TS_US + i for i in range(len(rows))], pa.timestamp("us")),
            "tokens": pa.array([r[6] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([r[7] for r in rows], pa.int32()),
            "source": [r[8] for r in rows],
            "schema_ver": pa.array([1] * len(rows), pa.int32()),
            "updated_cols": pa.array([r[9] for r in rows], pa.list_(pa.string())),
        },
        schema=schema,
    )
    log = str(tmp_path / "skewlog")
    import os

    os.makedirs(log, exist_ok=True)
    pq.write_table(table, os.path.join(log, "part-p0000.parquet"))

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    eng = CdcEngine(spark, log, t, lsn_budget=12, partial_updates=True)
    with caplog.at_level("WARNING", logger="canal_spark.engine"):
        eng.run_to_completion()
    # the p1 transaction straddles the barrier: the slice must grow,
    # and partial mode reports each doubling
    assert any(
        r.levelname == "WARNING" and "lsn budget doubled" in r.getMessage()
        for r in caplog.records
    )
    got = _norm_rows(
        t.read(spark).select("doc_id", "tokens", "n_tok", "source").toPandas()
    )
    exp = {
        r.doc_id: (
            r.tokens,
            _norm_n(r.n_tok),
            r.source if isinstance(r.source, str) else None,
        )
        for r in replay(log).itertuples(index=False)
    }
    assert got == exp
    assert got["k"][2] == "srcB", got  # the skewed column write must land


def test_partial_engine_with_inline_ddl_rename(spark, tmp_path):
    """VERDICT r5 task 8: partial_updates x DDL. `updated_cols` names
    CHANGELOG fields while a RENAME changes the table schema
    mid-stream — align_to_schema's field-id map must route post-DDL
    sparse writes to the renamed column, and the partial-mode global
    barrier must hold across the DDL epoch (the clamped at-extent
    slice must NOT take the apply-the-remainder fallback). Golden
    DML -> DDL -> DML replay, per-column expected state by hand."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from canal_spark.sources.changelog import BASE_TS_US, SCHEMA

    rows = [
        # (op, doc_id, lsn, sp, tx_id, commit, tokens, n_tok, source, updated)
        ("INSERT", "k", 1, 0, 100, True, [1], 1, "sA", ["tokens", "n_tok", "source"]),
        ("INSERT", "k2", 2, 1, 200, True, [2], 1, "sX", ["tokens", "n_tok", "source"]),
        ("UPDATE", "k", 4, 0, 101, True, None, None, "sB", ["source"]),
        # ---- DDL RENAME source->origin at (lsn 5, partition 0) ----
        ("UPDATE", "k", 8, 0, 102, True, [9], 1, None, ["tokens", "n_tok"]),
        ("UPDATE", "k", 10, 1, 201, True, None, None, "sC", ["source"]),
    ]
    schema = SCHEMA.append(pa.field("updated_cols", pa.list_(pa.string())))
    table = pa.Table.from_pydict(
        {
            "op": [r[0] for r in rows],
            "doc_id": [r[1] for r in rows],
            "lsn": pa.array([r[2] for r in rows], pa.int64()),
            "source_partition": pa.array([r[3] for r in rows], pa.int32()),
            "tx_id": pa.array([r[4] for r in rows], pa.int64()),
            "tx_commit": [r[5] for r in rows],
            "ts": pa.array([BASE_TS_US + i for i in range(len(rows))], pa.timestamp("us")),
            "tokens": pa.array([r[6] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([r[7] for r in rows], pa.int32()),
            "source": [r[8] for r in rows],
            "schema_ver": pa.array([1] * len(rows), pa.int32()),
            "updated_cols": pa.array([r[9] for r in rows], pa.list_(pa.string())),
        },
        schema=schema,
    )
    log = str(tmp_path / "pddl_log")
    os.makedirs(log, exist_ok=True)
    pq.write_table(table, os.path.join(log, "part-p0000.parquet"))
    ddl = str(tmp_path / "pddl_events")
    os.makedirs(ddl, exist_ok=True)
    ddl_tbl = pa.Table.from_pydict(
        {
            "lsn": pa.array([5], pa.int64()),
            "source_partition": pa.array([0], pa.int32()),
            "kind": ["RENAME_COLUMN"],
            "payload": [_json.dumps({"from": "source", "to": "origin"})],
        }
    )
    pq.write_table(ddl_tbl, os.path.join(ddl, "part-0.parquet"))

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    eng = CdcEngine(
        spark, log, t, lsn_budget=3, partial_updates=True, ddl_events_path=ddl
    )
    eng.run_to_completion()
    assert t.snapshot()["schema_ver"] == 2
    got = {
        r["doc_id"]: (
            None if r["tokens"] is None else list(r["tokens"]),
            r["n_tok"],
            r["origin"],
        )
        for r in t.read(spark).select("doc_id", "tokens", "n_tok", "origin").collect()
    }
    # k: tokens from lsn8, source-chain sA->sB->sC lands in `origin`
    # (lsn10's sparse write, named by the CHANGELOG field, post-rename)
    assert got == {"k": ([9], 1, "sC"), "k2": ([2], 1, "sX")}, got


def test_partial_engine_oracle_parity_and_rerun(spark, partial_log, tmp_path):
    """Multi-epoch partial replay == the oracle's per-column sequential
    replay, row-for-row including NULLs a sparse write left behind; a
    rerun on the completed table is a no-op."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, partial_log, table, lsn_budget=1200, partial_updates=True)
    n_epochs = eng.run_to_completion()
    assert n_epochs >= 3, "fixture must exercise cross-epoch carry-forward"

    got = _norm_rows(
        table.read(spark).select("doc_id", "tokens", "n_tok", "source").toPandas()
    )
    exp = {
        r.doc_id: (r.tokens, _norm_n(r.n_tok), r.source if isinstance(r.source, str) else None)
        for r in replay(partial_log).itertuples(index=False)
    }
    assert got == exp
    # some rows must actually exhibit the sparse carry (a NULL column
    # beside a non-NULL one), else the fixture isn't testing anything
    assert any(v[0] is None and v[2] is not None for v in got.values())
    assert any(v[0] is not None and v[2] is None for v in got.values())

    assert eng.run_epoch() is None


def test_partial_engine_resume_parity(spark, partial_log, tmp_path):
    """Kill after 2 epochs, resume from a FRESH handle: the carried
    columns must come out identical to an uninterrupted replay."""
    path = str(tmp_path / "t")
    table = SnapshotTable.create(path, n_buckets=8)
    eng = CdcEngine(spark, partial_log, table, lsn_budget=1200, partial_updates=True)
    eng.run_epoch()
    eng.run_epoch()

    resumed = SnapshotTable(path)
    CdcEngine(
        spark, partial_log, resumed, lsn_budget=1200, partial_updates=True
    ).run_to_completion()
    got = _norm_rows(
        resumed.read(spark).select("doc_id", "tokens", "n_tok", "source").toPandas()
    )
    exp = {
        r.doc_id: (r.tokens, _norm_n(r.n_tok), r.source if isinstance(r.source, str) else None)
        for r in replay(partial_log).itertuples(index=False)
    }
    assert got == exp


def test_partial_rejects_incompatible_modes(spark, partial_log, tmp_path):
    """Row-granular machinery (MoR `_seq` resolution, CDF capture, sink
    fan-out of full row images) is rejected, not silently mis-applied."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    for kw in (
        {"write_mode": "mor"},
        {"capture_changes": True},
        {"sinks": (object(),)},
    ):
        with pytest.raises(ValueError, match="partial_updates"):
            CdcEngine(spark, partial_log, table, partial_updates=True, **kw)


def test_tombstone_payload_never_resurrects(spark, tmp_path):
    """A stored DELETE row keeps its event's `source` (the changelog
    carries it for routing); a later sparse UPDATE that doesn't write
    `source` must NOT resurrect it from the tombstone — the column is
    NULL because the delete wiped the row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from canal_spark.sources.changelog import SCHEMA

    rows = [
        # epoch 1: insert then delete (tombstone stored, source=src1 on the event)
        ("INSERT", "k1", 1, [7, 8], 2, "src1", ["tokens", "n_tok", "source"]),
        ("DELETE", "k1", 2, None, None, "src1", []),
        # epoch 2: sparse update writes tokens only
        ("UPDATE", "k1", 10, [9], 1, None, ["tokens", "n_tok"]),
    ]
    schema = SCHEMA.append(pa.field("updated_cols", pa.list_(pa.string())))
    base_ts = 1_767_225_600_000_000
    tbl = pa.table(
        {
            "op": pa.array([r[0] for r in rows]),
            "doc_id": pa.array([r[1] for r in rows]),
            "lsn": pa.array([r[2] for r in rows], type=pa.int64()),
            "source_partition": pa.array([0] * 3, type=pa.int32()),
            "tx_id": pa.array([1, 2, 3], type=pa.int64()),
            "tx_commit": pa.array([True] * 3),
            "ts": pa.array([base_ts + i for i in range(3)], type=pa.timestamp("us")),
            "tokens": pa.array([r[3] for r in rows], type=pa.list_(pa.int32())),
            "n_tok": pa.array([r[4] for r in rows], type=pa.int32()),
            "source": pa.array([r[5] for r in rows]),
            "schema_ver": pa.array([1] * 3, type=pa.int32()),
            "updated_cols": pa.array([r[6] for r in rows], type=pa.list_(pa.string())),
        },
        schema=schema,
    )
    log = str(tmp_path / "log")
    import os

    os.makedirs(log)
    pq.write_table(tbl, f"{log}/part-0.parquet")

    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    eng = CdcEngine(spark, log, table, lsn_budget=5, partial_updates=True)
    n = eng.run_to_completion()
    assert n == 2, "delete and sparse re-create must land in separate epochs"
    out = table.read(spark).select("doc_id", "tokens", "n_tok", "source").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_id"], list(r["tokens"]), r["n_tok"], r["source"]) == (
        "k1",
        [9],
        1,
        None,
    )

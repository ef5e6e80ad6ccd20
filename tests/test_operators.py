"""Unit tests for the operator kernels: filters, tx barrier, LWW, merge
bucket pruning, epoch-slice pushdown."""

from __future__ import annotations

import pyspark.sql.functions as F

from canal_spark.engine import CdcEngine
from canal_spark.operators import filters
from canal_spark.operators.lww import lww_collapse
from canal_spark.operators.txn import committed_watermarks, tx_barrier
from canal_spark.plans.epoch import read_slice
from canal_spark.plans.table import SnapshotTable


def test_filters_semantics(spark, changelog_dir):
    df = spark.read.parquet(changelog_dir)
    wl = filters.whitelist(df, "^src[0-3]$")
    assert wl.select("source").distinct().count() == 4
    bl = filters.blacklist(df, "^src[0-3]$")
    assert bl.filter(F.col("source").rlike("^src[0-3]$")).count() == 0
    assert wl.count() + bl.count() == df.count()
    ops = filters.op_filter(df)
    assert set(r["op"] for r in ops.select("op").distinct().collect()) == {
        "INSERT",
        "UPDATE",
        "DELETE",
    }
    assert filters.drop_heartbeats(df).count() + df.filter("op = 'HEARTBEAT'").count() == df.count()


def test_tx_barrier_holds_back_incomplete_tail(spark):
    rows = [
        # partition 0: tx 1 committed at lsn 3, tx 2 incomplete (no marker)
        ("INSERT", "a", 1, 0, 1, False),
        ("UPDATE", "a", 2, 0, 1, False),
        ("INSERT", "b", 3, 0, 1, True),
        ("UPDATE", "b", 4, 0, 2, False),
        ("DELETE", "a", 5, 0, 2, False),
        # partition 1: everything committed
        ("INSERT", "c", 2, 1, 3, True),
    ]
    df = spark.createDataFrame(
        rows, "op string, doc_id string, lsn long, source_partition int, tx_id long, tx_commit boolean"
    )
    wms = committed_watermarks(df, floors={0: -1, 1: -1})
    assert wms == {0: 3, 1: 2}
    kept = tx_barrier(df, wms)
    assert kept.count() == 4
    assert kept.filter("lsn > 3 and source_partition = 0").count() == 0


def test_lww_variants_agree_and_match_window(spark, changelog_dir):
    from canal_spark.operators.lww import lww_collapse_maxby

    df = filters.op_filter(spark.read.parquet(changelog_dir))
    a = lww_collapse(df, payload_cols=("op", "n_tok")).toPandas().sort_values("doc_id")
    d = lww_collapse_maxby(df, payload_cols=("op", "n_tok")).toPandas().sort_values("doc_id")
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("lsn"), F.desc("source_partition"))
    c = (
        df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", "op", "n_tok")
        .toPandas()
        .sort_values("doc_id")
    )
    for other in (d, c):
        assert list(a.doc_id) == list(other.doc_id)
        assert list(a.op) == list(other.op)
        assert list(a.n_tok.fillna(-1)) == list(other.n_tok.fillna(-1))


def test_lww_plan_shape(spark, changelog_dir):
    """Scale guard: LWW must be a fixed-width HASH aggregate (map-side
    partial combine collapses hot keys BEFORE the shuffle) followed by a
    broadcast winner join — never a SortAggregate (the max_by-over-wide-
    struct fallback) and never a window."""
    df = filters.op_filter(spark.read.parquet(changelog_dir))
    plan = lww_collapse(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_epoch_slice_pushes_lsn_filter_to_scan(spark, changelog_dir):
    sl = read_slice(spark, changelog_dir, {0: (100, 600), 1: (50, 900)})
    plan = sl._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(lsn" in plan, plan
    pdf = sl.toPandas()
    assert set(pdf.source_partition.unique()) <= {0, 1}
    for p, (f, t) in {0: (100, 600), 1: (50, 900)}.items():
        g = pdf[pdf.source_partition == p]
        assert (g.lsn > f).all() and (g.lsn <= t).all()


def test_merge_bucket_pruning_carries_untouched_files(spark, changelog_dir, tmp_path):
    """Copy-on-write: an epoch touching few keys must rewrite only the
    affected buckets; all other bucket files carry forward by path."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=16)
    eng = CdcEngine(spark, changelog_dir, table, lsn_budget=10**9)
    eng.run_to_completion()
    files_before = {b: [f["path"] for f in v] for b, v in table.snapshot()["files"].items()}

    # hand-craft a tiny epoch touching exactly one key
    from canal_spark.plans.table import bucket_expr

    one = spark.createDataFrame(
        [("UPDATE", "d0000001", [1, 2, 3], 3, "src1", 2**60)],
        "op string, doc_id string, tokens array<int>, n_tok int, source string, _seq long",
    )
    target_bucket = one.select(bucket_expr("doc_id", 16).alias("b")).collect()[0]["b"]
    from canal_spark.operators.merge import merge_epoch

    e = table.current_epoch() + 1
    rewritten = merge_epoch(spark, table, one, e)
    assert set(rewritten) == {target_bucket}
    table.commit(e, rewritten, {}, [])

    files_after = {b: [f["path"] for f in v] for b, v in table.snapshot()["files"].items()}
    for b in files_before:
        if int(b) != target_bucket:
            assert files_after[b] == files_before[b]  # carried by reference
    assert files_after[str(target_bucket)] != files_before.get(str(target_bucket))
    got = table.read(spark).filter("doc_id = 'd0000001'").collect()
    assert len(got) == 1 and got[0]["tokens"] == [1, 2, 3]


def test_train_val_split_boundary_fracs(spark):
    """val_frac=1.0 must label (essentially) everything 'val' — the
    naive threshold format produced a 9-char string and silently sent
    ~94% to 'train'; 0.0 must produce no 'val' rows."""
    import pyspark.sql.functions as F

    from canal_spark.functions.text import train_val_split

    d = spark.range(200).select(F.col("id").alias("doc_id"))
    all_val = train_val_split(d, val_frac=1.0)
    assert all_val.filter(F.col("split") == "train").count() == 0
    none_val = train_val_split(d, val_frac=0.0)
    assert none_val.filter(F.col("split") == "val").count() == 0
    some = train_val_split(d, val_frac=0.25).filter(F.col("split") == "val").count()
    assert 20 <= some <= 80, f"0.25 split wildly off: {some}/200"


def test_partial_update_collapse_semantics(spark):
    """Column-level LWW corner cases: sparse updates never null out
    older still-current writes; DELETE clears everything before it;
    UPDATE after DELETE recreates a partial row; INSERT resets ALL
    columns (a pre-insert sparse write must not leak through); an
    explicit NULL written by a winning event IS the final value."""
    from canal_spark.operators.lww import lww_collapse_partial

    rows = [
        # key a: insert full, then sparse updates to each column
        ("INSERT", "a", 1, ["x", "y"], "v1", "p1"),
        ("UPDATE", "a", 2, ["x"], "v2", None),     # writes x only
        ("UPDATE", "a", 3, ["y"], None, "p3"),     # writes y only
        # key b: delete clears; later sparse update recreates partially
        ("INSERT", "b", 1, ["x", "y"], "bv", "bp"),
        ("DELETE", "b", 2, [], None, None),
        ("UPDATE", "b", 3, ["y"], None, "bp3"),
        # key c: sparse update BEFORE a re-insert must not survive it
        ("INSERT", "c", 1, ["x", "y"], "cv1", "cp1"),
        ("UPDATE", "c", 2, ["y"], None, "cp2"),
        ("DELETE", "c", 3, [], None, None),
        ("INSERT", "c", 4, ["x", "y"], "cv4", None),  # explicit NULL y
        # key d: only deletes -> absent
        ("DELETE", "d", 1, [], None, None),
    ]
    df = spark.createDataFrame(
        rows, "op string, k string, lsn long, updated_cols array<string>, x string, y string"
    )
    out = {
        r["k"]: (r["x"], r["y"])
        for r in lww_collapse_partial(
            df, key="k", order_cols=("lsn",), payload_cols=("x", "y")
        ).collect()
    }
    assert out == {
        "a": ("v2", "p3"),
        "b": (None, "bp3"),
        "c": ("cv4", None),
    }


def test_partial_update_collapse_single_payload_column(spark):
    """One payload column is a documented-valid input: both greatest()
    call sites need the single-column guard (ADVICE r5 — the unguarded
    form raised an opaque PySpark AssertionError)."""
    from canal_spark.operators.lww import lww_collapse_partial

    rows = [
        ("INSERT", "a", 1, ["x"], "v1"),
        ("UPDATE", "a", 2, ["x"], "v2"),
        ("INSERT", "b", 1, ["x"], "bv"),
        ("DELETE", "b", 2, [], None),
        ("DELETE", "d", 1, [], None),
    ]
    df = spark.createDataFrame(
        rows, "op string, k string, lsn long, updated_cols array<string>, x string"
    )
    out = {
        r["k"]: r["x"]
        for r in lww_collapse_partial(
            df, key="k", order_cols=("lsn",), payload_cols=("x",)
        ).collect()
    }
    assert out == {"a": "v2"}


def test_partial_update_plan_is_sortfree_and_broadcast(spark, changelog_dir):
    """Same plan contract as lww_collapse: fixed-width hash aggregate
    (no Sort/SortAggregate before the winner join) and a broadcast
    winner join — the wide payload never shuffles."""
    from canal_spark.operators.lww import lww_collapse_partial

    df = (
        spark.read.parquet(changelog_dir)
        .filter(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
        .withColumn(
            "updated_cols",
            F.when(F.col("lsn") % 2 == 0, F.array(F.lit("tokens"), F.lit("n_tok")))
            .otherwise(F.array(F.lit("source"))),
        )
    )
    out = lww_collapse_partial(
        df, payload_cols=("tokens", "n_tok", "source")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortAggregate" not in plan
    # correctness spot-check vs a per-column window reference
    from pyspark.sql import Window

    ref = df.withColumn("_o", (F.col("lsn") * 4096) + F.col("source_partition"))
    w = Window.partitionBy("doc_id")
    dels = ref.withColumn(
        "_del", F.max(F.when(F.col("op") == "DELETE", F.col("_o"))).over(w)
    )
    per_col = {}
    for c in ("tokens", "n_tok", "source"):
        writes = (F.col("op") == "INSERT") | (
            (F.col("op") == "UPDATE") & F.array_contains("updated_cols", c)
        )
        x = dels.withColumn(
            "_wc", F.max(F.when(writes, F.col("_o"))).over(w)
        ).filter(
            (F.col("_o") == F.col("_wc"))
            & (F.col("_wc") > F.coalesce(F.col("_del"), F.lit(-(2**62))))
        )
        per_col[c] = {r["doc_id"]: r[c] for r in x.select("doc_id", c).collect()}
    got = {r["doc_id"]: r for r in out.collect()}
    keys = set().union(*[set(v) for v in per_col.values()])
    assert set(got) == keys
    for k in keys:
        for c in ("tokens", "n_tok", "source"):
            exp = per_col[c].get(k)
            gv = got[k][c]
            if c == "tokens":
                # normalize list-vs-None so [] never equals a missing write
                assert (gv is None) == (exp is None), (k, c, gv, exp)
                if gv is not None:
                    assert list(gv) == list(exp), (k, c, gv, exp)
            else:
                assert gv == exp, (k, c, gv, exp)

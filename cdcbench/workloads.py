"""The CDC ingest workloads: input generation, set-up, and one
repetition each, driven only through canal_spark's public API.

Every workload is a closed loop: an epoch starts when the previous one
has committed, and each consumer read runs after its epoch.

- replay_hot: catch-up replay of a Zipf hot-key changelog (~80 events
  per key) in a few large copy-on-write epochs, pipelined through
  `CdcEngine.run_to_completion`. One consumer scan and one
  `read_changes` per repetition.
- mor_read_mix: tailing a key-dense changelog (~2 events per key) under
  merge-on-read with `auto_compact_fragments` set. About 90% of the log
  is seeded as one epoch during set-up; each repetition copies the
  seeded table and applies the tail as small epochs through
  `CdcEngine.run_epoch`. After every epoch a consumer scans the whole
  table and reads that epoch's changes.

Each repetition ends with a row-by-row comparison of the final table
(tokens included) against the independent sequential replayer in
`tests/oracle_replay.py`, whose output is computed once per changelog
during set-up.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc

from canal_spark.engine import CdcEngine
from canal_spark.plans.table import SnapshotTable
from canal_spark.sources.changelog import ChangelogSpec, generate_changelog

STATE_COLS = ("doc_id", "tokens", "n_tok", "source")
STATE_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)
#: the job group of every Spark action the benchmark itself runs
#: (consumer reads, parity reads), so engine jobs can be counted apart
HARNESS_GROUP = "cdcbench"


@dataclass(frozen=True)
class Scale:
    """Input sizes. `FULL` is what the benchmark measures; `TINY` is
    the self-test."""

    hot_events: int
    hot_keys: int
    hot_epochs: int
    dense_events: int
    tail_epochs: int
    compact_every: int
    warmup_reps: int
    n_partitions: int = 16
    n_buckets: int = 16
    seed_share: float = 0.9


FULL = Scale(
    hot_events=200_000, hot_keys=2_500, hot_epochs=3,
    dense_events=50_000, tail_epochs=3, compact_every=2, warmup_reps=1,
)
TINY = Scale(
    hot_events=8_000, hot_keys=100, hot_epochs=2,
    dense_events=6_000, tail_epochs=3, compact_every=2, warmup_reps=1,
    n_partitions=4, n_buckets=4,
)


@dataclass
class Phase:
    """Samples of one measured phase (untraced or traced)."""

    epoch_s: list[float] = field(default_factory=list)
    events: int = 0
    scan_s: list[float] = field(default_factory=list)
    changes_s: list[float] = field(default_factory=list)
    rep_wall_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: per-repetition layout facts read from the snapshot manifests
    layout: list[dict] = field(default_factory=list)

    @property
    def epochs(self) -> int:
        return len(self.epoch_s)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        print(f"FAILED {what}: {exc!r}" if exc else f"FAILED {what}", file=sys.stderr)


class Workload:
    """Base: holds the Spark session, the work directory and the
    inputs; subclasses implement `setup` and `rep`."""

    name = ""

    def __init__(self, spark, work: str, seed: int, scale: Scale) -> None:
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.collect_layout = False
        self._n = 0

    # -------------------------------------------------------- set-up
    def _make_log(self, spec: ChangelogSpec) -> None:
        from tests.oracle_replay import replay

        self.spec = spec
        self.log = generate_changelog(os.path.join(self.work, "changelog"), spec)
        want = replay(self.log)
        self.want = pa.Table.from_pandas(want, schema=STATE_SCHEMA, preserve_index=False)

    def _fresh_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"rep{self._n:04d}")

    def _drop(self, d: str) -> None:
        shutil.rmtree(d, ignore_errors=True)

    # ------------------------------------------------------ consumers
    def _harness(self) -> None:
        self.spark.sparkContext.setJobGroup(HARNESS_GROUP, "benchmark consumer", False)

    def _engine(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _consume(self, ph: Phase, table: SnapshotTable, tracer, frm: int, to: int) -> None:
        """One full scan into a noop sink, then read_changes(frm, to)."""
        self._harness()
        try:
            for what, samples, make in (
                ("table.read", ph.scan_s, lambda: table.read(self.spark)),
                ("table.read_changes", ph.changes_s,
                 lambda: table.read_changes(self.spark, frm, to)),
            ):
                ph.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        make().write.format("noop").mode("overwrite").save()
                    else:
                        with tracer.span(what):
                            make().write.format("noop").mode("overwrite").save()
                except Exception as ex:  # noqa: BLE001 - counted, run goes on
                    ph.fail(what, ex)
                    continue
                samples.append(time.perf_counter() - t0)
        finally:
            self._engine()

    def _check(self, ph: Phase, table: SnapshotTable) -> None:
        """Final state vs the oracle, row by row, tokens included."""
        ph.attempted += 1
        self._harness()
        try:
            got = table.read(self.spark).select(*STATE_COLS).toArrow()
        except Exception as ex:  # noqa: BLE001 - counted as a failed check
            ph.fail("parity read", ex)
            return
        finally:
            self._engine()
        diff = state_diff(got, self.want)
        if diff:
            ph.fail(f"parity: {diff}")

    def _layout(self, ph: Phase, table: SnapshotTable, first: int, last: int, events: int) -> None:
        """Write volume and file layout of epochs (first, last], read
        from the snapshot manifests and the files they name."""
        if not self.collect_layout:
            return
        data_bytes = frag_rows = meta_bytes = frag_max = 0
        prev = table.snapshot(first)["files"]
        for e in range(first + 1, last + 1):
            files = table.snapshot(e)["files"]
            old = {fe["path"] for fs in prev.values() for fe in fs}
            for fs in files.values():
                for fe in fs:
                    if fe["path"] not in old:
                        data_bytes += os.path.getsize(os.path.join(table.root, fe["path"]))
                        if fe.get("frag"):
                            frag_rows += int(fe.get("rows", 0))
                frag_max = max(frag_max, sum(1 for fe in fs if fe.get("frag")))
            meta_bytes += os.path.getsize(
                os.path.join(table.meta_dir, f"snapshot-{e:08d}.json")
            )
            prev = files
        ph.layout.append(
            {
                "events": events,
                "data_bytes": data_bytes,
                "frag_rows": frag_rows,
                "meta_bytes": meta_bytes,
                "frag_max": frag_max,
                "files_live": sum(len(fs) for fs in prev.values()),
            }
        )


class ReplayHot(Workload):
    name = "replay_hot"

    def setup(self) -> None:
        s = self.scale
        self._make_log(
            ChangelogSpec(
                n_events=s.hot_events, n_partitions=s.n_partitions,
                n_keys=s.hot_keys, seed=self.seed,
            )
        )
        probe = CdcEngine(
            self.spark, self.log,
            SnapshotTable.create(os.path.join(self.work, "probe"), n_buckets=s.n_buckets),
        )
        self.budget = budget_for(probe, s.hot_epochs, self.spec)

    def rep(self, ph: Phase, tracer=None) -> None:
        root = self._fresh_dir()
        table = SnapshotTable.create(root, n_buckets=self.scale.n_buckets)
        eng = CdcEngine(self.spark, self.log, table, lsn_budget=self.budget)
        eng.extents  # the partition scan belongs to set-up, not the replay
        t0 = time.time()
        try:
            last = eng.run_to_completion()
        except Exception as ex:  # noqa: BLE001 - counted as a failed epoch
            ph.attempted += 1
            ph.fail("replay", ex)
            self._drop(root)
            return
        # per-epoch latency of the pipelined loop: the gaps between
        # the (wall-clock) commit stamps the table publishes
        stamps = [t0] + [
            table.snapshot(e)["committed_at_us"] / 1e6 for e in range(1, last + 1)
        ]
        events = sum(
            li["n_events"] for e in range(1, last + 1) for li in table.snapshot(e)["lineage"]
        )
        ph.attempted += last
        ph.epoch_s.extend(b - a for a, b in zip(stamps, stamps[1:]))
        ph.events += events
        self._consume(ph, table, tracer, 0, last)
        self._check(ph, table)
        self._layout(ph, table, 0, last, events)
        self._drop(root)


class MorReadMix(Workload):
    name = "mor_read_mix"

    def setup(self) -> None:
        s = self.scale
        self._make_log(
            ChangelogSpec(
                n_events=s.dense_events, n_partitions=s.n_partitions,
                n_keys=s.dense_events, zipf_a=1.05, seed=self.seed,
            )
        )
        self.seeded = os.path.join(self.work, "seeded")
        table = SnapshotTable.create(self.seeded, n_buckets=s.n_buckets)
        seeder = CdcEngine(self.spark, self.log, table)
        seeder.lsn_budget = int(max(seeder.extents.values()) * s.seed_share)
        if seeder.run_epoch() is None:
            raise RuntimeError("seed epoch applied nothing")
        self.budget = budget_for(seeder, s.tail_epochs, self.spec)

    def rep(self, ph: Phase, tracer=None) -> None:
        root = self._fresh_dir()
        shutil.copytree(self.seeded, root)
        table = SnapshotTable(root)
        eng = CdcEngine(
            self.spark, self.log, table, lsn_budget=self.budget,
            write_mode="mor", auto_compact_fragments=self.scale.compact_every,
        )
        eng.extents
        first = table.current_epoch()
        events = 0
        while True:
            prev = table.current_epoch()
            t0 = time.perf_counter()
            try:
                r = eng.run_epoch()
            except Exception as ex:  # noqa: BLE001 - counted as a failed epoch
                ph.attempted += 1
                ph.fail("epoch", ex)
                self._drop(root)
                return
            dt = time.perf_counter() - t0
            if r is None:
                break
            ph.attempted += 1
            ph.epoch_s.append(dt)
            ph.events += r.n_events
            events += r.n_events
            self._consume(ph, table, tracer, prev, table.current_epoch())
        self._check(ph, table)
        self._layout(ph, table, first, table.current_epoch(), events)
        self._drop(root)


WORKLOADS = {w.name: w for w in (ReplayHot, MorReadMix)}


def budget_for(engine: CdcEngine, n_epochs: int, spec: ChangelogSpec) -> int:
    """LSN budget that applies the rest of the log in exactly
    `n_epochs` epochs. The transaction barrier ends each epoch at its
    last commit, up to one transaction (at most `max_tx` events, 3 lsn
    apart) short of the budget; without slack those shortfalls add up
    to an extra, almost empty epoch whose presence depends on the seed."""
    return engine.budget_for_epochs(n_epochs) + 3 * spec.max_tx


def state_diff(got: pa.Table, want: pa.Table) -> str | None:
    """None when `got` equals `want` row by row after sorting by key;
    otherwise a short description of the first difference."""
    got = got.sort_by("doc_id")
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows, oracle has {want.num_rows}"
    for c in STATE_COLS:
        g = got[c].combine_chunks()
        w = want[c].combine_chunks()
        if c == "tokens":
            g_parts = (pc.list_value_length(g), pc.list_flatten(g))
            w_parts = (pc.list_value_length(w), pc.list_flatten(w))
            same = all(a.equals(b.cast(a.type)) for a, b in zip(w_parts, g_parts))
        else:
            same = w.equals(g.cast(w.type))
        if not same:
            return f"column {c} differs"
    return None


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would sit at or
    under the median, so the maximum (p100) is reported instead."""
    s = sorted(samples)
    n = len(s)
    if n >= 20:
        k = n - 10
        return s[k - 1], 100.0 * k / n
    return s[-1], 100.0


def median(xs: list[float]) -> float:
    return statistics.median(xs)

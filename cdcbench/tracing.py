"""Span tracer for the traced benchmark run.

Spans are kept in memory as (id, name, start, end, parent, thread,
repetition) and written out once, when the run ends. The tracer records
them by wrapping the engine's public functions from outside the engine:
the names `canal_spark.engine` binds at import time, the defining
modules' attributes (for callers that look a name up at call time), and
`SnapshotTable` / `CdcEngine` methods. Nothing is wrapped while the
tracer is not installed, so untimed and timed runs execute unmodified
engine code.

Lazy functions (plan builders such as `read_slice`, `tx_barrier`,
`lww_collapse`) get short spans; the Spark work they describe is
charged to the span of the action that runs it (`committed_watermarks`,
`merge_epoch`, or the engine's own self time).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

import canal_spark.engine as engine_mod
import canal_spark.operators.lww as lww_mod
import canal_spark.operators.merge as merge_mod
import canal_spark.operators.txn as txn_mod
import canal_spark.plans.epoch as epoch_mod
from canal_spark.engine import CdcEngine
from canal_spark.plans.table import SnapshotTable

#: (owner, attribute, span name). Module functions are wrapped both
#: where they are defined and where the engine binds them.
TARGETS = [
    (mod, attr, name)
    for attr, name, mods in (
        ("partition_extents", "epoch.partition_extents", (epoch_mod, engine_mod)),
        ("plan_epoch", "epoch.plan_epoch", (epoch_mod, engine_mod)),
        ("read_slice", "epoch.read_slice", (epoch_mod, engine_mod)),
        ("committed_watermarks", "txn.committed_watermarks", (txn_mod, engine_mod)),
        ("tx_barrier", "txn.tx_barrier", (txn_mod, engine_mod)),
        ("lww_collapse", "lww.lww_collapse", (lww_mod, engine_mod)),
        ("merge_epoch", "merge.merge_epoch", (merge_mod, engine_mod)),
        ("append_epoch", "merge.append_epoch", (merge_mod,)),
        ("commit", "table.commit", (SnapshotTable,)),
        ("compact_files", "table.compact_files", (SnapshotTable,)),
        ("run_epoch", "engine.run", (CdcEngine,)),
        ("run_to_completion", "engine.run", (CdcEngine,)),
    )
    for mod in mods
]

ROOT_SPAN = "engine.run"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    rep: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.rep = 0
        self._tls = threading.local()
        self._ids = itertools.count(1)
        #: the outermost open engine.run span: spans opened on the
        #: engine's background threads (lineage collect, pipelined
        #: preparation) have no stack of their own and attach here
        self._root: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for owner, attr, name in TARGETS:
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self) -> int:
        t = self.t
        stack = t._stack()
        self.id = next(t._ids)  # count() is atomic under the GIL
        self.parent = stack[-1] if stack else t._root
        self.is_root = self.name == ROOT_SPAN and t._root is None
        if self.is_root:
            t._root = self.id
        stack.append(self.id)
        self.start = time.perf_counter()
        return self.id

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        t = self.t
        t._stack().pop()
        if self.is_root:
            t._root = None
        t.spans.append(
            Span(self.id, self.name, self.start, end, self.parent,
                 threading.get_ident(), t.rep)
        )


def self_times(spans: list[Span], name: str) -> list[float]:
    """Self time of every span called `name`: its duration minus the
    part of its interval that its child spans (on any thread) cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for s in spans:
        if s.name != name:
            continue
        covered, hi = 0.0, s.start
        for a, b in sorted(children.get(s.id, [])):
            a, b = max(a, hi), min(b, s.end)
            if b > a:
                covered += b - a
                hi = b
        out.append(s.dur - covered)
    return out

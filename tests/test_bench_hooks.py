"""The benchmark's tracer (cdcbench/tracing.py) wraps engine functions
by name, through `owner.__dict__[attr]`. A refactor that renames or
moves one of them makes a traced run (`--trace 1`) fail with KeyError;
this Spark-free check catches that in the unit suite."""

from __future__ import annotations

from cdcbench import tracing


def test_trace_targets_exist():
    missing = [
        (getattr(owner, "__name__", owner), attr)
        for owner, attr, _name in tracing.TARGETS
        if attr not in owner.__dict__
    ]
    assert not missing, f"tracer targets no longer defined: {missing}"


def test_tracer_uninstall_restores_originals():
    originals = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in tracing.TARGETS]
    tracer = tracing.Tracer()
    tracer.install()
    try:
        assert all(owner.__dict__[attr] is not orig for owner, attr, orig in originals)
    finally:
        tracer.uninstall()
    assert all(owner.__dict__[attr] is orig for owner, attr, orig in originals)

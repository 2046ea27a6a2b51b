"""The traced benchmark run instruments program functions by name
(`perfbench/spans.wrap_callable` looks each one up with getattr).  A
rename in the program would otherwise surface only when a traced
benchmark run crashes, so resolve every hooked name here."""

from __future__ import annotations

import ast
import importlib
import os
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


class RecordingTracer:
    """Stands in for spans.Tracer: records each patch, applies none."""

    def __init__(self):
        self.patched: list[tuple[object, str]] = []

    def set_attr(self, obj: object, attr: str, new: object) -> None:
        self.patched.append((obj, attr))


@pytest.fixture()
def perfbench_nrt(monkeypatch):
    # perfbench modules import their siblings by bare name; import
    # without writing bytecode into the benchmark's directory
    monkeypatch.setattr(sys, "dont_write_bytecode", True)
    monkeypatch.syspath_prepend(PERFBENCH)
    yield importlib.import_module("nrt")
    for name in ("nrt", "spans", "stats", "common"):
        sys.modules.pop(name, None)


def test_write_path_hooks_resolve(perfbench_nrt):
    from ingestprocessstoreinnrt_spark.streaming.upsert import (
        LocalFSTxnLog,
        UpsertTable,
    )

    tracer = RecordingTracer()
    perfbench_nrt._instrument_write_path(tracer, UpsertTable, LocalFSTxnLog)
    hooked = {(o.__name__, a) for o, a in tracer.patched}
    assert ("UpsertTable", "apply_batch") in hooked
    assert ("LocalFSTxnLog", "snapshot_buckets") in hooked
    assert ("LocalFSTxnLog", "table_lock") in hooked
    for owner, attr in tracer.patched:
        assert callable(getattr(owner, attr)), (owner, attr)


def _module_hooks() -> set[tuple[str, str]]:
    """(module, attr) of every wrap call in perfbench whose owner is a
    program module imported by bare name (`from pkg import session`)."""
    hooks = set()
    for fname in sorted(os.listdir(PERFBENCH)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(PERFBENCH, fname)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None)
                in ("wrap_callable", "wrap_context_manager")
                and isinstance(node.args[1], ast.Name)
                and isinstance(node.args[2], ast.Constant)
            ):
                hooks.add((node.args[1].id, node.args[2].value))
    return hooks


def test_module_hooks_resolve():
    hooks = {
        (mod, attr)
        for mod, attr in _module_hooks()
        if mod[0].islower()  # classes are covered by the write-path test
    }
    assert {("session", "get_spark"), ("catalog", "load_table")} <= hooks
    for mod, attr in hooks:
        module = importlib.import_module(f"ingestprocessstoreinnrt_spark.{mod}")
        assert callable(getattr(module, attr, None)), (mod, attr)

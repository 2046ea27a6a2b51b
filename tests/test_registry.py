"""The query registry is the one place per-query facts live.

Pins bench.py's sweep order (family blocks, ``after`` placement) over
the current registry, and that no module or bench.py grows a parallel
per-query list again."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entry
import bench
from ingestprocessstoreinnrt_spark.registry import Query

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ingestprocessstoreinnrt_spark"


def _prefix(name: str) -> str:
    return name.split("_", 1)[0]


def test_every_declared_query_is_registered_once():
    reg = entry.registry()
    declared = [n for mod in entry._MODULES for n in mod.QUERIES]
    assert len(declared) == len(set(declared)) == len(reg)
    assert all(isinstance(q, Query) for q in reg.values())
    # a duplicate key in a dict literal silently drops an entry
    for path in sorted((PKG / "operators").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, ast.Assign)
                    and ast.unparse(node.targets[0]) == "QUERIES"):
                keys = [k.value for k in node.value.keys]
                assert len(keys) == len(set(keys)), path.name
                assert path.stem in {
                    m.__name__.rsplit(".", 1)[-1] for m in entry._MODULES
                }, f"{path.name} declares QUERIES outside _MODULES"


def test_sweep_families_order():
    reg = entry.registry()
    fams = bench.sweep_families(reg)
    seq = [n for names in fams.values() for n in names]
    assert sorted(seq) == sorted(reg)
    family = {n: reg[n].family or _prefix(n) for n in reg}
    # each family is one contiguous block, under its own key
    for fam, names in fams.items():
        assert {family[n] for n in names} == {fam}, fam
    blocks = [family[n] for i, n in enumerate(seq)
              if i == 0 or family[n] != family[seq[i - 1]]]
    assert len(blocks) == len(set(blocks))
    # an `after` query follows its anchor directly, or behind other
    # queries with the same anchor, and shares its family
    pos = {n: i for i, n in enumerate(seq)}
    afters = {n: q.after for n, q in reg.items() if q.after}
    assert afters
    for late, anchor in afters.items():
        between = seq[pos[anchor] + 1:pos[late]]
        assert pos[anchor] < pos[late], late
        assert all(afters.get(n) == anchor for n in between), late
        assert family[late] == family[anchor], late
    # a declared family that equals the name prefix is redundant
    for name, q in reg.items():
        assert q.family != _prefix(name), name


def test_no_parallel_per_query_lists():
    """Per-query facts live on registry entries only: no module binds
    the retired ORACLE/ORACLE_MAT/PLAN_IMPURE-style names, and nothing
    but a QUERIES dict holds two or more registered query names."""
    names = set(entry.registry())
    retired = {"ORACLE", "ORACLE_MAT", "PLAN_IMPURE", "family_overrides",
               "run_after"}
    found = []
    for path in sorted(PKG.rglob("*.py")) + [ROOT / "bench.py"]:
        rel = path.relative_to(ROOT).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Assign):
                targets = [ast.unparse(t) for t in node.targets]
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [ast.unparse(node.target)]
            else:
                continue
            if "QUERIES" in targets:
                continue
            listed = {
                c.value for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and c.value in names
            }
            if set(targets) & retired or len(listed) >= 2:
                found.append(f"{rel}:{node.lineno} {targets}")
    assert not found, found

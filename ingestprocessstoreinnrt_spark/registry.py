"""The record each operator module declares per query.

Every operator module publishes one ``QUERIES`` dict from query name to
``Query``; ``__spark_entry__.registry()`` merges them.  Each fact about
a query lives on its one entry, next to the builder that makes it true.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple


class Query(NamedTuple):
    """One declared query.

    * ``build(spark, sf_dir)`` returns the query's lazy DataFrame.
    * ``oracle`` is the DuckDB SQL that must give the same cells.
    * ``mat`` is the oracle's materialized twin, a statement list (temp
      tables, then the final SELECT), for the few oracles whose plain
      CTE form re-derives a shared frame per inlined reference.
    * ``impure``: construction runs Spark jobs (fits, collects,
      localCheckpoint rounds), so the plan memo must
      not hide it from warm reruns (planmemo.memoize_pure; both
      directions pinned by tests/test_planmemo.py).
    * ``family`` names the shared cache a benchmark sweep groups the
      query with, when that is not its name prefix (bench.py).
    * ``after`` names the query whose cache this one reuses, so a sweep
      runs it right after that one (bench.py).
    """

    build: Callable
    oracle: str
    mat: Sequence[str] = ()
    impure: bool = False
    family: str | None = None
    after: str | None = None

"""Driver-contract meta-guards: every registered query carries a
non-empty oracle and builds a deterministic schema.  A query without
an oracle would get a weaker rows-only check from the driver; each
registry entry now declares builder and oracle together, and these
assertions keep the derived contract dicts in step."""

from __future__ import annotations

import __spark_entry__ as entry
from tests.conftest import SF_SMOKE


def test_every_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(oracles)
    assert len(qs) >= 59
    for name, sql in oracles.items():
        assert sql.strip(), name


def test_query_plans_build_with_stable_schemas(spark):
    for name, fn in entry.queries().items():
        a = fn(spark, SF_SMOKE).schema
        b = fn(spark, SF_SMOKE).schema
        assert a == b, name
        assert all(f.name == f.name.lower() for f in a.fields), name


def test_driver_window_ordering():
    """The driver's correctness gate records only the first ~50 dict
    entries (measured: CORRECTNESS_r02.json == queries()[:50]).  Proven
    status is now DERIVED from the CORRECTNESS_r*.json files: queries
    without a green driver row must sort first (so new operators land
    inside the recorded window), and proven queries follow ordered by
    staleness so the window re-audits the least-recently-checked slice
    each round."""
    import __spark_entry__ as e

    qs = list(e.queries())
    unproven = [q for q in qs if q not in e._DRIVER_PROVEN]
    assert unproven == qs[: len(unproven)]  # unproven first, en bloc
    # proven tail is stalest-first (non-decreasing latest-green round)
    rounds = [e._LATEST_GREEN[q] for q in qs[len(unproven):]]
    assert rounds == sorted(rounds)
    assert e._DRIVER_PROVEN <= set(qs)  # no stale names in the set
    # as of r5 the whole registry has green rows — a regression here
    # means a CORRECTNESS file was lost or a query was renamed without
    # being new
    assert len(unproven) == len(qs) - len(e._DRIVER_PROVEN & set(qs))
    assert list(e.oracle_sql()) == qs  # same keys, same order


def test_proven_gate_requires_hash_match():
    """VERDICT r7 finding #2: the derived proven-status must equal the
    driver's three-way gate — a rows+schema-only record is NOT proven
    and must stay in the re-audit window."""
    import __spark_entry__ as e

    full = {"rows_match": True, "schema_match": True, "hash_match": True,
            "err": None}
    assert e._rec_is_proven(full)
    assert not e._rec_is_proven({**full, "hash_match": False})
    assert not e._rec_is_proven({**full, "hash_match": None})
    assert not e._rec_is_proven({**full, "rows_match": False})
    assert not e._rec_is_proven({**full, "schema_match": False})
    assert not e._rec_is_proven({**full, "err": "boom"})
    assert not e._rec_is_proven("not-a-dict")


def test_mat_oracle_twins_equal_plain_oracles(duck):
    """Three-way pin for every materialized sf1 twin: the plain
    single-statement oracle, the temp-table statement list, and the
    joined multi-statement string oracle_sql() ships to the driver
    (VERDICT r9 item 2) must all produce the EXACT same result — same
    columns, same sorted rows, cell-for-cell (the mat forms are
    factorings of the same SQL, never reformulations of semantics).
    The joined form is executed DRIVER-STYLE — one execute() of the
    whole string — pinning that DuckDB returns the final SELECT."""
    import __spark_entry__ as e
    from tools.oracle_check import _norm_rows

    plain = e.oracle_sql_plain()
    contract = e.oracle_sql()
    mats = e.oracle_sql_mat()
    assert mats, "mat registry must not be empty"
    for name, stmts in mats.items():
        assert name in plain, name
        assert len(stmts) >= 2, name
        # the driver contract string IS the joined mat twin
        assert contract[name] == ";\n".join(stmts), name
        res = duck.execute(plain[name])
        pcols = [d[0] for d in res.description]
        prows = res.fetchall()
        for stmt in stmts[:-1]:
            duck.execute(stmt)
        res = duck.execute(stmts[-1])
        mcols = [d[0] for d in res.description]
        mrows = res.fetchall()
        res = duck.execute(contract[name])  # driver-style: one execute
        fcols = [d[0] for d in res.description]
        frows = res.fetchall()
        pc, pr = _norm_rows(pcols, prows)
        mc, mr = _norm_rows(mcols, mrows)
        fc, fr = _norm_rows(fcols, frows)
        assert pc == mc == fc, f"{name}: columns {pc} vs {mc} vs {fc}"
        assert pr == mr, f"{name}: {len(pr)} vs {len(mr)} rows or values"
        assert pr == fr, f"{name}: joined form differs from plain"

"""Semi-structured JSON operator invariants; exact values are the
DuckDB oracle's job (the QUERIES oracles in operators/jsonops.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.operators import jsonops
from tests.conftest import SF_SMOKE


def test_props_rollup_counts_and_nulls(spark):
    rows = jsonops.json_props_rollup(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_with_k <= r.n
        if r.n_with_k:
            assert r.min_k <= r.max_k
            assert r.n_distinct_k <= r.n_with_k


def test_key_profile_discovers_schema_and_survives_malformed(spark):
    """Synthetic payloads: mixed keys, missing fields, malformed JSON,
    empty object — discovery reports exactly the observed keys with
    correct coverage; malformed rows contribute nothing (and never
    throw)."""
    df = spark.createDataFrame(
        [
            ('{"a": 1, "b": "x"}',),
            ('{"a": 2}',),
            ('{"b": "y", "c": 9}',),
            ("not json at all",),
            ("{}",),
            (None,),
        ],
        "p string",
    )
    got = {
        r.key: r for r in jsonops.key_profile_of(df, "p").collect()
    }
    assert set(got) == {"a", "b", "c"}
    assert got["a"].n_rows == 2 and got["a"].n_distinct == 2
    assert got["a"].min_num == 1 and got["a"].max_num == 2
    assert got["b"].n_rows == 2  # non-numeric values: nums are null
    assert got["b"].min_num is None and got["b"].max_num is None
    assert got["c"].n_rows == 1 and got["c"].min_num == 9
    for r in got.values():
        assert abs(r.coverage - r.n_rows / 6.0) < 1e-15


def test_json_parse_stays_jvm_side(spark):
    """No Python UDF in the plan — JSON extraction must stay inside
    codegen (BatchEvalPython/ArrowEvalPython absent)."""
    for q in (
        jsonops.json_props_rollup(spark, SF_SMOKE),
        jsonops.json_key_profile(spark, SF_SMOKE),
    ):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

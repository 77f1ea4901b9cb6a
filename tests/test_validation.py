"""Row-level validation rules (operators/validation.py)."""

from __future__ import annotations


def test_numeric_range_rejects_malformed_string(spark):
    """A string column holding a malformed number fails the range
    rule instead of raising CAST_INVALID_INPUT under ANSI."""
    from etl_jobs_spark.operators import validation as V

    df = spark.createDataFrame(
        [("12",), ("12x",), ("151",), (None,), (" 7 ",)], "age STRING"
    )
    rule = V.numeric_range("age", 0, 150)
    got = {
        r["age"]: r["ok"]
        for r in df.select(
            "age", V.passes_all([rule]).alias("ok")
        ).collect()
    }
    assert got == {"12": True, "12x": False, "151": False, None: False, " 7 ": True}

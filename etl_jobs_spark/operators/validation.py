"""Row validation as filter + quarantine side-output.

The reference validates row-at-a-time in Python — required keys,
non-blank name, int-castable age in [0,150], email contains '@' —
returning None for bad rows and logging them to an error file (ref:
src/etl_2018.py:15-36, src/etl_2020.py:37-62; rejected-row logging
src/etl_2018.py:35,55-56). That design reads every row twice (once
to validate, once to transform) and serializes through Python.

Spark-first: a rule is a boolean Column; the validator is two
complementary filters over one cached scan. Rules compile into the
plan (codegen'd, pushdown-eligible) and the quarantine side gets a
`reject_reasons` string naming every failed rule — strictly more
informative than the reference's log line, and it's DATA (writable
to a quarantine table) rather than log text.

Scale: both branches are narrow transforms of the same scan. Spark
dedups the scan via cache() when both sides are consumed; at 100 TB
prefer writing both branches in one pass from one job rather than
re-scanning (the `split` here keeps the lineage shared so AQE/cache
can reuse the exchange).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named validation predicate (True = row passes)."""

    name: str
    predicate: Column


def required_fields(*cols: str) -> list[Rule]:
    """Required-key check (ref: src/etl_2018.py:19-20 `all(key in
    row ...)`). With declared schemas, 'key missing' becomes 'value
    null'."""
    return [Rule(f"required_{c}", F.col(c).isNotNull()) for c in cols]


def nonempty_string(col: str) -> Rule:
    """Non-blank after trim (ref: src/etl_2018.py:23-24)."""
    return Rule(f"nonempty_{col}", F.trim(F.col(col)) != "")


def numeric_range(col: str, lo: float, hi: float) -> Rule:
    """Castable number within [lo, hi] (ref: src/etl_2018.py:26-31 —
    the int(age) try/except plus 0 <= age <= 150 domain). A string
    that is not a number fails the rule: ``try_cast`` gives NULL where
    a plain cast raises CAST_INVALID_INPUT under ANSI."""
    c = F.col(col).try_cast("double")
    return Rule(f"range_{col}", c.isNotNull() & c.between(lo, hi))


def contains_token(col: str, token: str) -> Rule:
    """Substring containment (ref: src/etl_2020.py:47-49 — the
    `'@' not in email` check)."""
    return Rule(f"contains_{col}", F.col(col).contains(token))


def passes_all(rules: list[Rule]) -> Column:
    pred = F.lit(True)
    for r in rules:
        pred = pred & F.coalesce(r.predicate, F.lit(False))
    return pred


def reject_reasons(rules: list[Rule]) -> Column:
    """Comma-joined names of every failed rule (the quarantine
    side-channel payload; ref logs the whole row at
    src/etl_2018.py:35 — we keep the row AND the reasons)."""
    return F.concat_ws(
        ",",
        *[
            F.when(~F.coalesce(r.predicate, F.lit(False)), F.lit(r.name))
            for r in rules
        ],
    )


def validate_split(
    df: DataFrame, rules: list[Rule]
) -> tuple[DataFrame, DataFrame]:
    """→ (valid, rejected-with-reasons). The Qkey
    `filter_rejected_rows` pair (ref: src/etl_2018.py:34-36,55-56)."""
    ok = passes_all(rules)
    valid = df.filter(ok)
    rejected = df.filter(~ok).withColumn("reject_reasons", reject_reasons(rules))
    return valid, rejected

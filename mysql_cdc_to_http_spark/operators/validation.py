"""Row-level validation: the failed-rule names of each row.

At ingestion scale malformed rows are a certainty and must neither kill
the job (ANSI throw) nor silently vanish (permissive drop): each row
carries machine-readable reasons that a caller can route on.

Single-pass shape: ALL rules evaluate in one projection (an array of
(rule, passed) structs folded per row), so N rules cost one scan and
stay inside one codegen stage — never N sequential filters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: name of the synthetic column carrying failed-rule names
REASONS_COL = "__failed_rules"


def with_validation(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Append ``__failed_rules`` (array<string> of rule names whose
    predicate is NOT satisfied; null predicate results count as
    failures — a rule must affirmatively pass)."""
    if not rules:
        raise ValueError("rules must be non-empty")
    checks = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                (cond.isNotNull() & cond).alias("passed"),
            )
            for name, cond in rules.items()
        ]
    )
    failed = F.transform(
        F.filter(checks, lambda c: ~c["passed"]), lambda c: c["rule"]
    )
    return df.withColumn(REASONS_COL, failed)

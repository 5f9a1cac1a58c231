"""Chained-JVM-regex entity-name normalizer: the parity baseline for the
fused Arrow-UDF :func:`gpu_entity_resolver_spark.functions.normalize.normalize_entity_text`
(pinned by tests/test_normalize_fused.py)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.functions.normalize import (
    _DBA_PATTERN,
    _replacement_rules,
)


def normalize_entity_text_expr(
    col: Column,
    replacements: dict[str, str] | None = None,
    suffixes: tuple[str, ...] | None = None,
) -> Column:
    """P1 — entity-name normalization as a chained Column expression (the
    all-JVM reference formulation; kept as the equivalence baseline for the
    fused Arrow-UDF default below)."""
    s = F.lower(F.coalesce(col, F.lit("")))
    s = F.regexp_replace(s, r"&", " and ")
    s = F.regexp_replace(s, r"\+", " and ")
    s = F.regexp_replace(s, r"\([^)]*\)", "")
    extracted = F.regexp_extract(s, _DBA_PATTERN, 1)
    s = F.when(extracted != "", extracted).otherwise(s)
    for pat, rep in _replacement_rules(replacements, suffixes):
        s = F.regexp_replace(s, pat, rep)
    return F.trim(s)

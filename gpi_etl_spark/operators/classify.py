"""Ordered-rule regex classifier with last-match-wins semantics.

The reference classifies each POI by running ~40 regex rules in a loop
where **later rules overwrite earlier matches**, and unmatched rows get
``'OTROS SIN CLASIFICACION'`` (HTIPPLSITE/__init__.py:175-312; clones in
HTIPNEXSITE/PGSITE/HTIPPLSITECR). Sequential overwrite is imperative;
the declarative equivalent is a single CASE chain evaluated in
*reversed* rule order (the last matching rule must win, and a CASE
returns its first hit). That keeps classification one codegen'd
expression — no UDF, no shuffle, linear scan at any scale.

Rules are data: ``Rule(pattern, category, field)``. The reference's
shipped rule list includes two latent bugs (rules written against
``poi_type`` but looped over ``poi_name`` values, HTIPPLSITE/__init__
.py:181,234,239); ``plans.sites.full_rules(compat=True)`` reproduces
them, the default list fixes them.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNMATCHED = "OTROS SIN CLASIFICACION"


@dataclass(frozen=True)
class Rule:
    """One classification rule: regex ``pattern`` over ``field`` →
    ``category``. ``field`` names the column the rule inspects."""

    pattern: str
    category: str
    field: str = "poi_name"


def classify_expr(
    rules: Sequence[Rule],
    columns: dict[str, Column | str] | None = None,
    default: str = UNMATCHED,
) -> Column:
    """Compile an ordered rule list to one last-match-wins CASE column.

    ``columns`` maps field names to source columns (defaults to
    ``F.col(field)``). Rule order is semantics: the list is iterated in
    reverse so the *last* matching rule of the original loop wins,
    exactly as sequential overwrites would.
    """
    out = None
    for rule in reversed(list(rules)):
        src = (columns or {}).get(rule.field, rule.field)
        src = F.col(src) if isinstance(src, str) else src
        cond = src.rlike(rule.pattern)
        out = (
            F.when(cond, F.lit(rule.category))
            if out is None
            else out.when(cond, F.lit(rule.category))
        )
    if out is None:
        return F.lit(default)
    return out.otherwise(F.lit(default))


def classify_sql(
    rules: Sequence[Rule],
    columns: dict[str, str] | None = None,
    default: str = UNMATCHED,
) -> str:
    """ANSI-SQL CASE text equivalent of :func:`classify_expr` (for the
    DuckDB oracle). Uses ``regexp_matches``-compatible syntax."""
    def q(s: str) -> str:  # SQL string literal (quotes escaped)
        return "'" + s.replace("'", "''") + "'"

    parts = ["CASE"]
    for rule in reversed(list(rules)):
        src = (columns or {}).get(rule.field, rule.field)
        parts.append(
            f"WHEN regexp_matches({src}, {q(rule.pattern)}) THEN {q(rule.category)}"
        )
    parts.append(f"ELSE {q(default)} END")
    return " ".join(parts)


def apply_classifier(
    df: DataFrame,
    rules: Sequence[Rule],
    out_col: str = "poi_category",
    columns: dict[str, Column | str] | None = None,
) -> DataFrame:
    """Attach the classification column to ``df``."""
    return df.withColumn(out_col, classify_expr(rules, columns))

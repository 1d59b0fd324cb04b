"""Constraint validators — the engine's replacement for DuckDB enforcement.

The reference gets PK/FK/NOT-NULL checking for free: every ``load_ldf``
insert (scripts/build_db.py:72-83) is validated against the declared DDL
(docs/schema.sql:4-30) and a violation aborts the build. Spark tables
enforce nothing (SURVEY.md §1.3), so constraints become explicit
distributed checks (OP50 / OP34 / OP51) run in a write-audit-publish flow.

All three validators are plain aggregations/joins: they scale as hash
aggregates with map-side partial aggregation, and the FK check is a
left-anti join that Catalyst broadcasts when the parent side is small.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ValidationError(Exception):
    """Raised when a constraint validator finds violations (the engine's
    equivalent of DuckDB's constraint-violation insert abort)."""


def pk_duplicates(df: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Rows per duplicated primary key (OP50). Empty ⇒ PK holds.

    Equivalent of DuckDB rejecting duplicate-PK inserts for the 25 PK
    declarations in docs/schema.sql:4-30.
    """
    return (
        df.groupBy(*pk)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    on: dict[str, str],
) -> DataFrame:
    """Child rows whose FK has no parent (OP34). Empty ⇒ FK holds.

    Equivalent of DuckDB ``REFERENCES`` enforcement (docs/schema.sql:16,
    :23 …). ``on`` maps child column → parent column. Null FKs are not
    orphans (SQL FK semantics: null references are permitted, matching
    the reference's nullable FK columns, e.g. penalty columns at
    scripts/build_db.py:996-1010).
    """
    cond = None
    for c, p in on.items():
        clause = child[c] == parent[p]
        cond = clause if cond is None else (cond & clause)
    non_null = None
    for c in on:
        clause = child[c].isNotNull()
        non_null = clause if non_null is None else (non_null & clause)
    return child.filter(non_null).join(parent, cond, "left_anti")


def null_pk_rows(df: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Rows with a null in any PK column (OP51). Empty ⇒ NOT NULL holds."""
    cond = None
    for c in pk:
        clause = F.col(c).isNull()
        cond = clause if cond is None else (cond | clause)
    return df.filter(cond)


def constraint_violations(
    df: DataFrame,
    pk: Sequence[str] | None = None,
    fks: Sequence[tuple[DataFrame, dict[str, str]]] = (),
) -> list[str]:
    """Audit ``df`` against its declared constraints: PK duplicates and
    null PKs (when ``pk`` is given), then each ``(parent, on)`` FK in
    order. Each check is one ``limit(1)`` job; returns one message per
    violated constraint (empty ⇒ every constraint holds)."""
    problems: list[str] = []
    if pk:
        if pk_duplicates(df, pk).limit(1).count() > 0:
            problems.append(f"duplicate primary key {tuple(pk)}")
        if null_pk_rows(df, pk).limit(1).count() > 0:
            problems.append(f"null primary key {tuple(pk)}")
    for parent, on in fks:
        if fk_orphans(df, parent, on).limit(1).count() > 0:
            problems.append(f"orphan foreign key {on}")
    return problems


def validated_write(
    df: DataFrame,
    path: str,
    pk: Sequence[str] | None = None,
    fks: Sequence[tuple[DataFrame, dict[str, str]]] = (),
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Write-audit-publish: run validators, then commit the write (§3.2).

    The audit runs on a cached frame so the validation actions and the
    final write share one computation of the input plan.
    """
    df = df.cache()
    try:
        problems = constraint_violations(df, pk, fks)
        if problems:
            raise ValidationError("; ".join(problems))
        df.write.format(format).mode(mode).save(path)
    finally:
        df.unpersist()

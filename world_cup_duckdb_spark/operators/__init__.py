from world_cup_duckdb_spark.operators.relational import (
    diagonal_union,
    surrogate_key,
    unpivot_measures,
)
from world_cup_duckdb_spark.operators.validators import (
    ValidationError,
    constraint_violations,
    fk_orphans,
    null_pk_rows,
    pk_duplicates,
    validated_write,
)

__all__ = [
    "ValidationError",
    "constraint_violations",
    "diagonal_union",
    "fk_orphans",
    "null_pk_rows",
    "pk_duplicates",
    "surrogate_key",
    "unpivot_measures",
    "validated_write",
]

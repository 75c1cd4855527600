from .exprs import UnsafeIdentifierError
from .format import TableFormat, create_table, open_table, register_backend
from .index import SecondaryIndex, create_index, open_index
from .icehouse import (
    PART_COL,
    CommitConflictError,
    CommitResult,
    ConcurrentCommitError,
    IcehouseTable,
    SchemaEvolutionError,
    conform_to_schema,
    evolve_schema,
)

register_backend("icehouse", IcehouseTable)

__all__ = [
    "PART_COL",
    "CommitConflictError",
    "CommitResult",
    "ConcurrentCommitError",
    "IcehouseTable",
    "SchemaEvolutionError",
    "SecondaryIndex",
    "UnsafeIdentifierError",
    "create_index",
    "open_index",
    "TableFormat",
    "conform_to_schema",
    "create_table",
    "evolve_schema",
    "open_table",
    "register_backend",
]

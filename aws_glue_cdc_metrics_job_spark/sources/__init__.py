from .jdbc import incremental_query, jdbc_read
from .parquet_io import (
    MedallionLayout,
    child_names,
    path_exists,
    read_parquet,
    read_table,
    swap_directory,
    write_parquet,
)

__all__ = [
    "MedallionLayout",
    "child_names",
    "incremental_query",
    "jdbc_read",
    "path_exists",
    "read_parquet",
    "read_table",
    "swap_directory",
    "write_parquet",
]

from .tables import (
    TABLES,
    load,
    load_all,
    parquet_rows,
    register_views,
    table_bytes,
    table_rows,
)

__all__ = [
    "TABLES",
    "load",
    "load_all",
    "parquet_rows",
    "register_views",
    "table_bytes",
    "table_rows",
]

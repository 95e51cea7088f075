from .tables import TABLES, load, load_all, register_views, table_bytes, table_rows

__all__ = ["TABLES", "load", "load_all", "register_views", "table_bytes", "table_rows"]

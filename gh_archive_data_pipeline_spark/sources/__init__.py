from .readers import ALL_TABLES, load_table, read_json_with_schema

__all__ = ["ALL_TABLES", "load_table", "read_json_with_schema"]

from .readers import load_table, read_csv, read_json_records

__all__ = ["load_table", "read_csv", "read_json_records"]

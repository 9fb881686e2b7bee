from .readers import load_star, read_csv_raw, read_parquet_table
from .writers import overwrite_parquet_table

__all__ = [
    "load_star",
    "read_csv_raw",
    "read_parquet_table",
    "overwrite_parquet_table",
]

from .readers import TABLES, read_table, read_tables
from .trips import read_trips_csv_faithful, read_trips_parquet

__all__ = [
    "TABLES",
    "read_table",
    "read_tables",
    "read_trips_csv_faithful",
    "read_trips_parquet",
]

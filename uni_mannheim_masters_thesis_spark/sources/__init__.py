from .testdata import TABLES, load_table, read_parquet, register_views  # noqa: F401

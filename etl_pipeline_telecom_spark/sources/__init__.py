from .readers import load_table, load_tables, parquet_schema, read_csv, read_parquet  # noqa: F401
from .rest_sink import RestSchemaError, write_rest_batched  # noqa: F401
from .writers import write_single_csv, write_single_json, write_parquet  # noqa: F401

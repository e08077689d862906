from .tables import (  # noqa: F401
    TABLES, load_table, load_all, load_csv, load_json, parquet_schema,
)
from .sinks import (  # noqa: F401
    estimate_row_bytes, write_parquet, stream_to_parquet, write_bucketed,
    write_training_shards,
)

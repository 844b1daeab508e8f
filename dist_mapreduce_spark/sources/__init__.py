from dist_mapreduce_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
    read_parquet,
    read_text_files,
    read_text_lines,
)

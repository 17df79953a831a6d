from vector_db_core_spark.sources.loaders import (
    TABLES,
    init_session,
    load_all,
    load_table,
    load_media_dir,
    read_parquet,
    read_any,
    write_any,
    write_sorted_shards,
    write_zorder_layout,
    register_views,
)

__all__ = ["TABLES", "init_session", "load_table", "load_all", "read_any", "write_any", "write_sorted_shards", "write_zorder_layout", "register_views", "load_media_dir", "read_parquet"]

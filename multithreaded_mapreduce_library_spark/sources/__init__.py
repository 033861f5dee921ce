from multithreaded_mapreduce_library_spark.sources.mrtext import (  # noqa: F401
    read_mrtext,
    register_mrtext,
)
from multithreaded_mapreduce_library_spark.sources.tables import (  # noqa: F401
    N_BUCKETS,
    TABLES,
    bucketed_table,
    default_sf_dir,
    load_table,
    rebalance_scan,
    register_views,
    table_path,
    table_stream,
)

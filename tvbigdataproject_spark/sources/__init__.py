from tvbigdataproject_spark.sources.io import (  # noqa: F401
    read_table,
    read_table_spread,
    read_tweets,
    save_graph,
    scan_spread,
    write_csv,
)

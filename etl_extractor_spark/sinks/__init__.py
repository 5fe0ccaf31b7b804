from etl_extractor_spark.sinks.writers import (
    write_append,
    write_observed,
)

__all__ = ["write_append", "write_observed"]

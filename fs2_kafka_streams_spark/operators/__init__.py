"""Custom operators: compositions of DataFrame ops (preferred) or Pandas-UDF
backed implementations where Spark lacks a built-in equivalent."""

from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key  # noqa: F401
from fs2_kafka_streams_spark.operators.asof_join import asof_join  # noqa: F401
from fs2_kafka_streams_spark.operators.incremental import apply_changes  # noqa: F401

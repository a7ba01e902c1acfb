from gelly_streaming_spark.operators.aggregation import GraphAggregation  # noqa: F401
from gelly_streaming_spark.operators.slice import GraphWindowStream  # noqa: F401

from nlp4l_spark.streaming.dedup import streaming_dedup_exact
from nlp4l_spark.streaming.sessions import streaming_sessionize

__all__ = [
    "streaming_dedup_exact",
    "streaming_sessionize",
]

from kaggle_ecommerce_etl_spark.streaming.file_source import (
    stream_csv_directory,
    windowed_event_counts,
)

__all__ = [
    "stream_csv_directory",
    "windowed_event_counts",
]

from vectordbindexing_spark.streaming.ingest import incremental_index_stream

__all__ = ["incremental_index_stream"]

from rustic_witcher_spark.sinks import parquet, s3copy

__all__ = ["parquet", "s3copy"]

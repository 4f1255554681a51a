from prohap_spark.operators.interval_join import interval_join, interval_overlap_join

__all__ = ["interval_join", "interval_overlap_join"]

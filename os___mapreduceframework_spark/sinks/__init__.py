from os___mapreduceframework_spark.sinks.snapshot_table import SnapshotMergeTable

__all__ = ["SnapshotMergeTable"]

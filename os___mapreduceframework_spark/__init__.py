"""PySpark-native analytics engine with the query and data-processing
capabilities of rubi1993/OS---MapReduceFramework.

The reference (``/root/reference/MapReduceFramework.cpp``,
``/root/reference/Search.cpp``) is a multithreaded single-node MapReduce
runtime (typed map -> group-by-key shuffle -> reduce -> global sort) plus a
substring-search query client. This package re-expresses those semantics
Spark-first:

- ``compat.mapreduce.run_map_reduce`` -- the reference's engine API
  (``RunMapReduceFramework``, MapReduceFramework.cpp:360-443) over
  DataFrame/applyInPandas and an RDD fallback for opaque Python objects.
- ``operators.*`` -- the query surface: the Search client's pipeline
  (Search.cpp:84-125) generalized to a full relational operator library,
  plus the charter's LLM-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal columns) and Structured Streaming.

Everything relational runs through DataFrame/Catalyst; no shuffle, sort,
or scheduling code is reimplemented (SURVEY.md section 7.0).
"""

__all__ = ["get_session"]


def __getattr__(name: str):
    # imported on first use, not with the package: Spark starts the worker
    # daemon as ``-m os___mapreduceframework_spark.worker_daemon``, and the
    # daemon must set its path before anything imports pyspark
    if name == "get_session":
        from os___mapreduceframework_spark.session import get_session

        return get_session
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

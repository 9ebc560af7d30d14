from os___mapreduceframework_spark.plans.audit import executed_plan

__all__ = ["executed_plan"]

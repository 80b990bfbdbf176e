"""Workload benchmark for mcyj_datapipeline_spark (see README.md)."""

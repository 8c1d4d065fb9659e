"""Benchmark for the solr_spark engine: workloads, tracing and checks."""

"""Benchmark for hgraphstorage_spark: see README.md."""

"""Benchmark for the pricing ETL and analytics engine; see README.md."""

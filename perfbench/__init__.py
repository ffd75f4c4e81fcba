"""Benchmark of the analytics registry and the ingestion service; see
README.md beside this file."""

"""Benchmark of the unified vector database engine; see README.md."""

"""Benchmark for the on-disk code-search engine (see README.md)."""

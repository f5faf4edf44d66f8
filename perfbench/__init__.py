"""Benchmark for the crawl engine: see README.md."""

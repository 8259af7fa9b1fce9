"""Benchmark for the crawl engine: see perfbench/README.md."""

"""Benchmark of the grawler crawl engine; see run.py."""

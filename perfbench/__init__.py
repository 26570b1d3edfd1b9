"""Crawl-round and operator-suite benchmark for smartcrawler_spark (see NOTES.md)."""

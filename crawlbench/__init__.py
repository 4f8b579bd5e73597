"""Crawl-engine benchmark (see run.py and NOTES.md)."""

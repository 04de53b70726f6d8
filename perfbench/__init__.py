"""Benchmark for the extraction and curation jobs (see NOTES.md)."""

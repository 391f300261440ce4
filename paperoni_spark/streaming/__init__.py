"""Structured Streaming twins of two batch operators: gap-sessionization
(``sessions``) and the recurring-crawl SimHash loop (``dedup``).  The
reference is strictly batch; the jobs ingest in batch too, and resume
through ``pipeline.job.resume_against``."""

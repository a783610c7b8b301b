"""End-to-end and per-layer benchmark of the train, extract and
incremental jobs of ``spark_submit_job.py`` (see README.md)."""

"""End-to-end benchmark of the pipelines engine; entry point ``run.py``."""

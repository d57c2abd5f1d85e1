"""Benchmark of the ELT refresh and the LLM-corpus curation chain (see run.py)."""

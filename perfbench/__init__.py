"""The repository benchmark: catalog pipeline runs, the gold-query mix
and LLM-prep jobs, driven through the library's public functions.
Run ``python3 perfbench/run.py --help`` from the repository root."""

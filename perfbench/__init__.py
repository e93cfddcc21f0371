"""The repository's benchmark: see perfbench/run.py and perfbench/NOTES.md."""

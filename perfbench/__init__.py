"""RCA request benchmark: see run.py and README.md."""

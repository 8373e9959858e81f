"""Batch forms of the streaming-style operators (SURVEY §2.8): event
pattern detection, rate limiting, Misra-Gries heavy hitters, the
time-bounded attribution join, a windowed drift monitor, contamination
alerts, incremental aggregate maintenance and an incremental LSH near-dup
detector. The registered ``*_batch_replay`` queries run them under the
DuckDB oracle."""

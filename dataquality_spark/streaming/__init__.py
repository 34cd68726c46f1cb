"""Structured Streaming surface of the engine (:mod:`.pipeline`).

The reference is strictly batch (SURVEY §2.10). The one stream path here
scores newly landed clip files with the batch operators, writes them to a
checkpointed parquet sink, and leaves near-dup detection to the periodic
batch job over the accumulated results.
"""

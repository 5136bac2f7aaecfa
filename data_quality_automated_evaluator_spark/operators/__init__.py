"""Dataflow operators: preprocess (stage-1), evaluate (stage-2), dedup,
similarity search."""

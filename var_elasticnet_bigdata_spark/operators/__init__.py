"""Relational and time-series operators (diffs, lag embedding, ACF,
roll-ups, top-N, dedup, similarity, text analysis, multimodal
plumbing, curation, stores' incremental passes).

The package imports nothing itself: import each operator module by
name (``from .operators import timeseries``), so a caller that needs
only the lag design does not load the text, dedup and similarity
stacks.
"""

"""Structured Streaming forms of the batch operators: dedup
(``streaming.dedup``) and ANN search (``streaming.search``)."""

"""Structured Streaming: the HYBRIDJOIN-parity enrichment pipeline and
watermarked windowed rollups.

Importing this package loads none of its modules, so a caller of
``streaming.hybrid_join`` does not pull in the catalog or the store.
The streaming twins of registry queries (``sessions``, ``windows``, …)
are registered by ``operators``.
"""

"""Structured Streaming layer: per-micro-batch correlation, exactly-once sink,
generation-sequenced engine (SURVEY §2.2/§2.5, §3.2 lifecycle)."""

"""Spark event log -> per-span layer metrics (standard library only)."""

from .fold import count_plans, fold, read_events

__all__ = ["count_plans", "fold", "read_events"]

"""Stateful stream processing: the reference's drain loop (SURVEY §2
A7-A13) over durable, log-structured state tables, plus streaming twins of
the batch event-window operators."""

from .drain import DrainConfig, IngestionPipeline

__all__ = ["DrainConfig", "IngestionPipeline"]

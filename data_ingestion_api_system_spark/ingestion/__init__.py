"""The reference's core ingestion dataflow as pure DataFrame transforms.

Covers SURVEY.md §2 operators A2-A6 (validate, key-gen, timestamp, chunk,
priority-order) and A15-A16 (child join, status rollup). The stateful
drain loop (A7-A13) and the per-request status lookup and response
(A14, A17) live in ``..streaming``.
"""

from .core import (
    chunk_batches,
    ingestions_from_requests,
    priority_order,
    requests_from_orders,
    simulate_progress,
    status_rollup,
    validate,
)

__all__ = [
    "validate",
    "chunk_batches",
    "ingestions_from_requests",
    "priority_order",
    "requests_from_orders",
    "simulate_progress",
    "status_rollup",
]

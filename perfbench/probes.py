"""mapInArrow bodies for the boundary difference probes. They live in a
module of their own so Spark's Python workers import them by name."""

from __future__ import annotations

import pyarrow as pa


def doc_ids_only(batches):
    """JVM->Python only: receive the full batch, send back just doc_id."""
    for batch in batches:
        yield pa.RecordBatch.from_arrays([batch.column(0)], names=["doc_id"])


def identity(batches):
    """Full round trip: send every batch back unchanged."""
    yield from batches

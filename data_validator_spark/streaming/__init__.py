"""Structured Streaming validation.

Parity intent (SURVEY §2 streaming rows): the reference is batch-only;
this extends the same check semantics to streams the Spark-first way —
``readStream`` → ``foreachBatch`` running the batch runner's fused
single-pass aggregate (``validators.base.run_cheap_checks``) per
micro-batch.

Scale notes: foreachBatch validation inherits the batch design's
one-scan-per-table property per micro-batch — the shape that survives
a 1000-executor cluster.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame

from data_validator_spark.events import ValidatorError
from data_validator_spark.validators.base import CheapCheck, Check, run_cheap_checks


class StreamingValidator:
    """Runs the fused validator scan on every micro-batch.

    ``check_factory`` builds a FRESH list of checks per batch (checks
    accumulate events, so instances must not be shared across batches).
    Per-batch reports accumulate in ``batches``.
    """

    def __init__(self, check_factory: Callable[[], Sequence[Check]]):
        self.check_factory = check_factory
        self.batches: list[dict[str, Any]] = []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, Any]:
        checks = [c for c in self.check_factory() if isinstance(c, CheapCheck)]
        count, failed = run_cheap_checks(batch_df, checks)
        report = {
            "batchId": batch_id,
            "rowCount": count,
            "failed": failed,
            "checks": [c.to_dict() for c in checks],
        }
        self.batches.append(report)
        return report

    def start(self, stream_df: DataFrame, **options: Any):
        """Attach to a streaming DataFrame and start the query.

        Every check's configCheck runs first, against the stream's
        schema (no data is read), so a bad config raises ``ValueError``
        here rather than inside the first micro-batch."""
        checks = self.check_factory()
        for c in checks:
            c.config_check(stream_df)
        errors = [e.message for c in checks for e in c.events if isinstance(e, ValidatorError)]
        if errors:
            raise ValueError("configCheck failed: " + "; ".join(errors))
        writer = stream_df.writeStream.foreachBatch(self.process_batch)
        if options:
            writer = writer.options(**options)
        return writer.start()

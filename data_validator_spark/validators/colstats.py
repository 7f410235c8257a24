"""colstats: count/mean/min/max/stdDev + 10-bin equi-width histogram.

Parity: reference ColStats.scala + stats/FirstPassStatsAggregator.scala
(count/mean/min/max) + stats/SecondPassStatsAggregator.scala
(stdDev + histogram over [min,max] in 10 equal bins, top bin closed).

Spark-first: the reference needs custom UDAFs because it predates
rich built-ins; here pass 1 fuses native count/avg/min/max/stddev_samp
into the table's shared scan, and pass 2 (only needed for the
histogram, whose bin edges depend on pass-1 min/max) is ten
conditional-sum aggregates in ONE extra scan — no groupBy shuffle,
fully inside whole-stage codegen.
"""

from __future__ import annotations

import math
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_spark.validators.base import CheapCheck, is_numeric

NUM_BINS = 10


class ColStats(CheapCheck):
    """Column statistics generator (never fails by itself)."""

    check_type = "colstats"

    def __init__(self, column: str):
        super().__init__()
        self.column = column
        self._p = ""
        self.stats: dict[str, Any] = {}

    def config_check(self, df: DataFrame) -> bool:
        self.column_of_kind(df, self.column, "numericType type", is_numeric)
        return self.failed

    def agg_exprs(self, df: DataFrame, prefix: str) -> list[Column]:
        self._p = prefix
        c = F.col(self.column).cast("double")
        return [
            F.count(c).alias(f"{prefix}_count"),
            F.avg(c).alias(f"{prefix}_mean"),
            F.min(c).alias(f"{prefix}_min"),
            F.max(c).alias(f"{prefix}_max"),
            F.stddev_samp(c).alias(f"{prefix}_stddev"),
        ]

    def evaluate(self, row: dict[str, Any], count: int) -> bool:
        self.stats = {
            "count": int(row[f"{self._p}_count"] or 0),
            "mean": row[f"{self._p}_mean"],
            "min": row[f"{self._p}_min"],
            "max": row[f"{self._p}_max"],
            "stdDev": row[f"{self._p}_stddev"],
        }
        return False

    # -- second pass -------------------------------------------------------
    def needs_second_pass(self) -> bool:
        return (
            self.stats.get("min") is not None
            and self.stats.get("max") is not None
            and self.stats["count"] > 0
        )

    def histogram_exprs(self) -> list[Column]:
        """Ten conditional-count aggregates; bin i covers
        [min + i*w, min + (i+1)*w) with the last bin closed at max —
        parity with SecondPassStatsAggregator.update's
        min(NUM_BINS-1, floor((x-min)/binSize)).
        """
        lo, hi = float(self.stats["min"]), float(self.stats["max"])
        w = (hi - lo) / NUM_BINS
        c = F.col(self.column).cast("double")
        if w == 0.0 or math.isnan(w):
            idx = F.when(c.isNotNull(), F.lit(0))
        else:
            idx = F.least(F.floor((c - F.lit(lo)) / F.lit(w)), F.lit(NUM_BINS - 1))
        return [
            F.sum(F.when(idx == i, F.lit(1)).otherwise(F.lit(0))).alias(f"{self._p}_bin{i}")
            for i in range(NUM_BINS)
        ]

    def sink_histogram(self, row: dict[str, Any]) -> None:
        lo, hi = float(self.stats["min"]), float(self.stats["max"])
        w = (hi - lo) / NUM_BINS
        bins = []
        for i in range(NUM_BINS):
            lb = lo + i * w
            ub = hi if i == NUM_BINS - 1 else lo + (i + 1) * w
            bins.append(
                {"lowerBound": lb, "upperBound": ub, "count": int(row[f"{self._p}_bin{i}"] or 0)}
            )
        self.stats["histogram"] = {"bins": bins}

    def report_fields(self) -> dict[str, Any]:
        return {"column": self.column, **self.stats}

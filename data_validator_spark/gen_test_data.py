"""Reference-parity test-data generator.

Parity: GenTestData.scala — 100 rows of (id int, label string spelled
out in words, div7 nullable string that is NULL on multiples of 7),
written as a single ORC file. Used by the reference's own smoke
configs; reproduced here so a reference user's `testData.orc`-based
configs run unchanged.

Spark-first note: the reference builds the frame via an RDD of Rows;
here the digits are spelled with native column functions (transform +
element_at over the split digit array) so generation itself is a
codegen map stage — the same declarative-over-imperative rule the
rest of the repo follows (at 100x the row count the RDD path would
serialize through Python, this one stays JVM-side).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_validator_spark.session import build_session

LABELS = [
    "zero", "one", "two", "three", "four",
    "five", "six", "seven", "eight", "nine",
]

N_ROWS = 100


def gen_data(spark: SparkSession) -> DataFrame:
    """(id, label, div7) — label spells id's digits ("42" -> "four
    two", 0 -> ""), div7 is NULL when id % 7 == 0 else 'NotNull'."""
    words = F.array(*[F.lit(w) for w in LABELS])
    digits = F.split(F.col("id").cast("string"), "")
    spelled = F.array_join(
        F.transform(digits, lambda d: F.element_at(words, d.cast("int") + 1)),
        " ",
    )
    # the reference's mkLabel(0) is Nil -> empty string
    label = F.when(F.col("id") == 0, F.lit("")).otherwise(spelled)
    div7 = F.when(F.col("id") % 7 == 0, F.lit(None).cast("string")).otherwise(
        F.lit("NotNull")
    )
    return (
        spark.range(N_ROWS)
        .select(
            F.col("id").cast("int").alias("id"),
            label.alias("label"),
            div7.alias("div7"),
        )
    )


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    master = argv[0] if argv else "local"
    out = argv[1] if len(argv) > 1 else "testData.orc"
    spark = build_session("genTestData", master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        gen_data(spark).coalesce(1).write.orc(out)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

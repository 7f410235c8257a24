"""Write-side surface: partitioned and repartition-controlled sinks.

At 100 TB the write layout IS the read performance of every downstream
query: hive-style `partitionBy` directories give scans static
partition pruning (a filter on the partition column prunes directories
before any file is opened — `PartitionFilters` in the scan node,
verified by tests/test_sinks.py), and pre-write `repartition` on the
partition columns bounds the file count to one file per partition per
shuffle task instead of `tasks x partitions` small files — the classic
small-file explosion that kills a data lake.

Parity note: the reference validator only writes reports (Reports/
IO.scala); data-lake sinks are part of the beyond-reference pipeline
surface, like the bucketed-join writers in operators/bucketing.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> int:
    """Hive-style partitioned write; returns the number of rows written.

    Rows are shuffled onto their partition keys first, so each output
    directory receives a bounded number of files. Without it every
    upstream task writes a fragment into every partition directory: at
    1000 tasks x 365 daily partitions that is 365k files per day of
    output — unmanageable namenode pressure and slow listings. The
    shuffle costs one exchange; at scale, pair with AQE coalescing so
    near-empty partitions share tasks.

    The count is observed after that shuffle, in the write's own
    stage. Observed below it, in the shuffle-map stage, a map task
    that Spark re-runs (a speculative copy, a stage retry after a
    lost shuffle output) would add its rows to the count again.
    """
    written = Observation()
    out = df.repartition(*partition_cols) if partition_cols else df
    out = out.observe(written, F.count(F.lit(1)).alias("rows"))
    out.write.format(fmt).mode(mode).partitionBy(*partition_cols).save(path)
    return written.get["rows"]


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a partitioned layout back; partition columns come from
    directory names and filters on them prune before file IO."""
    return spark.read.format(fmt).load(path)


def z_value(cols: list[Column], bits: int = 12) -> Column:
    """Morton (z-order) interleave of pre-scaled integer columns in
    [0, 2^bits): bit b of column i lands at position b*len(cols)+i.
    Pure long shift/mask arithmetic — whole-stage codegen, no UDF."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cols) + i)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    n_files: int = 8,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Z-order clustered write: the multi-dimensional data-skipping
    layout (what Delta's OPTIMIZE ZORDER BY does). A plain sort
    clusters ONE column's min/max file statistics and leaves every
    other column spanning the full domain in every file; interleaving
    the bit representations makes EACH listed column's per-file range
    narrow (~N_files^(-1/k) of the domain for k columns), so parquet
    row-group/file stats can skip on predicates over any of them.

    Scale shape: per-column min/max comes from one cheap 1-row
    aggregate at plan time (same pattern as the ANN parameter
    derivation); the z-value is codegen'd long arithmetic;
    repartitionByRange samples the z distribution and gives each
    output file a contiguous z-interval — one range shuffle total,
    the same cost as the naive sort it replaces.

    tests/test_sinks.py measures per-file spans of BOTH columns
    against a single-column sort layout to prove the skipping claim.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx{i}") for i, c in enumerate(cols)],
    ).first()
    scaled = []
    top = (1 << bits) - 1
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
        rng = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                ((F.col(c).cast("double") - F.lit(mn)) / F.lit(rng) * top).cast("long"),
            )
        )
    (
        df.withColumn("__z", z_value(scaled, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )

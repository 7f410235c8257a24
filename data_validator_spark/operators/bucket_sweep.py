"""Warehouse sweep for ORPHANED at-rest bucketed copies (ADVICE r15).

The r15 rename of fact copies from ``dv_bkt_{name}_{tag}`` to
``dv_bkt_{name}_{key}_{tag}`` (operators/bucketing.py, plus the
FACT_WM_VERSION bump) orphaned every pre-existing old-name copy:
``ensure_bucketed_fact`` only manages tables under the NEW name, so
nothing ever dropped the legacy tables/directories, and a real-SF
warehouse would keep multi-hundred-MB dead copies forever.

The sweep lives in its own module, outside the copy lifecycle: it is
one-time migration hygiene, not per-build logic. bench.py runs it once
per session before timing (the same place the copies get built), so
every per-round warehouse is migrated; tests drive it directly.

Legacy-detection rule (precise by construction, not by pattern alone):
a directory is a pre-rename FACT copy iff
  - its name parses as ``dv_bkt_{table}_{rest}`` for one of the ten
    source tables, AND
  - ``rest`` does not start with ``ext_`` (the derived-relation
    copies in queries/tpch_ext.py legitimately keep a keyless
    ``dv_bkt_lineitem_ext_{tag}`` layout — LIVE, never swept), AND
  - its bucket sidecar exists and LACKS the ``key`` field (every
    post-rename sidecar records it; pre-rename ones never did).
Directories without a sidecar are left alone — they are not ours to
judge (a half-finished external write, a user table).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# The source tables ensure_bucketed_fact copies derive from (mirrors
# queries.TABLES; re-declared here so importing this module never pulls
# the query registry into scope).
_SOURCE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def drop_legacy_copies(spark: SparkSession) -> list[str]:
    """Drop every orphaned pre-rename fact copy (catalog entry if one
    is registered, plus the on-disk directory) under the session
    warehouse. Returns the directory names removed. Idempotent and
    cheap (one listdir + one sidecar read per dv_bkt_ dir)."""
    import json
    import os
    import shutil

    from data_validator_spark.operators.bucketing import BUCKET_SIDECAR, warehouse_dir

    wh = warehouse_dir(spark)
    removed: list[str] = []
    try:
        entries = sorted(os.listdir(wh))
    except OSError:
        return removed
    for d in entries:
        path = os.path.join(wh, d)
        if not (d.startswith("dv_bkt_") and os.path.isdir(path)):
            continue
        rest = None
        for table in _SOURCE_TABLES:
            prefix = f"dv_bkt_{table}_"
            if d.startswith(prefix):
                rest = d[len(prefix):]
                break
        if rest is None or rest.startswith("ext_"):
            continue
        try:
            with open(os.path.join(path, BUCKET_SIDECAR)) as f:
                sidecar = json.load(f)
        except (OSError, ValueError):
            continue  # no readable sidecar -> not provably ours
        if "key" in sidecar:
            continue  # post-rename copy, live
        # backtick-quoted identifier (backticks doubled — the one
        # character the quoting itself must escape) + per-directory
        # guard (ADVICE r16/r17): a foreign dv_bkt_* directory whose
        # name is not a valid identifier must not abort the whole
        # sweep — bench.py runs this unguarded before timing. Failures
        # are REPORTED to stderr, not swallowed: a transient
        # catalog/FS error here leaves a legitimately-ours orphan
        # unremoved, and a silent continue would hide that forever.
        try:
            spark.sql("DROP TABLE IF EXISTS `{}`".format(d.replace("`", "``")))
            shutil.rmtree(path, ignore_errors=True)
            removed.append(d)
        except Exception as e:
            import sys

            print(
                f"sweep_orphaned_copies: skipped {d!r} ({type(e).__name__}: {e})",
                file=sys.stderr,
            )
            continue
    return removed

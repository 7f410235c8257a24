"""Dump `.explain("formatted")` for named registry queries to text files.

Produces the per-query plan evidence kept under history/plans/r<N>/:
for each key, the INITIAL formatted plan and (because several
optimizations change the steady-state shape of session-persisted
relations) the plan re-captured after one full execution with the
noop sink, when caches/indexes are materialized.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> <key> [<key> ...]
  e.g. python tools/dump_plans.py /root/testdata/sf0.01 history/plans/r18 after dsir_importance
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    keys = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)

    from data_validator_spark.session import local_session

    spark = local_session("plan-dump")

    from data_validator_spark.queries import build_registry

    queries, _ = build_registry()

    for key in keys:
        fn = queries[key]
        spark.sparkContext.setJobDescription(f"plan-dump: {key}")
        df = fn(spark, sf_dir)
        initial = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        # One full execution so session-persisted relations (indexes,
        # eval caches, bucketed copies) exist, then re-build + re-explain:
        # the steady-state plan that repeated calls actually run.
        df.write.format("noop").mode("overwrite").save()
        df2 = fn(spark, sf_dir)
        steady = df2._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df2._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} — explain('formatted') at {sf_dir}\n")
            f.write("\n=== initial plan (first call in the session) ===\n\n")
            f.write(initial)
            f.write("\n=== steady-state plan (re-built after one execution; ")
            f.write("session caches/indexes materialized) ===\n\n")
            f.write(steady)
        print(f"wrote {path}")
        spark.sparkContext.setJobDescription(None)

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""YAML pipeline runner: config validation, single-plan composition,
end-to-end write with partition layout, and agreement with the
oracle-checked operators it reuses."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_validator_spark.pipeline import (
    PipelineConfigError,
    build_pipeline,
    parse_pipeline,
    run_pipeline,
)

SF = "/root/testdata/sf0.001"

CFG = """
pipeline:
  source: {table: documents}
  steps:
    - dedupExact: {}
    - qualityFilter: {minScore: 0.5}
    - split: {}
    - tokenCount: {}
  sink: {path: "%s", partitionBy: [lang, split]}
"""


def test_bad_configs_rejected():
    with pytest.raises(PipelineConfigError):
        parse_pipeline({"nope": {}})
    with pytest.raises(PipelineConfigError):
        parse_pipeline({"pipeline": {"source": {"table": "documents"},
                                     "steps": [{"frobnicate": {}}]}})
    with pytest.raises(PipelineConfigError):
        parse_pipeline({"pipeline": {"steps": []}})


def test_end_to_end_write_and_layout(spark, tmp_path):
    out = str(tmp_path / "corpus")
    res = run_pipeline(spark, CFG % out, SF)
    assert res["written"] and res["rows"] > 0
    langs = [d for d in os.listdir(out) if d.startswith("lang=")]
    assert langs
    splits = os.listdir(os.path.join(out, langs[0]))
    assert any(s.startswith("split=") for s in splits)
    back = spark.read.parquet(out)
    assert "n_tokens" in back.columns and "split" in back.columns


def test_pipeline_matches_oracle_checked_operators(spark):
    """dedupExact + qualityFilter + splitFilter(train) must keep
    exactly the rows corpus_train_filter counts (same fingerprint,
    quality, and split definitions)."""
    cfg = """
pipeline:
  source: {table: documents}
  steps:
    - dedupExact: {}
    - qualityFilter: {minScore: 0.5}
    - splitFilter: {keep: train}
"""
    df = build_pipeline(spark, cfg, SF)
    mine = df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    from data_validator_spark.queries.textops import q_corpus_train_filter

    want = {r["lang"]: r["n_docs"] for r in q_corpus_train_filter(spark, SF).collect()}
    got = {r["lang"]: r["n"] for r in mine.collect()}
    assert got == want


def test_dry_run_counts_without_sink(spark):
    cfg = """
pipeline:
  source: {table: documents}
  steps:
    - sample: {fraction: 0.2}
"""
    res = run_pipeline(spark, cfg, SF)
    assert res["written"] is False
    assert 0 < res["rows"] < 500


def test_single_plan_no_intermediate_materialization(spark):
    """The folded pipeline is ONE plan: a handful of scans (source +
    AQE reuse), not one materialization per step."""
    cfg = """
pipeline:
  source: {table: documents}
  steps:
    - dedupExact: {}
    - qualityFilter: {}
    - split: {}
    - tokenCount: {}
    - piiScrub: {}
"""
    df = build_pipeline(spark, cfg, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 2  # window forces at most scan+exchange reuse


def test_yaml_scalar_and_sink_validation():
    with pytest.raises(PipelineConfigError):  # langs scalar, not list
        parse_pipeline("""
pipeline:
  source: {table: documents}
  steps: [{langFilter: {langs: en}}]
""")
    with pytest.raises(PipelineConfigError):  # sink without path
        parse_pipeline("""
pipeline:
  source: {table: documents}
  sink: {partitionBy: [lang]}
""")
    with pytest.raises(PipelineConfigError):  # partitionBy scalar
        parse_pipeline("""
pipeline:
  source: {table: documents}
  sink: {path: /tmp/x, partitionBy: lang}
""")
    with pytest.raises(PipelineConfigError):  # malformed YAML
        parse_pipeline("pipeline: [")
    with pytest.raises(PipelineConfigError):  # null pipeline
        parse_pipeline("pipeline:")


@pytest.mark.parametrize(
    "step",
    [
        {"langFilter": {}},
        {"langFilter": {"langs": []}},
        {"select": {}},
        {"select": {"columns": []}},
        {"chunk": {"width": 0}},
        {"chunk": {"stride": -1}},
        {"chunk": {"width": "wide"}},
        {"chunk": {"width": 2.5}},
        {"weightedSample": {"k": 0}},
        {"weightedSample": {"k": True}},
        {"sample": {"fraction": 20}},
        {"sample": {"fraction": -0.1}},
        {"sample": {"fraction": True}},
        {"sample": {"fraction": "0.2"}},
        {"dedupIncremental": {}},
        {"qualityFilter": {"minScore": "high"}},
        {"qualityFilter": {"minScore": True}},
        {"split": {"train": 200}},
        {"split": {"train": 60, "val": 41}},
        {"split": {"val": -1}},
        {"split": {"train": "most"}},
        {"split": {"train": "50"}},
        {"splitFilter": {"train": 101}},
        {"splitFilter": {"keep": "dev"}},
        {"boilerplateFilter": {"maxGroup": -1}},
        {"boilerplateFilter": {"maxGroup": False}},
        {"boilerplateFilter": {"prefixTokens": 0}},
        {"boilerplateFilter": {"prefixTokens": "ten"}},
        {"dedupIncremental": {"indexPath": "/idx", "withinBatch": "no"}},
    ],
)
def test_step_options_rejected_by_parse(step):
    """Every step-option check that needs no schema fails in
    parse_pipeline, which the CLI runs before it starts a session."""
    with pytest.raises(PipelineConfigError):
        parse_pipeline({"pipeline": {"source": {"table": "documents"}, "steps": [step]}})


def test_sample_fraction_bounds_accepted():
    for frac in (0, 0.2, 1, 1.0):
        parse_pipeline(
            {"pipeline": {"source": {"table": "documents"},
                          "steps": [{"sample": {"fraction": frac}}]}}
        )


@pytest.mark.parametrize(
    "step",
    [
        {"qualityFilter": {"minScore": 0}},
        {"qualityFilter": {"minScore": 0.8}},
        {"split": {}},
        {"split": {"train": 0, "val": 0}},
        {"split": {"train": 80, "val": 20}},
        {"splitFilter": {"keep": "test", "train": 90, "val": 5}},
        {"boilerplateFilter": {"maxGroup": 0}},
        {"boilerplateFilter": {"maxGroup": 2, "prefixTokens": 8}},
    ],
)
def test_numeric_step_options_accepted(step):
    parse_pipeline({"pipeline": {"source": {"table": "documents"}, "steps": [step]}})


def test_parse_fills_in_defaults_once(spark, monkeypatch):
    """parse_pipeline returns every step's options with the defaults
    filled in; what it returned is not parsed again, by itself or by
    build_pipeline."""
    from data_validator_spark import pipeline
    from data_validator_spark.queries.textops import QUALITY_CUTOFF, TRAIN_CUT, VAL_CUT

    parsed = parse_pipeline(
        "pipeline:\n  source: {table: documents}\n"
        "  steps: [{split: {train: 90}}, {qualityFilter: }, {sample: {fraction: 0.5}}, {dedupExact: {}}]\n"
    )
    assert parsed["steps"] == [
        {"split": {"train": 90, "val": VAL_CUT - TRAIN_CUT}},
        {"qualityFilter": {"minScore": QUALITY_CUTOFF}},
        {"sample": {"fraction": 0.5}},
        {"dedupExact": {}},
    ]

    def parsed_again(*args):
        raise AssertionError("options parsed twice")

    monkeypatch.setattr(pipeline, "_options", parsed_again)
    assert parse_pipeline(parsed) is parsed
    assert "split" in build_pipeline(spark, parsed, SF).columns


def test_cli_rejects_sample_fraction_before_session(tmp_path):
    """fraction: 20 would keep every row; the CLI exits 2 before the
    session starts (a session would fail on the bogus master instead)."""
    import subprocess
    import sys

    bad = tmp_path / "frac.yaml"
    bad.write_text(
        "pipeline:\n  source: {table: documents}\n  steps: [{sample: {fraction: 20}}]\n"
    )
    r = subprocess.run(
        [sys.executable, "-m", "data_validator_spark.pipeline", "--config", str(bad),
         "--sfDir", SF, "--master", "no-such-master"],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 2, (r.returncode, r.stderr[-500:])
    assert "PIPELINE_CONFIG_ERROR" in r.stderr and "sample.fraction" in r.stderr


def test_cli_exit_2_on_bad_config(tmp_path):
    import subprocess
    import sys

    bad = tmp_path / "bad.yaml"
    bad.write_text("pipeline: [")
    r = subprocess.run(
        [sys.executable, "-m", "data_validator_spark.pipeline", "--config", str(bad)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 2, (r.returncode, r.stderr[-500:])
    assert "PIPELINE_CONFIG_ERROR" in r.stderr


def test_chunk_step_agrees_with_doc_chunk_operator(spark):
    """The pipeline chunk step must produce exactly the chunks the
    graded doc_chunk operator reports (same windows, same counts)."""
    from data_validator_spark.pipeline import build_pipeline
    from data_validator_spark.queries.textops import q_doc_chunk

    cfg = {
        "pipeline": {
            "source": {"table": "documents"},
            "steps": [{"chunk": {}}],
        }
    }
    df = build_pipeline(spark, cfg, sf_dir=SF)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["text"].split())
        for r in df.select("doc_id", "chunk_idx", "n_chunk_tokens", "text").collect()
    }
    want = {
        (r["doc_id"], r["chunk_idx"]): r["n_chunk_tokens"]
        for r in q_doc_chunk(spark, SF).collect()
    }
    assert set(got) == set(want)
    for k, (n, toks) in got.items():
        assert n == want[k]
        assert len(toks) == n


def test_weighted_sample_step_agrees_with_operator(spark):
    from data_validator_spark.pipeline import build_pipeline
    from data_validator_spark.queries.pipeline_ops import (
        WSAMPLE_K,
        q_weighted_sample,
    )

    cfg = {
        "pipeline": {
            "source": {"table": "documents"},
            "steps": [{"weightedSample": {"k": WSAMPLE_K}}],
        }
    }
    df = build_pipeline(spark, cfg, sf_dir=SF)
    got = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    want = sorted(r["doc_id"] for r in q_weighted_sample(spark, SF).collect())
    assert got == want


def test_sample_step_agrees_with_stratified_sample(spark):
    """At fraction 0.2 the sample step keeps exactly the rows
    q_stratified_sample counts: per lang, the same count and doc_id
    sum."""
    from data_validator_spark.queries.pipeline_ops import (
        SAMPLE_BUCKETS,
        SAMPLE_KEEP,
        q_stratified_sample,
    )

    assert SAMPLE_KEEP == round(0.2 * SAMPLE_BUCKETS)
    cfg = {
        "pipeline": {
            "source": {"table": "documents"},
            "steps": [{"sample": {"fraction": 0.2}}],
        }
    }
    kept = build_pipeline(spark, cfg, sf_dir=SF).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("s")
    )
    got = {r["lang"]: (r["n"], r["s"]) for r in kept.collect()}
    want = {
        r["lang"]: (r["n_sampled"], r["sampled_id_sum"])
        for r in q_stratified_sample(spark, SF).collect()
        if r["n_sampled"]
    }
    assert got and got == want


def test_chunk_and_weighted_sample_bad_configs(spark):
    from data_validator_spark.pipeline import build_pipeline

    with pytest.raises(PipelineConfigError):
        build_pipeline(
            spark,
            {"pipeline": {"source": {"table": "documents"},
                          "steps": [{"chunk": {"width": 0}}]}},
            sf_dir=SF,
        )
    with pytest.raises(PipelineConfigError):
        build_pipeline(
            spark,
            {"pipeline": {"source": {"table": "documents"},
                          "steps": [{"weightedSample": {"weightColumn": "nope"}}]}},
            sf_dir=SF,
        )


def test_boilerplate_filter_agrees_with_audit(spark):
    """boilerplateFilter(maxGroup=1) must keep exactly the docs the
    boilerplate_prefix audit counts as NOT shared-prefix (plus
    empty-normalization docs, which have nothing to match on)."""
    cfg = """
pipeline:
  source: {table: documents}
  steps:
    - boilerplateFilter: {}
"""
    from data_validator_spark.functions.text import normalized_text
    from data_validator_spark.queries.curation_ops import q_boilerplate_prefix

    kept = build_pipeline(spark, cfg, SF)
    got = {r["lang"]: r["n"] for r in
           kept.where(normalized_text(F.col("text")) != "")
           .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    audit = {r["lang"]: r["n_docs"] - r["n_docs_shared_prefix"]
             for r in q_boilerplate_prefix(spark, SF).collect()}
    assert got == {k: v for k, v in audit.items() if v > 0}
    # empty-norm docs survive the filter
    n_empty = (build_pipeline(spark, "pipeline:\n  source: {table: documents}\n  steps: []", SF)
               .where(normalized_text(F.col("text")) == "").count())
    assert kept.where(normalized_text(F.col("text")) == "").count() == n_empty


def test_boilerplate_filter_max_group(spark, tmp_path):
    """maxGroup=2 keeps pairs but drops triples-and-up."""
    rows = [
        (0, "terms of service apply a", "en", "s", 1),
        (1, "terms of service apply b", "en", "s", 1),
        (2, "terms of service apply c", "en", "s", 1),
        (3, "pair prefix here x", "en", "s", 1),
        (4, "pair prefix here y", "en", "s", 1),
        (5, "unique opener text", "en", "s", 1),
        (6, "", "en", "s", 0),
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    cfg = """
pipeline:
  source: {table: documents}
  steps:
    - boilerplateFilter: {maxGroup: 2}
"""
    kept = sorted(r["doc_id"] for r in build_pipeline(spark, cfg, str(d)).collect())
    assert kept == [3, 4, 5, 6]


def test_boilerplate_filter_keeps_null_text(spark, tmp_path):
    """NULL-text docs must bypass the filter (they'd otherwise collect
    into one NULL-prefix window partition and be deleted as a fake
    template group); empty docs likewise, even at maxGroup=0."""
    rows = [
        (0, None, "en", "s", 0),
        (1, None, "en", "s", 0),
        (2, None, "en", "s", 0),
        (3, "", "en", "s", 0),
        (4, "shared template here a", "en", "s", 1),
        (5, "shared template here b", "en", "s", 1),
        (6, "solo opener", "en", "s", 1),
    ]
    d = tmp_path / "nulldocs"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    cfg = """
pipeline:
  source: {table: documents}
  steps:
    - boilerplateFilter: {}
"""
    kept = sorted(r["doc_id"] for r in build_pipeline(spark, cfg, str(d)).collect())
    assert kept == [0, 1, 2, 3, 6]
    cfg0 = cfg.replace("{}", "{maxGroup: 0}")
    kept0 = sorted(r["doc_id"] for r in build_pipeline(spark, cfg0, str(d)).collect())
    assert kept0 == [0, 1, 2, 3]


def test_dedup_incremental_step(spark, tmp_path):
    """dedupIncremental: rows whose fingerprint is in the index drop;
    withinBatch collapses in-frame dups to the min doc_id; the index
    side never reads text."""
    from data_validator_spark.functions.text import doc_fingerprint
    from data_validator_spark.pipeline import STEPS, PipelineConfigError

    corpus = spark.createDataFrame(
        [(1, "already indexed text"), (2, "another indexed text")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "index")
    corpus.select(
        doc_fingerprint(F.col("text")).alias("fingerprint")
    ).write.parquet(idx)

    delta = spark.createDataFrame(
        [
            (10, "already indexed text"),   # dup of corpus -> dropped
            (11, "brand new text"),         # novel -> kept
            (12, "brand new text"),         # in-batch dup of 11 -> dropped
            (13, "other new text"),         # novel -> kept
        ],
        "doc_id long, text string",
    )
    out = STEPS["dedupIncremental"](delta, {"indexPath": idx})
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]
    # withinBatch off: in-batch dup survives, corpus dup still drops
    out2 = STEPS["dedupIncremental"](delta, {"indexPath": idx, "withinBatch": False})
    assert sorted(r["doc_id"] for r in out2.collect()) == [11, 12, 13]
    with pytest.raises(PipelineConfigError):
        parse_pipeline(
            {"pipeline": {"source": {"table": "documents"},
                          "steps": [{"dedupIncremental": {}}]}}
        )


def test_written_rows_come_from_the_write(spark, tmp_path):
    """`rows` of a written pipeline is counted by the write itself (an
    Observation on the written DataFrame): it equals a re-read count of
    the sink, and the run starts fewer Spark jobs than the write plus a
    re-read count."""
    from data_validator_spark.sources.sinks import write_partitioned
    from tests.test_runner import count_jobs

    out = str(tmp_path / "observed")
    with count_jobs(spark, "pipeline-observed") as run:
        res = run_pipeline(spark, CFG % out, SF)
    assert res["rows"] == spark.read.parquet(out).count()
    out2 = str(tmp_path / "recounted")
    with count_jobs(spark, "pipeline-recounted") as recount:
        write_partitioned(build_pipeline(spark, CFG % out2, SF), out2, ["lang", "split"])
        spark.read.parquet(out2).count()
    assert run.n < recount.n, f"jobs: run {run.n}, write + re-read {recount.n}"


def test_pipeline_rows_are_counted_in_the_write_stage(spark, tmp_path, monkeypatch):
    """The write's row count (CollectMetrics) sits above the partition
    repartition, in the write's own stage: no Exchange is its ancestor.
    Below the Exchange it would run in the shuffle-map stage, where a
    re-run map task adds its rows to the count again."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    save = DataFrameWriter.save

    def spy(self, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return save(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", spy)
    res = run_pipeline(spark, CFG % str(tmp_path / "out"), SF)
    assert res["rows"] > 0 and len(plans) == 1

    def depth(line):
        return len(line) - len(line.lstrip(" :+-|"))

    lines = plans[0].splitlines()
    i = next(k for k, line in enumerate(lines) if "CollectMetrics" in line)
    ancestors, d = [], depth(lines[i])
    for line in reversed(lines[:i]):
        if depth(line) < d:
            ancestors.append(line.strip())
            d = depth(line)
    assert not [a for a in ancestors if "Exchange" in a], plans[0]

"""bench.py round-hygiene guard (r10 verdict item 6): bench must fail
loudly when run on a dirty tree or when the round's evidence artifacts
(ORACLE_LOCAL sweep, BASELINE.md, PLANS.md) were not refreshed after
the previous round closed. No Spark needed — the guard is pure
git+filesystem logic."""

from __future__ import annotations

import os
import subprocess

import pytest

from bench import _latest_round, check_guards


def test_latest_round_parses_padding_and_ignores_nonmatches():
    files = [
        "BENCH_r01.json",
        "BENCH_r09.json",
        "BENCH_r10.json",
        "BENCH_FULL.json",
        "ORACLE_LOCAL_r4.txt",
        "ORACLE_LOCAL_r9.txt",
        "ORACLE_SFSWEEP_r9.txt",
    ]
    assert _latest_round("BENCH_", ".json", files) == (10, "BENCH_r10.json")
    assert _latest_round("ORACLE_LOCAL_", ".txt", files) == (
        9,
        "ORACLE_LOCAL_r9.txt",
    )
    assert _latest_round("CORRECTNESS_", ".json", files) == (-1, None)


def _git(repo, *args, env_extra=None):
    env = {**os.environ, **(env_extra or {})}
    subprocess.run(
        ["git", "-C", str(repo), *args], check=True, capture_output=True, env=env
    )


@pytest.fixture()
def fake_repo(tmp_path):
    """Tiny git repo with a closed round r1: BENCH_r1.json committed
    LAST (the driver's round-close commit), evidence committed before
    it — i.e. the exact stale state the guard must flag."""
    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")

    def commit(name, content, when):
        (repo / name).write_text(content)
        _git(repo, "add", name)
        _git(
            repo,
            "commit",
            "-q",
            "-m",
            f"add {name}",
            env_extra={
                "GIT_AUTHOR_DATE": when,
                "GIT_COMMITTER_DATE": when,
            },
        )

    commit("ORACLE_LOCAL_r1.txt", "152 pass, 0 fail", "2026-01-01T10:00:00")
    commit("BASELINE.md", "# BASELINE", "2026-01-01T10:01:00")
    commit("PLANS.md", "# PLANS", "2026-01-01T10:02:00")
    commit("BENCH_r1.json", "{}", "2026-01-01T11:00:00")
    return repo


def test_guard_flags_stale_evidence_then_clears_on_refresh(fake_repo):
    fails = check_guards(str(fake_repo))
    # all three evidence artifacts predate the round-close bench commit
    assert len(fails) == 1 and "stale evidence" in fails[0]
    for n in ("BASELINE.md", "PLANS.md", "ORACLE_LOCAL_r1.txt"):
        assert n in fails[0]
    # refresh this round: recommit evidence AFTER the bench commit
    for name in ("ORACLE_LOCAL_r2.txt", "BASELINE.md", "PLANS.md"):
        (fake_repo / name).write_text("refreshed r2")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "r2 evidence refresh",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    assert check_guards(str(fake_repo)) == []


def test_guard_flags_oracle_round_lagging_bench_round(fake_repo):
    # evidence recommitted fresh, but the SWEEP still carries r1 while
    # a committed BENCH_r2 exists -> the filename-round rule fires
    for name in ("ORACLE_LOCAL_r1.txt", "BASELINE.md", "PLANS.md", "BENCH_r2.json"):
        (fake_repo / name).write_text("content r2")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "bench r2 closed",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    fails = check_guards(str(fake_repo))
    assert any("ORACLE_LOCAL_r1" in f and "r2" in f for f in fails)


def test_guard_flags_dirty_tracked_file_but_not_untracked(fake_repo):
    (fake_repo / "PLANS.md").write_text("mutated, uncommitted")
    (fake_repo / "CORRECTNESS_r2.json").write_text("driver artifact, untracked")
    (fake_repo / "BENCH_FULL.json").write_text("bench's own output, exempt")
    fails = check_guards(str(fake_repo))
    dirty = [f for f in fails if "dirty tree" in f]
    assert len(dirty) == 1 and "PLANS.md" in dirty[0]
    assert "CORRECTNESS_r2" not in dirty[0] and "BENCH_FULL" not in dirty[0]


def test_guard_same_commit_as_bench_counts_fresh(fake_repo):
    """ADVICE r11: evidence refreshed in the SAME commit as the
    round-close BENCH_r{N}.json used to be flagged stale (ts <=
    bench_ts); the same-hash exemption must treat it as fresh."""
    for name in ("ORACLE_LOCAL_r2.txt", "BASELINE.md", "PLANS.md", "BENCH_r2.json"):
        (fake_repo / name).write_text("round 2, one commit")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "round 2 close: bench + evidence together",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    assert check_guards(str(fake_repo)) == []


def test_guard_flags_uncommitted_newest_oracle(fake_repo):
    """ADVICE r11: an untracked ORACLE_LOCAL_r{N}.txt (newest by round
    number, but never committed) used to SKIP the staleness check and
    pass — it must be flagged instead."""
    (fake_repo / "ORACLE_LOCAL_r2.txt").write_text("fresh but uncommitted")
    # recommit the other evidence so only the uncommitted sweep fails
    for name in ("BASELINE.md", "PLANS.md"):
        (fake_repo / name).write_text("refreshed r2")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "r2 evidence refresh",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    fails = check_guards(str(fake_repo))
    assert any("uncommitted" in f and "ORACLE_LOCAL_r2" in f for f in fails)
    assert not any("stale evidence" in f for f in fails)


def test_guard_flags_sweep_predating_source_commit(fake_repo):
    """r11 verdict item 3: the sweeps were committed one commit BEFORE
    a final query change — the guard must require the newest
    ORACLE_LOCAL / ORACLE_SFSWEEP to postdate the last commit touching
    data_validator_spark/, __spark_entry__.py or tools/oracle_check.py
    (same commit = fresh)."""

    def commit(name, when, msg):
        _git(fake_repo, "add", name)
        _git(
            fake_repo,
            "commit",
            "-q",
            "-m",
            msg,
            env_extra={"GIT_AUTHOR_DATE": when, "GIT_COMMITTER_DATE": when},
        )

    # refresh all round-2 evidence properly first
    for name in ("ORACLE_LOCAL_r2.txt", "ORACLE_SFSWEEP_r2.txt", "BASELINE.md", "PLANS.md"):
        (fake_repo / name).write_text("refreshed r2")
        _git(fake_repo, "add", name)
    commit(".", "2026-01-02T09:00:00", "r2 evidence refresh")
    assert check_guards(str(fake_repo)) == []
    # now a source change lands AFTER the sweeps
    src = fake_repo / "data_validator_spark"
    src.mkdir()
    (src / "q.py").write_text("# changed query code")
    commit("data_validator_spark", "2026-01-02T10:00:00", "late query change")
    fails = check_guards(str(fake_repo))
    assert any("stale sweep" in f and "ORACLE_LOCAL_r2" in f for f in fails)
    assert any("stale sweep" in f and "ORACLE_SFSWEEP_r2" in f for f in fails)
    # re-running the sweeps on the final code clears it
    for name in ("ORACLE_LOCAL_r2.txt", "ORACLE_SFSWEEP_r2.txt"):
        (fake_repo / name).write_text("re-proven on final code")
        _git(fake_repo, "add", name)
    commit(".", "2026-01-02T11:00:00", "re-sweep on final code")
    assert check_guards(str(fake_repo)) == []


def test_guard_untracked_newest_bench_falls_back_to_committed(fake_repo):
    """ADVICE r12: an untracked newest BENCH_r{N}.json made the
    freshness reference None and silently SKIPPED check 2 — the guard
    must instead fall back to the newest COMMITTED bench, so stale
    evidence is still caught mid-round."""
    # evidence is stale relative to the committed BENCH_r1 close
    (fake_repo / "BENCH_r2.json").write_text("{}")  # untracked, mid-round
    fails = check_guards(str(fake_repo))
    assert any("stale evidence" in f and "BENCH_r1.json" in f for f in fails)


def test_guard_bench_fallback_orders_rounds_numerically(fake_repo):
    """BENCH_r9 must not beat BENCH_r10 lexicographically when picking
    the committed freshness reference."""
    for name in ("BENCH_r9.json", "BENCH_r10.json"):
        (fake_repo / name).write_text("{}")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "two benches",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-03T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-03T09:00:00",
        },
    )
    fails = check_guards(str(fake_repo))
    assert any("stale evidence" in f and "BENCH_r10.json" in f for f in fails)
    assert not any("BENCH_r9.json" in f for f in fails)


def test_guard_same_second_next_commit_is_fresh(fake_repo):
    """ADVICE r12: evidence committed in the commit immediately AFTER
    the bench commit, within the same second, was falsely flagged
    stale by the timestamp compare — ancestry ordering must see it as
    after and therefore fresh."""
    # bench r2 closes at T
    (fake_repo / "BENCH_r2.json").write_text("{}")
    _git(fake_repo, "add", "BENCH_r2.json")
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "bench r2 closed",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    # evidence refresh lands in the NEXT commit at the SAME second
    for name in ("ORACLE_LOCAL_r2.txt", "BASELINE.md", "PLANS.md"):
        (fake_repo / name).write_text("refreshed r2, same second")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "r2 evidence refresh (scripted, same second)",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    assert check_guards(str(fake_repo)) == []


def test_guard_flags_deleted_once_committed_evidence(fake_repo):
    """ADVICE r12: a once-committed evidence file deleted from the
    working tree still resolves to a commit and used to pass as fresh
    — it must be flagged missing instead."""
    for name in ("ORACLE_LOCAL_r2.txt", "BASELINE.md", "PLANS.md"):
        (fake_repo / name).write_text("refreshed r2")
        _git(fake_repo, "add", name)
    _git(
        fake_repo,
        "commit",
        "-q",
        "-m",
        "r2 evidence refresh",
        env_extra={
            "GIT_AUTHOR_DATE": "2026-01-02T09:00:00",
            "GIT_COMMITTER_DATE": "2026-01-02T09:00:00",
        },
    )
    assert check_guards(str(fake_repo)) == []
    (fake_repo / "PLANS.md").unlink()
    fails = check_guards(str(fake_repo))
    assert any("missing evidence" in f and "PLANS.md" in f for f in fails)


def test_guard_force_env_skips(fake_repo, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE", "1")
    assert check_guards(str(fake_repo)) == []


def test_guard_noop_outside_git(tmp_path):
    assert check_guards(str(tmp_path)) == []


# --- contention self-identification (r13 verdict item 4) -------------------


def _bench_file(tmp_path, name, prime, sf=0.1, wrapped=False):
    import json

    rec = {"prime_pass_sec": prime, "sf": sf}
    body = {"n": 1, "rc": 0, "parsed": rec} if wrapped else rec
    (tmp_path / name).write_text(json.dumps(body))


def test_contention_probe_quiet_host_is_clean(tmp_path):
    from bench import contention_probe

    _bench_file(tmp_path, "BENCH_r13.json", prime=50.0, wrapped=True)
    p = contention_probe((1.2, 1.0, 0.9), 55.0, 0.1, str(tmp_path))
    assert p["contended"] is False and p["signals"] == []
    assert p["prime_ref_name"] == "BENCH_r13.json"
    assert p["prime_ratio"] == 1.1


def test_contention_probe_flags_hot_loadavg_without_prime_reference(tmp_path):
    from bench import LOADAVG_CONTENDED, contention_probe

    p = contention_probe((LOADAVG_CONTENDED + 4, 9.0, 7.0), 0.0, 0.1, str(tmp_path))
    assert p["contended"] is True
    assert any("loadavg" in s for s in p["signals"])


def test_contention_probe_prime_ratio_overrules_own_tail_loadavg(tmp_path):
    """Back-to-back evidence runs: the second run's loadavg carries
    the FIRST run's decaying tail (observed 8.25 right after run 1
    exited). When a same-SF prime reference exists, a quiet prime
    ratio decides NOT-contended and the hot loadavg is recorded as
    advisory only — otherwise every second run false-flags."""
    from bench import LOADAVG_CONTENDED, contention_probe

    _bench_file(tmp_path, "BENCH_r13.json", prime=50.0, wrapped=True)
    p = contention_probe((LOADAVG_CONTENDED + 0.3, 7.0, 4.8), 71.5, 0.1, str(tmp_path))
    assert p["contended"] is False
    assert "loadavg" in p["load_advisory"]
    # ...and a genuinely slow prime still flags regardless of loadavg
    p2 = contention_probe((0.4, 0.3, 0.2), 90.0, 0.1, str(tmp_path))
    assert p2["contended"] is True


def test_contention_probe_flags_slow_prime_vs_committed_bench(tmp_path):
    from bench import contention_probe

    # newest round wins even when an older raw-shape file also matches
    _bench_file(tmp_path, "BENCH_r09.json", prime=48.0)
    _bench_file(tmp_path, "BENCH_r13.json", prime=50.0, wrapped=True)
    p = contention_probe((0.5, 0.4, 0.3), 90.0, 0.1, str(tmp_path))
    assert p["contended"] is True
    assert p["prime_ref_name"] == "BENCH_r13.json"
    assert p["prime_ratio"] == 1.8
    assert any("prime pass" in s for s in p["signals"])


def test_contention_probe_skips_other_sf_and_missing_prime(tmp_path):
    from bench import contention_probe

    # newest bench ran at a different SF — not a comparable prime
    _bench_file(tmp_path, "BENCH_r13.json", prime=5.0, sf=0.01, wrapped=True)
    p = contention_probe((0.5, 0.4, 0.3), 90.0, 0.1, str(tmp_path))
    assert p["contended"] is False and p["prime_ref_name"] is None


def test_compact_line_carries_contended_not_the_full_probe():
    import json

    from bench import compact_line

    out = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 1.0},
        "sf": 0.1,
        "contended": True,
        "contention": {"load_before": [9.1, 8.0, 7.5], "signals": ["loadavg..."]},
    }
    parsed = json.loads(compact_line(out, "BENCH_FULL.json"))
    assert parsed["contended"] is True
    assert "contention" not in parsed


def test_contention_probe_force_hook(monkeypatch, tmp_path):
    """The r17 retry path's test hook: SPARK_GRAFT_BENCH_FORCE_CONTENDED
    short-circuits the probe to contended with a named signal, without
    touching the prime-ratio or loadavg machinery."""
    from bench import contention_probe

    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE_CONTENDED", "1")
    p = contention_probe((0.1, 0.1, 0.1), 10.0, 0.1, str(tmp_path))
    assert p["contended"] is True
    assert any("forced" in s for s in p["signals"])
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE_CONTENDED")
    # without the hook, a quiet box with no prime reference is quiet
    p2 = contention_probe((0.1, 0.1, 0.1), 10.0, 0.1, str(tmp_path))
    assert p2["contended"] is False


def test_judge_retry_publishes_faster_complete_pass():
    """ADVICE r17 / r17 verdict item 5: of two COMPLETE same-query-set
    passes, the faster total publishes; the contended flag still
    clears only on a genuinely faster (<0.9x) retry; an errored pass
    never displaces a complete one via its shrunken total."""
    from bench import _judge_retry

    def mk(total, queries):
        return {"value": total, "queries": queries}

    # retry clearly faster: flag clears, retry publishes
    a1 = mk(100.0, {"a": 60.0, "b": 40.0})
    quiet, pub = _judge_retry(a1, mk(80.0, {"a": 50.0, "b": 30.0}))
    assert quiet is True and pub["value"] == 80.0
    # retry SLOWER (contention hit the retry window): flag stays,
    # attempt1 publishes — the faster complete pass
    quiet, pub = _judge_retry(a1, mk(130.0, {"a": 80.0, "b": 50.0}))
    assert quiet is False and pub["value"] == 100.0
    # retry marginally faster (>=0.9x): flag stays, retry publishes
    # (it is still the faster pass)
    quiet, pub = _judge_retry(a1, mk(95.0, {"a": 55.0, "b": 40.0}))
    assert quiet is False and pub["value"] == 95.0
    # retry "faster" only because a query errored out of its total:
    # differing ok-sets veto both the clear AND the attempt1 swap
    quiet, pub = _judge_retry(a1, mk(50.0, {"a": 50.0, "b": -1.0}))
    assert quiet is False and pub["value"] == 50.0
    # attempt1 had the error, retry complete but slower-looking total:
    # ok-sets differ, retry publishes (never the shrunken attempt1)
    a1e = mk(50.0, {"a": 50.0, "b": -1.0})
    quiet, pub = _judge_retry(a1e, mk(90.0, {"a": 55.0, "b": 35.0}))
    assert quiet is False and pub["value"] == 90.0


def test_run_conditions_stamp_carries_code_identity():
    """r19 (r18 verdict item 4 / item 7): every bench artifact must
    carry the run's (cpus, sf) and the code identity it measured, so
    a low-core or stale-tree BENCH_FULL.json can never masquerade as
    the round's 32-core record."""
    from bench import _run_conditions

    cond = _run_conditions("8", 0.1)
    assert cond["cpus"] == 8 and cond["sf"] == 0.1
    assert len(cond.get("git_head", "")) == 40
    assert isinstance(cond.get("tree_dirty"), bool)


def test_tree_dirty_ignores_every_bench_full_artifact():
    """Each run rewrites BENCH_FULL.json AND its stamped
    BENCH_FULL_c{cpus}_sf{sf}.json copy; neither may mark the measured
    tree dirty, while any other changed file must."""
    from bench import _tree_dirty

    artifacts = ["BENCH_FULL.json", "BENCH_FULL_c8_sf0p1.json", "BENCH_FULL_c32_sf0p1.json", ""]
    assert _tree_dirty(artifacts) is False
    assert _tree_dirty([]) is False
    assert _tree_dirty(artifacts + ["bench.py"]) is True
    assert _tree_dirty(["BENCH_r19.json"]) is True


def test_bench_writes_stamped_artifact_copy():
    """Source pin: main() stamps run_conditions into the artifact and
    writes the BENCH_FULL_c{cpus}_sf{sf} copy alongside the canonical
    (overwritable) BENCH_FULL.json."""
    src = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py")).read()
    assert 'out["run_conditions"] = _run_conditions(cpus, sf)' in src
    assert "BENCH_FULL_c{cpus}_sf" in src

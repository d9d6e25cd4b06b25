"""bench.py's round-over-round delta line (r9 verdict #2): every bench run
must put the primary/secondary deltas vs the newest BENCH_r{N}.json on the
record, adjudicated against the measured spreads — favorable or not."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_bench_delta_line_within_noise(capsys):
    """A tiny move swallowed by the spread envelope → within-noise.
    Discovers the prior BENCH_r{N}.json via bench's OWN selection helper
    (r11 verdict #1: a hand-rolled "newest file" here diverged from the
    function's current-round self-exclusion the moment the driver
    deposited this round's artifact, and the pin went red)."""
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    prior = bench._newest_prior_bench(repo)
    if prior is None:
        import pytest

        pytest.skip("no prior BENCH artifact next to bench.py")
    prev = (bench.json.load(open(prior[1])).get("parsed") or {}).get("value")
    result = {"value": (prev or 20.0) + 0.1}
    spreads = {"q1": 0.4, "q2": 0.3}  # envelope = 2*(0.7) = 1.4 > 0.1
    bench._report_delta_vs_prior(result, spreads, None)
    err = capsys.readouterr().err
    assert "# delta vs BENCH_r" in err
    if isinstance(prev, (int, float)) and prev > 0:
        assert "within-noise" in err
        assert f"{prev}->" in err
    else:  # a failed prior round's artifact: the line must still appear
        assert "unparsable" in err


def test_bench_delta_excludes_current_round_artifact(capsys, monkeypatch):
    """r10 ADVICE: a re-run after the harness saved this round's
    BENCH_r{N}.json must NOT compare the round to itself.  With
    SPARK_GRAFT_ROUND=10 the newest eligible prior is r9, even though
    BENCH_r10.json exists on disk."""
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "10")
    bench._report_delta_vs_prior({"value": 20.0}, {"q1": 0.1}, None)
    err = capsys.readouterr().err
    assert "# delta vs BENCH_r9:" in err


def test_bench_delta_infers_round_from_verdict(capsys):
    """With no env override the current round is VERDICT.md's round + 1,
    so the newest prior never exceeds the verdict round."""
    import re

    repo = os.path.dirname(os.path.abspath(bench.__file__))
    m = re.search(r"VERDICT\s*[—-]+\s*round\s+(\d+)",
                  open(os.path.join(repo, "VERDICT.md")).read(200))
    if m is None:
        import pytest

        pytest.skip("no VERDICT.md round header")
    bench._report_delta_vs_prior({"value": 20.0}, {"q1": 0.1}, None)
    err = capsys.readouterr().err
    got = re.search(r"# delta vs BENCH_r(\d+):", err)
    assert got and int(got.group(1)) <= int(m.group(1))


def test_bench_delta_line_exceeds_spread_and_secondary(capsys):
    """A move past the envelope → exceeds-spread; the secondary point's
    delta rides the same line when both rounds have one."""
    result = {"value": 400.0}
    spreads = {"q1": 0.05}
    bench._report_delta_vs_prior(result, spreads, {"value": 40.0})
    err = capsys.readouterr().err
    assert "exceeds-spread" in err
    assert "secondary" in err


def test_bench_delta_like_for_like_on_set_change(capsys, monkeypatch, tmp_path):
    """When the headline set changes between rounds, the raw-total delta is
    not comparable — the line must ALSO adjudicate the intersection (r11:
    q41+q60 joined the set and a -21% like-for-like move printed as +1.3%)."""
    import json

    prior = {"parsed": {"value": 10.0, "queries": {"qa": 6.0, "qb": 4.0}}}
    (tmp_path / "BENCH_r7.json").write_text(json.dumps(prior))
    monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "8")
    result = {"value": 12.0, "queries": {"qa": 5.0, "qb": 3.0, "qc": 4.0}}
    bench._report_delta_vs_prior(result, {"qa": 0.2, "qb": 0.2, "qc": 0.2}, None)
    err = capsys.readouterr().err
    assert "like-for-like over 2 shared queries" in err
    assert "10.00->8.00s" in err and "-20.0%" in err
    assert "exceeds-spread" in err       # |8-10| = 2 > 2*(0.2+0.2)
    assert "added ['qc']" in err and "removed []" in err


def test_bench_delta_disjoint_sets_cannot_kill_the_run(capsys, monkeypatch,
                                                       tmp_path):
    """r11 ADVICE: a prior round sharing NO queries with the current set
    made the like-for-like percentage divide by pv=0, raising before the
    final result JSON printed and discarding the whole bench run.  The
    reporter must print the set change without a ratio instead."""
    import json

    prior = {"parsed": {"value": 10.0, "queries": {"qa": 6.0, "qb": 4.0}}}
    (tmp_path / "BENCH_r7.json").write_text(json.dumps(prior))
    monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "8")
    result = {"value": 5.0, "queries": {"qx": 2.0, "qy": 3.0}}
    bench._report_delta_vs_prior(result, {"qx": 0.1, "qy": 0.1}, None)
    err = capsys.readouterr().err
    assert "no shared queries with prior round" in err
    assert "added ['qx', 'qy']" in err and "removed ['qa', 'qb']" in err


def test_bench_delta_selection_is_shared_with_the_function(monkeypatch,
                                                           tmp_path):
    """The helper the within-noise pin calls IS the function's selection:
    with r7/r8 artifacts on disk and SPARK_GRAFT_ROUND=8, both must pick
    r7 (self-exclusion), not the newest file."""
    import json

    for n in (7, 8):
        (tmp_path / f"BENCH_r{n}.json").write_text(
            json.dumps({"parsed": {"value": float(n)}}))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "8")
    got = bench._newest_prior_bench(str(tmp_path))
    assert got is not None and got[0] == 7
    assert got[1].endswith("BENCH_r7.json")


def test_bench_delta_across_core_counts_is_not_comparable(capsys, monkeypatch,
                                                          tmp_path):
    """A prior taken on a different core count is not a baseline: the
    line must say "not comparable (32 vs 4 cores)" and give no
    within-noise / exceeds-spread verdict.  The same prior on the same
    core count is still adjudicated."""
    import json

    prior = {"cpus": 32, "parsed": {"value": 8.77, "secondary_value": 12.2}}
    (tmp_path / "BENCH_r14.json").write_text(json.dumps(prior))
    monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "15")
    bench._report_delta_vs_prior({"value": 15.44}, {"q1": 0.1},
                                 {"value": 22.95}, cpus=4)
    err = capsys.readouterr().err
    assert "# delta vs BENCH_r14:" in err
    assert "not comparable (32 vs 4 cores)" in err
    assert "within-noise" not in err and "exceeds-spread" not in err
    bench._report_delta_vs_prior({"value": 15.44}, {"q1": 0.1}, None, cpus=32)
    err = capsys.readouterr().err
    assert "exceeds-spread" in err and "not comparable" not in err

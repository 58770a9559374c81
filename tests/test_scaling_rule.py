"""Unit tests for the scaling protocol in ``tools/run_scaling.py``: the
benchmark-level retry of ``run_level_once`` and cleanliness rule v4
(``_apply_time_rule_v4``: a CPU-clean region running above a headroom
multiple of its per-region minimum over CPU-clean rounds excludes the
round).
"""
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


class _FakeCompleted:
    def __init__(self, rc, stdout=""):
        self.returncode = rc
        self.stdout = stdout
        self.stderr = ""


def test_run_level_once_retries_then_gives_up(monkeypatch):
    # A benchmark JVM death (py4j ConnectionRefused under host memory
    # pressure) aborted a 9-round protocol run mid-region on 2026-08-20.
    # The region must retry once and then report failure as None so the
    # caller can discard the round instead of SystemExit-ing the protocol.
    import run_scaling

    calls = []
    monkeypatch.setattr(
        run_scaling.subprocess, "run",
        lambda cmd, **kw: calls.append(cmd) or _FakeCompleted(1))
    assert run_scaling.run_level_once(8, 1000) is None
    assert len(calls) == 2


def test_run_level_once_recovers_on_retry(monkeypatch):
    import run_scaling

    outs = [_FakeCompleted(1), _FakeCompleted(0, '{"runs": [1.5]}\n')]
    monkeypatch.setattr(run_scaling.subprocess, "run",
                        lambda cmd, **kw: outs.pop(0))
    assert run_scaling.run_level_once(8, 1000) == {"runs": [1.5]}
    assert not outs


def test_run_level_once_single_call_on_success(monkeypatch):
    import run_scaling

    calls = []
    monkeypatch.setattr(
        run_scaling.subprocess, "run",
        lambda cmd, **kw: calls.append(cmd)
        or _FakeCompleted(0, 'noise\n{"runs": [2.0]}\n'))
    assert run_scaling.run_level_once(8, 1000) == {"runs": [2.0]}
    assert len(calls) == 1


# --- rule v4: region wall-time anomaly, min anchor ------------------------

from run_scaling import _apply_time_rule_v4  # noqa: E402


def _tround(n, clean_cpu, small_sec, large_sec, **extra):
    d = {"round": n, "clean_cpu": clean_cpu,
         "small_sec": small_sec, "large_sec": large_sec}
    d.update(extra)
    return d


def test_time_rule_flags_cpu_quiet_slow_region():
    # Identical work per region: a CPU-clean round whose 8c suite ran 2.15x
    # the CPU-clean minimum (fresh2 round 6: 181s vs ~84-98s norm) is
    # stalled by contention no CPU gauge saw. Min over r1-r4 small = 84.
    rounds = [_tround(1, True, 84.0, 44.0),
              _tround(2, True, 85.0, 45.0),
              _tround(3, True, 86.0, 44.5),
              _tround(4, True, 181.0, 44.0)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert all(r["time_clean"] for r in rounds[:3])
    assert all(r["clean"] for r in rounds[:3])
    assert not rounds[3]["time_clean"] and not rounds[3]["clean"]


def test_time_rule_exclusion_is_direction_blind():
    # A slow CONTROL region excludes the round exactly like a slow suite
    # region, even though a slow control (denominator) would have
    # FLATTERED the gate ratio (fresh2 round 3: mix-32c 78.7s vs ~21s
    # norm inflated its normalized ratio to 3.252).
    rounds = [_tround(1, True, 84.0, 44.0, mix_small_sec=38.0,
                      mix_large_sec=21.0),
              _tround(2, True, 85.0, 45.0, mix_small_sec=39.0,
                      mix_large_sec=20.5),
              _tround(3, True, 84.5, 44.5, mix_small_sec=38.5,
                      mix_large_sec=78.7)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert rounds[0]["clean"] and rounds[1]["clean"]
    assert not rounds[2]["time_clean"] and not rounds[2]["clean"]


def test_time_rule_skips_regions_a_round_does_not_carry():
    # Legacy rounds predate the agg/mix control regions; a missing or
    # zero region must be skipped, not treated as infinitely fast/slow.
    rounds = [_tround(1, True, 84.0, 44.0, agg_small_sec=20.0),
              _tround(2, True, 85.0, 45.0, agg_small_sec=21.0),
              _tround(3, True, 84.5, 44.5)]  # no agg region
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert all(r["time_clean"] for r in rounds)


def test_time_rule_v4_single_cpu_clean_round_anchors_on_it():
    # One CPU-clean round is still the only valid anchor: the CPU-dirty
    # rounds must not set the reference, not even when fewer than two
    # clean rounds exist. Anchored on all rounds, the dirty 60s round
    # would cap the clean round at 78s and declassify it.
    rounds = [_tround(1, True, 84.0, 44.0),
              _tround(2, False, 60.0, 30.0),
              _tround(3, False, 200.0, 100.0)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert rounds[0]["time_clean"] and rounds[0]["clean"]
    assert rounds[1]["time_clean"] and not rounds[1]["clean"]
    assert rounds[2]["time_clean"] is False and not rounds[2]["clean"]


def test_time_rule_v4_no_cpu_clean_round_records_none():
    # No CPU-clean round: there is no reference, so the time check is not
    # evaluated (None, not a pass) and no round is clean.
    rounds = [_tround(1, False, 84.0, 44.0),
              _tround(2, False, 90.0, 46.0)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert all(r["time_clean"] is None for r in rounds)
    assert not any(r["clean"] for r in rounds)


def test_time_rule_v4_catches_contaminated_majority():
    # ADVICE r4 (medium): under v3 the median reference is captured when
    # >= half the CPU-clean rounds are stalled — 3 of 4 rounds at ~2x
    # quiet time all classify time_clean at headroom 1.3 because the
    # median sits at the stalled value. v4's min anchor (contamination is
    # one-sided slow; the fast tail is the quiet-host truth) flags them.
    rounds = [_tround(1, True, 84.0, 44.0),
              _tround(2, True, 168.0, 88.0),
              _tround(3, True, 170.0, 87.0),
              _tround(4, True, 169.0, 89.0)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert rounds[0]["time_clean"] and rounds[0]["clean"]
    assert not any(r["time_clean"] for r in rounds[1:])


def test_time_rule_v4_quiet_variance_within_headroom_stays_clean():
    # Normal quiet-round jitter (<= headroom x the fastest round) must not
    # be flagged: the min anchor tightens the reference, not the headroom.
    rounds = [_tround(1, True, 84.0, 44.0),
              _tround(2, True, 96.0, 50.0),   # 1.14x / 1.14x the min
              _tround(3, True, 105.0, 55.0)]  # 1.25x / 1.25x the min
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert all(r["time_clean"] and r["clean"] for r in rounds)


def test_time_rule_v4_cpu_dirty_rounds_do_not_set_reference():
    # A CPU-dirty round's regions must not set the reference: the fast
    # dirty round (60s) in the pool would cap every region at 78s and
    # declassify the quiet rounds. Against the CPU-clean minimum (84) the
    # quiet rounds pass and the 120s round is correctly flagged.
    rounds = [_tround(1, False, 60.0, 30.0),
              _tround(2, True, 84.0, 44.0),
              _tround(3, True, 100.0, 52.0),
              _tround(4, False, 170.0, 80.0),
              _tround(5, True, 120.0, 44.0)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert rounds[1]["clean"] and rounds[2]["clean"]
    assert not rounds[0]["clean"] and not rounds[3]["clean"]
    assert not rounds[4]["time_clean"] and not rounds[4]["clean"]


def test_time_rule_v4_ignores_dram_gauges():
    # The in-region DRAM readings stay recorded in every round but no
    # longer classify it: a CPU-clean round whose 32-wide region read less
    # than half the other round's bandwidth is still clean when its wall
    # times are within headroom of the CPU-clean minimum.
    rounds = [_tround(1, True, 84.0, 44.0, small_mem=5.5, large_mem=5.9),
              _tround(2, True, 86.0, 45.0, small_mem=5.4, large_mem=2.7)]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert all(r["time_clean"] and r["clean"] for r in rounds)
    assert "mem_clean" not in rounds[1]


def test_time_rule_v4_region_at_exactly_headroom_stays_clean():
    # The bound is inclusive: a region at exactly headroom x the reference
    # passes; the first region past it excludes the round.
    rounds = [_tround(1, True, 80.0, 40.0),
              _tround(2, True, 100.0, 40.0),    # 1.25x the min: clean
              _tround(3, True, 80.0, 50.0),     # exactly 1.25x: clean
              _tround(4, True, 80.0, 50.5)]     # past 1.25x: excluded
    _apply_time_rule_v4(rounds, headroom=1.25)
    assert all(r["time_clean"] and r["clean"] for r in rounds[:3])
    assert not rounds[3]["time_clean"] and not rounds[3]["clean"]


def test_time_rule_v4_legacy_round_keeps_recorded_flag():
    # A round logged before the CPU gauges existed carries only its
    # recorded ``clean`` flag. That flag stands in for clean_cpu in the
    # final verdict, but the round never joins the reference pool: its
    # fast 60s region would otherwise cap round 2 at 78s and exclude it.
    rounds = [{"round": 1, "clean": True, "small_sec": 60.0,
               "large_sec": 30.0},
              _tround(2, True, 84.0, 44.0),
              {"round": 3, "clean": False, "small_sec": 84.0,
               "large_sec": 44.0}]
    _apply_time_rule_v4(rounds, headroom=1.3)
    assert rounds[0]["time_clean"] and rounds[0]["clean"]
    assert rounds[1]["time_clean"] and rounds[1]["clean"]
    assert rounds[2]["time_clean"] and not rounds[2]["clean"]


def test_main_rejects_retired_rule_v2_flags(monkeypatch, capsys):
    # Rule v4 is the only cleanliness rule: the v2 options are gone, and an
    # old command line fails at argument parsing before any region runs.
    import run_scaling

    def _no_run(*a, **kw):
        raise AssertionError("a benchmark region ran")

    monkeypatch.setattr(run_scaling, "run_level_once", _no_run)
    for argv in (["--mem-frac", "0.75"], ["--clean-rule", "v2"]):
        monkeypatch.setattr(sys, "argv", ["run_scaling.py", *argv])
        with pytest.raises(SystemExit) as exc:
            run_scaling.main()
        assert exc.value.code == 2
        assert "unrecognized arguments" in capsys.readouterr().err

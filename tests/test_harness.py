"""harness.py units that guard the measurement protocol shared by
bench.py, scale_check.py and determinism_check.py: the
undersized-reused-session warning must be able to compare JVM memory
strings, the timing estimator must add its tie-break pass exactly when
the first two disagree, and subset selection must reject typos."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import harness  # noqa: E402


def test_mem_bytes_parses_jvm_strings():
    assert harness._mem_bytes("24g") == 24 * 1024**3
    assert harness._mem_bytes("512m") == 512 * 1024**2
    assert harness._mem_bytes("8G") == 8 * 1024**3  # case-insensitive
    assert harness._mem_bytes("1024k") == 1024 * 1024
    assert harness._mem_bytes("1048576") == 1048576  # bare bytes
    assert harness._mem_bytes(" 2gb ") == 2 * 1024**3  # tolerant suffix/space


def test_mem_bytes_unparseable_is_zero_not_crash():
    # a weird conf value must degrade to "warn" (0 < anything), never
    # crash the bench before it prints its JSON lines
    assert harness._mem_bytes("") == 0
    assert harness._mem_bytes("lots") == 0
    assert harness._mem_bytes("-4g") == 0


def test_undersized_reuse_is_detectable():
    # the exact comparison session() performs: library default vs
    # harness intent — must flag 8g < 24g and pass 24g >= 24g
    assert harness._mem_bytes("8g") < harness._mem_bytes("24g")
    assert not (harness._mem_bytes("24g") < harness._mem_bytes("24g"))


@pytest.mark.parametrize(
    "durations, expected",
    [
        ([1.0, 1.4], [1.0, 1.4]),  # within 1.5x: two passes
        ([1.0, 1.6, 1.1], [1.0, 1.6, 1.1]),  # beyond 1.5x: tie-break pass
    ],
    ids=["agree", "disagree"],
)
def test_timed_adds_tiebreak_pass_only_on_disagreement(
    monkeypatch, durations, expected
):
    # scripted clock: each pass reads perf_counter twice (start, end)
    ticks = []
    now = 0.0
    for d in durations:
        ticks += [now, now + d]
        now += d + 10.0
    clock = iter(ticks)
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    calls = []
    assert harness.timed(lambda: calls.append(1)) == expected
    assert len(calls) == len(expected)


def test_select_rejects_unknown_and_keeps_order():
    available = ("a", "b", "c")
    assert harness.select(available, ["c", " a", ""]) == ["c", "a"]
    with pytest.raises(ValueError, match="nope"):
        harness.select(available, ["a", "nope"])


def test_round_number_is_past_every_recorded_artifact(tmp_path):
    """A run's round is past every round-numbered file the harness
    scripts write, not only the BENCH_r{N}.json results, so a bench or
    determinism run never overwrites a committed artifact."""
    assert harness.round_number(tmp_path) == 1
    (tmp_path / "BENCH_r13.json").write_text("{}")
    (tmp_path / "BENCH_r13_c8.json").write_text("{}")
    assert harness.round_number(tmp_path) == 14
    (tmp_path / "BENCH_DETAIL_r14.json").write_text("{}")
    assert harness.round_number(tmp_path) == 15
    (tmp_path / "DETERMINISM_r15_subset.json").write_text("{}")
    assert harness.round_number(tmp_path) == 16
    (tmp_path / "SCALECHECK_r40.jsonl").write_text("")
    (tmp_path / "OPTIMIZATION_r41.md").write_text("")
    assert harness.round_number(tmp_path) == 16

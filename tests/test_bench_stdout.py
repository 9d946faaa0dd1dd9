"""bench.py's one stdout JSON line must fit the driver's 2000-char tail."""

from __future__ import annotations

import json

import bench

HEAD = {
    "metric": "registry_wall_total",
    "value": 123.456,
    "unit": "sec",
    "sf": 0.1,
    "n_queries": 231,
}


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}_{i:03d}_" + "x" * 60 for i in range(n)]


def test_short_line_is_untouched():
    slowest = {"pagerank": 5.4, "semdedup_2level": 3.1}
    changed = {"q1_pricing_summary": 0.9}
    failed = {"q2_min_cost_supplier": -1.0}
    line = bench._stdout_line({**HEAD, "n_failed": 1}, slowest, changed, failed)
    parsed = json.loads(line)
    assert parsed["queries"] == {**slowest, **changed, **failed}


def test_long_names_are_trimmed_to_the_budget():
    slowest = {n: 10.0 - i * 0.1 for i, n in enumerate(_names("slow", 15))}
    changed = {n: 1.0 for n in _names("changed", 10)}
    failed = {n: -1.0 for n in _names("failed", 40)}
    line = bench._stdout_line({**HEAD, "n_failed": 40}, slowest, changed, failed)
    assert len(line) <= bench.STDOUT_BUDGET
    parsed = json.loads(line)
    assert parsed["n_failed"] == 40
    kept = parsed["queries"]
    assert not set(kept) & set(changed)
    # the slowest entries are kept down to the floor, slowest first
    assert list(kept)[: bench.SLOWEST_FLOOR] == list(slowest)[: bench.SLOWEST_FLOOR]


def test_changed_entries_go_before_slowest_ones():
    slowest = {n: 10.0 - i * 0.1 for i, n in enumerate(_names("slow", 15))}
    changed = {n: 1.0 for n in _names("changed", 20)}
    line = bench._stdout_line({**HEAD, "n_failed": 0}, slowest, changed, {})
    assert len(line) <= bench.STDOUT_BUDGET
    kept = json.loads(line)["queries"]
    assert set(slowest) <= set(kept)
    assert 0 < len(set(kept) & set(changed)) < len(changed)


def test_baseline_is_the_committed_stamp(tmp_path):
    """A bench run rewrites BENCH_SELF.json; the next run must still
    compare against the stamp committed at HEAD, not that working copy."""
    import subprocess

    def stamp(seconds):
        return json.dumps({"sf": 0.1, "queries": {"pagerank": seconds}})

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path,
            check=True,
            capture_output=True,
        )

    git("init", "-q")
    (tmp_path / "BENCH_SELF.json").write_text(stamp(5.0))
    git("add", "BENCH_SELF.json")
    git("commit", "-q", "-m", "stamp")
    (tmp_path / "BENCH_SELF.json").write_text(stamp(9.0))

    name, prev = bench._load_previous(str(tmp_path), 0.1)
    assert prev == {"pagerank": 5.0}
    assert "BENCH_SELF" in name


def test_baseline_falls_back_to_driver_history_outside_git(tmp_path):
    (tmp_path / "BENCH_SELF.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"pagerank": 9.0}})
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"parsed": {"sf": 0.1, "queries": {"pagerank": 4.0}}})
    )
    name, prev = bench._load_previous(str(tmp_path), 0.1)
    assert (name, prev) == ("BENCH_r03.json", {"pagerank": 4.0})

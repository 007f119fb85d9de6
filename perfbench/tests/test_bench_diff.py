"""Verdicts of the compare tool."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_diff  # noqa: E402


def runs(values):
    return {seed: v for seed, v in enumerate(values, 1)}


STEADY = runs([100, 101, 99, 100, 102, 98, 100, 101, 99, 100])


def test_clear_gain_is_better():
    change = runs([v * 1.3 for v in STEADY.values()])
    assert bench_diff.verdict(STEADY, change, "higher", 0.1) == ("better", 1.0)


def test_loss_beyond_bound_is_worse_and_within_bound_is_unchanged():
    worse = runs([v * 0.8 for v in STEADY.values()])
    assert bench_diff.verdict(STEADY, worse, "higher", 0.1)[0] == "worse"
    slightly = runs([v * 0.97 for v in STEADY.values()])
    assert bench_diff.verdict(STEADY, slightly, "higher", 0.1)[0] == "unchanged"


def test_lower_is_better_direction():
    faster = runs([v * 0.7 for v in STEADY.values()])
    assert bench_diff.verdict(STEADY, faster, "lower", 0.1)[0] == "better"
    assert bench_diff.verdict(faster, STEADY, "lower", 0.1)[0] == "worse"


def test_noisy_parent_is_unresolved():
    noisy = runs([60, 140, 80, 120, 100, 70, 130, 90, 110, 100])
    change = runs([v * 0.95 for v in noisy.values()])
    assert bench_diff.verdict(noisy, change, "higher", 0.1)[0] == "unresolved"


def test_spread_is_iqr_over_median():
    assert bench_diff.spread([1, 2, 3, 4, 5]) == (4.5 - 1.5) / 3


def test_main_compares_record_files(tmp_path, capsys):
    def record(path, scale):
        with open(path, "w") as f:
            for seed, v in STEADY.items():
                for wl in ("fused_protocol", "rowlocal_dirty"):
                    metrics = {m: {"value": v * scale, "unit": "x"} for m in
                               ("turns_per_s", "compile_s", "peak_rss_mb",
                                "setup_s")}
                    f.write(json.dumps({"workload": wl, "seed": seed,
                                        "trace": 0, "result": {
                                            "correct": True, "attempted": 1,
                                            "failed": 0,
                                            "metrics": metrics}}) + "\n")
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    record(a, 1.0)
    record(b, 1.0)
    assert bench_diff.main([str(a), str(b)]) == 0
    record(b, 2.0)   # peak_rss_mb and setup_s doubled
    assert bench_diff.main([str(a), str(b)]) == 1
    assert "worse" in capsys.readouterr().out

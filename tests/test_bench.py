"""bench.py's headline line (no SparkSession)."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _worst_calibration() -> dict:
    return {
        "probe_rows": bench.CALIB_ROWS,
        "probe_sec_best": 12345.678,
        "probe_sec_worst": 12345.678,
        "parallel_sec_best": 12345.678,
        "parallel_sec_worst": 12345.678,
        "membw_sec_best": 12345.678,
        "membw_sec_worst": 12345.678,
        "nominal_sec": bench.CALIB_NOMINAL_SEC,
        "membw_nominal_sec": bench.CALIB_MEMBW_NOMINAL_SEC,
        "contended": True,
        "contended_by": ["single_thread", "parallel", "membw"],
    }


def test_headline_line_fits_tail_and_parses():
    """Every headline query (34) at a 5-digit timing, every probe
    tripped in both calibration passes and a streaming block: the line
    stays within 1,500 characters (stdout is captured by its last
    2,000) and is one JSON object holding every query."""
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) >= 34
    times = {n: 12345.678 + i for i, n in enumerate(bench.HEADLINE)}
    streaming = {
        "turns": 123_456_789, "wall_sec": 12345.678, "turns_per_sec": 1234567.8,
    }
    line = bench.headline_line(
        times, _worst_calibration(), _worst_calibration(), 0.01, 256, streaming
    )
    assert "\n" not in line and len(line) <= 1500, len(line)
    got = json.loads(line)
    assert got["queries"] == times
    assert got["streaming"] == streaming
    assert got["contended"] is True
    assert got["contended_by"] == ["membw", "parallel", "single_thread"]
    assert got["value"] == round(sum(times.values()), 3)
    assert (got["metric"], got["unit"], got["sf"], got["cpus"]) == (
        "headline_queries_total_wall", "sec", 0.01, 256,
    )
    assert "calibration" not in got and "queries_spread" not in got


def test_headline_line_without_streaming():
    calm = dict(_worst_calibration(), contended=False, contended_by=[])
    got = json.loads(bench.headline_line({"q": 1.0}, calm, calm, "x", 4, None))
    assert "streaming" not in got
    assert got["contended"] is False and got["contended_by"] == []

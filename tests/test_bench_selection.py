"""bench.py's query selection and compact line, without Spark."""

from __future__ import annotations

import json

import pytest

import bench
from gnip_trend_detection_spark import queries as q


def _round(path, names):
    path.write_text(json.dumps({"parsed": {"queries": dict.fromkeys(names, 1.0)}}))


def test_pin_is_latest_numeric_round(tmp_path):
    _round(tmp_path / "BENCH_r9.json", ["nine"])
    _round(tmp_path / "BENCH_r10.json", ["ten_a", "ten_b"])
    _round(tmp_path / "BENCH_r10_c8.json", ["ten_c8"])
    assert bench.compact_pin(str(tmp_path)) == ["ten_a", "ten_b"]


def test_no_rounds_empty_pin_line_fits(tmp_path):
    pin = bench.compact_pin(str(tmp_path))
    assert pin == []
    names = bench.select([], q)
    timings = {n: round(1 + i / 7, 3) for i, n in enumerate(names)}
    detail = {"metric": "m", "value": 1.0, "unit": "sec", "queries": timings, "sf": 0.1}
    line = bench.compact_line(detail, pin)
    assert len(json.dumps(line, separators=(",", ":"))) <= 1900
    assert len(line["queries"]) + line["n_omitted"] == len(names)


def test_unknown_name_exits_before_spark(monkeypatch):
    from gnip_trend_detection_spark import session

    def no_spark(*a, **k):
        raise AssertionError("Spark session started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as e:
        bench.main(["rebin_straddle", "no_such_query"])
    assert "no_such_query" in str(e.value.code)

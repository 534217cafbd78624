"""The Poisson oracle's CI table is extended to the generated counts."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gnip_trend_detection_spark import oracles
from gnip_trend_detection_spark.functions.poisson_math import poisson_interval
from perfbench import oracle, run


def _events(path, per_minute):
    n = sum(per_minute)
    minute = np.repeat(np.arange(len(per_minute)), per_minute)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        minute * 60_000_000 + 1).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(np.zeros(n, dtype=np.int64)),
        "event_type": pa.array(["c000"] * n),
        "value": pa.array(np.ones(n)),
        "props": pa.array(["{}"] * n),
    }), path / "events.parquet")


def test_eta_above_the_fixture_table(tmp_path):
    # two 2-minute bins of 600 and 620 events: nu = 600 is past the
    # fixture's table, so the unextended oracle reads eta 0
    _events(tmp_path, [300, 300, 310, 310])
    default_max = oracles.CI_MAX_NU
    assert default_max < 600

    def eta(sql):
        con = oracle.connect(str(tmp_path), str(tmp_path / "duck"))
        try:
            return con.sql(f"SELECT eta FROM ({sql['poisson_lc_eta']}) "
                           "WHERE count = 620").fetchall()[0][0]
        finally:
            con.close()

    try:
        assert eta(oracles.build()) == 0.0
        extended = run.oracle_sql({"timed": {"trend": {"max_bin_count": 620}}})
        assert oracles.CI_MAX_NU == 620
        lo, hi = poisson_interval(oracles.ALPHA, np.array([600.0]))
        assert eta(extended) == float(f"{20 / (hi - lo)[0]:.2g}")
    finally:
        oracles.CI_MAX_NU = default_max
        oracles.ci_width_values.cache_clear()

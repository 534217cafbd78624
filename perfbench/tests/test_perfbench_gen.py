"""Generated inputs are a function of the seed alone."""

import hashlib
import os

import pytest

from perfbench import gen

SMALL = {
    "trend": {"counters": 4, "days": 4, "events": 3_000},
    "curate": {"docs": 120},
    "olap": {"orders": 800},
}


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_inputs(tmp_path, name):
    a, b = tmp_path / "a", tmp_path / "b"
    info_a = gen.GENERATORS[name](str(a), 7, **SMALL[name])
    info_b = gen.GENERATORS[name](str(b), 7, **SMALL[name])
    assert info_a == info_b
    assert _digest(a) == _digest(b)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_other_seed_other_inputs(tmp_path, name):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.GENERATORS[name](str(a), 7, **SMALL[name])
    gen.GENERATORS[name](str(b), 8, **SMALL[name])
    da, db = _digest(a), _digest(b)
    assert da.keys() == db.keys()
    assert all(da[f] != db[f] for f in da)


def test_dedup_corpus_truncates_like_the_registry(tmp_path):
    # dedup.jsonl must equal the registry's LSH corpus: every document
    # plus, for doc_id % 5 == 0, its first 40 whitespace tokens
    import json

    gen.curate(str(tmp_path), 3, docs=60)
    rows = [json.loads(x) for x in open(tmp_path / "dedup.jsonl")]
    by_id = {r["doc_id"]: r["text"] for r in rows}
    base = {d: t for d, t in by_id.items() if d < 1_000_000}
    assert len(base) == 60
    for d, t in base.items():
        if d % 5 == 0:
            assert by_id[d + 1_000_000] == " ".join(t.lower().split()[:40])
        else:
            assert d + 1_000_000 not in by_id


def test_counts_csv_matches_events(tmp_path):
    import pyarrow.parquet as pq

    info = gen.trend(str(tmp_path), 5, counters=3, days=4, events=2_000)
    total = sum(float(line.split(",")[2]) for line in open(tmp_path / "counts.csv"))
    assert total == info["events"] == pq.read_table(tmp_path / "events.parquet").num_rows


def test_max_bin_count_bounds_every_two_minute_count(tmp_path):
    from collections import Counter

    info = gen.trend(str(tmp_path), 9, counters=3, days=1, events=20_000)
    per_min = Counter()
    for line in open(tmp_path / "counts.csv"):
        ts, _, cnt, counter = line.strip().split(",")
        per_min[counter, int(ts[8:10]) * 60 + int(ts[10:12])] = float(cnt)
    pairs = [c + per_min[k, m + 1] for (k, m), c in list(per_min.items())]
    assert max(pairs) == info["max_bin_count"]

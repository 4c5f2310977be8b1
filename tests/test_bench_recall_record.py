"""``bench.py``'s MinHash recall records carry the same keys whether the
100x recall cache exists or not, so two runs of one commit emit the
same ``bench_out.json`` key set. No Spark."""

from __future__ import annotations

import json
import time

import bench

REC = {"recall": 0.97, "exact_pairs": 120, "band_missed": 4, "sec": 1.5}


def test_recall_record_keys_do_not_depend_on_the_cache(tmp_path):
    cache = str(tmp_path / "minhash_recall_100x.json")
    measured = []

    def measure() -> dict:
        measured.append(1)
        return dict(REC)

    fresh = bench._recall_record(cache, measure)
    cached = bench._recall_record(cache, measure)
    uncached = bench._recall_record(None, measure)
    assert len(measured) == 2
    assert fresh.keys() == cached.keys() == uncached.keys() == \
        {*REC, "sec_cached", "sec_measured_at"}
    assert [r["sec_cached"] for r in (fresh, cached, uncached)] == \
        [False, True, False]
    assert cached["sec"] == REC["sec"]
    for r in (fresh, cached, uncached):
        time.strptime(r["sec_measured_at"], "%Y-%m-%dT%H:%M:%SZ")
    with open(cache) as fh:
        assert json.load(fh) == REC

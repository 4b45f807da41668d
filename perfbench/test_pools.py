"""Pins the committed workload membership in ``pools.json``.

    python3 -m pytest perfbench/test_pools.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from classify import POOLS  # noqa: E402
from run import SAMPLES, registry_sample  # noqa: E402

with open(os.path.join(harness.BENCH_DIR, "pools.json")) as f:
    DOC = json.load(f)


def test_every_pooled_name_is_registered():
    from cobalt_duckdb_spark.queries import queries

    registered = set(queries())
    for pool in POOLS:
        assert set(DOC[pool]) <= registered, pool
    assert set(DOC["excluded"]) <= registered


def test_pools_are_disjoint_and_follow_the_rule():
    a, b = (set(DOC[p]) for p in POOLS)
    assert not a & b
    assert not (a | b) & set(DOC["excluded"])
    assert all(DOC["measured"][n]["build_jobs"] == 0 for n in a)
    assert all(DOC["measured"][n]["build_jobs"] > 0 for n in b)


def test_samples_are_fixed_and_drawn_from_their_pool():
    for pool, (size, (lo_s, hi_s), min_jobs) in SAMPLES.items():
        sample = registry_sample(pool)
        assert sample == registry_sample(pool)
        assert len(sample) == len(set(sample)) == size
        assert set(sample) <= set(DOC[pool])
        for n in sample:
            assert lo_s <= DOC["measured"][n]["total_s"] <= hi_s, n
            assert DOC["measured"][n]["build_jobs"] >= min_jobs, n

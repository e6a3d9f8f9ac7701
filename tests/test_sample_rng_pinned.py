"""Pinned-output evidence for the one rows-only entry with no graded twin.

``sample_rng`` (suite/stats.py::q_sample_rng) is a seeded Bernoulli
``df.sample`` — Spark draws one XORShift stream per partition seeded with
``seed + partitionIndex``, so membership is exactly reproducible under a
FIXED seed and partitioning but changes when the scan is split
differently (the documented reason its driver check is rows-only; the
reproducible-across-engines patterns are the hash-mod samplers
``sample_deterministic`` / ``sample_stratified`` / ``sample_weighted``,
all hash-graded).

Writing this pin surfaced a real bug (round 6): the 2-positional-arg
overload ``df.sample(0.05, seed=42)`` in PySpark 4.1.2 silently drops
the seed — identical configs produced 64/68/73/74-row samples across
sessions. The query now uses the explicit keyword form, which is
session-stable (verified twice before pinning).

These tests pin the EXACT sample under the test session's fixed config
(local[4], shuffle=8 — conftest.py) so the rows-only status carries the
same evidence weight as the sketch arms' graded twins: any change to the
sampler, the seed plumbing, or the scan partitioning breaks a hash here.
"""

from __future__ import annotations

import hashlib

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, SF001

# md5 over the comma-joined ascending o_orderkey sample, computed under
# the conftest session config (local[4], shuffle=8). Spark's per-partition
# XORShift stream is a stable public contract (seed + partitionIndex), so
# these values only move if the scan split planning or sampler changes.
PINNED = {
    SF0001: (84, "b23192480ec5ce5f76ab34c40b368fb7"),
    SF001: (796, "8a4be2288eab39af6194029aafca7f57"),
}


def _sample_hash(spark, sf: str) -> tuple[int, str]:
    q = all_queries()["sample_rng"]
    rows = sorted(r[0] for r in q.build(spark, sf).collect())
    return len(rows), hashlib.md5(",".join(map(str, rows)).encode()).hexdigest()


def test_sample_rng_exact_pinned_both_sfs(spark):
    for sf, expected in PINNED.items():
        assert _sample_hash(spark, sf) == expected


def test_sample_rng_rerun_identical(spark):
    # same session, same plan → byte-identical sample (no hidden
    # nondeterminism beyond the documented partitioning dependence)
    assert _sample_hash(spark, SF0001) == _sample_hash(spark, SF0001)

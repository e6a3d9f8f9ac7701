"""Skewed-key scaling family plumbing (round 9).

The bench family's evidence is only as good as its corpus and its
conf hygiene: the hot key must actually own ~25% of rows, the salted
join must stay result-identical to the plain join ON THE SKEWED corpus
under the family's no-broadcast regime (the operator's existing
equivalence test runs on a uniform corpus with broadcast allowed — a
different physical plan), and the context manager must restore the
session confs it pins so the bench session's later families measure
under the standard config.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_implementation_spark.plans import audit_plan

from .conftest import SF0001


def _skewed_frames(spark, tmp_path):
    """A small synthetic hot-key corpus (no .bench_data writes from
    tests): 4000 facts, ~25% remapped to hot key 0, dim keys 0..399."""
    fact = spark.range(4000).select(
        (F.col("id") % 400).alias("okey"), F.col("id").alias("payload")
    )
    fact = fact.withColumn(
        "okey",
        F.when(F.pmod(F.hash("okey", "payload"), F.lit(4)) == 0, F.lit(0)).otherwise(
            F.col("okey")
        ),
    )
    dim = spark.range(400).select(
        F.col("id").alias("okey"), (F.col("id") * 10).alias("attr")
    )
    return fact, dim


def test_no_auto_broadcast_restores_confs(spark):
    import bench

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    with bench._no_auto_broadcast(spark):
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
        assert (
            spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
            == "-1"
        )
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == prev


def test_salted_join_identity_on_skewed_corpus_no_broadcast(spark, tmp_path):
    """Result identity plain-vs-salted on a hot-key corpus with the
    family's no-broadcast regime — the physical plan the bench family
    actually prices (shuffle join both sides, salt spreading the hot
    key), not the broadcast plan the uniform-corpus test exercises."""
    import bench
    from map_reduce_implementation_spark.operators.skew import salted_join

    fact, dim = _skewed_frames(spark, tmp_path)
    hot_frac = fact.filter("okey = 0").count() / fact.count()
    assert 0.2 < hot_frac < 0.3, hot_frac

    with bench._no_auto_broadcast(spark):
        salted = salted_join(fact, dim, "okey", n_salts=8)
        assert not audit_plan(salted).has_broadcast_join
        got = sorted(tuple(r) for r in salted.collect())
    want = sorted(tuple(r) for r in fact.join(dim, "okey").collect())
    assert got == want


def test_skew_corpus_builder_hot_fraction(spark, tmp_path, monkeypatch):
    """The skew corpus builder gives the hot key the designed ~25% of
    rows at every scale (built from sf0.001 under a temporary root)."""
    import bench

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", SF0001)
    for n in (1, 2):
        out = bench._ensure_skew_xn(spark, n)
        assert out == str(tmp_path / ".bench_data" / f"skew_x{n}")
        df = spark.read.parquet(f"{out}/lineitem.parquet")
        rows = df.count()
        hot = df.filter("l_orderkey = 0").count()
        assert 0.22 < hot / rows < 0.28, (n, hot / rows)

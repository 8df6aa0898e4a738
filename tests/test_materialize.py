"""The materialization policy (end_to_end_ml_spark/materialize.py): the scale
decision, its call sites, and the guarded persist."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from end_to_end_ml_spark import materialize
from end_to_end_ml_spark.functions import metrics


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def _pairs(spark):
    """Range-backed (x, y) with ties and a NULL on each side. Range has
    exact optimizer stats (rows x row width), so it crosses a zeroed
    threshold honestly, and no ExistingRDD appears unless a checkpoint
    puts one there."""
    xs = "3L,1L,4L,1L,5L,9L,2L,6L,5L,3L,5L,NULL,7L"
    ys = "2L,7L,1L,8L,2L,8L,1L,8L,2L,8L,4L,3L,NULL"
    return spark.range(13).selectExpr(
        f"element_at(array({xs}), cast(id + 1 as int)) as x",
        f"element_at(array({ys}), cast(id + 1 as int)) as y",
    )


def test_at_scale_local_default_off(spark):
    """A small frame on a local master keeps the measured-optimal local
    plan (no materialization barriers)."""
    assert materialize.at_scale(spark.range(2)) is False


def test_at_scale_size_threshold(spark, monkeypatch):
    """A local master still flips to the materialized shape when the
    optimizer's size estimate exceeds the threshold, while Catalyst's
    unknown-size sentinel (Long.MaxValue on ExistingRDD inputs) is treated
    as unknown, not huge."""
    monkeypatch.setattr(materialize, "SCALE_BYTES", 0)
    assert materialize.at_scale(spark.range(4).selectExpr("id as x")) is True
    rdd_backed = spark.createDataFrame([(1, 2), (3, 4)], "x long, y long")
    assert materialize.at_scale(rdd_backed) is False
    # any input above the threshold decides for all of them
    assert materialize.at_scale(rdd_backed, spark.range(4)) is True


def test_at_scale_probe_failure_is_loud(spark, monkeypatch):
    """A broken stats API raises instead of silently keeping the local
    plan."""

    def broken(df):
        raise RuntimeError("stats API changed")

    monkeypatch.setattr(materialize, "_estimated_bytes", broken)
    with pytest.raises(RuntimeError, match="stats API changed"):
        materialize.at_scale(spark.range(2))


def test_spearman_is_result_identical_on_both_arms(spark, monkeypatch):
    """The scale arm flips a18's plan to the cluster shape (the pair frame
    and each counts table checkpointed instead of re-derived per consumer)
    and must never change a single value, ties and NULLs included."""
    base_df = metrics.spearman_components(_pairs(spark), "x", "y")
    assert "ExistingRDD" not in _plan(base_df)
    base = base_df.collect()
    monkeypatch.setattr(materialize, "SCALE_BYTES", 0)
    ckpt_df = metrics.spearman_components(_pairs(spark), "x", "y")
    ckpt = ckpt_df.collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in ckpt]
    assert "ExistingRDD" in _plan(ckpt_df)


def test_drift_and_ovr_sites_flip_with_threshold(spark, monkeypatch):
    """The census sites (drift_bins histogram, roc_auc_ovr per_class,
    _bucketed_rank counts) follow the same decision: a zero threshold
    forces the materialized shape (plan gains ExistingRDD), the default
    keeps the re-derive shape, and BOTH produce identical values."""
    from end_to_end_ml_spark.operators import split as SP

    ref = spark.range(0, 100).selectExpr("cast(id as double) as v")
    cur = spark.range(40, 140).selectExpr("cast(id as double) as v")
    lab = spark.range(0, 90).selectExpr(
        "cast(id % 3 as int) as y",
        *[f"cast(id % {m} as double) / {m} as s{i}" for i, m in
          enumerate([7, 11, 13])],
    )
    rows = {}
    for scale_bytes in (materialize.SCALE_BYTES, 0):
        monkeypatch.setattr(materialize, "SCALE_BYTES", scale_bytes)
        ks = metrics.ks_stat_exact(ref, cur, "v", lo=0.0, hi=140.0, n_bins=10)
        ovr = metrics.roc_auc_ovr(lab, "y", {0: "s0", 1: "s1", 2: "s2"})
        tr, te = SP.stratified_split(
            lab.selectExpr("*", "cast(y * 1000 + s0 * 7 as long) as pk"),
            "y",
            "pk",
        )
        rows[scale_bytes] = (
            [tuple(r) for r in ks.collect()],
            [tuple(r) for r in ovr.collect()],
            tr.count(),
            te.count(),
        )
        for q in (ks, ovr):
            assert ("ExistingRDD" in _plan(q)) == (scale_bytes == 0)
    assert rows[0] == rows[materialize.SCALE_BYTES]


def test_one_scale_decision_per_call(spark, monkeypatch, caplog):
    """spearman_components and drift_bins each decide once per call (the
    decision is passed down, not re-probed per helper), and each decision
    is logged once with its inputs."""
    probes = []
    real = materialize._estimated_bytes

    def counting(df):
        probes.append(df)
        return real(df)

    monkeypatch.setattr(materialize, "_estimated_bytes", counting)
    caplog.set_level(logging.INFO, logger=materialize.__name__)

    metrics.spearman_components(_pairs(spark), "x", "y")
    assert len(probes) == 1
    assert len(caplog.records) == 1
    msg = caplog.records[0].getMessage()
    assert "at_scale=False" in msg and "master=local" in msg
    assert f"threshold={materialize.SCALE_BYTES}" in msg

    probes.clear()
    caplog.clear()
    ref = spark.range(0, 100).selectExpr("cast(id as double) as v")
    cur = spark.range(40, 140).selectExpr("cast(id as double) as v")
    metrics.drift_bins(ref, cur, "v", 0.0, 140.0, 10)
    # one decision over both inputs: one stats probe per input frame
    assert len(caplog.records) == 1
    assert len(probes) == 2


def test_persist_owned_skips_already_cached_plan(spark):
    """persist_owned must not re-persist a plan the CacheManager already
    holds — with memoized scans a repeated operator call rebuilds an
    IDENTICAL logical plan, and a bare persist() there logs `Asked to
    cache already cached data` and risks sibling-cache eviction — and it
    reports ownership so only the caller that persisted unpersists."""
    from pyspark.storagelevel import StorageLevel

    a = spark.range(1234).withColumn("v", F.col("id") % 5)
    try:
        cached, owned = materialize.persist_owned(a)
        assert owned
        cached.count()  # materialize the cache
        # a SEPARATE DataFrame object with the identical logical plan:
        # storageLevel consults the CacheManager by plan, not by object
        b = spark.range(1234).withColumn("v", F.col("id") % 5)
        assert b.storageLevel != StorageLevel.NONE
        same, owned = materialize.persist_owned(b)
        assert same is b and not owned  # guard short-circuits
    finally:
        a.unpersist()
    fresh = spark.range(4321).withColumn("v", F.col("id") % 5)
    try:
        assert fresh.storageLevel == StorageLevel.NONE
        persisted, owned = materialize.persist_owned(fresh)
        assert owned and persisted.storageLevel != StorageLevel.NONE
    finally:
        fresh.unpersist()

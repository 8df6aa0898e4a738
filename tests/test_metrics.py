"""Metric-query tests against hand-computed + numpy oracles (the container
has no sklearn; the reference's own oracle pattern — compare to a trusted
computation — is applied with explicit formulas)."""

from __future__ import annotations

import numpy as np
import pytest

from end_to_end_ml_spark.functions import metrics as M

# y_true, y_pred fixture: TP=3, FP=2, FN=1, TN=4
PAIRS = [(1, 1)] * 3 + [(0, 1)] * 2 + [(1, 0)] * 1 + [(0, 0)] * 4


@pytest.fixture(scope="module")
def scored(spark):
    rows = [(i, y, s) for i, (y, s) in enumerate(
        [(1, 0.9), (1, 0.8), (0, 0.7), (1, 0.6), (0, 0.4), (0, 0.2)]
    )]
    return spark.createDataFrame(rows, ["pk", "y", "s"])


def test_confusion_matrix(spark):
    df = spark.createDataFrame(PAIRS, ["y", "p"])
    out = {(r["label"], r["prediction"]): r["n"] for r in M.confusion_matrix(df, "y", "p").collect()}
    assert out == {(1, 1): 3, (0, 1): 2, (1, 0): 1, (0, 0): 4}


def test_confusion_row_fraction(spark):
    df = spark.createDataFrame(PAIRS, ["y", "p"])
    out = {(r["label"], r["prediction"]): r["row_fraction"] for r in M.confusion_matrix(df, "y", "p").collect()}
    assert out[(1, 1)] == pytest.approx(0.75)
    assert out[(0, 0)] == pytest.approx(4 / 6)


def test_binary_metrics(spark):
    df = spark.createDataFrame(PAIRS, ["y", "p"])
    r = M.binary_metrics(df, "y", "p", beta=0.5).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 2, 1, 4)
    assert r["accuracy"] == pytest.approx(0.7)
    assert r["precision"] == pytest.approx(0.6)
    assert r["recall"] == pytest.approx(0.75)
    assert r["f1"] == pytest.approx(2 * 0.6 * 0.75 / 1.35)
    b2 = 0.25
    assert r["fbeta"] == pytest.approx((1 + b2) * 3 / ((1 + b2) * 3 + b2 * 1 + 2))


def test_roc_auc_separable(spark):
    df = spark.createDataFrame([(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], ["y", "s"])
    assert M.roc_auc(df, "y", "s").collect()[0]["roc_auc"] == pytest.approx(1.0)


def test_roc_auc_with_ties_matches_mannwhitney(spark):
    rows = [(1, 0.5), (0, 0.5), (1, 0.7), (0, 0.3), (1, 0.3), (0, 0.7)]
    df = spark.createDataFrame(rows, ["y", "s"])
    y = np.array([r[0] for r in rows])
    s = np.array([r[1] for r in rows])
    # Mann-Whitney U with average ranks
    order = np.argsort(s, kind="stable")
    ranks = np.empty(len(s), dtype=float)
    sorted_s = s[order]
    i = 0
    rk = 1
    while i < len(s):
        j = i
        while j < len(s) and sorted_s[j] == sorted_s[i]:
            j += 1
        avg = (rk + rk + (j - i) - 1) / 2
        for k in range(i, j):
            ranks[order[k]] = avg
        rk += j - i
        i = j
    n_pos, n_neg = y.sum(), (1 - y).sum()
    expected = (ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert M.roc_auc(df, "y", "s").collect()[0]["roc_auc"] == pytest.approx(expected)


def test_apply_threshold(spark, scored):
    out = M.apply_threshold(scored, "s", 0.6).collect()
    assert [r["prediction"] for r in sorted(out, key=lambda r: r["pk"])] == [1, 1, 1, 1, 0, 0]


def test_ece_bins_exact(spark):
    df = spark.createDataFrame(
        [(1, 0.95), (0, 0.95), (1, 0.05), (0, 0.05)], ["y", "s"]
    )
    rows = {r["bin"]: r for r in M.ece_bins(df, "y", "s", n_bins=10).collect()}
    assert set(rows) == {0, 9}
    assert rows[9]["avg_label"] == pytest.approx(0.5)
    assert rows[9]["avg_confidence"] == pytest.approx(0.95)


def test_expected_calibration_error(spark):
    df = spark.createDataFrame([(1, 0.95), (0, 0.95), (1, 0.05), (0, 0.05)], ["y", "s"])
    # both bins: |acc - conf| = |0.5-0.95|=0.45 and |0.5-0.05|=0.45, weights 1/2
    assert M.expected_calibration_error(df, "y", "s") == pytest.approx(0.45)


def test_roc_curve_monotone(spark, scored):
    rows = M.roc_curve(scored, "y", "s").collect()
    tprs = [r["tpr"] for r in rows]
    fprs = [r["fpr"] for r in rows]
    assert tprs == sorted(tprs) and fprs == sorted(fprs)
    assert tprs[-1] == pytest.approx(1.0) and fprs[-1] == pytest.approx(1.0)


def test_pr_curve_first_point(spark, scored):
    rows = M.precision_recall_curve(scored, "y", "s").collect()
    assert rows[0]["precision"] == pytest.approx(1.0)  # highest threshold: only TP


def test_lift_gains(spark):
    rows = [(i, 1 if i < 20 else 0, 1.0 - i / 100) for i in range(100)]
    df = spark.createDataFrame(rows, ["pk", "y", "s"])
    out = M.lift_gains(df, "y", "s", "pk", n_tiles=10).collect()
    # all 20 positives have the top-20 scores → first two deciles capture all
    assert out[0]["cum_gain"] == pytest.approx(0.5)
    assert out[1]["cum_gain"] == pytest.approx(1.0)
    assert out[0]["lift"] == pytest.approx(5.0)
    assert out[-1]["cum_gain"] == pytest.approx(1.0)


def test_threshold_sweep_and_best(spark):
    df = spark.createDataFrame([(1, 0.9), (1, 0.7), (0, 0.3), (0, 0.1)], ["y", "s"])
    rows = M.threshold_sweep(df, "y", "s", beta=1.0).collect()
    assert len(rows) == 99
    mid = [r for r in rows if abs(r["threshold"] - 0.5) < 1e-9][0]
    assert mid["fbeta"] == pytest.approx(1.0)  # perfect separation at 0.5
    assert 0.3 < M.best_threshold(df, "y", "s") <= 0.7


def test_class_imbalance_ratio(spark):
    df = spark.createDataFrame([(0,)] * 9 + [(1,)], ["y"])
    assert M.class_imbalance_ratio(df, "y") == pytest.approx(9.0)


def test_column_variance_matches_numpy(spark):
    data = [(float(i), float(i * i % 7)) for i in range(30)]
    df = spark.createDataFrame(data, ["a", "b"])
    out = {r["column_name"]: r["variance"] for r in M.column_variance(df, ["a", "b"]).collect()}
    a = np.array([d[0] for d in data])
    b = np.array([d[1] for d in data])
    assert out["a"] == pytest.approx(a.var(ddof=1), rel=1e-9)
    assert out["b"] == pytest.approx(b.var(ddof=1), rel=1e-9)


def test_roc_auc_ovr_matches_binary(spark):
    """Per-class OVR AUC must equal the binary AUC of each one-vs-rest
    problem, and macro = explicit-order mean."""
    import random

    from end_to_end_ml_spark.functions import metrics as M

    rng = random.Random(7)
    rows = [
        (rng.randrange(3), rng.randrange(64) / 64, rng.randrange(64) / 64, rng.randrange(64) / 64)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ["y", "s0", "s1", "s2"])
    out = {r["class"]: r["auc"] for r in M.roc_auc_ovr(df, "y", {0: "s0", 1: "s1", 2: "s2"}).collect()}
    aucs = []
    for c, sc in [(0, "s0"), (1, "s1"), (2, "s2")]:
        bin_df = df.selectExpr(f"CASE WHEN y = {c} THEN 1 ELSE 0 END AS yy", f"{sc} AS s")
        expected = M.roc_auc(bin_df, "yy", "s").collect()[0]["roc_auc"]
        assert out[str(c)] == expected
        aucs.append(expected)
    assert out["__macro__"] == ((aucs[0] + aucs[1]) + aucs[2]) / 3


def test_score_precision_bounds_distinct_scores(spark):
    """quantize_score must cap the distinct-score frame (the load-bearing
    invariant for the global metric windows) without moving the metric."""
    df = spark.range(0, 5000).selectExpr(
        "cast(id % 2 as int) as y",
        "((id * 2654435761) % 1000003) / 1000003.0 as s",
    )
    assert df.select("s").distinct().count() > 4000  # genuinely continuous
    curve = M.roc_curve(df, "y", "s", score_precision=3)
    assert curve.count() <= 1001  # floor(s*1e3+0.5)/1e3 on [0,1]
    auc_q = M.roc_auc(df, "y", "s", score_precision=3).collect()[0]["roc_auc"]
    auc = M.roc_auc(df, "y", "s").collect()[0]["roc_auc"]
    assert abs(auc_q - auc) < 1e-3


def test_lift_gains_closed_form_matches_ntile(spark):
    """The distributed two-level ranking must reproduce Spark's own ntile
    bucket arithmetic exactly, including the uneven-bucket edge cases
    (n not divisible by tiles, ties on score)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for n, tiles in [(100, 10), (103, 10), (7, 10), (55, 7)]:
        df = spark.range(0, n).selectExpr(
            "id as pk",
            "cast(id % 2 as int) as y",
            "cast((id * 7) % 13 as double) / 13 as s",  # many score ties
        )
        ref = df.select(
            "pk",
            F.ntile(tiles)
            .over(Window.orderBy(F.col("s").desc(), F.col("pk")))
            .alias("decile"),
        )
        ref_counts = {
            (r["decile"]): r["c"]
            for r in ref.groupBy("decile").agg(F.count("*").alias("c")).collect()
        }
        got = M.lift_gains(df, "y", "s", "pk", n_tiles=tiles)
        got_counts = {r["decile"]: r["n"] for r in got.collect()}
        assert got_counts == ref_counts, (n, tiles, got_counts, ref_counts)


def test_lift_gains_score_precision_bounds_and_matches(spark):
    """score_precision caps the distinct-score frame feeding lift_gains'
    only global window (ADVICE r2); on scores already at that precision
    the quantized and exact paths are identical."""
    df = spark.range(0, 5000).selectExpr(
        "id as pk",
        "cast(id % 2 as int) as y",
        "((id * 2654435761) % 1000003) / 1000003.0 as s",
    )
    exact3 = df.selectExpr("pk", "y", "floor(s * 1000 + 0.5) / 1000 as s")
    got_q = M.lift_gains(exact3, "y", "s", "pk", score_precision=3).collect()
    got_e = M.lift_gains(exact3, "y", "s", "pk").collect()
    assert [r.asDict() for r in got_q] == [r.asDict() for r in got_e]
    # on genuinely continuous scores the quantized decile stats stay close
    q = {r["decile"]: r["pos"] for r in M.lift_gains(df, "y", "s", "pk", score_precision=3).collect()}
    e = {r["decile"]: r["pos"] for r in M.lift_gains(df, "y", "s", "pk").collect()}
    assert sum(q.values()) == sum(e.values())
    assert all(abs(q[d] - e[d]) <= 5 for d in e)


def test_drift_bins_clamps_and_exact_ppm(spark):
    from end_to_end_ml_spark.functions.metrics import drift_bins

    ref = spark.createDataFrame([(float(v),) for v in [-5, 0, 1, 5, 9, 100]], ["x"])
    cur = spark.createDataFrame([(float(v),) for v in [2, 2, 2, 50]], ["x"])
    out = {r["bin"]: r for r in drift_bins(ref, cur, "x", 0.0, 10.0, 5).collect()}
    # -5 clamps into bin 0; 100 clamps into bin 4
    assert out[0]["n_ref"] == 3  # -5, 0, 1
    assert out[4]["n_ref"] == 2  # 9, 100
    assert out[1]["n_cur"] == 3  # three 2.0s
    assert out[4]["n_cur"] == 1  # 50 clamped
    # exact integer ppm: floor(3 * 1e6 / 6), floor(3 * 1e6 / 4)
    assert out[0]["ref_ppm"] == 500000
    assert out[1]["cur_ppm"] == 750000
    # bins with no rows on one side report zero, not null
    assert out[2]["n_ref"] == 1 and out[2]["n_cur"] == 0


class TestSpearmanComponents:
    def test_rho_matches_pure_python(self, spark):
        import math

        from end_to_end_ml_spark.functions.metrics import spearman_components

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
        ys = [2, 7, 1, 8, 2, 8, 1, 8, 2, 8, 4]
        df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
        r = spearman_components(df, "x", "y").collect()[0]

        def tie_ranks(vals):
            order = sorted(range(len(vals)), key=lambda i: vals[i])
            ranks = [0.0] * len(vals)
            i = 0
            while i < len(order):
                j = i
                while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                    j += 1
                avg = (i + j) / 2 + 1
                for k in range(i, j + 1):
                    ranks[order[k]] = avg
                i = j + 1
            return ranks

        rx, ry = tie_ranks(xs), tie_ranks(ys)
        n = len(xs)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))

        # components are DOUBLED ranks; the x2 cancels in rho
        got_rho = (r["n"] * r["sum_rxry"] - r["sum_rx"] * r["sum_ry"]) / math.sqrt(
            (r["n"] * r["sum_rxrx"] - r["sum_rx"] ** 2)
            * (r["n"] * r["sum_ryry"] - r["sum_ry"] ** 2)
        )
        assert abs(got_rho - rho) < 1e-12
        assert r["sum_rx"] == int(2 * sx) and r["sum_ry"] == int(2 * sy)

    def test_perfect_monotone(self, spark):
        import math

        from end_to_end_ml_spark.functions.metrics import spearman_components

        df = spark.createDataFrame([(i, i * 10) for i in range(1, 30)], ["x", "y"])
        r = spearman_components(df, "x", "y").collect()[0]
        rho = (r["n"] * r["sum_rxry"] - r["sum_rx"] * r["sum_ry"]) / math.sqrt(
            (r["n"] * r["sum_rxrx"] - r["sum_rx"] ** 2)
            * (r["n"] * r["sum_ryry"] - r["sum_ry"] ** 2)
        )
        assert abs(rho - 1.0) < 1e-12


class TestSpearmanNulls:
    def test_half_missing_rows_do_not_bias_ranks(self, spark):
        import math

        from end_to_end_ml_spark.functions.metrics import spearman_components

        df = spark.createDataFrame(
            [(1, 1), (2, None), (3, 3), (4, 4), (None, 7)],
            "x long, y long",
        )
        r = spearman_components(df, "x", "y").collect()[0]
        rho = (r["n"] * r["sum_rxry"] - r["sum_rx"] * r["sum_ry"]) / math.sqrt(
            (r["n"] * r["sum_rxrx"] - r["sum_rx"] ** 2)
            * (r["n"] * r["sum_ryry"] - r["sum_ry"] ** 2)
        )
        # surviving complete pairs are perfectly monotone; a NULL-biased
        # rank table would give ~0.98 instead of exactly 1.0
        assert r["n"] == 3 and abs(rho - 1.0) < 1e-12


def test_two_level_rank_int32_extreme_span(spark):
    """r12 self-review: a 32-bit tiebreak column spanning more than 2^31
    must not trip the ANSI int-overflow on (hi - lo) — the bucket
    arithmetic runs in BIGINT. Positions still exact at the extremes."""
    rows = [(-(2**31), 5), (2**31 - 1, 5), (0, 5), (7, 3)]
    df = spark.createDataFrame(rows, "tb int, s int")
    got = {r["tb"]: r["pos"] for r in M.two_level_rank(df, "s", "tb").collect()}
    ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
    assert got == {tb: i + 1 for i, (tb, _) in enumerate(ordered)}

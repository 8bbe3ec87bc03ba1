"""IsolationForest determinism + the distributed pandas-UDF scoring path."""

from __future__ import annotations

import numpy as np

from gpu_telemetry_lakehouse_spark.ml.anomaly import score_distributed, train
from gpu_telemetry_lakehouse_spark.ml.isolation_forest import IsolationForest, StandardScaler
from gpu_telemetry_lakehouse_spark.queries import QUERIES


def _toy_data(n=200, seed=7):
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, 3))
    X[:5] += 8.0  # planted outliers
    return X


def test_forest_deterministic():
    X = _toy_data()
    s1 = IsolationForest(n_estimators=50, seed=42).fit(X).score_samples(X)
    s2 = IsolationForest(n_estimators=50, seed=42).fit(X).score_samples(X)
    assert np.array_equal(s1, s2)


def test_forest_finds_planted_outliers():
    X = _toy_data()
    f = IsolationForest(n_estimators=100, contamination=0.05, seed=42).fit(X)
    flags = f.predict_flags(X)
    assert flags[:5].sum() == 5  # all planted outliers flagged
    assert abs(flags.mean() - 0.05) < 0.03  # ~contamination rate overall


def test_scaler():
    X = _toy_data()
    Z = StandardScaler().fit(X).transform(X)
    assert np.allclose(Z.mean(axis=0), 0, atol=1e-12)
    assert np.allclose(Z.std(axis=0), 1, atol=1e-12)


def test_anomaly_daily_query(spark, sf_dir):
    out = QUERIES["anomaly_daily"](spark, sf_dir).collect()
    assert len(out) == 30
    assert all(r.anomaly_flag in (0, 1) for r in out)
    n_flagged = sum(r.anomaly_flag for r in out)
    assert 1 <= n_flagged <= 5  # ~5% contamination of 30 days, top-quantile def


def test_distributed_scoring_matches_driver(spark, sf_dir):
    daily = QUERIES["gold_daily_util"](spark, sf_dir)
    features = ["avg_value", "p95_value", "med_value"]
    scaler, forest = train(daily, features)
    dist = {
        r.dt: (r.anomaly_score, r.anomaly_flag)
        for r in score_distributed(daily, scaler, forest, features).collect()
    }
    pdf = daily.toPandas()
    X = scaler.transform(pdf[features].to_numpy(dtype=float))
    local_scores = forest.score_samples(X).round(6)
    for dt, score in zip(pdf["dt"], local_scores):
        assert dist[dt][0] == score  # pandas-UDF path == driver path


def test_fit_distributed_invariants(spark, sf_dir):
    """Distributed tree-per-group training: deterministic across runs, flags
    respect the contamination quantile, and scores land in (0, 1]."""
    from gpu_telemetry_lakehouse_spark.ml.anomaly import (
        fit_distributed,
        score_distributed,
    )
    from gpu_telemetry_lakehouse_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.select(
        F.col("value").alias("avg_gpu_util"),
        (F.col("value") * F.col("value") / 100.0).alias("p95_gpu_util"),
        (F.col("user_id") % 97).cast("double").alias("avg_cpu_util"),
    )
    feats = ["avg_gpu_util", "p95_gpu_util", "avg_cpu_util"]
    sc1, fo1 = fit_distributed(daily, feats, n_estimators=20, max_samples=64)
    sc2, fo2 = fit_distributed(daily, feats, n_estimators=20, max_samples=64)
    assert fo1.threshold_ == fo2.threshold_  # deterministic end-to-end

    scored = score_distributed(daily, sc1, fo1, feats)
    rows = scored.collect()
    n = len(rows)
    flags = sum(r.anomaly_flag for r in rows)
    assert all(0.0 < r.anomaly_score <= 1.0 for r in rows)
    assert all(r.anomaly_flag in (0, 1) for r in rows)
    # threshold at the (1-contamination) quantile -> ~5% flagged (ties allow
    # small overshoot; never more than 20% on continuous scores)
    assert 1 <= flags <= max(2, n // 5)


def test_pandas_on_spark_verification_summary(spark, sf_dir):
    """The reference's verification summary (README.md:526-533: SUM(flag),
    COUNT(*) over the scored gold) written in pandas-on-Spark — reference
    users' pandas idioms run on the engine unchanged, executed by Catalyst
    instead of single-node pandas."""
    import pyspark.pandas as ps

    from gpu_telemetry_lakehouse_spark.queries import QUERIES

    scored = QUERIES["anomaly_daily"](spark, sf_dir)
    psdf = scored.pandas_api()
    num_anomalies = int(psdf["anomaly_flag"].sum())
    total_days = len(psdf)
    assert total_days == scored.count()
    assert 0 < num_anomalies < total_days  # contamination flags a strict subset
    frac = num_anomalies / total_days
    assert 0.01 <= frac <= 0.2  # ~5% contamination with small-n tie slack


def test_native_ml_scaler_matches_numpy_sample_std(spark, sf_dir, tmp_path):
    """pyspark.ml StandardScaler (distributed fit) must equal the numpy
    (x - mean) / std(ddof=1) computation — and differ from the reference's
    sklearn ddof=0 scaler by exactly the sqrt(n/(n-1)) factor. Fitted
    pipeline round-trips through Spark ML persistence."""
    import numpy as np

    from gpu_telemetry_lakehouse_spark.ml.native import fit_scaled_features
    from gpu_telemetry_lakehouse_spark.queries import QUERIES

    gold = QUERIES["gold_daily_util"](spark, sf_dir)
    cols = ["avg_value", "p95_value", "med_value"]
    model, out = fit_scaled_features(gold, cols)

    pdf = gold.select("dt", *cols).toPandas().sort_values("dt")
    X = pdf[cols].to_numpy(dtype=np.float64)
    want = (X - X.mean(axis=0)) / X.std(axis=0, ddof=1)

    got = {
        r.dt: list(r.scaled)
        for r in out.select("dt", "scaled").collect()
    }
    G = np.array([got[d] for d in pdf["dt"]])
    assert np.allclose(G, want, atol=1e-9)
    # explicit ddof difference vs the reference's sklearn scaler: the native
    # output is exactly sqrt((n-1)/n) times the ddof=0 scaling
    n = len(X)
    sk = (X - X.mean(axis=0)) / X.std(axis=0, ddof=0)
    assert not np.allclose(G, sk, atol=1e-9)
    assert np.allclose(G, sk * np.sqrt((n - 1) / n), atol=1e-9)

    path = str(tmp_path / "pipe")
    model.save(path)
    from pyspark.ml import PipelineModel

    re = PipelineModel.load(path)
    G2 = {r.dt: list(r.scaled) for r in re.transform(gold).select("dt", "scaled").collect()}
    assert G2 == got


def test_logreg_embedding_eval_invariants(spark, sf_dir):
    """The distributed logreg eval certificate (r4 bounded-oracle shape):
    both splits present with the exact md5-split sizes summing to the
    corpus, and quality_ok=1 on both — train beats 1.5x the 10-class
    chance rate, test documents the generalization gap below 0.5."""
    from gpu_telemetry_lakehouse_spark.queries import QUERIES

    pdf = QUERIES["logreg_embedding_eval"](spark, sf_dir).toPandas()
    assert set(pdf["split"]) == {"train", "test"}
    assert pdf.n.sum() == 500
    assert (pdf.quality_ok == 1).all(), pdf.to_dict("records")


def test_als_recommender_invariants(spark, sf_dir):
    """Implicit ALS: shape, monotone scores, deterministic refit, and a
    ranking-quality lift over random. The synthetic baskets are nearly
    uniform-random (each customer touches ~40 of 2000 parts with counts
    1-2), so absolute hit-rate is low; the invariant is the LIFT: the
    customer's most-purchased part lands in their top-5 recs at several
    times the 5/2000 random rate (observed ~6x at sf0.01)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gpu_telemetry_lakehouse_spark.catalog import load_table

    # the registry query now RETURNS the contract certificate — assert it,
    # then rebuild the raw rec lists from the model for the lift check
    cert = QUERIES["als_recommend_parts_certified"](spark, sf_dir).collect()[0]
    assert cert.n_users > 0
    assert cert.k_ok == 1 and cert.sorted_ok == 1 and cert.items_known_ok == 1

    from gpu_telemetry_lakehouse_spark.ml.native import fit_implicit_als

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    model = fit_implicit_als(inter)
    recs = (
        model.recommendForAllUsers(5)
        .select(F.col("user").alias("custkey"), F.explode("recommendations").alias("rec"))
        .select("custkey", F.col("rec.item").alias("partkey"))
        .cache()
    )
    n_cust = recs.select("custkey").distinct().count()
    assert n_cust == cert.n_users
    # ranking lift vs random for the most-purchased part per customer
    top = (
        inter.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user").orderBy(F.col("rating").desc(), "item")
            ),
        )
        .filter("rn = 1")
        .select(F.col("user").alias("custkey"), F.col("item").alias("top_part"))
    )
    n_parts = li.select("l_partkey").distinct().count()
    hits = (
        recs.join(top, "custkey")
        .filter(F.col("partkey") == F.col("top_part"))
        .select("custkey")
        .distinct()
        .count()
    )
    random_rate = 5.0 / n_parts
    assert hits / n_cust > 2 * random_rate, (hits, n_cust, random_rate)
    # deterministic refit: same seed + same input -> identical rec lists
    model2 = fit_implicit_als(inter)
    r2 = (
        model2.recommendForAllUsers(5)
        .select(F.col("user").alias("custkey"), F.explode("recommendations").alias("rec"))
        .select("custkey", F.col("rec.item").alias("partkey"))
    )
    assert recs.exceptAll(r2).count() == 0
    recs.unpersist()


def test_driver_scoring_independent_of_row_order(spark):
    """More rows than the forest's 256-row subsample: the scores and flags
    of every key must not depend on the order gold's rows arrive in (after
    a MERGE, the order its files are read in)."""
    import pandas as pd

    from gpu_telemetry_lakehouse_spark.ml.anomaly import score_driver_side

    X = _toy_data(n=300, seed=11)
    pdf = pd.DataFrame(X, columns=["a", "b", "c"])
    pdf.insert(0, "k", range(len(pdf)))
    shuffled = pdf.sample(frac=1.0, random_state=3)

    def scored(frame):
        df = spark.createDataFrame(frame)
        out = score_driver_side(spark, df, ["a", "b", "c"]).collect()
        return {r.k: (r.anomaly_score, r.anomaly_flag) for r in out}

    by_key = scored(pdf)
    assert len(by_key) == 300
    assert scored(shuffled) == by_key

"""Anomaly scoring over gold daily rollups (reference: ml/ pipeline).

Two execution paths with identical results:
- driver-side: gold is tiny (49 rows in the reference) -> collect, score,
  createDataFrame (reference: score_cluster_anomalies.py does exactly this
  through DuckDB+pandas).
- distributed: broadcast the fitted model, score via an Arrow-batched pandas
  UDF — the 100 TB path when scoring raw (non-aggregated) telemetry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .isolation_forest import IsolationForest, StandardScaler

DEFAULT_FEATURES = ["avg_gpu_util", "p95_gpu_util", "avg_cpu_util"]
# reference hyperparameters: ml/train_cluster_anomaly_model.py:42-46
N_ESTIMATORS, CONTAMINATION, SEED = 100, 0.05, 42


def _forest() -> IsolationForest:
    return IsolationForest(n_estimators=N_ESTIMATORS, contamination=CONTAMINATION, seed=SEED)


def train_on_matrix(X) -> tuple[StandardScaler, IsolationForest]:
    """Fit scaler + forest on an already-collected feature matrix."""
    scaler = StandardScaler().fit(X)
    return scaler, _forest().fit(scaler.transform(X))


def train(gold: DataFrame, features: list[str]) -> tuple[StandardScaler, IsolationForest]:
    """Fit scaler + forest on the (small) gold table. Deterministic in any
    row order: the scaler's moments are order-free and the forest fits on
    the sorted feature rows (``IsolationForest.fit_score``), so a gold
    table whose files a MERGE has reshuffled trains the same model."""
    pdf = gold.select(features).toPandas()
    return train_on_matrix(pdf[features].to_numpy(dtype=float))


def score_driver_side(
    spark: SparkSession, gold: DataFrame, features: list[str]
) -> DataFrame:
    """Reference-shaped scoring: append anomaly_score / anomaly_flag.

    Gold is collected ONCE and both train and score run from that frame —
    the reference executes its gold query twice (train + score scripts each
    re-query DuckDB); one collect halves the aggregation work. The forest
    scores the rows once, inside its fit (the threshold needs them): the
    flags compare those unrounded scores with the threshold, exactly as
    ``predict_flags`` would. The scored frame is one partition, so a
    commit of it writes one file."""
    pdf = gold.toPandas()
    schema = T.StructType(
        gold.schema.fields
        + [
            T.StructField("anomaly_score", T.DoubleType()),
            T.StructField("anomaly_flag", T.IntegerType()),
        ]
    )
    if pdf.empty:
        # no gold rows => nothing to fit; a typed empty frame keeps the
        # scored-table contract instead of an IndexError inside the fit
        return spark.createDataFrame([], schema=schema)
    X = pdf[features].to_numpy(dtype=float)
    scaler = StandardScaler().fit(X)
    forest = _forest()
    scores = forest.fit_score(scaler.transform(X))
    pdf["anomaly_score"] = scores.round(6)
    pdf["anomaly_flag"] = (scores >= forest.threshold_).astype(np.int32)
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def score_distributed(
    df: DataFrame, scaler: StandardScaler, forest: IsolationForest, features: list[str]
) -> DataFrame:
    """Scale path: broadcast model into an Arrow-batched pandas UDF."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((scaler, forest))

    @F.pandas_udf(T.DoubleType())
    def score_udf(*cols: pd.Series) -> pd.Series:
        sc, fo = bc.value
        X = sc.transform(pd.concat(cols, axis=1).to_numpy(dtype=float))
        return pd.Series(fo.score_samples(X)).round(6)

    scored = df.withColumn("anomaly_score", score_udf(*[F.col(c) for c in features]))
    return scored.withColumn(
        "anomaly_flag", (F.col("anomaly_score") >= float(forest.threshold_)).cast("int")
    )


def fit_distributed(
    df: DataFrame,
    features: list[str],
    n_estimators: int = N_ESTIMATORS,
    max_samples: int = 256,
    contamination: float = CONTAMINATION,
    seed: int = SEED,
) -> tuple[StandardScaler, IsolationForest]:
    """Distributed IsolationForest training — no driver-side feature matrix.

    IsolationForest is bagging: each tree sees only a ~256-row subsample, so
    the natural distribution is tree-per-group (Liu et al. 2008 §4 — tree
    quality depends on the SUBSAMPLE size, not corpus size):

    1. scaler moments via one Spark aggregation (exact mean/std, no collect);
    2. ONE deterministic hash-ranked pass draws n_estimators*max_samples
       rows and deals them round-robin into n_estimators groups;
    3. ``applyInPandas`` builds one tree per group on executors, each seeded
       by (seed, tree_id); the driver collects only the pickled tree
       structures (a few KB each — the model, not the data);
    4. the contamination threshold comes from a distributed scoring pass +
       exact percentile — again no data collect.

    Deterministic end-to-end: hash ranks, round-robin deal, and per-tree
    seeds are all pure functions of the data and ``seed``."""
    import base64
    import pickle

    spark = df.sparkSession
    n_feat = len(features)

    # 1. scaler from exact distributed moments (matches StandardScaler.fit:
    #    ddof=0 population std, zeros guarded to 1).
    aggs = []
    for c in features:
        aggs += [F.avg(c).alias(f"m_{c}"), F.var_pop(c).alias(f"v_{c}")]
    row = df.agg(*aggs).first()
    scaler = StandardScaler()
    scaler.mean_ = np.array([row[f"m_{c}"] for c in features], dtype=float)
    std = np.sqrt(np.array([row[f"v_{c}"] or 0.0 for c in features], dtype=float))
    scaler.std_ = np.where(std == 0, 1.0, std)

    # 2. deterministic subsample, dealt round-robin into tree groups.
    total = n_estimators * max_samples
    rank = F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in features]))
    from pyspark.sql import Window as W

    sample = (
        df.select(*features)
        .withColumn("__rk", F.row_number().over(W.orderBy(rank, *features)))
        .filter(F.col("__rk") <= total)
        .withColumn("__tree", (F.col("__rk") % n_estimators).cast("int"))
    )

    # 3. one tree per group, built on executors.
    mean_b, std_b = list(map(float, scaler.mean_)), list(map(float, scaler.std_))
    limit = int(np.ceil(np.log2(max(min(max_samples, total), 2))))

    def build_tree(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as _np

        tree_id = int(pdf["__tree"].iloc[0])
        X = pdf[features].to_numpy(dtype=float)
        X = (X - _np.array(mean_b)) / _np.array(std_b)
        rng = _np.random.default_rng((seed, tree_id))
        helper = IsolationForest(max_samples=max_samples)
        node = helper._grow(X, rng, 0, limit)
        blob = base64.b64encode(pickle.dumps(node)).decode()
        return pd.DataFrame({"tree_id": [tree_id], "blob": [blob]})

    built = (
        sample.groupBy("__tree")
        .applyInPandas(build_tree, schema="tree_id int, blob string")
        .collect()
    )
    forest = IsolationForest(
        n_estimators=n_estimators,
        max_samples=max_samples,
        contamination=contamination,
        seed=seed,
    )
    forest.trees = [
        pickle.loads(base64.b64decode(r.blob))
        for r in sorted(built, key=lambda r: r.tree_id)
    ]
    forest.sample_size = min(max_samples, total)

    # 4. threshold from a distributed scoring pass + exact percentile.
    forest.threshold_ = 0.0  # placeholder so score_distributed can run
    scored = score_distributed(df, scaler, forest, features)
    forest.threshold_ = float(
        scored.agg(
            F.percentile("anomaly_score", 1.0 - contamination).alias("t")
        ).first()["t"]
    )
    return scaler, forest

"""Deterministic numpy IsolationForest (Liu, Ting & Zhou 2008).

The reference uses sklearn's IsolationForest
(ml/train_cluster_anomaly_model.py:42-47: n_estimators=100,
contamination=0.05, random_state=42). sklearn is not available in this
environment, so the algorithm is implemented directly — same contract:
fixed seed -> reproducible scores, contamination quantile -> flags.
Scores are in (0,1]; HIGHER = more anomalous.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def _c(n: float) -> float:
    """Average BST unsuccessful-search path length (normalization term)."""
    if n <= 1:
        return 0.0
    h = np.log(n - 1) + 0.5772156649015329
    return 2.0 * h - 2.0 * (n - 1) / n


@dataclass
class _Node:
    feature: int = -1
    threshold: float = 0.0
    left: "_Node | None" = None
    right: "_Node | None" = None
    size: int = 0  # leaf only


@dataclass
class IsolationForest:
    n_estimators: int = 100
    max_samples: int = 256
    contamination: float = 0.05
    seed: int = 42
    trees: list = field(default_factory=list)
    sample_size: int = 0
    threshold_: float = float("nan")

    def _grow(self, X: np.ndarray, rng: np.random.Generator, depth: int, limit: int) -> _Node:
        n = len(X)
        if depth >= limit or n <= 1:
            return _Node(size=n)
        lo, hi = X.min(axis=0), X.max(axis=0)
        usable = np.nonzero(hi > lo)[0]
        if usable.size == 0:
            return _Node(size=n)
        f = int(rng.choice(usable))
        t = float(rng.uniform(lo[f], hi[f]))
        mask = X[:, f] < t
        return _Node(
            feature=f,
            threshold=t,
            left=self._grow(X[mask], rng, depth + 1, limit),
            right=self._grow(X[~mask], rng, depth + 1, limit),
        )

    def fit(self, X: np.ndarray) -> "IsolationForest":
        self.fit_score(X)
        return self

    def fit_score(self, X: np.ndarray) -> np.ndarray:
        """Fit, and return the scores of X's rows — the fit computes them
        anyway for the contamination threshold.

        The fit depends on the SET of rows, not their order: trees subsample
        row indices of the lexicographically sorted matrix. (With more than
        ``max_samples`` rows the subsample would otherwise follow the input
        order — for a table, the order its files happen to be read in.)"""
        X = np.asarray(X, dtype=np.float64)
        rows = X[np.lexsort(X.T[::-1])]
        rng = np.random.default_rng(self.seed)
        self.sample_size = min(self.max_samples, len(X))
        limit = int(np.ceil(np.log2(max(self.sample_size, 2))))
        self.trees = []
        for _ in range(self.n_estimators):
            idx = rng.choice(len(rows), size=self.sample_size, replace=False)
            self.trees.append(self._grow(rows[idx], rng, 0, limit))
        scores = self.score_samples(X)
        # flag the top `contamination` fraction (reference: contamination=0.05)
        self.threshold_ = float(np.quantile(scores, 1.0 - self.contamination))
        return scores

    def _path_length(self, x: np.ndarray, node: _Node, depth: int) -> float:
        while node.feature >= 0:
            node = node.left if x[node.feature] < node.threshold else node.right
            depth += 1
        return depth + _c(node.size)

    def score_samples(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        denom = _c(self.sample_size)
        out = np.empty(len(X))
        for i, x in enumerate(X):
            mean_h = np.mean([self._path_length(x, t, 0) for t in self.trees])
            out[i] = 2.0 ** (-mean_h / denom) if denom > 0 else 0.5
        return out

    def predict_flags(self, X: np.ndarray) -> np.ndarray:
        """1 = anomaly, 0 = normal (reference encodes preds==-1 as flag=1,
        ml/score_cluster_anomalies.py:47)."""
        return (self.score_samples(X) >= self.threshold_).astype(np.int32)


@dataclass
class StandardScaler:
    """Column-wise (x - mean) / std, matching the reference's scaler
    (ml/train_cluster_anomaly_model.py:39-40)."""

    mean_: np.ndarray | None = None
    std_: np.ndarray | None = None

    def fit(self, X: np.ndarray) -> "StandardScaler":
        # moments of each column SORTED: float sums depend on the order of
        # their terms, so this keeps the scaler bit-identical in any row order
        X = np.sort(np.asarray(X, dtype=np.float64), axis=0)
        self.mean_ = X.mean(axis=0)
        self.std_ = X.std(axis=0)
        self.std_[self.std_ == 0] = 1.0
        return self

    def transform(self, X: np.ndarray) -> np.ndarray:
        return (np.asarray(X, dtype=np.float64) - self.mean_) / self.std_

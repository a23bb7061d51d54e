"""The benchmark's workloads: input generation, the timed operation and
its output checks.

Every input is generated from the run's ``--seed``; the program sees
only the generated points. Each workload exposes ``rows`` (input rows
of one operation), ``run(mark)`` (the timed operation, including
materializing its output on the driver; ``mark()`` is called when the
program's call returns, before materialization) and ``check(out)``
(a list of problems, empty when the output is correct).

* ``fit_lineitem_4d`` — TPC-H lineitem rows in the 4-d feature space
  of the repository's ``bench.py`` (quantity, 8·log1p(extended price),
  120·discount, 120·tax) with its fit parameters. Low dimension, many
  tied and duplicate points: the Spark-side layers (sampling windows,
  relabel joins, contraction, per-stage overhead) carry the cost.
  The table is fixed; the seed draws the permutation of point ids, so
  the fit's sample and subset layout change while the data does not.
* ``fit_blobs_64d`` — a seeded Gaussian mixture in 64-d with uniform
  noise and known truth labels: distance-bound (exact leaves and
  assignment), and scored by ARI against the truth.
* ``predict_lineitem_4d`` — the read path. Set-up fits a lineitem
  table, saves it with its prediction reference and loads it back;
  the timed operation is ``model.predict(new_points)`` over seeded
  new rows plus a seeded sample of the fitted points, which must
  predict back to their fitted labels. No fit layer runs in it.

The lineitem generator follows the TPC-H specification (clause 4.2.3):
quantity uniform in [1, 50], extended price = quantity × the part's
retail price, discount uniform in {0.00, ..., 0.10}, tax uniform in
{0.00, ..., 0.08}, over the 20 000 parts of scale factor 0.1.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bench.py's mrhdbscan_lineitem parameters
LINEITEM_FIT = dict(
    min_pts=4,
    min_cluster_size=200,
    sample_fraction=0.05,
    max_local_size=4096,
    max_samples_per_subset=768,
    dim=4,
)
BLOBS_FIT = dict(
    min_pts=4,
    min_cluster_size=50,
    sample_fraction=0.05,
    max_local_size=4096,
    max_samples_per_subset=768,
    dim=64,
)
# the fitted table of the lineitem workloads is the same for every seed
TABLE_SEED = 20_240_601
# regression floor for the ARI of fit_blobs_64d against the generator's
# truth. The Data-Bubble fit over-splits these blobs: seeds 1 and 2
# measured 0.68 and 0.61 (39-47 clusters for 20), while exact HDBSCAN*
# scores 1.0 on 3 000-point draws of the same mixture
ARI_FLOOR = 0.5


@dataclass
class Sizes:
    """Input sizes, chosen so that one run of a workload (a cold
    session, set-up and the timed operations) takes about a minute on
    4 cores."""

    lineitem_rows: int = 40_000
    blobs_rows: int = 12_000
    blobs_clusters: int = 20
    # at most max_local_size: the set-up fit is one exact leaf
    reference_rows: int = 4_000
    predict_new_rows: int = 80_000
    predict_fitted_rows: int = 2_000
    fit_overrides: dict = field(default_factory=dict)


def lineitem_features(n: int, rng: np.random.Generator, parts: int = 20_000) -> np.ndarray:
    partkey = rng.integers(1, parts + 1, n)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100.0
    qty = rng.integers(1, 51, n).astype(np.float64)
    discount = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    return np.column_stack(
        [qty, np.log1p(qty * retail) * 8.0, discount * 120.0, tax * 120.0]
    )


def gaussian_blobs(n: int, dim: int, k: int, rng: np.random.Generator, noise: float = 0.05):
    """(X, truth): k unit-variance clusters with centers drawn at scale
    3, plus a ``noise`` share of points uniform over the data's
    bounding box (truth label -1)."""
    n_noise = int(round(n * noise))
    centers = rng.normal(0.0, 3.0, (k, dim))
    truth = rng.integers(0, k, n - n_noise)
    X = centers[truth] + rng.normal(0.0, 1.0, (len(truth), dim))
    lo, hi = X.min(axis=0), X.max(axis=0)
    Xn = rng.uniform(lo, hi, (n_noise, dim))
    X = np.vstack([X, Xn])
    truth = np.concatenate([truth, np.full(n_noise, -1)])
    order = rng.permutation(n)
    return X[order], truth[order]


def adjusted_rand_index(a: np.ndarray, b: np.ndarray) -> float:
    _, ai = np.unique(a, return_inverse=True)
    _, bi = np.unique(b, return_inverse=True)
    table = np.zeros((ai.max() + 1, bi.max() + 1), dtype=np.int64)
    np.add.at(table, (ai, bi), 1)

    def pairs(x):
        x = x.astype(np.float64)
        return float((x * (x - 1) / 2).sum())

    index = pairs(table)
    ra, rb = pairs(table.sum(axis=1)), pairs(table.sum(axis=0))
    expected = ra * rb / pairs(np.array([len(a)]))
    top = (ra + rb) / 2
    return 1.0 if top == expected else (index - expected) / (top - expected)


def write_points(path: str, ids: np.ndarray, X: np.ndarray, files: int = 16) -> None:
    """(point_id, features) as ``files`` parquet files under ``path``:
    a multi-file input reads in several splits, as real inputs do."""
    os.makedirs(path)
    X = np.ascontiguousarray(X, dtype=np.float64)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        flat = pa.array(X[part].ravel())
        feats = pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(part) * X.shape[1] + 1, X.shape[1], dtype=np.int32)),
            flat,
        )
        pq.write_table(
            pa.table({"point_id": pa.array(ids[part], pa.int64()), "features": feats}),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _digest(ids: np.ndarray, labels: np.ndarray) -> str:
    order = np.argsort(ids, kind="stable")
    return hashlib.sha1(labels[order].astype(np.int64).tobytes()).hexdigest()


def _exactly_once(expected_ids: np.ndarray, got_ids: np.ndarray) -> list[str]:
    if len(got_ids) != len(expected_ids) or not np.array_equal(
        np.sort(got_ids), np.sort(expected_ids)
    ):
        return [
            f"{len(got_ids)} output rows for {len(expected_ids)} input ids "
            f"({len(np.unique(got_ids))} distinct)"
        ]
    return []


class FitWorkload:
    kind = "fit"

    def __init__(self, spark, work: str, name: str, seed: int, sizes: Sizes):
        from bubbles import MRHDBSCAN

        rng = np.random.default_rng(seed)
        if name == "fit_lineitem_4d":
            X = lineitem_features(sizes.lineitem_rows, np.random.default_rng(TABLE_SEED))
            self.truth = None
            params = LINEITEM_FIT
        else:
            X, self.truth = gaussian_blobs(sizes.blobs_rows, 64, sizes.blobs_clusters, rng)
            params = BLOBS_FIT
        self.ids = rng.permutation(len(X)).astype(np.int64)
        path = os.path.join(work, "points.parquet")
        write_points(path, self.ids, X)
        self.df = spark.read.parquet(path)
        self.rows = len(X)
        self.estimator = MRHDBSCAN(seed=42, **{**params, **sizes.fit_overrides})
        self.digest = None
        self.ari = None

    def run(self, mark=lambda: None):
        model = self.estimator.fit(self.df)
        mark()
        labels = model.labels.toArrow()
        tree = model.cluster_tree.toArrow()
        return {
            "ids": labels.column("point_id").to_numpy(),
            "labels": labels.column("label").to_numpy(),
            "tree_rows": tree.num_rows,
            "iterations": model.n_iterations,
        }

    def driver_rows(self, out) -> int:
        return len(out["ids"]) + out["tree_rows"]

    def check(self, out) -> list[str]:
        problems = _exactly_once(self.ids, out["ids"])
        if problems:
            return problems
        if out["tree_rows"] < 1:
            problems.append("empty cluster tree")
        digest = _digest(out["ids"], out["labels"])
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("labels differ from the run's first operation")
        if self.truth is not None:
            pos = np.argsort(out["ids"])
            by_id = out["labels"][pos][np.searchsorted(out["ids"][pos], self.ids)]
            self.ari = adjusted_rand_index(self.truth, by_id)
            if self.ari < ARI_FLOOR:
                problems.append(f"ARI {self.ari:.3f} below {ARI_FLOOR}")
        return problems


class PredictWorkload:
    kind = "predict"

    def __init__(self, spark, work: str, name: str, seed: int, sizes: Sizes):
        from bubbles import MRHDBSCAN
        from bubbles.plans.mrhdbscan import MRHDBSCANModel

        table = np.random.default_rng(TABLE_SEED)
        X_ref = lineitem_features(sizes.reference_rows, table)
        ref_ids = np.arange(len(X_ref), dtype=np.int64)
        ref_path = os.path.join(work, "reference.parquet")
        write_points(ref_path, ref_ids, X_ref)
        ref_df = spark.read.parquet(ref_path)
        fitted = MRHDBSCAN(seed=42, **{**LINEITEM_FIT, **sizes.fit_overrides}).fit(ref_df)
        model_path = os.path.join(work, "model")
        fitted.save(model_path, fitted_points=ref_df)
        # predict from the loaded model: its relations are parquet
        # reads, so the between-operation unpersist cannot break them
        self.model = MRHDBSCANModel.load(spark, model_path)
        fit_labels = self.model.labels.toArrow()
        by_id = dict(
            zip(
                fit_labels.column("point_id").to_numpy(),
                fit_labels.column("label").to_numpy(),
            )
        )
        self.reference_rows = pq.ParquetDataset(
            os.path.join(model_path, "predict_reference")
        ).read(columns=["point_id"]).num_rows

        rng = np.random.default_rng(seed)
        X_new = lineitem_features(sizes.predict_new_rows, rng)
        new_ids = np.arange(len(X_new), dtype=np.int64) + (1 << 40)
        back = rng.choice(len(X_ref), sizes.predict_fitted_rows, replace=False)
        self.back_ids = ref_ids[back]
        self.back_labels = np.array([by_id[i] for i in self.back_ids], dtype=np.int64)
        self.ids = np.concatenate([new_ids, self.back_ids])
        path = os.path.join(work, "new_points.parquet")
        write_points(path, self.ids, np.vstack([X_new, X_ref[back]]))
        self.df = spark.read.parquet(path)
        self.rows = len(self.ids)
        self.dim = X_ref.shape[1]
        self.digest = None
        self.ari = None

    def run(self, mark=lambda: None):
        pred = self.model.predict(self.df)
        mark()
        table = pred.toArrow()
        return {
            "ids": table.column("point_id").to_numpy(),
            "labels": table.column("label").to_numpy(),
        }

    def driver_rows(self, out) -> int:
        return len(out["ids"])

    def check(self, out) -> list[str]:
        problems = _exactly_once(self.ids, out["ids"])
        if problems:
            return problems
        digest = _digest(out["ids"], out["labels"])
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("predictions differ from the run's first operation")
        pos = np.argsort(out["ids"])
        got = out["labels"][pos][np.searchsorted(out["ids"][pos], self.back_ids)]
        wrong = int((got != self.back_labels).sum())
        if wrong:
            problems.append(
                f"{wrong} of {len(self.back_ids)} fitted points predicted "
                "away from their fitted label"
            )
        return problems


WORKLOADS = {
    "fit_lineitem_4d": FitWorkload,
    "fit_blobs_64d": FitWorkload,
    "predict_lineitem_4d": PredictWorkload,
}

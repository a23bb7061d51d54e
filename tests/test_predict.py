"""Out-of-sample prediction (bubbles.plans.predict.approximate_predict).

Pins: (1) predicting the fitted points themselves recovers the fitted
non-noise labels, (2) far-away points are noise, (3) the Arrow kernel
matches an independent numpy re-derivation of the membership rule from
the model relations, (4) the SAME operator over a Structured Streaming
source produces the batch result (the plan is one broadcast +
mapInPandas — no shuffle, no window — so stream==batch is a plan
property, not luck), (5) the broadcast size gate and metric validation
fail loudly, (6) the broadcast input contract: unscorable query rows
are noise, wrong-length rows and non-finite references raise, and (7)
the batch kernel equals the per-row rule bit for bit for every metric.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bubbles.plans.mrhdbscan import MRHDBSCAN
from bubbles.plans.predict import approximate_predict

from tests.test_contracted import _blobs, to_df

PARAMS = dict(
    min_pts=4, min_cluster_size=5, max_local_size=64,
    max_samples_per_subset=16, seed=7,
)


@pytest.fixture(scope="module")
def fitted(spark):
    X = _blobs(n=300, seed=11)
    df = to_df(spark, X)
    model = MRHDBSCAN(**PARAMS).fit(df)
    return X, df, model


def _collect_pred(pred):
    return {
        int(r["point_id"]): (
            int(r["label"]),
            float(r["strength"]),
            int(r["nearest_fitted_id"]),
            float(r["mr_dist"]),
        )
        for r in pred.collect()
    }


def test_predict_recovers_fitted_labels(spark, fitted):
    X, df, model = fitted
    pred = _collect_pred(model.predict(df, df, min_pts=PARAMS["min_pts"]))
    fit_labels = {
        int(r["point_id"]): int(r["label"]) for r in model.labels.collect()
    }
    assert set(pred) == set(fit_labels)
    clustered = [p for p, lbl in fit_labels.items() if lbl != 0]
    assert clustered, "fixture degenerate: no clustered points"
    agree = [p for p in clustered if pred[p][0] == fit_labels[p]]
    # a fitted member's own mutual-reachability level is its core
    # distance, which sits inside its cluster's lifetime — self-predict
    # must recover the flat labels
    assert len(agree) == len(clustered), (
        f"{len(clustered) - len(agree)} of {len(clustered)} clustered "
        f"points changed label under self-predict"
    )
    for p in agree:
        assert pred[p][2] == p  # own row is the 0-distance neighbor
    # a member AT its cluster's birth level legitimately scores 0
    # (strength normalizes the lifetime interval, like the hdbscan
    # library's probabilities); interior members must score high
    strengths = [pred[p][1] for p in agree]
    assert max(strengths) > 0.5
    assert sum(s > 0.0 for s in strengths) > 0.8 * len(strengths)


def test_predict_far_points_are_noise(spark, fitted):
    X, df, model = fitted
    far = to_df(spark, X[:40] + 500.0, ids=np.arange(40))
    pred = _collect_pred(model.predict(df, far, min_pts=PARAMS["min_pts"]))
    assert len(pred) == 40
    assert all(lbl == 0 and s == 0.0 for lbl, s, _, _ in pred.values())


def test_predict_matches_numpy_reference(spark, fitted):
    """Differential: re-derive every output column with plain numpy
    from the model relations and the documented rule."""
    X, df, model = fitted
    rng = np.random.default_rng(3)
    # mix of in-cluster perturbations and mid-range limbo points
    New = np.vstack(
        [X[:60] + rng.normal(scale=0.15, size=(60, 2)),
         rng.uniform(-15, 20, size=(20, 2))]
    )
    new_df = to_df(spark, New, ids=np.arange(len(New)))
    got = _collect_pred(
        approximate_predict(model, df, new_df, min_pts=PARAMS["min_pts"])
    )

    fit_rows = sorted(
        (int(r["point_id"]), int(r["label"]))
        for r in model.labels.collect()
    )
    ids = np.array([p for p, _ in fit_rows], dtype=np.int64)
    labels = dict(fit_rows)
    core = {
        int(r["point_id"]): float(r["core_distance"])
        for r in model.outlier_scores.collect()
    }
    tree = {
        int(r["label"]): (float(r["birth_level"]), float(r["death_level"]))
        for r in model.cluster_tree.collect()
    }
    order = np.argsort(ids)
    ids = ids[order]
    mat = X[ids]  # point_id == row index in the blobs fixture
    mp = PARAMS["min_pts"]
    for i, x in enumerate(New):
        d = np.sqrt(((mat - x) ** 2).sum(axis=1))
        j = int(np.lexsort((ids, d))[0])
        exp_nearest = int(ids[j])
        core_x = float(np.sort(d)[mp - 2]) if mp > 1 else 0.0
        d_mr = max(float(d[j]), core[exp_nearest], core_x)
        lbl = labels[exp_nearest]
        exp_label, exp_strength = 0, 0.0
        if lbl != 0:
            b, dth = tree.get(lbl, (np.nan, np.nan))
            if np.isnan(b) or d_mr <= b:
                exp_label = lbl
                exp_strength = (
                    1.0 if (np.isnan(b) or np.isnan(dth) or b <= dth)
                    else float(np.clip((b - d_mr) / (b - dth), 0.0, 1.0))
                )
        g_lbl, g_str, g_near, g_dmr = got[i]
        assert g_lbl == exp_label, f"point {i}: label {g_lbl} != {exp_label}"
        assert g_near == exp_nearest
        assert g_dmr == pytest.approx(d_mr, rel=1e-12)
        assert g_str == pytest.approx(exp_strength, abs=1e-8)


def test_predict_stream_equals_batch(spark, fitted, tmp_path):
    X, df, model = fitted
    rng = np.random.default_rng(9)
    New = np.vstack([X[:30] + rng.normal(scale=0.2, size=(30, 2)),
                     rng.uniform(-10, 16, size=(10, 2))])
    new_df = to_df(spark, New, ids=np.arange(len(New)))
    src = str(tmp_path / "newpts")
    new_df.write.parquet(src)

    batch = _collect_pred(
        approximate_predict(model, df, new_df, min_pts=PARAMS["min_pts"])
    )

    stream = spark.readStream.schema(
        "point_id long, features array<double>"
    ).parquet(src)
    from bubbles.streaming.events import _drive_to_memory

    streamed = _collect_pred(
        _drive_to_memory(
            spark,
            approximate_predict(model, df, stream, min_pts=PARAMS["min_pts"]),
            "append",
            "predict_stream_out",
        )
    )
    assert streamed == batch


def test_predict_from_saved_reference(spark, fitted, tmp_path):
    """save(fitted_points=...) -> load -> predict with NO training data
    reproduces predict-with-full-reference exactly (uncapped sample),
    using the fit's own min_pts/metric from the persisted meta."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    X, df, model = fitted
    rng = np.random.default_rng(17)
    New = np.vstack(
        [X[:40] + rng.normal(scale=0.2, size=(40, 2)),
         rng.uniform(-12, 18, size=(12, 2))]
    )
    new_df = to_df(spark, New, ids=np.arange(len(New)))
    want = _collect_pred(
        approximate_predict(model, df, new_df, min_pts=PARAMS["min_pts"])
    )

    path = str(tmp_path / "model")
    model.save(path, fitted_points=df, predict_rows_per_cluster=0)
    with pytest.warns(UserWarning, match="NOT hierarchy_levels"):
        loaded = MRHDBSCANModel.load(spark, path)
    assert loaded._fit_params == {
        "min_pts": PARAMS["min_pts"], "metric": "euclidean"
    }
    # model-only call shape: one positional frame = the new points
    got = _collect_pred(loaded.predict(new_df))
    assert got == want


def test_predict_saved_reference_stratified_cap(spark, fitted, tmp_path):
    """A small per-cluster cap persists a bounded reference that still
    covers every cluster (stratified), and prediction stays sane."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    X, df, model = fitted
    path = str(tmp_path / "model_capped")
    cap = 12
    model.save(path, fitted_points=df, predict_rows_per_cluster=cap)
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    per_label = {
        int(r["label"]): int(r["n"])
        for r in loaded._predict_reference.groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    fit_labels = {
        int(r["label"]) for r in model.labels.select("label").distinct().collect()
    }
    # stratified: every fitted label (incl. noise) keeps representatives
    assert set(per_label) == fit_labels
    # hash-stride sampling is approximate; bound it loosely
    assert all(1 <= n <= 3 * cap for n in per_label.values())
    # prediction against the sample: far points are still noise
    far = to_df(spark, X[:20] + 500.0, ids=np.arange(20))
    pred = _collect_pred(loaded.predict(far))
    assert all(lbl == 0 for lbl, _, _, _ in pred.values())


def test_predict_without_reference_raises(spark, fitted, tmp_path):
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    X, df, model = fitted
    path = str(tmp_path / "model_noref")
    model.save(path)
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    with pytest.raises(ValueError, match="no prediction reference"):
        loaded.predict(df)
    with pytest.raises(ValueError, match="new_points"):
        loaded.predict()


def test_predict_reference_cap_and_metric(spark, fitted):
    X, df, model = fitted
    # index="broadcast" pins the refusal past the cap (auto would fall
    # over to the distributed index path for euclidean/cosine)
    with pytest.raises(ValueError, match="max_reference_rows"):
        approximate_predict(
            model, df, df, min_pts=4, max_reference_rows=10,
            index="broadcast",
        )
    # unsupported-by-the-index metric past the cap: auto still raises
    with pytest.raises(ValueError, match="max_reference_rows"):
        approximate_predict(
            model, df, df, min_pts=4, metric="manhattan",
            max_reference_rows=10,
        )
    with pytest.raises(ValueError, match="metric"):
        approximate_predict(model, df, df, metric="hamming")
    with pytest.raises(ValueError, match="index"):
        approximate_predict(model, df, df, index="faiss")
    with pytest.raises(ValueError, match="empty prediction reference"):
        approximate_predict(
            model, df.withColumn("point_id", df.point_id + 10_000), df,
        )


_NOISE = (0, 0.0, -1, float("inf"))


@pytest.mark.parametrize(
    "bad", [None, [float("nan"), 1.0], [1.0, float("inf")]],
    ids=["null", "nan", "inf"],
)
def test_predict_broadcast_unscorable_row_is_noise(spark, fitted, bad):
    """A NULL, NaN or inf query row comes back as (label 0, strength
    0, nearest -1, mr_dist inf) — the index paths' contract — and the
    other rows of its batch are unaffected."""
    X, df, model = fitted
    new = to_df(spark, X[:30] + 0.05, ids=np.arange(30))
    with_bad = new.unionByName(
        spark.createDataFrame([(777, bad)], "point_id long, features array<double>")
    ).coalesce(1)
    got = _collect_pred(approximate_predict(model, df, with_bad, min_pts=4))
    assert got.pop(777) == _NOISE
    assert got == _collect_pred(approximate_predict(model, df, new, min_pts=4))


def test_predict_broadcast_wrong_length_row_raises(spark, fitted):
    X, df, model = fitted
    bad = to_df(spark, X[:5]).unionByName(
        spark.createDataFrame(
            [(31, [1.0, 2.0, 3.0])], "point_id long, features array<double>"
        )
    )
    with pytest.raises(Exception, match=r"point_id 31: features has length 3"):
        approximate_predict(model, df, bad, min_pts=4).collect()


def test_predict_broadcast_nonfinite_reference_raises(spark, fitted):
    """Non-finite fitted features would make every query's distances
    NaN; the driver refuses them, with their count, before broadcasting."""
    X, df, model = fitted
    poisoned = df.withColumn(
        "features",
        F.when(
            F.col("point_id").isin(3, 4),
            F.array(F.lit(float("nan")), F.lit(0.0)),
        ).otherwise(F.col("features")),
    )
    with pytest.raises(ValueError, match="2 rows with non-finite features"):
        approximate_predict(model, poisoned, df, min_pts=4)


def _per_row_predict(ids, mat, labels, core, birth, death, X, min_pts, metric):
    """The row-at-a-time predict rule: ROW_DISTANCES, min + smallest-id
    tie, np.partition for core_x, scalar membership."""
    from bubbles.kernels.hdbscan_kernel import ROW_DISTANCES

    out = []
    for x in X:
        d = ROW_DISTANCES[metric](mat, x)
        cand = np.flatnonzero(d == d.min())
        j = cand[ids[cand].argmin()]
        if min_pts <= 1:
            core_x = 0.0
        elif min_pts - 1 <= len(d):
            core_x = float(np.partition(d, min_pts - 2)[min_pts - 2])
        else:
            core_x = float(d.max())
        d_mr = max(float(d[j]), float(core[j]), core_x)
        lbl, strength = 0, 0.0
        b, dth = float(birth[j]), float(death[j])
        if labels[j] != 0 and (np.isnan(b) or d_mr <= b):
            lbl = int(labels[j])
            if np.isnan(b) or np.isnan(dth) or b <= dth:
                strength = 1.0
            else:
                strength = float(np.clip((b - d_mr) / (b - dth), 0.0, 1.0))
        out.append((lbl, np.round(strength, 9), int(ids[j]), d_mr))
    return out


@pytest.mark.parametrize(
    "metric", ["euclidean", "manhattan", "chebyshev", "cosine", "pearson"]
)
def test_predict_kernel_matches_per_row_rule(metric):
    """Spark-free: the batch kernel reproduces the per-row rule bit for
    bit on every column, for every metric and min_pts regime (≤1, ≤m,
    >m), with ties (duplicates), root members (NaN birth), noise and
    zero-lifetime clusters in the reference."""
    from types import SimpleNamespace

    import pandas as pd

    from bubbles.plans.predict import _make_predict_kernel

    rng = np.random.default_rng(4)
    mat = np.vstack([rng.normal(size=(60, 3)), np.zeros((4, 3))])
    mat = np.vstack([mat, mat[:10]])
    m = len(mat)
    ids = rng.permutation(m).astype(np.int64) + 100
    labels = rng.integers(0, 5, m).astype(np.int64)
    core = rng.uniform(0.0, 0.6, m)
    birth = np.array([np.nan, 1.2, 0.8, np.nan, 0.5])[labels]
    death = np.array([np.nan, 0.2, 0.8, 0.1, np.nan])[labels]
    Q = np.vstack([mat[:20], rng.normal(size=(50, 3)), np.zeros((1, 3))])
    pdf = pd.DataFrame(
        {"point_id": np.arange(len(Q)), "features": list(Q)}
    )
    ref = SimpleNamespace(value=(ids, mat, labels, core, birth, death))
    for min_pts in (1, 2, 4, m + 2):
        (got,) = _make_predict_kernel(ref, min_pts, metric)(iter([pdf]))
        want = _per_row_predict(
            ids, mat, labels, core, birth, death, Q, min_pts, metric
        )
        rows = list(
            zip(got["label"], got["strength"], got["nearest_fitted_id"], got["mr_dist"])
        )
        assert len(rows) == len(want)
        for i, (g, w) in enumerate(zip(rows, want)):
            assert g[0] == w[0] and g[2] == w[2], (min_pts, i, g, w)
            assert np.float64(g[1]).tobytes() == np.float64(w[1]).tobytes()
            assert np.float64(g[3]).tobytes() == np.float64(w[3]).tobytes()


def test_predict_index_path_full_probe_matches_broadcast(spark, fitted):
    """With every centroid probed the IVF candidates are the whole
    reference, so the distributed path must reproduce the broadcast
    kernel exactly (labels/nearest integral-equal, floats to 1e-9):
    the euclidean->cosine MIPS reduction is an EXACT ranking map."""
    X, df, model = fitted
    rng = np.random.default_rng(5)
    New = np.vstack(
        [X[:50] + rng.normal(scale=0.15, size=(50, 2)),
         rng.uniform(-15, 20, size=(15, 2))]
    )
    new_df = to_df(spark, New, ids=np.arange(len(New)))
    want = _collect_pred(
        approximate_predict(model, df, new_df, min_pts=PARAMS["min_pts"])
    )
    got = _collect_pred(
        approximate_predict(
            model, df, new_df, min_pts=PARAMS["min_pts"], index="ivf",
            index_kwargs={"n_centroids": 9, "n_probe": 9},
        )
    )
    assert set(got) == set(want)
    for p, (lbl, s, near, dmr) in want.items():
        g_lbl, g_s, g_near, g_dmr = got[p]
        assert g_lbl == lbl, f"point {p}: label {g_lbl} != {lbl}"
        assert g_near == near, f"point {p}: nearest {g_near} != {near}"
        assert g_s == pytest.approx(s, abs=1e-9)
        assert g_dmr == pytest.approx(dmr, rel=1e-9)


def test_predict_index_large_norm_features_exact(spark, fitted):
    """Round-10 (ADVICE r9): the euclidean MIPS augmentation pre-scales
    by the max reference norm, so large-norm features (|x| ~ 1e4 here)
    keep their augmented-cosine gaps ABOVE the IVF kernel's 6dp
    similarity rounding. Without the pre-scale the kernel's top-k
    candidate selection collapses to the id tie-break and the nearest
    fitted point is wrong; with it, full-probe IVF must reproduce the
    broadcast kernel exactly (scaling is a ranking no-op)."""
    X, df, model = fitted
    scale = 1.0e4
    Xs = np.asarray(X) * scale
    dfs = to_df(spark, Xs)
    model_s = MRHDBSCAN(**PARAMS).fit(dfs)
    rng = np.random.default_rng(17)
    New = np.vstack(
        [Xs[:50] + rng.normal(scale=0.15 * scale, size=(50, 2)),
         rng.uniform(-15 * scale, 20 * scale, size=(15, 2))]
    )
    new_df = to_df(spark, New, ids=np.arange(len(New)))
    want = _collect_pred(
        approximate_predict(model_s, dfs, new_df, min_pts=PARAMS["min_pts"])
    )
    got = _collect_pred(
        approximate_predict(
            model_s, dfs, new_df, min_pts=PARAMS["min_pts"], index="ivf",
            index_kwargs={"n_centroids": 9, "n_probe": 9},
        )
    )
    assert set(got) == set(want)
    for p, (lbl, s, near, dmr) in want.items():
        g_lbl, g_s, g_near, g_dmr = got[p]
        assert g_lbl == lbl, f"point {p}: label {g_lbl} != {lbl}"
        assert g_near == near, f"point {p}: nearest {g_near} != {near}"
        assert g_s == pytest.approx(s, abs=1e-9)
        assert g_dmr == pytest.approx(dmr, rel=1e-9)


def test_predict_auto_falls_over_to_index_past_cap(spark, fitted):
    """auto + reference over the cap = the distributed path engages
    instead of raising; default index params give high (not perfect)
    recall, so compare agreement, not equality."""
    X, df, model = fitted
    rng = np.random.default_rng(21)
    New = np.vstack(
        [X[:40] + rng.normal(scale=0.15, size=(40, 2)),
         X[:10] + 500.0]
    )
    new_df = to_df(spark, New, ids=np.arange(len(New)))
    want = _collect_pred(
        approximate_predict(model, df, new_df, min_pts=PARAMS["min_pts"])
    )
    got = _collect_pred(
        approximate_predict(
            model, df, new_df, min_pts=PARAMS["min_pts"],
            max_reference_rows=10,
        )
    )
    assert set(got) == set(want)
    agree = sum(got[p][0] == want[p][0] for p in want)
    assert agree >= 0.9 * len(want), f"label agreement {agree}/{len(want)}"
    # far points are noise on both paths regardless of recall
    for p in range(40, 50):
        assert got[p][0] == 0 and got[p][1] == 0.0


def test_predict_stream_with_persisted_sample(spark, tmp_path):
    """Round-10 (VERDICT r9 task 6): the deploy-a-model STREAM story
    end-to-end — fit, save with a per-cluster sampled prediction
    reference, load in a fresh context with no training data, score a
    rate-limited file stream through the broadcast path, and stay
    label-consistent with the full-reference batch predict. The
    stated bound: >= 90% label agreement on sf0.001 (the sampled
    reference keeps every cluster's decision boundary represented;
    disagreements sit on cluster fringes by construction)."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel
    from bubbles.streaming.events import _drive_to_memory

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 500)
    pts = emb.select(
        F.col("vec_id").alias("point_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    train = pts.filter(F.col("point_id") < 400).localCheckpoint()
    new_df = pts.filter(F.col("point_id") >= 400).localCheckpoint()
    model = MRHDBSCAN(
        min_pts=4, min_cluster_size=10, max_local_size=2000, dim=64
    ).fit(train)
    full_batch = _collect_pred(model.predict(train, new_df, min_pts=4))

    path = str(tmp_path / "model_stream_sample")
    model.save(path, fitted_points=train, predict_rows_per_cluster=50)
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    # the persisted reference is a genuine per-cluster SAMPLE
    n_ref = loaded._predict_reference.count()
    assert n_ref < 400

    # rate-limited stream: several files, one per micro-batch
    src = str(tmp_path / "newpts_stream")
    new_df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("point_id long, features array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    streamed = _collect_pred(
        _drive_to_memory(
            spark,
            loaded.predict(stream, min_pts=4),
            "append",
            "predict_stream_sample_out",
        )
    )
    assert set(streamed) == set(full_batch)
    agree = sum(
        streamed[p][0] == full_batch[p][0] for p in full_batch
    )
    assert agree >= 0.9 * len(full_batch), (
        f"label agreement {agree}/{len(full_batch)} below the 90% bound"
    )
    # stream == batch on the SAME sampled reference (plan property:
    # one broadcast + mapInPandas, so the micro-batched run cannot
    # differ from the batch run)
    sampled_batch = _collect_pred(loaded.predict(new_df, min_pts=4))
    assert streamed == sampled_batch


def test_predict_persisted_index_equals_fresh(spark, tmp_path):
    """Round-10: save(..., index='ivf') persists the distributed-
    predict IVF index (centroids + capped inverted lists); a loaded
    model's index='ivf' predict must (a) reproduce the fresh-index
    predict bit-for-bit on sf0.001 (the artifacts ARE the cold path's
    intermediates — same centroids, same lists, same probes), and (b)
    take its candidates from the persisted members parquet, not a
    rebuilt assignment."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 500)
    pts = emb.select(
        F.col("vec_id").alias("point_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    train = pts.filter(F.col("point_id") < 400).localCheckpoint()
    new = pts.filter(F.col("point_id") >= 400)
    model = MRHDBSCAN(
        min_pts=4, min_cluster_size=10, max_local_size=2000, dim=64
    ).fit(train)
    fresh = _collect_pred(model.predict(train, new, min_pts=4, index="ivf"))

    path = str(tmp_path / "model_pidx")
    model.save(
        path, fitted_points=train, predict_rows_per_cluster=0, index="ivf"
    )
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    assert loaded._predict_index_path == f"{path}/predict_index"
    warm_df = loaded.predict(new, min_pts=4, index="ivf")
    files = warm_df.inputFiles()
    assert any("predict_index/members" in f for f in files), (
        f"warm predict did not read the persisted inverted lists: {files}"
    )
    warm = _collect_pred(warm_df)
    # second batch rides the memoized meta/centroid driver state
    # (model._predict_index_cache) — must be identical
    assert _collect_pred(loaded.predict(new, min_pts=4, index="ivf")) == warm
    assert loaded._predict_index_cache[0] == f"{path}/predict_index"
    assert set(warm) == set(fresh)
    for p, (lbl, s, near, dmr) in fresh.items():
        g_lbl, g_s, g_near, g_dmr = warm[p]
        assert (g_lbl, g_near) == (lbl, near), f"point {p}"
        assert g_s == pytest.approx(s, abs=1e-12)
        assert g_dmr == pytest.approx(dmr, rel=1e-12)
    # build-time kwargs are fixed in the artifact: re-tuning them at
    # predict time is an explicit error, not a silent ignore
    with pytest.raises(ValueError, match="index_kwargs"):
        loaded.predict(new, index="ivf", index_kwargs={"n_centroids": 4})
    # explicit fitted_points bypass the persisted index (it was built
    # over the PERSISTED reference) — still works, still equal here
    bypass = _collect_pred(loaded.predict(train, new, min_pts=4, index="ivf"))
    assert {p: v[0] for p, v in bypass.items()} == {
        p: v[0] for p, v in fresh.items()
    }


def test_save_index_requires_fitted_points_and_known_kind(
    spark, fitted, tmp_path
):
    import copy
    import os

    X, df, model = fitted
    with pytest.raises(ValueError, match="fitted_points"):
        model.save(str(tmp_path / "m1"), index="ivf")
    with pytest.raises(ValueError, match="only index='ivf' or 'lsh'"):
        model.save(str(tmp_path / "m2"), fitted_points=df, index="bogus")
    # the fit-metric guard runs UP FRONT: an unsupported metric must
    # fail before ANY relation is written, not after the reference —
    # a late failure leaves a half-written dir load() cannot read
    # (ADVICE r10)
    m_man = copy.copy(model)
    m_man._fit_params = {"min_pts": 4, "metric": "manhattan"}
    p3 = str(tmp_path / "m3")
    with pytest.raises(ValueError, match="euclidean/cosine"):
        m_man.save(p3, fitted_points=df, index="ivf")
    assert not os.path.exists(p3), "metric guard ran after writes began"


@pytest.fixture(scope="module")
def sf_model(spark):
    """One sf0.001 fit shared by the persisted-index tests (the fit is
    the slow part; each test exercises a different save/predict path)."""
    from bubbles.plans.mrhdbscan import MRHDBSCAN as _M

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 500)
    pts = emb.select(
        F.col("vec_id").alias("point_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    train = pts.filter(F.col("point_id") < 400).localCheckpoint()
    new = pts.filter(F.col("point_id") >= 400).localCheckpoint()
    model = _M(
        min_pts=4, min_cluster_size=10, max_local_size=2000, dim=64
    ).fit(train)
    return train, new, model


def test_predict_persisted_lsh_index_equals_fresh(spark, sf_model, tmp_path):
    """Round-11 (VERDICT r10 task 5): save(..., index='lsh') persists
    the LSH variant of the predict index (capped per-table sign-bit
    buckets; the hyperplanes re-derive from the meta parameters).
    A loaded model's index='lsh' predict must reproduce the fresh
    _predict_via_index(index='lsh') bit-for-bit (the artifacts ARE
    the cold path's corpus side) and read the persisted buckets."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    train, new, model = sf_model
    fresh = _collect_pred(
        model.predict(train, new, min_pts=4, index="lsh")
    )

    path = str(tmp_path / "model_lidx")
    model.save(
        path, fitted_points=train, predict_rows_per_cluster=0, index="lsh"
    )
    assert model._predict_index_kind == "lsh"
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    assert loaded._predict_index_kind == "lsh"
    warm_df = loaded.predict(new, min_pts=4, index="lsh")
    files = warm_df.inputFiles()
    assert any("predict_index/buckets" in f for f in files), (
        f"warm predict did not read the persisted buckets: {files}"
    )
    warm = _collect_pred(warm_df)
    # second batch rides the memoized meta driver state
    assert _collect_pred(loaded.predict(new, min_pts=4, index="lsh")) == warm
    assert loaded._predict_index_cache[0] == f"{path}/predict_index"
    assert loaded._predict_index_cache[1]["kind"] == "lsh"
    assert warm == fresh
    # query-side knobs may move per batch; build-side ones are fixed
    global_probe = _collect_pred(
        loaded.predict(
            new, min_pts=4, index="lsh",
            index_kwargs={"n_probes": 4, "probe_alloc": "global"},
        )
    )
    assert set(global_probe) == set(fresh)
    with pytest.raises(ValueError, match="index_kwargs"):
        loaded.predict(new, index="lsh", index_kwargs={"planes": 4})
    # a NULL-feature query row is noise, not a kernel crash (ADVICE r10)
    with_null = new.unionByName(
        spark.createDataFrame(
            [(99999, None)], "point_id long, features array<double>"
        )
    )
    got = _collect_pred(loaded.predict(with_null, min_pts=4, index="lsh"))
    assert got[99999] == (0, 0.0, -1, float("inf"))


def test_predict_persisted_ivf_null_features_and_resave(
    spark, sf_model, tmp_path
):
    """ADVICE r10: (a) NULL-feature query rows come back as noise from
    the persisted IVF path (the cold ivf_topk filters them; the warm
    path must match, not die in _vec_matrix); (b) re-running
    save(index='ivf') on the SAME path invalidates the memoized
    (meta, centroids) so the next predict can't mix stale centroids
    with the new members parquet."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    train, new, model = sf_model
    path = str(tmp_path / "model_reidx")
    model.save(
        path, fitted_points=train, predict_rows_per_cluster=0, index="ivf"
    )
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    with_null = new.unionByName(
        spark.createDataFrame(
            [(99999, None)], "point_id long, features array<double>"
        )
    )
    got = _collect_pred(loaded.predict(with_null, min_pts=4, index="ivf"))
    assert got[99999] == (0, 0.0, -1, float("inf"))
    base = {p: v for p, v in got.items() if p != 99999}
    assert base == _collect_pred(loaded.predict(new, min_pts=4, index="ivf"))
    # cache primed on the first predict; a rebuild at the same path
    # must drop it (stale centroids + new members = silently wrong)
    assert loaded._predict_index_cache is not None
    old_centroids = loaded._predict_index_cache[1]["n_centroids"]
    loaded.save(
        path,
        fitted_points=loaded._predict_reference.select("point_id", "features"),
        predict_rows_per_cluster=0,
        index="ivf",
        index_kwargs={"n_centroids": max(4, old_centroids // 2)},
    )
    assert loaded._predict_index_cache is None
    re_got = _collect_pred(loaded.predict(new, min_pts=4, index="ivf"))
    assert loaded._predict_index_cache[1]["n_centroids"] != old_centroids
    assert set(re_got) == set(base)


def test_predict_stream_foreachbatch_persisted_index(
    spark, sf_model, tmp_path
):
    """Round-11 (VERDICT r10 task 3): predict_stream scores a
    rate-limited file stream through foreachBatch, where every
    micro-batch is an ordinary batch frame and therefore rides the
    persisted distributed index EXACTLY — the streamed result must
    equal the batch _predict_via_persisted_index result verbatim
    (per-query independence: probes, candidate top-k, core_x and the
    membership rule never look across queries, so micro-batching is
    exact by construction, unlike the broadcast sampled-reference
    stream path's >=90% agreement contract)."""
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    train, new, model = sf_model
    path = str(tmp_path / "model_fb")
    model.save(
        path, fitted_points=train, predict_rows_per_cluster=0, index="ivf"
    )
    with pytest.warns(UserWarning):
        loaded = MRHDBSCANModel.load(spark, path)
    batch = _collect_pred(loaded.predict(new, min_pts=4, index="ivf"))

    src = str(tmp_path / "fb_src")
    new.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("point_id long, features array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "fb_out")
    q = loaded.predict_stream(
        stream,
        out,
        str(tmp_path / "fb_ckpt"),
        available_now=True,
        min_pts=4,
        index="ivf",
    )
    q.awaitTermination(120)
    res = spark.read.parquet(out)
    n_batches = res.select("batch_id").distinct().count()
    assert n_batches >= 2, "stream did not micro-batch"
    streamed = _collect_pred(res.drop("batch_id"))
    assert streamed == batch
    # batch scoring refuses streams with a pointer to this path
    with pytest.raises(ValueError, match="predict_stream"):
        loaded.predict(stream, min_pts=4, index="ivf")


def test_build_predict_index_expected_batch_size(spark, sf_model, tmp_path):
    """Round-11 (VERDICT r10 task 4): expected_batch_size sizes the
    centroid count for warm per-batch cost (min(sqrt(n_probe·n_ref),
    sqrt(8·q))) instead of the corpus rule; parity with the cold path
    holds when the same n_centroids is passed there explicitly."""
    import json
    import math

    from bubbles.plans.predict import build_predict_index, reference_frame

    train, new, model = sf_model
    ref = reference_frame(model, train).localCheckpoint()
    n_ref = ref.count()
    path = str(tmp_path / "ebs_idx")
    build_predict_index(ref, path, expected_batch_size=100)
    meta = json.loads(
        spark.read.text(f"{path}/meta").collect()[0]["value"]
    )
    want = max(
        16, min(int(math.sqrt(8 * n_ref)), int(math.sqrt(8 * 100)))
    )
    assert meta["n_centroids"] == want
    assert meta["expected_batch_size"] == 100
    model._predict_index_path = path
    model._predict_index_kind = "ivf"
    model._predict_index_cache = None
    model._predict_reference = ref
    try:
        warm = _collect_pred(model.predict(new, min_pts=4, index="ivf"))
        cold = _collect_pred(
            model.predict(
                train, new, min_pts=4, index="ivf",
                index_kwargs={"n_centroids": want},
            )
        )
        assert warm == cold
    finally:
        model._predict_index_path = None
        model._predict_index_kind = None
        model._predict_index_cache = None
        model._predict_reference = None


def test_predict_index_lsh_and_streaming_guard(spark, fitted, tmp_path):
    X, df, model = fitted
    new_df = to_df(spark, X[:20] + 0.1, ids=np.arange(20))
    got = _collect_pred(
        approximate_predict(
            model, df, new_df, min_pts=PARAMS["min_pts"], index="lsh",
            index_kwargs={"planes": 4, "tables": 4, "n_probes": 4},
        )
    )
    assert len(got) == 20
    # streaming new_points cannot take the index path
    src = str(tmp_path / "newpts_idx")
    new_df.write.parquet(src)
    stream = spark.readStream.schema(
        "point_id long, features array<double>"
    ).parquet(src)
    with pytest.raises(ValueError, match="batch-only"):
        approximate_predict(model, df, stream, index="ivf")

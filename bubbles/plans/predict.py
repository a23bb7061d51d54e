"""Out-of-sample cluster assignment for a fitted MRHDBSCAN model —
score NEW points against an existing clustering without refitting.

The reference has no prediction path (its driver refits from scratch,
源代码/main/Main.java); this is the standard HDBSCAN*
``approximate_predict`` (Campello, Moulavi, Zimek, Sander — "Hierarchical
Density Estimates for Data Clustering, Visualization, and Outlier
Detection", TKDD 2015, §4.2 membership of unseen objects; popularized by
the hdbscan library's approximate_predict) re-expressed against this
engine's distance-level conventions:

* a new point x is measured against the FITTED reference set (the
  caller re-supplies the fitted features, or the model carries a
  persisted prediction reference — see ``MRHDBSCANModel.save``),
* ``core_x`` is the distance to x's (min_pts-1)-th nearest fitted
  neighbor — equivalently the min_pts-th smallest of x's distance
  list after prepending a virtual self-0. This is the rule that makes
  self-prediction exact: a fitted point's distance list already
  contains its own 0, so core_x reproduces the fitted core distance
  ((min_pts-1)-th smallest including self, HDBSCANStar.java),
* x would have attached to the hierarchy through its nearest fitted
  point p at the mutual-reachability level
  ``d_mr = max(d(x,p), core(p), core_x)``,
* x is a member of p's flat cluster c iff ``d_mr <= birth_level(c)``
  (clusters live on the distance interval [death_level, birth_level];
  the root's NaN birth means always-member, but the root is never a
  flat label) — otherwise x is noise (label 0). Fitted noise p (label
  0) predicts noise directly.
* ``strength`` grades membership inside the cluster's lifetime:
  1 at/below death_level (would survive to the cluster's last level),
  linearly down to 0 at birth_level, 0 for noise.

Execution shape (the 100 TB story): the reference relation is joined
once (labels + core distances + tree levels onto the fitted features),
collected with ``toArrow`` and decoded column-wise into ONE numpy
broadcast (non-finite reference features are refused there), and
every new point is scored in a single ``mapInPandas`` pass. Euclidean
batches run an exact BLAS-screened kNN over byte-bounded row blocks
(``kernels.hdbscan_kernel.nearest_euclidean``); the other metrics keep
the per-row distance loop; the membership rule is vectorized over the
batch. NULL, NaN and inf query rows come back as noise (label 0,
nearest -1, mr_dist inf), like the index paths. Zero shuffles, no
window, no join on the new-point side, so the SAME plan runs unchanged
over a Structured Streaming source (stream scoring = this operator on
a readStream frame; test_predict pins stream==batch).
The broadcast is size-gated like every other broadcast in this repo:
beyond ``max_reference_rows`` the call refuses and tells the caller to
sample the reference (per-cluster stratified sampling keeps the
decision boundary — at billions of fitted points one does not want a
billion-row nearest-neighbor reference anyway).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PREDICT_SCHEMA = (
    "point_id long, label long, strength double, "
    "nearest_fitted_id long, mr_dist double"
)


def _decode_features(pdf, dim: int):
    """(X, ok): the batch's ``features`` as one (n, dim) float64 matrix
    and the mask of rows that can be scored. NULL, NaN and inf rows
    are not scorable (the caller returns them as noise, like the index
    paths); a row whose length is not the reference dimension is a
    caller error and raises, naming its ``point_id``."""
    import numpy as np

    feats = pdf["features"]
    present = feats.notna().to_numpy()
    X = np.full((len(pdf), dim), np.nan)
    if present.any():
        given = feats[present]
        try:
            got = np.vstack(given.to_list())
        except ValueError:
            got = None
        if got is None or got.shape[1] != dim:
            lengths = np.array([len(v) for v in given])
            bad = int(np.flatnonzero(lengths != dim)[0])
            pid = int(pdf["point_id"][present].iloc[bad])
            raise ValueError(
                f"point_id {pid}: features has length {lengths[bad]}, "
                f"but the prediction reference has dimension {dim}"
            )
        X[present] = got
    return X, np.isfinite(X).all(axis=1)


def _reference_arrays(tbl):
    """The broadcast payload ``(ids, mat, labels, core, birth, death)``
    decoded column-wise from the reference's Arrow table: ``features``
    by list-flatten + reshape, NULL birth/death levels as NaN. Refuses
    an empty reference and NULL, ragged or non-finite reference
    features, whose distances would poison every query."""
    import numpy as np
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n == 0:
        raise ValueError(
            "empty prediction reference: fitted_points shares no "
            "point_id with model.labels"
        )
    feats = tbl.column("features").combine_chunks()
    if feats.null_count:
        raise ValueError(
            f"prediction reference has {feats.null_count} rows with NULL "
            f"features"
        )
    lengths = pc.list_value_length(feats).to_numpy()
    if lengths.min() != lengths.max():
        raise ValueError(
            f"prediction reference features have lengths "
            f"{lengths.min()}..{lengths.max()}; they must share one length"
        )
    mat = (
        feats.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
        .reshape(n, -1)
    )
    bad = int((~np.isfinite(mat).all(axis=1)).sum())
    if bad:
        raise ValueError(
            f"prediction reference has {bad} rows with non-finite "
            f"features (NaN or inf); fit and predict on finite data"
        )

    def col(name, dtype):
        return (
            tbl.column(name)
            .to_numpy(zero_copy_only=False)
            .astype(dtype, copy=False)
        )

    return (
        col("point_id", np.int64),
        mat,
        col("label", np.int64),
        col("core_distance", np.float64),
        col("birth_level", np.float64),
        col("death_level", np.float64),
    )


def _make_predict_kernel(bc, min_pts: int, metric: str):
    """Arrow kernel: exact kNN of each row against the broadcast
    reference, then the membership rule above, vectorized over the
    batch. Ties on the nearest distance keep the smallest fitted id
    (deterministic, the repo-wide tie convention).

    Euclidean rows go through ``nearest_euclidean``: a BLAS screen per
    byte-bounded row block, a rigorous rounding margin, and an exact
    recompute of the few surviving pairs with the shared row formula.
    Its output is bit-identical to the per-row rule (the exact 0
    self-distance included), which plain ``|x|²-2x·s+|s|²`` GEMM is
    not. The other metrics keep the per-row ``ROW_DISTANCES`` loop: it
    is the only exact form for cosine and pearson, whose formulas are
    not symmetric in their two arguments."""
    import numpy as np
    import pandas as pd

    from bubbles.kernels.hdbscan_kernel import ROW_DISTANCES, nearest_euclidean

    dist_rows = ROW_DISTANCES[metric]

    def nearest_per_row(mat, ids, X):
        n = X.shape[0]
        near = np.empty(n, dtype=np.int64)
        near_d = np.empty(n, dtype=np.float64)
        core_x = np.zeros(n, dtype=np.float64)
        for i in range(n):
            d = dist_rows(mat, X[i])
            # nearest fitted point; exact distance ties keep the
            # smallest id — O(m) scan, no sort
            cand = np.flatnonzero(d == d.min())
            j = cand[0] if cand.size == 1 else cand[ids[cand].argmin()]
            near[i], near_d[i] = j, d[j]
            # core_x: the (min_pts-1)-th nearest fitted neighbor —
            # i.e. the min_pts-th smallest after prepending a virtual
            # self-0 — so self-predicting a fitted point reproduces its
            # fitted core distance
            if min_pts <= 1:
                continue
            if min_pts - 1 <= d.shape[0]:
                core_x[i] = np.partition(d, min_pts - 2)[min_pts - 2]
            else:
                core_x[i] = d.max(initial=0.0)
        return near, near_d, core_x

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, labels, core, birth, death = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X, ok = _decode_features(pdf, mat.shape[1])
            out_label = np.zeros(n, dtype=np.int64)
            out_strength = np.zeros(n, dtype=np.float64)
            out_nearest = np.full(n, -1, dtype=np.int64)
            out_dmr = np.full(n, np.inf, dtype=np.float64)
            if ok.any():
                if metric == "euclidean":
                    j, near_d, core_x = nearest_euclidean(
                        mat, ids, X[ok], min_pts
                    )
                else:
                    j, near_d, core_x = nearest_per_row(mat, ids, X[ok])
                d_mr = np.maximum(np.maximum(near_d, core[j]), core_x)
                lbl, b, dth = labels[j], birth[j], death[j]
                # fitted noise predicts noise; otherwise member iff the
                # attach level is inside the cluster's lifetime (the
                # root's NaN birth: always)
                open_b = np.isnan(b)
                member = (lbl != 0) & (open_b | (d_mr <= b))
                whole = open_b | np.isnan(dth) | (b <= dth)
                with np.errstate(divide="ignore", invalid="ignore"):
                    frac = np.clip((b - d_mr) / (b - dth), 0.0, 1.0)
                out_label[ok] = np.where(member, lbl, 0)
                out_strength[ok] = np.where(
                    member, np.where(whole, 1.0, frac), 0.0
                )
                out_nearest[ok] = ids[j]
                out_dmr[ok] = d_mr
            yield pd.DataFrame(
                {
                    "point_id": pdf["point_id"].astype(np.int64),
                    "label": out_label,
                    "strength": np.round(out_strength, 9),
                    "nearest_fitted_id": out_nearest,
                    "mr_dist": out_dmr,
                }
            )

    return kernel


def reference_frame(
    model, fitted_points: DataFrame, features_col: str = "features"
) -> DataFrame:
    """Join the fitted features with everything the membership rule
    needs: (point_id, features, label, core_distance, birth_level,
    death_level). Distributed — this is also what
    ``MRHDBSCANModel.save`` persists (sampled) as the model's
    prediction reference."""
    tree = model.cluster_tree.select("label", "birth_level", "death_level")
    return (
        fitted_points.select("point_id", F.col(features_col).alias("features"))
        .join(model.labels, on="point_id")
        .join(
            model.outlier_scores.select("point_id", "core_distance"),
            on="point_id",
        )
        .join(tree, on="label", how="left")  # noise has no tree row
        .select(
            "point_id", "features", "label", "core_distance",
            "birth_level", "death_level",
        )
    )


def _mips_corpus(ref: DataFrame, metric: str):
    """(corpus(point_id, __ivec), scale): the reference side of the
    index embedding. ``cosine`` indexes the vectors directly;
    ``euclidean`` applies the exact MIPS reduction (see
    ``_predict_via_index``) after pre-scaling by the max reference
    norm so augmented-cosine gaps stay above the IVF kernel's 6dp
    rounding (ADVICE r9; scaling is a euclidean-ranking no-op)."""
    from bubbles.functions.distances import dot as _dot

    if metric == "cosine":
        return ref.select("point_id", F.col("features").alias("__ivec")), 1.0
    n2_raw = _dot(F.col("features"), F.col("features"))
    maxn2 = ref.select(F.max(n2_raw).alias("m")).first()["m"] or 0.0
    s = 1.0 / (maxn2 ** 0.5) if maxn2 > 0 else 1.0
    scaled = F.transform(F.col("features"), lambda v: v * F.lit(s))
    n2 = n2_raw * F.lit(s * s)
    aug_norm2 = n2 + n2 * n2 / F.lit(4.0)
    # aug_norm2 is monotone in n2 and max scaled n2 is exactly 1, so
    # the equal-norm target is 1 + 1/4 — no second pass
    m2 = 1.25 if maxn2 > 0 else 0.0
    pad = F.sqrt(F.greatest(F.lit(m2) - aug_norm2, F.lit(0.0)))
    corpus = ref.select(
        "point_id",
        F.concat(scaled, F.array(n2 * F.lit(-0.5), pad)).alias("__ivec"),
    )
    return corpus, s


def _mips_queries(
    staged: DataFrame, offset: int, metric: str, s: float
) -> DataFrame:
    """The query side of the index embedding, ids shifted by
    ``offset`` into a range disjoint from the reference ids."""
    qid = (F.col("point_id") + offset).alias("point_id")
    if metric == "cosine":
        return staged.select(qid, F.col("features").alias("__ivec"))
    return staged.select(
        qid,
        F.concat(
            F.transform(F.col("features"), lambda v: v * F.lit(float(s))),
            F.array(F.lit(1.0), F.lit(0.0)),
        ).alias("__ivec"),
    )


def _membership_result(
    staged: DataFrame,
    ref: DataFrame,
    cand: DataFrame,
    offset: int,
    min_pts: int,
    metric: str,
) -> DataFrame:
    """Shared tail of every index-backed predict path: exact re-rank
    of the recalled candidates in the TRUE metric (column expressions,
    JVM-side; tie rule = smallest fitted id, matching the broadcast
    kernel) + the membership rule."""
    from bubbles.functions.distances import distance_expr

    q_feats = staged.select(
        (F.col("point_id") + offset).alias("query_id"),
        F.col("features").alias("__qf"),
    )
    r_attrs = ref.select(
        F.col("point_id").alias("neighbor_id"),
        F.col("features").alias("__nf"),
        "label", "core_distance", "birth_level", "death_level",
    )
    d = distance_expr(F.col("__qf"), F.col("__nf"), metric)
    scored = (
        cand.join(q_feats, on="query_id")
        .join(r_attrs, on="neighbor_id")
        .select(
            (F.col("query_id") - offset).alias("point_id"),
            "neighbor_id", d.alias("__d"),
            "label", "core_distance", "birth_level", "death_level",
        )
    )
    near = F.min(
        F.struct(
            F.col("__d").alias("d"),
            F.col("neighbor_id").alias("nid"),
            F.col("label").alias("lbl"),
            F.col("core_distance").alias("core"),
            F.col("birth_level").alias("birth"),
            F.col("death_level").alias("death"),
        )
    ).alias("__near")
    agg = scored.groupBy("point_id").agg(
        near, F.sort_array(F.collect_list("__d")).alias("__ds")
    )
    nearc = F.col("__near")
    if min_pts <= 1:
        core_x = F.lit(0.0)
    else:
        # (min_pts-1)-th smallest candidate distance; with fewer
        # candidates the largest one (the broadcast rule applied to
        # the recalled set). F.get is 0-based.
        core_x = F.get(
            "__ds", F.least(F.lit(min_pts - 1), F.size("__ds")) - 1
        )
    b, dth = nearc["birth"], nearc["death"]
    d_mr = F.greatest(nearc["d"], nearc["core"], core_x)
    b_open = b.isNull() | F.isnan(b)
    member = (nearc["lbl"] != 0) & (b_open | (d_mr <= b))
    full_s = b_open | dth.isNull() | F.isnan(dth) | (b <= dth)
    frac = F.greatest(
        F.least((b - d_mr) / (b - dth), F.lit(1.0)), F.lit(0.0)
    )
    strength = F.round(
        F.when(member, F.when(full_s, F.lit(1.0)).otherwise(frac)).otherwise(
            F.lit(0.0)
        ),
        9,
    )
    res = agg.select(
        "point_id",
        F.when(member, nearc["lbl"]).otherwise(F.lit(0)).cast("long").alias("label"),
        strength.alias("strength"),
        nearc["nid"].cast("long").alias("nearest_fitted_id"),
        d_mr.alias("mr_dist"),
    )
    return (
        staged.select("point_id")
        .join(res, on="point_id", how="left")
        .select(
            "point_id",
            F.coalesce("label", F.lit(0)).cast("long").alias("label"),
            F.coalesce("strength", F.lit(0.0)).alias("strength"),
            F.coalesce("nearest_fitted_id", F.lit(-1)).cast("long").alias(
                "nearest_fitted_id"
            ),
            F.coalesce("mr_dist", F.lit(float("inf"))).alias("mr_dist"),
        )
    )


def _predict_via_index(
    model,
    ref: DataFrame,
    new_points: DataFrame,
    min_pts: int,
    metric: str,
    index: str,
    features_col: str,
    index_kwargs: dict | None,
) -> DataFrame:
    """Distributed predict past the broadcast cap: find each new
    point's nearest fitted points through the existing ANN index path
    (``ivf_topk``/``lsh_topk`` with ``queries=``), exact-verify the
    candidates with the column-expression metric, and apply the
    membership rule JVM-side. The reference is NEVER broadcast or
    collected — only the index's own bounded state is (IVF centroids).

    Metric support: ``cosine`` indexes the vectors directly;
    ``euclidean`` uses the exact MIPS reduction (Bachrach et al.,
    RecSys 2014; Neyshabur & Srebro, ICML 2015): corpus rows become
    ``[x, -|x|²/2, pad]`` with ``pad`` chosen so every augmented row
    has the same norm, queries become ``[q, 1, 0]`` — the augmented
    COSINE ranking then equals the euclidean ranking exactly, so the
    index's candidate ordering is metric-true and the exact re-rank
    only refines within the recalled set.

    Approximation contract vs the broadcast path: (a) the nearest
    fitted point is the nearest RECALLED candidate (index recall < 1
    can miss it), (b) core_x is the (min_pts-1)-th smallest CANDIDATE
    distance — an upper bound on the true core_x, so misses only push
    predictions toward noise, never into a wrong cluster at a stronger
    grade, and (c) a query whose every probed bucket was capped away
    gets (label 0, strength 0, nearest -1, mr_dist inf). Batch-only
    (the index builds run count/repartition/window jobs); stream
    scoring stays on the broadcast path."""
    import math

    from bubbles.operators.similarity import ivf_topk, lsh_topk

    if new_points.isStreaming:
        raise ValueError(
            "index-path predict is batch-only; score streams through "
            "predict_stream (foreachBatch — exact, rides a persisted "
            "index) or the broadcast path (sample the reference below "
            "max_reference_rows, e.g. save(..., fitted_points=...) "
            "with a per-cluster cap)"
        )
    ref = ref.localCheckpoint()
    n_ref = ref.count()
    staged = new_points.select(
        F.col("point_id").cast("long").alias("point_id"),
        F.col(features_col).cast("array<double>").alias("features"),
    )
    # the index treats equal ids on both sides as the same item and
    # excludes them — shift the query ids into a disjoint range
    ref_max = ref.agg(F.max("point_id")).first()[0]
    q_min = staged.agg(F.min("point_id")).first()[0]
    if q_min is None:
        return staged.sparkSession.createDataFrame([], _PREDICT_SCHEMA)
    offset = max(0, int(ref_max) - int(q_min) + 1)
    corpus, s = _mips_corpus(ref, metric)
    queries = _mips_queries(staged, offset, metric, s)
    kw = dict(index_kwargs or {})
    k_cand = int(kw.pop("k", max(min_pts - 1, 8)))
    if index == "ivf":
        kw.setdefault(
            "n_centroids",
            max(16, int(math.sqrt(max(n_ref, 1) / 200)) ** 2),
        )
        kw.setdefault("n_probe", 8)
        cand = ivf_topk(
            corpus, k=k_cand, id_col="point_id", vec_col="__ivec",
            n_rows=n_ref, queries=queries, **kw,
        )
    elif index == "lsh":
        kw.setdefault("tables", 3)
        kw.setdefault("n_probes", 8)
        cand = lsh_topk(
            corpus, k=k_cand, id_col="point_id", vec_col="__ivec",
            queries=queries, **kw,
        )
    else:
        raise ValueError(f"unknown index {index!r}; 'ivf' or 'lsh'")
    return _membership_result(staged, ref, cand, offset, min_pts, metric)


def build_predict_index(
    ref: DataFrame,
    path: str,
    metric: str = "euclidean",
    n_centroids: int | None = None,
    n_probe: int = 8,
    max_bucket_size: int = 4096,
    seed: int = 42,
    n_salts: int = 4,
    expected_batch_size: int | None = None,
) -> None:
    """Build the distributed-predict IVF index ONCE over a prediction
    reference and persist it under ``path`` so repeated scoring
    batches pay probe + re-rank only (the reference-side assignment
    pass and inverted-list cap — the dominant cost of a cold
    ``_predict_via_index`` call — are amortized across batches, the
    same pattern as the near-dup corpus band index). Artifacts:

    * ``centroids/`` — (ord, centroid_id, cvec) parquet; ``ord``
      preserves the sample-priority order the assignment kernel's
      tie-breaks are defined over.
    * ``members/`` — (centroid, neighbor_id, vec BINARY) parquet, the
      capped inverted lists repartitioned by centroid (list-clustered
      layout; the packed float64 payload feeds ``_vec_matrix``'s
      binary fast path straight from the scan).
    * ``meta/`` — one-row JSON: metric, the euclidean MIPS pre-scale,
      probe/salt defaults and ``ref_max_id`` for the query-id shift.

    Build parameters default exactly like the cold auto path, so a
    persisted-index predict reproduces a fresh-index predict bit-for-
    bit on the same reference (pinned by test_predict).

    ``expected_batch_size`` sizes the centroid count for the WARM
    per-batch cost instead of the corpus rule: a warm batch pays
    q·n_centroids centroid distances (assignment) plus
    q·n_probe·(n_ref/n_centroids) candidate scores (probed lists), so
    the per-query flops minimize at n_centroids ≈ sqrt(n_probe·n_ref)
    — NOT the cold rule sqrt(n_ref/200), which at a 2.4M reference
    picks 11881 centroids and makes query-side assignment ~90% of the
    warm wall (SCALE.md round-10 analysis; the corpus-side assignment
    the cold rule optimizes is paid ONCE at build here). When set, the
    default n_centroids becomes that balance point, floored at
    sqrt(8·expected_batch_size) so tiny scoring batches don't force
    huge member lists through the cogroup. Changing n_centroids
    changes which candidates are recalled, so an expected_batch_size
    build intentionally trades bit-parity with the cold auto path for
    warm throughput (parity holds whenever the same n_centroids is
    used on both sides). Explicit ``n_centroids`` overrides both
    rules."""
    import json
    import math

    if metric not in ("euclidean", "cosine"):
        raise ValueError(
            f"persisted predict index supports euclidean/cosine, got "
            f"{metric!r}"
        )
    from bubbles.operators.similarity import _ivf_build

    spark = ref.sparkSession
    n_ref = ref.count()
    ref_max = ref.agg(F.max("point_id")).first()[0]
    if ref_max is None:
        raise ValueError("cannot build a predict index over an empty reference")
    corpus, s = _mips_corpus(ref, metric)
    if n_centroids is None:
        if expected_batch_size:
            # warm-batch balance point: per query the batch pays
            # n_centroids assignment distances + n_probe·(n_ref/
            # n_centroids) probed-list scores → sqrt(n_probe·n_ref),
            # capped at sqrt(8·q) when the batch is small (a tiny
            # batch can't amortize a wide assignment matrix; this is
            # also the COLD-call optimum SCALE.md derives, so the cap
            # keeps one-shot builds sane too)
            n_centroids = max(
                16,
                min(
                    int(math.sqrt(n_probe * max(n_ref, 1))),
                    int(math.sqrt(8 * max(expected_batch_size, 32))),
                ),
            )
        else:
            n_centroids = max(16, int(math.sqrt(max(n_ref, 1) / 200)) ** 2)
    cids, cmat, _both, assigned = _ivf_build(
        corpus,
        n_centroids=n_centroids,
        n_probe_corpus=1,
        seed=seed,
        id_col="point_id",
        vec_col="__ivec",
        max_bucket_size=max_bucket_size,
        centroid_ids=None,
        n_rows=n_ref,
    )
    cent_rows = [
        (i, int(cid), [float(x) for x in cmat[i]])
        for i, cid in enumerate(cids)
    ]
    (
        spark.createDataFrame(
            cent_rows, "ord int, centroid_id long, cvec array<double>"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    (
        assigned.select("centroid", "neighbor_id", F.col("__cv").alias("vec"))
        .repartition("centroid")
        .write.mode("overwrite")
        .parquet(f"{path}/members")
    )
    meta = {
        "kind": "ivf",
        "metric": metric,
        "scale": float(s),
        "n_probe": int(n_probe),
        "n_salts": int(n_salts),
        "n_centroids": int(n_centroids),
        "max_bucket_size": int(max_bucket_size),
        "seed": int(seed),
        "ref_max_id": int(ref_max),
        "n_ref": int(n_ref),
        "expected_batch_size": expected_batch_size,
        "format_version": 1,
    }
    (
        spark.createDataFrame([(json.dumps(meta),)], "meta string")
        .coalesce(1)
        .write.mode("overwrite")
        .text(f"{path}/meta")
    )


def build_predict_lsh_index(
    ref: DataFrame,
    path: str,
    metric: str = "euclidean",
    planes: int | None = None,
    tables: int = 3,
    seed: int = 42,
    max_bucket_size: int = 4096,
    n_probes: int = 8,
    probe_alloc: str = "per_table",
) -> None:
    """Persist the LSH variant of the distributed-predict index — the
    index ``choose_index`` routes streaming-build / fast-churning
    corpora to (one projection pass per row, no centroid training).
    Same artifact pattern as the streaming near-dup band index
    (streaming/neardup.py:134) and the IVF twin above:

    * ``buckets/`` — (table, bucket, neighbor_id, vec) parquet,
      partitioned by table: each table's capped sign-bit buckets of
      the (MIPS-embedded) reference. Over-``max_bucket_size`` buckets
      are DROPPED, exactly like the cold ``lsh_topk`` corpus side —
      queries landing there still recall from the other tables.
    * ``meta/`` — one-row JSON: metric, MIPS pre-scale, the plane
      parameters (dim/planes/tables/seed — the hyperplanes themselves
      are derived deterministically from these, so no plane payload
      is stored), probe defaults and ``ref_max_id``.

    Build parameters default exactly like the cold
    ``_predict_via_index(index='lsh')`` path, so a persisted-index
    predict reproduces a fresh-index predict bit-for-bit on the same
    reference (pinned by test_predict)."""
    import json
    import math

    if metric not in ("euclidean", "cosine"):
        raise ValueError(
            f"persisted predict index supports euclidean/cosine, got "
            f"{metric!r}"
        )
    if probe_alloc not in ("per_table", "global"):
        raise ValueError(
            f"probe_alloc must be 'per_table' or 'global', got {probe_alloc!r}"
        )
    from bubbles.operators.similarity import lsh_bucket

    spark = ref.sparkSession
    n_ref = ref.count()
    ref_max = ref.agg(F.max("point_id")).first()[0]
    if ref_max is None:
        raise ValueError("cannot build a predict index over an empty reference")
    corpus, s = _mips_corpus(ref, metric)
    row = corpus.select("__ivec").first()
    dim = len(row["__ivec"])
    if planes is None:
        # lsh_topk's auto width: ~256-row buckets, floor 6 sign bits
        planes = max(6, math.ceil(math.log2(max(n_ref, 2) / 256)))
    par = spark.sparkContext.defaultParallelism
    corpus = corpus.repartition(par)
    per_table = []
    for t in range(tables):
        b = lsh_bucket(corpus, dim, planes, seed, t, "point_id", "__ivec")
        if max_bucket_size:
            small = (
                b.groupBy("bucket")
                .agg(F.count("*").alias("__bn"))
                .filter(F.col("__bn") <= max_bucket_size)
                .select("bucket")
            )
            b = b.join(small, on="bucket")
        per_table.append(
            b.select(
                F.lit(t).alias("table"),
                "bucket",
                F.col("point_id").alias("neighbor_id"),
                F.col("__ivec").alias("vec"),
            )
        )
    buckets = per_table[0]
    for b in per_table[1:]:
        buckets = buckets.unionByName(b)
    (
        buckets.repartition("table", "bucket")
        .write.mode("overwrite")
        .partitionBy("table")
        .parquet(f"{path}/buckets")
    )
    meta = {
        "kind": "lsh",
        "metric": metric,
        "scale": float(s),
        "dim": int(dim),
        "planes": int(planes),
        "tables": int(tables),
        "seed": int(seed),
        "max_bucket_size": int(max_bucket_size),
        "n_probes": int(n_probes),
        "probe_alloc": probe_alloc,
        "ref_max_id": int(ref_max),
        "n_ref": int(n_ref),
        "format_version": 1,
    }
    (
        spark.createDataFrame([(json.dumps(meta),)], "meta string")
        .coalesce(1)
        .write.mode("overwrite")
        .text(f"{path}/meta")
    )


def _read_index_meta(model, spark, index_path: str):
    """Memoized one-row index meta (+ centroid arrays for IVF) — the
    bounded driver state a warm scoring batch reuses. The cache is
    keyed on the index path and INVALIDATED by ``MRHDBSCANModel.save``
    whenever the index is (re)built, so a refreshed artifact at the
    same path can't serve stale centroids/scale (ADVICE r10)."""
    import json

    import numpy as np

    cache = getattr(model, "_predict_index_cache", None)
    if cache is not None and cache[0] == index_path:
        return cache[1], cache[2], cache[3]
    meta = json.loads(
        spark.read.text(f"{index_path}/meta").collect()[0]["value"]
    )
    cids = cmat = None
    if meta.get("kind", "ivf") == "ivf":
        crows = (
            spark.read.parquet(f"{index_path}/centroids")
            .orderBy("ord")
            .collect()
        )
        cids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
        cmat = np.array([r["cvec"] for r in crows], dtype=np.float64)
    try:
        model._predict_index_cache = (index_path, meta, cids, cmat)
    except Exception:
        pass  # frozen/slotted model objects: just skip memoization
    return meta, cids, cmat


def _predict_via_persisted_lsh_index(
    model,
    ref: DataFrame,
    new_points: DataFrame,
    min_pts: int,
    metric: str,
    index_path: str,
    features_col: str,
    index_kwargs: dict | None,
) -> DataFrame:
    """Warm distributed predict over the persisted LSH index: the
    query side is bucketed with the SAME seeded hyperplanes (re-derived
    from the meta parameters — nothing but the one meta row is driver
    state), meets the stored capped corpus buckets per table in the
    shared cogroup kernel, then the shared exact re-rank + membership
    tail. Bit-identical to ``_predict_via_index(index='lsh')`` built
    with the same parameters (the artifacts ARE the cold path's corpus
    side). ``n_probes`` / ``probe_alloc`` / ``k`` are query-side knobs
    and may be overridden per batch via ``index_kwargs``; the build-
    side parameters (planes/tables/seed/max_bucket_size) are fixed in
    the artifact."""
    from pyspark.sql import Window

    from bubbles.operators.similarity import (
        _score_bucket_topk,
        lsh_bucket,
        lsh_bucket_probes,
        lsh_bucket_probes_global,
    )

    if new_points.isStreaming:
        raise ValueError(
            "index-path predict is batch-only; score streams through "
            "predict_stream (foreachBatch) or the broadcast path"
        )
    spark = new_points.sparkSession
    meta, _, _ = _read_index_meta(model, spark, index_path)
    if meta.get("kind", "ivf") != "lsh":
        raise ValueError(
            f"the persisted index at {index_path} is "
            f"{meta.get('kind', 'ivf')!r}, not 'lsh'"
        )
    if metric != meta["metric"]:
        raise ValueError(
            f"the persisted predict index was built for metric "
            f"{meta['metric']!r}, not {metric!r}; predict with the fit "
            f"metric or rebuild the index (save(..., index='lsh'))"
        )
    staged = new_points.select(
        F.col("point_id").cast("long").alias("point_id"),
        F.col(features_col).cast("array<double>").alias("features"),
    )
    q_min = staged.agg(F.min("point_id")).first()[0]
    if q_min is None:
        return spark.createDataFrame([], _PREDICT_SCHEMA)
    offset = max(0, int(meta["ref_max_id"]) - int(q_min) + 1)
    queries = _mips_queries(
        staged, offset, metric, float(meta["scale"])
    ).filter(F.col("__ivec").isNotNull())
    kw = dict(index_kwargs or {})
    k_cand = int(kw.pop("k", max(min_pts - 1, 8)))
    n_probes = int(kw.pop("n_probes", meta["n_probes"]))
    probe_alloc = kw.pop("probe_alloc", meta["probe_alloc"])
    if kw:
        raise ValueError(
            f"index_kwargs not applicable to a persisted index (set at "
            f"build time): {sorted(kw)}"
        )
    if probe_alloc not in ("per_table", "global"):
        raise ValueError(
            f"probe_alloc must be 'per_table' or 'global', got {probe_alloc!r}"
        )
    dim, planes = int(meta["dim"]), int(meta["planes"])
    tables, seed = int(meta["tables"]), int(meta["seed"])
    all_buckets = spark.read.parquet(f"{index_path}/buckets")
    scored = None
    probe_frame = None
    for t in range(tables):
        if n_probes > 1 and probe_alloc == "global":
            if probe_frame is None:
                probe_frame = lsh_bucket_probes_global(
                    queries, dim, planes, seed, tables,
                    "point_id", "__ivec",
                    total_probes=tables * n_probes, max_flip_bits=2,
                )
            qsrc = probe_frame.filter(F.col("__tbl") == t).drop("__tbl")
        elif n_probes > 1:
            qsrc = lsh_bucket_probes(
                queries, dim, planes, seed, t, "point_id", "__ivec", n_probes
            )
        else:
            qsrc = lsh_bucket(queries, dim, planes, seed, t, "point_id", "__ivec")
        q = qsrc.select(
            F.col("point_id").alias("query_id"),
            F.col("__ivec").alias("__qv"),
            "bucket",
        )
        m = all_buckets.filter(F.col("table") == t).select(
            "neighbor_id",
            F.col("vec").alias("__cv"),
            F.col("bucket").alias("__mbucket"),
        )
        s = (
            q.groupBy("bucket")
            .cogroup(m.groupBy("__mbucket"))
            .applyInPandas(
                _score_bucket_topk(k_cand),
                schema="query_id long, neighbor_id long, cos_sim double",
            )
        )
        scored = s if scored is None else scored.unionByName(s)
    scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_cand)
        .select("query_id", "neighbor_id", "rank")
    )
    return _membership_result(staged, ref, cand, offset, min_pts, metric)


def _predict_via_persisted_index(
    model,
    ref: DataFrame,
    new_points: DataFrame,
    min_pts: int,
    metric: str,
    index_path: str,
    features_col: str,
    index_kwargs: dict | None,
) -> DataFrame:
    """Warm distributed predict: candidates from the PERSISTED index
    (query-side assignment kernel + cogroup scoring over the stored
    inverted lists — the reference is never re-assigned, re-capped,
    broadcast or collected), then the shared exact re-rank +
    membership tail. Same approximation contract as
    ``_predict_via_index``; bit-identical to it when built with the
    same parameters (the artifacts ARE the cold path's intermediates)."""
    from bubbles.operators.similarity import _ivf_assign_probe, _ivf_score

    if new_points.isStreaming:
        raise ValueError(
            "index-path predict is batch-only; score streams through "
            "predict_stream (foreachBatch) or the broadcast path "
            "(sample the reference below max_reference_rows, e.g. "
            "save(..., fitted_points=...) with a per-cluster cap)"
        )
    spark = new_points.sparkSession
    # memoized bounded driver state (meta + centroid arrays): repeated
    # scoring batches — the reason the index is persisted at all —
    # skip the per-batch meta/centroid reads
    meta, cids, cmat = _read_index_meta(model, spark, index_path)
    if meta.get("kind", "ivf") != "ivf":
        raise ValueError(
            f"the persisted index at {index_path} is "
            f"{meta.get('kind', 'ivf')!r}, not 'ivf'"
        )
    if metric != meta["metric"]:
        raise ValueError(
            f"the persisted predict index was built for metric "
            f"{meta['metric']!r}, not {metric!r}; predict with the fit "
            f"metric or rebuild the index (save(..., index='ivf'))"
        )
    staged = new_points.select(
        F.col("point_id").cast("long").alias("point_id"),
        F.col(features_col).cast("array<double>").alias("features"),
    )
    # Warm-path job fusion (round 12, guide §2.6 / VERDICT r11 task 5):
    # the id-offset min and the repartition-width count used to be two
    # sequential jobs over the batch; one aggregation computes both.
    # The non-NULL count equals |qbase| exactly because _mips_queries
    # maps NULL features to NULL __ivec and non-NULL to non-NULL for
    # both metric embeddings (identity for cosine; transform+concat
    # propagate NULL for euclidean).
    head = staged.agg(
        F.min("point_id").alias("mn"),
        F.count(F.when(F.col("features").isNotNull(), F.lit(1))).alias("nn"),
    ).first()
    q_min = head["mn"]
    if q_min is None:
        return spark.createDataFrame([], _PREDICT_SCHEMA)
    offset = max(0, int(meta["ref_max_id"]) - int(q_min) + 1)
    queries = _mips_queries(staged, offset, metric, float(meta["scale"]))
    kw = dict(index_kwargs or {})
    k_cand = int(kw.pop("k", max(min_pts - 1, 8)))
    n_probe = int(kw.pop("n_probe", meta["n_probe"]))
    n_salts = int(kw.pop("n_salts", meta["n_salts"]))
    if kw:
        raise ValueError(
            f"index_kwargs not applicable to a persisted index (set at "
            f"build time): {sorted(kw)}"
        )
    # NULL-feature query rows never reach the assign kernel (its
    # _vec_matrix would throw on the whole Arrow batch) — the cold
    # path's ivf_topk applies the same filter, and the left join in
    # _membership_result returns the dropped rows as noise (ADVICE r10)
    qbase = queries.select(
        "point_id", F.col("__ivec").alias("features")
    ).filter(F.col("features").isNotNull())
    par = spark.sparkContext.defaultParallelism
    qn = int(head["nn"])
    if -(-qn // 50_000) <= par:
        qbase = qbase.repartition(min(par, max(1, -(-qn // 50_000))))
    # no localCheckpoint here (round 12): unlike the cold path, where
    # the assign output feeds BOTH the inverted-list build and the
    # query probes, the warm path has exactly one consumer (_ivf_score
    # reads it once), so a cut would only add a barrier job and pin
    # the (vec-carrying) kernel output in the block manager — the
    # assign kernel now streams straight into the scoring shuffle
    both = _ivf_assign_probe(qbase, cids, cmat, n_probe)
    members = spark.read.parquet(f"{index_path}/members").select(
        "neighbor_id", F.col("vec").alias("__cv"), "centroid"
    )
    cand = _ivf_score(both, members, k_cand, n_salts)
    return _membership_result(staged, ref, cand, offset, min_pts, metric)


def approximate_predict(
    model,
    fitted_points: DataFrame | None,
    new_points: DataFrame,
    min_pts: int = 4,
    metric: str = "euclidean",
    features_col: str = "features",
    max_reference_rows: int = 500_000,
    index: str = "auto",
    index_kwargs: dict | None = None,
) -> DataFrame:
    """(point_id, label, strength, nearest_fitted_id, mr_dist) for
    every row of ``new_points`` — see the module docstring for the
    membership semantics.

    ``fitted_points`` must be (point_id, features) of the data the
    model was fitted on (or a sample of it; see below), and ``min_pts``
    / ``metric`` must match the fit's parameters. Pass
    ``fitted_points=None`` to score against the model's PERSISTED
    prediction reference instead (``MRHDBSCANModel.save(...,
    fitted_points=...)`` + ``load`` — the deploy-a-model workflow:
    fit offline, save, predict online with no training data on hand).

    Scale contract: the joined reference (features + label + core +
    tree levels) is a single broadcast. Past ``max_reference_rows``,
    ``index="auto"`` (default) falls over to the DISTRIBUTED path for
    euclidean/cosine batches — candidates from the existing ANN index
    (``index="ivf"``/``"lsh"`` forces it; ``index_kwargs`` tunes it),
    exact-verified in the true metric, reference never broadcast —
    and raises otherwise (``index="broadcast"`` pins the old refusal;
    sample the fitted set per cluster in that case — a stratified
    sample keeps every decision boundary). See ``_predict_via_index``
    for the index path's approximation contract.

    Broadcast lifetime: the reference broadcast cannot be destroyed
    eagerly (the returned plan is lazy and may be a streaming source),
    so it lives until the SparkContext ends. Callers that re-score in
    a loop (notebooks, plan audits) can reclaim executor/driver memory
    once a result is fully consumed via the handle attached to the
    returned DataFrame: ``result._reference_broadcast.unpersist()``.
    """
    if metric not in ("euclidean", "manhattan", "chebyshev", "cosine", "pearson"):
        raise ValueError(f"unknown metric {metric!r}")
    if index not in ("auto", "broadcast", "ivf", "lsh"):
        raise ValueError(
            f"index must be 'auto', 'broadcast', 'ivf' or 'lsh', got {index!r}"
        )
    spark = new_points.sparkSession

    if fitted_points is None:
        ref = getattr(model, "_predict_reference", None)
        if ref is None:
            raise ValueError(
                "no prediction reference: pass fitted_points, or persist "
                "one with MRHDBSCANModel.save(path, fitted_points=...) "
                "and load the model from there"
            )
    else:
        ref = reference_frame(model, fitted_points, features_col)
    # a persisted index only applies to the reference it was built
    # over — the model's persisted prediction reference (fitted_points
    # is None); explicitly supplied fitted_points always rebuild
    idx_path = (
        getattr(model, "_predict_index_path", None)
        if fitted_points is None
        else None
    )
    # pre-r11 models carried only the path (always IVF); the kind is
    # persisted alongside it from round 11 on (save(index="lsh"))
    idx_kind = getattr(model, "_predict_index_kind", None) or (
        "ivf" if idx_path is not None else None
    )
    _persisted_fn = {
        "ivf": _predict_via_persisted_index,
        "lsh": _predict_via_persisted_lsh_index,
    }
    if index in ("ivf", "lsh"):
        if metric not in ("euclidean", "cosine"):
            raise ValueError(
                f"index-path predict supports euclidean/cosine (the exact "
                f"cosine-ranking reductions); {metric!r} needs the "
                f"broadcast path"
            )
        if (
            idx_path is not None
            and index == idx_kind
            and not new_points.isStreaming
        ):
            return _persisted_fn[index](
                model, ref, new_points, min_pts, metric, idx_path,
                features_col, index_kwargs,
            )
        return _predict_via_index(
            model, ref, new_points, min_pts, metric, index,
            features_col, index_kwargs,
        )
    # Cheap over-cap probe BEFORE any collect: counting a 1-column
    # limit decides the path without pulling max_reference_rows+1 full
    # feature rows (hundreds of MB at the cap) onto the driver only to
    # discard them when the distributed path is taken (ADVICE r9).
    n_probe = ref.select("point_id").limit(max_reference_rows + 1).count()
    if n_probe > max_reference_rows:
        # auto: past the broadcast cap, fall over to the distributed
        # index path instead of refusing (euclidean/cosine, batch only)
        if (
            index == "auto"
            and metric in ("euclidean", "cosine")
            and not new_points.isStreaming
        ):
            if idx_path is not None:
                return _persisted_fn[idx_kind](
                    model, ref, new_points, min_pts, metric, idx_path,
                    features_col, index_kwargs,
                )
            return _predict_via_index(
                model, ref, new_points, min_pts, metric, "ivf",
                features_col, index_kwargs,
            )
        raise ValueError(
            f"prediction reference exceeds max_reference_rows="
            f"{max_reference_rows} and the distributed index path does "
            f"not apply (it is batch-only, euclidean/cosine); pass a "
            f"per-cluster sample of the fitted points instead "
            f"(stratified by model.labels)"
        )
    ids, mat, labels, core, birth, death = _reference_arrays(ref.toArrow())
    bc = spark.sparkContext.broadcast((ids, mat, labels, core, birth, death))

    staged = new_points.select(
        F.col("point_id").cast("long").alias("point_id"),
        F.col(features_col).cast("array<double>").alias("features"),
    )
    out = staged.mapInPandas(
        _make_predict_kernel(bc, min_pts, metric), schema=_PREDICT_SCHEMA
    )
    # expose the broadcast so long-lived sessions can unpersist it once
    # the result is consumed (see the docstring's lifetime note)
    out._reference_broadcast = bc
    return out


def predict_stream_sink(model, output_path: str, **predict_kwargs):
    """A ``foreachBatch`` function scoring each micro-batch with the
    model's FULL batch predict semantics — including the persisted
    distributed index, which the in-plan streaming path cannot use
    (the index builds run count/repartition/window jobs a continuous
    plan cannot host, so the direct ``predict(readStream_df)`` route
    is forced onto the approximate broadcast sampled-reference path).
    Inside ``foreachBatch`` the micro-batch is an ordinary batch
    DataFrame, so a >cap reference gets the EXACT warm persisted-index
    semantics per batch (VERDICT r10 task 3; same pattern as the CDC
    snapshot sink, streaming/snapshot.py).

    Each batch's predictions land under ``<output_path>/
    batch_id=<id>/`` via an overwrite write, so foreachBatch's
    at-least-once replay rebuilds the same directory from the same
    input — idempotent, exactly-once results from at-least-once
    delivery. Read them back with
    ``spark.read.parquet(output_path)`` (``batch_id`` appears as a
    partition column)."""
    import os

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = model.predict(batch_df, **predict_kwargs)
        res.write.mode("overwrite").parquet(
            os.path.join(output_path, f"batch_id={batch_id}")
        )

    return apply_batch


def predict_stream(
    model,
    new_points: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
    **predict_kwargs,
):
    """Score a STREAMING new-points frame through the model's batch
    predict path via ``foreachBatch`` — see ``predict_stream_sink``
    for the semantics (exact persisted-index scoring per micro-batch)
    and the output layout. ``predict_kwargs`` pass through to
    ``model.predict`` (min_pts / metric / index / index_kwargs / ...).
    ``available_now=True`` drains the current source contents and
    stops (the batch-backfill trigger). Returns the started
    ``StreamingQuery``."""
    if not new_points.isStreaming:
        raise ValueError(
            "predict_stream takes a streaming DataFrame; call "
            "model.predict directly for batch scoring"
        )
    writer = (
        new_points.writeStream.foreachBatch(
            predict_stream_sink(model, output_path, **predict_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Unit + differential tests for the exact HDBSCAN* kernel.

Strategy per SURVEY.md §5: (1) hand-computed values for distances and
bubble stats; (2) differential check of the fast bottom-up hierarchy
against a slow top-down implementation that mimics the reference
Java semantics line-by-line (tests/reference_slow.py); (3) end-to-end
sanity on seeded Gaussian blobs (ARI == 1 on well-separated data).
"""

import numpy as np
import pytest

from bubbles.kernels.hdbscan_kernel import (
    ROW_DISTANCES,
    build_hierarchy,
    core_distances,
    glosh_scores,
    hdbscan_exact,
    mst_edges,
    pairwise_distances,
)
from bubbles.kernels.bubble_kernel import (
    bubble_core_distances,
    bubble_distance_rows,
    local_bubble_model,
)
from tests.reference_slow import slow_hierarchy


def ari(a, b):
    """Adjusted Rand Index (noise label 0 kept as its own group)."""
    a = np.asarray(a)
    b = np.asarray(b)
    n = len(a)
    ua, ia = np.unique(a, return_inverse=True)
    ub, ib = np.unique(b, return_inverse=True)
    C = np.zeros((len(ua), len(ub)), dtype=np.int64)
    np.add.at(C, (ia, ib), 1)
    comb = lambda x: x * (x - 1) // 2  # noqa: E731
    sum_c = float(comb(C.astype(np.float64)).sum())
    sum_a = float(comb(C.sum(axis=1).astype(np.float64)).sum())
    sum_b = float(comb(C.sum(axis=0).astype(np.float64)).sum())
    # float throughout: int64 pair-count products overflow past ~200k rows
    expected = sum_a * sum_b / comb(float(n)) if n > 1 else 0
    max_idx = (sum_a + sum_b) / 2
    if max_idx == expected:
        return 1.0
    return (sum_c - expected) / (max_idx - expected)


def blobs(seed=42, n=90, d=4, centers=3, spread=12.0, sigma=1.0):
    rng = np.random.default_rng(seed)
    mus = rng.normal(0, spread, size=(centers, d))
    sizes = np.full(centers, n // centers)
    sizes[0] += n - sizes.sum()
    X = np.vstack([rng.normal(mus[i], sigma, size=(s, d)) for i, s in enumerate(sizes)])
    y = np.repeat(np.arange(centers), sizes)
    return X, y


# ---------------- distances ----------------


def test_distances_hand_computed():
    X = np.array([[0.0, 0.0], [3.0, 4.0]])
    assert ROW_DISTANCES["euclidean"](X, X[0])[1] == pytest.approx(5.0)
    assert ROW_DISTANCES["manhattan"](X, X[0])[1] == pytest.approx(7.0)
    assert ROW_DISTANCES["chebyshev"](X, X[0])[1] == pytest.approx(4.0)
    a = np.array([[1.0, 0.0], [0.0, 2.0], [2.0, 0.0]])
    cos = ROW_DISTANCES["cosine"](a, a[0])
    assert cos[1] == pytest.approx(1.0)  # orthogonal
    assert cos[2] == pytest.approx(0.0)  # parallel
    p = np.array([[1.0, 2.0, 3.0], [2.0, 4.0, 6.0], [3.0, 2.0, 1.0]])
    pe = ROW_DISTANCES["pearson"](p, p[0])
    assert pe[1] == pytest.approx(0.0)  # perfectly correlated
    assert pe[2] == pytest.approx(2.0)  # anti-correlated


def test_core_distances_reference_convention():
    # Reference keeps k-1 smallest distances INCLUDING the self 0
    # (HDBSCANStar.java:71-106): core(k) = sorted_row[k-2].
    X = np.array([[0.0], [1.0], [3.0], [6.0]])
    assert np.allclose(core_distances(X, 1), 0.0)
    # k=2: 1 smallest incl self-0 -> always 0
    assert np.allclose(core_distances(X, 2), 0.0)
    # k=3: 2 smallest incl 0 -> nearest other neighbor
    assert np.allclose(core_distances(X, 3), [1.0, 1.0, 2.0, 3.0])
    # k=4: second-nearest other neighbor
    assert np.allclose(core_distances(X, 4), [3.0, 2.0, 3.0, 5.0])


def test_mst_total_weight_matches_bruteforce():
    X, _ = blobs(seed=7, n=40)
    core = core_distances(X, 4)
    src, dst, w = mst_edges(X, core, self_edges=False)
    assert len(w) == len(X) - 1
    # brute force MST weight via scipy-free Prim on the full MRD matrix
    D = pairwise_distances(X)
    mrd = np.maximum(D, np.maximum.outer(core, core))
    n = len(X)
    in_tree = np.zeros(n, bool)
    in_tree[0] = True
    best = mrd[0].copy()
    total = 0.0
    for _ in range(n - 1):
        best[in_tree] = np.inf
        j = int(np.argmin(best))
        total += best[j]
        in_tree[j] = True
        best = np.minimum(best, mrd[j])
    assert w.sum() == pytest.approx(total)


def test_mst_self_edges():
    X, _ = blobs(seed=8, n=20)
    core = core_distances(X, 4)
    src, dst, w = mst_edges(X, core, self_edges=True)
    assert len(w) == 2 * len(X) - 1
    self = src == dst
    assert self.sum() == len(X)
    assert np.allclose(np.sort(w[self]), np.sort(core))


# ---------------- hierarchy differential vs slow top-down ----------------


def canon_tree(clusters):
    """Label-invariant multiset view of a cluster tree."""
    rows = []
    for c in clusters.values():
        if c.label == 1:
            continue  # root stability is NaN by construction
        rows.append(
            (
                round(float(c.birth), 9),
                round(float(c.death), 9) if not np.isnan(c.death) else None,
                round(float(c.stability), 9),
                round(float(getattr(c, "n_at_birth", c.n_points)), 6),
            )
        )
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("mcl", [2, 4, 9])
def test_hierarchy_matches_slow_reference(seed, mcl):
    X, _ = blobs(seed=seed, n=60, centers=4, spread=6.0)
    if seed % 2:
        X = np.round(X, 1)  # force weight ties and duplicate points
    core = core_distances(X, 4)
    src, dst, w = mst_edges(X, core, self_edges=True)
    vw = np.ones(len(X))
    fast = build_hierarchy(src, dst, w, vw, mcl)
    slow_clusters, slow_last, slow_noise = slow_hierarchy(src, dst, w, vw, mcl)
    assert canon_tree(fast.clusters) == canon_tree(slow_clusters)
    assert np.allclose(fast.noise_level, slow_noise)
    assert ari(fast.last_cluster, slow_last) == pytest.approx(1.0)


@pytest.mark.parametrize("seed", range(4))
def test_weighted_hierarchy_matches_slow_reference(seed):
    # bubble-like: few vertices with integer weights
    rng = np.random.default_rng(seed)
    nb = 16
    rep = rng.normal(0, 5, size=(nb, 3))
    vw = rng.integers(1, 30, size=nb).astype(float)
    core = rng.uniform(0.1, 2.0, size=nb)
    src, dst, w = mst_edges(rep, core, self_edges=True)
    fast = build_hierarchy(src, dst, w, vw, 20)
    slow_clusters, slow_last, slow_noise = slow_hierarchy(src, dst, w, vw, 20)
    assert canon_tree(fast.clusters) == canon_tree(slow_clusters)
    assert np.allclose(fast.noise_level, slow_noise)
    assert ari(fast.last_cluster, slow_last) == pytest.approx(1.0)


def test_isolated_self_edge_vertex_becomes_noise():
    # two connected pairs + one vertex with only a self edge
    u = np.array([0, 1, 0, 1, 2])
    v = np.array([1, 0, 0, 1, 2])
    w = np.array([1.0, 1.0, 0.5, 0.5, 0.7])
    res = build_hierarchy(u, v, w, np.ones(3), 2)
    assert res.noise_level[2] == pytest.approx(0.7)


# ---------------- end-to-end exact kernel ----------------


def test_exact_blobs_ari_one():
    X, y = blobs(seed=42, n=90, centers=3, spread=15.0)
    res = hdbscan_exact(X, min_pts=4, min_cluster_size=4)
    assert len(np.unique(res.labels[res.labels > 0])) == 3
    assert ari(res.labels, y) == pytest.approx(1.0)


def test_exact_glosh_outlier_ranks_high():
    X, y = blobs(seed=1, n=60, centers=2, spread=20.0)
    X = np.vstack([X, [[60.0, 60.0, 60.0, 60.0]]])  # blatant outlier
    res = hdbscan_exact(X, min_pts=4, min_cluster_size=4)
    assert int(np.argmax(res.scores)) == len(X) - 1
    assert res.labels[-1] == 0  # outlier is noise


def test_exact_with_global_ids():
    X, y = blobs(seed=3, n=45, centers=3, spread=15.0)
    ids = np.arange(1000, 1000 + len(X), dtype=np.int64)
    res = hdbscan_exact(X, min_pts=4, min_cluster_size=4, ids=ids)
    src, dst, w = res.mst
    assert src.min() >= 1000 and dst.min() >= 1000
    assert ari(res.labels, y) == pytest.approx(1.0)


def test_duplicate_points_do_not_crash():
    X = np.repeat(np.array([[0.0, 0.0], [5.0, 5.0]]), 10, axis=0)
    res = hdbscan_exact(X, min_pts=4, min_cluster_size=4)
    assert len(res.labels) == 20
    assert ari(res.labels, np.repeat([0, 1], 10)) == pytest.approx(1.0)


def test_duplicate_points_warning_free():
    # Coincident points make 0-weight MST edges; the stability pass
    # must take the explicit-inf path (_inv) instead of tripping
    # numpy's divide-by-zero RuntimeWarning. With the guard in place a
    # RuntimeWarning here would indicate a real bug, so escalate it.
    import warnings

    X = np.vstack(
        [
            np.repeat(np.array([[0.0, 0.0], [5.0, 5.0]]), 10, axis=0),
            blobs(seed=7, n=40, d=2)[0],
        ]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        res = hdbscan_exact(X, min_pts=4, min_cluster_size=4)
    # the duplicate stacks still come out as two pure clusters
    lab = np.asarray(res.labels[:20])
    assert (lab[:10] == lab[0]).all() and lab[0] != -1
    assert (lab[10:20] == lab[10]).all() and lab[10] != -1
    assert lab[0] != lab[10]


# ---------------- bubble kernel ----------------


def test_bubble_distance_rows():
    rep = np.array([[0.0, 0.0], [10.0, 0.0]])
    extent = np.array([1.0, 2.0])
    nn = np.array([0.5, 0.25])
    d = bubble_distance_rows(rep, extent, nn, 0, "euclidean")
    # gap = 10 - 3 = 7 >= 0 -> 7 + 0.75
    assert d[1] == pytest.approx(7.75)
    rep2 = np.array([[0.0, 0.0], [2.0, 0.0]])
    d2 = bubble_distance_rows(rep2, extent, nn, 0, "euclidean")
    # gap = 2 - 3 < 0 -> max(nn)
    assert d2[1] == pytest.approx(0.5)


def test_bubble_core_distance_big_bubble():
    rep = np.array([[0.0, 0.0], [10.0, 0.0]])
    n_b = np.array([100, 100])
    extent = np.array([2.0, 2.0])
    nn = np.array([0.1, 0.1])
    core = bubble_core_distances(rep, n_b, extent, nn, min_pts=4)
    # (3/100)^(1/2) * 2
    assert core[0] == pytest.approx((3 / 100) ** 0.5 * 2)


def test_local_bubble_model_two_clusters():
    rng = np.random.default_rng(5)
    # two groups of bubbles far apart
    rep = np.vstack([rng.normal(0, 0.5, (8, 2)), rng.normal(50, 0.5, (8, 2))])
    n_b = np.full(16, 25)
    extent = np.full(16, 0.6)
    nn = np.full(16, 0.05)
    ids = np.arange(100, 116, dtype=np.int64)
    m = local_bubble_model(rep, n_b, extent, nn, ids, min_pts=4, min_cluster_size=30)
    assert m.n_clusters == 2
    assert (m.labels > 0).all()  # noise reattached
    # the two groups got different labels
    assert len(set(m.labels[:8])) == 1 and len(set(m.labels[8:])) == 1
    assert m.labels[0] != m.labels[8]
    # inter-cluster edges connect the groups with global ids
    assert len(m.inter_w) >= 1
    assert ((m.inter_src < 108) != (m.inter_dst < 108)).all()


def test_grouped_mst_matches_direct():
    # duplicate-heavy data: collapsed path must reproduce the direct
    # MST's weight multiset and the downstream hierarchy/labels
    rng = np.random.default_rng(11)
    base = rng.normal(0, 5, size=(30, 3))
    reps = rng.integers(1, 8, size=30)
    X = np.repeat(base, reps, axis=0)
    ids = np.arange(len(X), dtype=np.int64)
    from bubbles.kernels.hdbscan_kernel import mst_edges_grouped

    core = core_distances(X, 4)
    ds, dd, dw = mst_edges(X, core, self_edges=True, ids=ids)
    gs, gd, gw = mst_edges_grouped(X, ids, 4)
    assert len(gw) == len(dw)
    assert np.allclose(np.sort(gw), np.sort(dw))
    direct = build_hierarchy(ds, dd, dw, np.ones(len(X)), 5)
    grouped = build_hierarchy(gs, gd, gw, np.ones(len(X)), 5)
    assert ari(direct.labels, grouped.labels) == pytest.approx(1.0)
    assert np.allclose(np.sort(direct.noise_level), np.sort(grouped.noise_level))


def test_constraints_flip_selection():
    # Tree: root -> ({a ∪ b}, c); {a ∪ b} -> (a, b). The root is never
    # selectable (HDBSCANStar.findProminentClusters takes the root's
    # propagated descendants), so constraints are tested on the
    # mid-level parent (X14, Cluster.propagate priority).
    rng = np.random.default_rng(4)
    a = rng.normal(0.0, 0.3, size=(30, 2))
    b = rng.normal(3.0, 0.3, size=(30, 2))
    c = rng.normal(80.0, 0.3, size=(30, 2))
    X = np.vstack([a, b, c])
    base = hdbscan_exact(X, min_pts=4, min_cluster_size=5)
    n_base = len(np.unique(base.labels[base.labels > 0]))
    assert n_base == 3  # a, b, c all selected by stability

    # must-link across a and b: only their common parent {a ∪ b}
    # satisfies it -> parent now wins -> 2 clusters total
    ml = [("ml", 0, 30)]
    res_ml = hdbscan_exact(X, min_pts=4, min_cluster_size=5, constraints=ml)
    assert len(np.unique(res_ml.labels[res_ml.labels > 0])) == 2
    # a and b share a label now
    assert res_ml.labels[0] == res_ml.labels[30] != 0

    # cannot-link across a and b: children satisfy it, parent does
    # not -> selection stays at 3 clusters
    cl = [("cl", 0, 30)]
    res_cl = hdbscan_exact(X, min_pts=4, min_cluster_size=5, constraints=cl)
    assert len(np.unique(res_cl.labels[res_cl.labels > 0])) == 3


def test_hierarchy_levels_contract():
    from bubbles.kernels.hdbscan_kernel import (
        build_hierarchy,
        hierarchy_levels,
    )

    X, y = blobs(seed=6, n=60, centers=3, spread=15.0)
    core = core_distances(X, 4)
    src, dst, w = mst_edges(X, core, self_edges=True)
    res = build_hierarchy(src, dst, w, np.ones(len(X)), 4)
    levels = hierarchy_levels(res)
    assert len(levels) >= 1
    ws = [lv for lv, _ in levels]
    assert ws == sorted(ws, reverse=True)  # descending levels
    # top level: everything still in root or its first children (no noise)
    top_w, top_labels = levels[0]
    assert (top_labels != 0).all()
    # at the deepest significant level the 3 blob clusters are distinct
    _, bottom = levels[-1]
    labeled = bottom[bottom > 0]
    assert len(set(labeled)) >= 3
    # label transitions respect the tree: each point's label sequence
    # follows its chain (no jumps to non-ancestors)
    parent = {lbl: c.parent for lbl, c in res.clusters.items()}
    for p in range(len(X)):
        seq = [lv_labels[p] for _, lv_labels in levels]
        seq = [s for s in seq if s != 0]
        for a, b in zip(seq, seq[1:]):
            # consecutive labels: same or descend along the tree
            x = b
            while x not in (0, a):
                x = parent.get(x, 0)
            assert x == a or a == b



@pytest.mark.parametrize("seed", range(6))
def test_hierarchy_on_arbitrary_graphs(seed):
    # build_hierarchy accepts any edge multiset (the global step feeds
    # it a union of trees + inter-edges, which has cycles); differential
    # vs the slow top-down must hold there too
    rng = np.random.default_rng(100 + seed)
    n = 40
    # random connected graph: a random spanning tree + extra edges + self edges
    perm = rng.permutation(n)
    tree_u = perm[1:]
    tree_v = np.array([perm[rng.integers(0, i)] for i in range(1, n)])
    extra = rng.integers(0, n, size=(25, 2))
    u = np.concatenate([tree_u, extra[:, 0], np.arange(n)])
    v = np.concatenate([tree_v, extra[:, 1], np.arange(n)])
    w = np.round(rng.uniform(0.1, 3.0, size=len(u)), 1)  # ties likely
    keep = np.ones(len(u), bool)  # keep self edges where u==v only at the tail
    vw = rng.integers(1, 5, size=n).astype(float)
    mcl = 6
    fast = build_hierarchy(u, v, w, vw, mcl)
    slow_clusters, slow_last, slow_noise = slow_hierarchy(u, v, w, vw, mcl)
    assert canon_tree(fast.clusters) == canon_tree(slow_clusters)
    assert np.allclose(fast.noise_level, slow_noise)
    assert ari(fast.last_cluster, slow_last) == pytest.approx(1.0)


def test_contract_kernel_tagged_loops_subsets_of_one_bin():
    # level 1 of the global contraction groups by hash bin, so one
    # pandas group holds several leaf subsets. Each subset's tagged
    # rows must equal contract_subset_edges on that subset alone,
    # whatever the row order inside the bin (tie-free weights, so the
    # per-subset result does not depend on row order either).
    from types import SimpleNamespace

    import pandas as pd

    from bubbles.kernels.contract_kernel import (
        contract_subset_edges,
        make_contract_kernel_tagged,
    )

    rng = np.random.default_rng(5)
    mcl = 5
    parts = []
    for sid, n in ((3, 40), (11, 1), (17, 25), (42, 60)):
        ids = sid * 1000 + np.arange(n, dtype=np.int64)
        parent = np.array([rng.integers(0, i) for i in range(1, n)], np.int64)
        # random spanning tree (weights in [1, 2)) + one self edge per
        # point below every tree weight, as core distances are
        parts.append(
            pd.DataFrame(
                {
                    "subset_id": np.full(2 * n - 1, sid, np.int64),
                    "src": np.concatenate([ids[1:], ids]),
                    "dst": np.concatenate([ids[parent], ids]),
                    "weight": np.concatenate(
                        [rng.uniform(1.0, 2.0, n - 1), rng.uniform(0.1, 0.9, n)]
                    ),
                }
            )
        )
    pdf = pd.concat(parts, ignore_index=True)
    boundary = frozenset({3005, 3017, 42000, 42031, 42059})
    kernel = make_contract_kernel_tagged(SimpleNamespace(value=boundary), mcl)

    def rows(k, a, b, w):
        return sorted(zip(map(int, k), map(int, a), map(int, b), map(float, w)))

    expected = {}
    for part in parts:
        sid = int(part["subset_id"].iloc[0])
        expected[sid] = rows(
            *contract_subset_edges(
                part["src"].to_numpy(np.int64),
                part["dst"].to_numpy(np.int64),
                part["weight"].to_numpy(np.float64),
                boundary,
                mcl,
            )
        )
    for seed in (0, 1):
        out = kernel(pdf.sample(frac=1.0, random_state=seed))
        assert sorted(set(out["subset_id"])) == sorted(expected)
        for sid, want in expected.items():
            g = out[out["subset_id"] == sid]
            assert rows(g["kind"], g["a"], g["b"], g["w"]) == want
    empty = kernel(pdf.iloc[0:0])
    assert len(empty) == 0
    assert list(empty.columns) == ["kind", "a", "b", "w", "subset_id"]


# ---------------------------------------------------------------------------
# nearest_euclidean: the blocked BLAS-screened kNN of broadcast predict,
# bit-identical to the per-row rule it replaces.
# ---------------------------------------------------------------------------


def _knn_oracle(mat, ids, X, min_pts):
    """Per-row rule: ROW_DISTANCES + min + smallest-id tie + partition."""
    near = np.empty(len(X), dtype=np.int64)
    near_d = np.empty(len(X))
    core_x = np.zeros(len(X))
    for i, x in enumerate(X):
        d = ROW_DISTANCES["euclidean"](mat, x)
        cand = np.flatnonzero(d == d.min())
        j = cand[ids[cand].argmin()]
        near[i], near_d[i] = j, d[j]
        if min_pts <= 1:
            continue
        if min_pts - 1 <= len(d):
            core_x[i] = np.partition(d, min_pts - 2)[min_pts - 2]
        else:
            core_x[i] = d.max()
    return near, near_d, core_x


def _assert_bitwise(got, want):
    for g, w, name in zip(got, want, ("index", "distance", "core_x")):
        assert g.dtype == w.dtype, name
        assert g.tobytes() == w.tobytes(), (
            f"{name}: {int((g != w).sum())} of {len(w)} rows differ"
        )


def _knn_cases():
    rng = np.random.default_rng(5)
    base = rng.normal(scale=3.0, size=(120, 3))
    # exact duplicates with shuffled ids: ties must go to the smallest id
    dup = np.vstack([base, base[:40], base[:10]])
    dup_ids = rng.permutation(len(dup)).astype(np.int64) * 3 + 11
    queries = np.vstack([dup, dup[:25] + 1e-9, rng.normal(scale=4.0, size=(40, 3))])
    yield "self_and_duplicates", dup, dup_ids, queries
    lattice = np.round(rng.integers(0, 5, size=(200, 3)) * 0.5, 1)
    lq = np.vstack([lattice, np.round(rng.uniform(-0.5, 2.5, size=(80, 3)) * 4) / 4])
    yield "rounded_lattice", lattice, np.arange(200, dtype=np.int64), lq
    for off in (1e6, 1e8):
        yield (
            f"offset_{off:g}", base + off, np.arange(120, dtype=np.int64),
            np.vstack([base, base + rng.normal(scale=1e-3, size=base.shape)]) + off,
        )
    yield (
        "m_is_1", base[:1], np.array([7], dtype=np.int64),
        np.vstack([base[:1], base[1:30]]),
    )
    # 20 reference rows: fewer than the 32·k groups of every min_pts >= 2
    yield "m_below_group_count", base[:20], np.arange(20, dtype=np.int64)[::-1].copy(), base


@pytest.mark.parametrize("case", list(_knn_cases()), ids=lambda c: c[0])
def test_nearest_euclidean_matches_per_row_oracle(case):
    from bubbles.kernels.hdbscan_kernel import nearest_euclidean

    _, mat, ids, X = case
    m = len(mat)
    for min_pts in sorted({1, 2, 4, m, m + 1, m + 3}):
        _assert_bitwise(
            nearest_euclidean(mat, ids, X, min_pts),
            _knn_oracle(mat, ids, X, min_pts),
        )


def test_nearest_euclidean_independent_of_block_split(monkeypatch):
    """A row's answer must not depend on which rows share its block
    (BLAS picks different kernels for 1-row and many-row products),
    so a retried Spark task with a different batch split agrees."""
    from bubbles.kernels import hdbscan_kernel as hk

    rng = np.random.default_rng(8)
    mat = np.round(rng.normal(size=(300, 5)), 2) + 1e4
    ids = np.arange(300, dtype=np.int64)
    X = np.vstack([mat[:50], np.round(rng.normal(size=(70, 5)), 2) + 1e4])
    want = _knn_oracle(mat, ids, X, 4)
    for rows_per_block in (1, 7, 64, len(X)):
        monkeypatch.setattr(hk, "_KNN_BLOCK_BYTES", 8 * len(mat) * rows_per_block)
        _assert_bitwise(hk.nearest_euclidean(mat, ids, X, 4), want)
        parts = [X[:13], X[13:14], X[14:]]
        got = [hk.nearest_euclidean(mat, ids, p, 4) for p in parts]
        _assert_bitwise(tuple(np.concatenate(c) for c in zip(*got)), want)


def test_nearest_euclidean_margin_is_load_bearing(monkeypatch):
    """Self-queries 1e-3 apart at a 1e8 offset: the screen's rounding
    (|x|²·u ≈ 3 in squared units) dwarfs the 1e-6 squared gaps, so
    without the margin the screen drops the true 0-distance row."""
    from bubbles.kernels import hdbscan_kernel as hk

    rng = np.random.default_rng(2)
    mat = rng.integers(0, 40, size=(400, 3)) * 1e-3 + 1e8
    ids = np.arange(400, dtype=np.int64)
    want = _knn_oracle(mat, ids, mat, 2)
    _assert_bitwise(hk.nearest_euclidean(mat, ids, mat, 2), want)
    monkeypatch.setattr(hk, "_UNIT_ROUNDOFF", 0.0)
    monkeypatch.setattr(hk, "_SUBNORMAL_MIN", 0.0)
    got = hk.nearest_euclidean(mat, ids, mat, 2)
    assert (got[1] != want[1]).any(), "margin 0 still exact: case too easy"

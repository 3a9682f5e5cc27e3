"""Numeric-soundness probe for the Lloyd-fixpoint SQL oracles (round 5).

Usage:  python scripts/margin_probe.py [sf_dir ...]

The q_emb_kmeans / q_dedup_semantic oracles replay k-means in DuckDB, which
is only sound if no point's cluster assignment can flip under cross-engine
float drift (~1e-15 relative: different summation orders in centroid means
and distance folds). This probe replays the EXACT Lloyd trajectory
(first-k-ids init, argmin with (dist2, cluster) tie-break, empty-cluster
carry-over) in numpy for both registered configs and reports:

- the minimum relative margin between each point's best and second-best
  centroid distance, over ALL iterations (an assignment can only flip if
  drift exceeds this), and
- for the semantic config, the minimum |cos - threshold| over within-cluster
  pairs at the final assignment (the pair-count can only change if drift
  exceeds this).

Round-5 measurements: assignment margins ≥ 5.6e-7 and cosine margins
≥ 5.1e-6 at both gate scales — 8-9 orders of magnitude above drift. If a
future testdata regeneration shrinks these below ~1e-9, rework the two keys'
oracles (every key must keep one) before the gate sees them.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONFIGS = [
    ("q_emb_kmeans", 8, 5, None),
    ("q_dedup_semantic", 16, 2, 0.28),
]


def probe(sf_dir: str) -> bool:
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE embedding IS NOT NULL ORDER BY vec_id"
    ).fetchall()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    ok = True
    for key, k, n_iter, thr in CONFIGS:
        cents = X[:k].copy()
        min_margin = np.inf
        best = None
        for it in range(n_iter + 1):  # n_iter updates + the final assign
            d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            part = np.sort(d2, axis=1)
            margins = (part[:, 1] - part[:, 0]) / np.maximum(part[:, 1], 1e-300)
            min_margin = min(min_margin, float(margins.min()))
            best = d2.argmin(axis=1)
            if it < n_iter:
                for c in range(k):
                    m = best == c
                    if m.any():
                        cents[c] = X[m].mean(axis=0)
        line = f"{key:18s} {sf_dir}: min assign margin {min_margin:.3e}"
        if thr is not None:
            norms = np.linalg.norm(X, axis=1)
            min_thr = np.inf
            for c in range(k):
                idx = np.where(best == c)[0]
                if len(idx) < 2:
                    continue
                sub, n = X[idx], norms[idx]
                cos = (sub @ sub.T) / np.outer(n, n)
                iu = np.triu_indices(len(idx), 1)
                min_thr = min(min_thr, float(np.abs(cos[iu] - thr).min()))
            line += f", min |cos-{thr}| {min_thr:.3e}"
            ok &= min_thr > 1e-9
        ok &= min_margin > 1e-9
        print(line)
    ok &= probe_pca(sf_dir, X)
    ok &= probe_ann(sf_dir, X)
    ok &= probe_ivf(sf_dir, X)
    ok &= probe_hll(sf_dir)
    return ok


def probe_hll(sf_dir: str) -> bool:
    """ROUND(4)-boundary margins of the portable HLL estimates (r06 keys
    q_agg_approx_cd / q_agg_hll_rollup). The register sum is exact binary
    fractions (order-independent), so the only cross-engine wiggle is the
    small-range ``ln`` (≤1 ulp, ~1e-13 absolute at these magnitudes); the
    margin must clear that by orders of magnitude."""
    import math

    from etl_asana_spark.operators.sketch import (
        CMS_P, HLL_ALPHA, HLL_H1, HLL_H2, HLL_M,
    )

    rows = duckdb.sql(
        f"""SELECT grp, list(user_id) FROM (
              SELECT event_type AS grp, user_id
              FROM '{sf_dir}/events.parquet' WHERE user_id IS NOT NULL
              UNION ALL
              SELECT CAST(date_trunc('week', date_trunc('day',
                         CAST(ts AS TIMESTAMP))) AS VARCHAR), user_id
              FROM '{sf_dir}/events.parquet' WHERE user_id IS NOT NULL
            ) GROUP BY grp"""
    ).fetchall()
    min_margin = np.inf
    for _, uids in rows:
        x = np.unique(np.asarray(uids, dtype=np.int64)) % CMS_P
        x2 = (x * x) % CMS_P
        h1 = (HLL_H1[0] * x2 + HLL_H1[1] * x + HLL_H1[2]) % CMS_P
        h2 = (HLL_H2[0] * x2 + HLL_H2[1] * x + HLL_H2[2]) % CMS_P
        bucket = h1 % HLL_M
        bl = np.where(h2 > 0, np.frompyfunc(int.bit_length, 1, 1)(h2.astype(object)), 0)
        rho = (32 - bl.astype(int))
        regs = np.zeros(HLL_M, dtype=np.int64)
        np.maximum.at(regs, bucket, rho)
        present = regs[regs > 0]
        zeros = HLL_M - len(present)
        raw = HLL_ALPHA * HLL_M * HLL_M / (np.power(2.0, -present.astype(float)).sum() + zeros)
        est = HLL_M * math.log(HLL_M / zeros) if (raw <= 2.5 * HLL_M and zeros > 0) else raw
        u = est * 1e4
        min_margin = min(min_margin, abs(u - math.floor(u) - 0.5) * 1e-4)
    print(f"q_agg_hll*         {sf_dir}: min ROUND(4) margin {min_margin:.3e}")
    return min_margin > 1e-9


def _rank_gap(scores: np.ndarray, k: int) -> float:
    """Gap between the k-th and (k+1)-th score descending — the only
    boundary where cross-engine drift could change a top-k answer set."""
    s = np.sort(scores)[::-1]
    return float(s[k - 1] - s[k]) if len(s) > k else np.inf


def probe_ann(sf_dir: str, X: np.ndarray, k: int = 5) -> bool:
    """Soundness margins for the q_sim_ann portable oracle (r06):
    floor-bucket margins of the quantized sign projections, the candidate
    top-k rank gap, and the 8-dp rounding margin of the emitted scores."""
    from etl_asana_spark.operators.similarity import (
        _ANN_BUCKET_LEN, _ANN_LCG_A, _ANN_LCG_B, _ANN_LCG_M, _ANN_TABLES,
    )

    n, d = X.shape
    q = X[0]
    w = np.array(
        [
            [
                1.0
                if (((_ANN_LCG_A * (t * 1009 + i + 1) + _ANN_LCG_B) % _ANN_LCG_M) >> 16) & 1
                else -1.0
                for i in range(d)
            ]
            for t in range(_ANN_TABLES)
        ]
    )
    norms = np.sqrt((X * X).sum(axis=1))
    proj = (X @ w.T) / norms[:, None] / _ANN_BUCKET_LEN
    floor_margin = float(np.abs(proj - np.round(proj)).min())
    buckets = np.floor(proj)
    cand = (buckets == buckets[0]).any(axis=1)
    cos = (X[cand] @ q) / (norms[cand] * norms[0])
    gap = _rank_gap(cos, k)
    units = np.sort(cos)[::-1][:k] * 1e8
    fp = float(np.abs(units - np.floor(units) - 0.5).min()) * 1e-8
    print(
        f"q_sim_ann          {sf_dir}: floor margin {floor_margin:.3e},"
        f" rank-{k} gap {gap:.3e}, 8dp margin {fp:.3e}"
    )
    return floor_margin > 1e-9 and gap > 1e-9 and fp > 1e-12


def probe_ivf(
    sf_dir: str, X: np.ndarray, k: int = 5, nprobe: int = 8,
    n_cells: int = 16, n_iter: int = 2,
) -> bool:
    """Soundness margins for the q_sim_ivf portable oracle (r06): the
    cell-ranking boundary at nprobe (centroid-cosine gap), the member
    top-k rank gap, and the 8-dp rounding margin. Cell ASSIGNMENT margins
    are already covered by the q_dedup_semantic config above (same Lloyd
    fit)."""
    n, d = X.shape
    q = X[0]
    cents = X[:n_cells].copy()
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        best = d2.argmin(axis=1)
        for c in range(n_cells):
            m = best == c
            if m.any():
                cents[c] = X[m].mean(axis=0)
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    cnorm = np.sqrt((cents * cents).sum(axis=1))
    ccos = (cents @ q) / (cnorm * np.sqrt(q @ q))
    cell_gap = _rank_gap(ccos, nprobe)
    probed = set(np.argsort(-ccos, kind="stable")[:nprobe])
    mask = np.array([assign[j] in probed for j in range(n)])
    norms = np.sqrt((X * X).sum(axis=1))
    cos = (X[mask] @ q) / (norms[mask] * np.sqrt(q @ q))
    gap = _rank_gap(cos, k)
    units = np.sort(cos)[::-1][:k] * 1e8
    fp = float(np.abs(units - np.floor(units) - 0.5).min()) * 1e-8
    print(
        f"q_sim_ivf          {sf_dir}: cell rank-{nprobe} gap {cell_gap:.3e},"
        f" member rank-{k} gap {gap:.3e}, 8dp margin {fp:.3e}"
    )
    return cell_gap > 1e-9 and gap > 1e-9 and fp > 1e-12


def probe_pca(sf_dir: str, X: np.ndarray, k: int = 8, t: int = 20) -> bool:
    """Soundness margins for the q_emb_pca power-iteration oracle (r06).

    Replays pca_power_reduce's exact trajectory and reports:
    - min distance of each 1e-6-fixed-point projection value from its
      floor(x+0.5) rounding boundary (a serialized digit can only flip if
      cross-engine drift exceeds this; measured drift ~2e-15 end-to-end),
    - min gap between adjacent λ̂ in the component sort (the component
      ORDER can only flip if drift exceeds this),
    and asserts the oracle's d ≥ k precondition (the SQL inits component
    j from basis vector e_{j+1}; the engine uses j mod d)."""
    n, d = X.shape
    if d < k:
        print(f"q_emb_pca          {sf_dir}: d={d} < k={k} — oracle unsound")
        return False
    mu = X.sum(axis=0) / n
    cov = (X.T @ X) / n - np.outer(mu, mu)
    cd = cov.copy()
    comps = []
    for j in range(k):
        v = np.zeros(d)
        v[j] = 1.0
        for _ in range(t):
            w = cd @ v
            nw = float(np.sqrt((w * w).sum()))
            v = w / nw if nw > 0 else v
        w = cd @ v
        lam = float(v @ w)
        comps.append((lam, j, v))
        cd = cd - lam * np.outer(v, v)
    lams = sorted((c[0] for c in comps), reverse=True)
    lam_gap = min(
        (abs(a - b) for a, b in zip(lams, lams[1:])), default=np.inf
    )
    comps.sort(key=lambda c: (-c[0], c[1]))
    proj = (X - mu) @ np.array([c[2] for c in comps]).T
    units = proj * 1e6
    fp_margin = float(np.abs(units - np.floor(units) - 0.5).min()) * 1e-6

    # Self-calibrating bar: unlike the kmeans RELATIVE margins (flat 1e-9
    # bar), a fixed-point digit flips on ABSOLUTE drift, and the min margin
    # over m serialized values shrinks like 1e-6/(2m) by uniformity — a flat
    # bar would mis-grade large corpora whose drift is still tiny. So
    # MEASURE the drift: recompute the whole trajectory with the row order
    # reversed (a different summation order, the exact cross-engine
    # degree of freedom) and require 1000x headroom between the margin and
    # the observed projection delta.
    Xr = X[::-1]
    mu2 = Xr.sum(axis=0) / n
    cd2 = (Xr.T @ Xr) / n - np.outer(mu2, mu2)
    comps2 = []
    for j in range(k):
        v = np.zeros(d)
        v[j] = 1.0
        for _ in range(t):
            w = cd2 @ v
            nw = float(np.sqrt((w * w).sum()))
            v = w / nw if nw > 0 else v
        w = cd2 @ v
        lam = float(v @ w)
        comps2.append((lam, j, v))
        cd2 = cd2 - lam * np.outer(v, v)
    comps2.sort(key=lambda c: (-c[0], c[1]))
    proj2 = (X - mu2) @ np.array([c[2] for c in comps2]).T
    drift = max(float(np.abs(proj - proj2).max()), 1e-15)
    print(
        f"q_emb_pca          {sf_dir}: min fixed-point margin {fp_margin:.3e},"
        f" min λ̂-sort gap {lam_gap:.3e}, measured order-drift {drift:.3e}"
    )
    return fp_margin > 1000 * drift and lam_gap > 1000 * drift


def main() -> int:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    ok = all([probe(d) for d in dirs])
    print(
        "margins",
        "SAFE" if ok else "TOO SMALL — rework the affected keys' oracles",
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

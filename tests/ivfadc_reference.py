"""Numpy IVFADC+R reference for :func:`similarity.ivfpq_topk`.

Follows the scorer's documented semantics, not its physical plan:

1. probe the ``n_probe`` cells with the highest centroid cosine in the
   assignment space (ties to the lowest ``c_id``);
2. ADC-score every index row in a probed cell, mask self rows
   (``n_id == q_id``), cut the first ``shortlist`` (cell, row) scores by
   ``(dist, n_id)`` and deduplicate the survivors;
3. rerank exactly by ``(sim desc, n_id)`` against the raw vectors.

``mask_self_before_cut=False`` moves the self mask after the cut, so a
self row can burn a shortlist slot — the semantics the scorer does NOT
have, kept so a test can show its fixture tells the two apart.
"""

from __future__ import annotations

import numpy as np


def _unit(v):
    return v / max(float(np.linalg.norm(v)), 1e-12)


def ivfadc_r_reference(
    index_df,
    queries,
    coarse_centroids,
    codebooks,
    corpus,
    n_probe,
    k,
    shortlist,
    residual=False,
    normalize=True,
    center_vec=None,
    rerank_queries=None,
    mask_self_before_cut=True,
    id_col="vec_id",
    vec_col="embedding",
):
    """``[(q_id, rnk, n_id, sim)]`` sorted, sims rounded to 6 places."""
    cents = sorted(coarse_centroids.select("c_id", "c_vec").collect())
    c_ids = [r[0] for r in cents]
    C = np.array([r[1] for r in cents], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    c_pos = {c: i for i, c in enumerate(c_ids)}
    book_rows = sorted(codebooks.select("block", "c_id", "c_vec").collect())
    m = book_rows[-1][0] + 1
    books = [
        np.array([r[2] for r in book_rows if r[0] == b], dtype=np.float64)
        for b in range(m)
    ]
    index = index_df.select(id_col, "c_id", "codes").collect()
    vecs = {
        r[0]: np.array(r[1], dtype=np.float64)
        for r in corpus.select(id_col, vec_col).collect()
    }
    rq = queries if rerank_queries is None else rerank_queries
    rvecs = {
        r[0]: np.array(r[1], dtype=np.float64)
        for r in rq.select(id_col, vec_col).collect()
    }
    center = None if center_vec is None else np.asarray(center_vec, np.float64)

    out = []
    for q_id, qv in queries.select(id_col, vec_col).collect():
        q = np.array(qv, dtype=np.float64)
        qe = _unit(q) if normalize else q
        qa = _unit(q) if center is None else _unit(q - center)
        order = np.argsort(-(Cn @ qa), kind="stable")[:n_probe]
        probed = {c_ids[i] for i in order}
        scored = []
        for n_id, c_id, codes in index:
            if c_id not in probed or (mask_self_before_cut and n_id == q_id):
                continue
            x = qa - C[c_pos[c_id]] if residual else qe
            dsub = len(x) // m
            dist = sum(
                float(np.sum((x[b * dsub : (b + 1) * dsub] - books[b][codes[b]]) ** 2))
                for b in range(m)
            )
            scored.append((dist, n_id))
        scored.sort()
        cand = {n_id for _, n_id in scored[:shortlist] if n_id != q_id}
        qr = rvecs[q_id]
        sims = {
            n: round(float(qr @ vecs[n] / (np.linalg.norm(qr) * np.linalg.norm(vecs[n]))), 6)
            for n in cand
            if n in vecs
        }
        ranked = sorted(sims, key=lambda n: (-sims[n], n))[:k]
        out.extend((q_id, rnk, n, sims[n]) for rnk, n in enumerate(ranked, start=1))
    return sorted(out)


def assert_matches_reference(got_rows, ref, tol=1e-6):
    """Spark rows vs :func:`ivfadc_r_reference` output: identical
    ``(q_id, rnk, n_id)`` and sims within ``tol``."""
    got = sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in got_rows)
    assert [g[:3] for g in got] == [r[:3] for r in ref]
    assert all(abs(g[3] - r[3]) <= tol for g, r in zip(got, ref))

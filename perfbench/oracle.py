"""Independent exact top-k: float64 cosine in numpy over the generated
files, with the engine's tie order (score desc, then id asc).

Scores must agree within 1e-5, the repository's oracle tolerance. Ids
must match position by position, except where the oracle itself holds
a tie within that tolerance, so two engines that both rank correctly
never disagree over float rounding.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

TOL = 1e-5


def load_vectors(path: str, id_col: str, vec_col: str, extra=()) -> dict:
    t = pq.read_table(path, columns=[id_col, vec_col, *extra])
    ids = t.column(id_col).to_numpy()
    flat = t.column(vec_col).combine_chunks().flatten().to_numpy()
    vecs = flat.reshape(len(ids), -1).astype(np.float64)
    out = {"ids": ids, "vecs": vecs}
    norms = np.linalg.norm(vecs, axis=1)
    out["inv_norm"] = np.divide(1.0, norms, out=np.zeros_like(norms), where=norms > 0)
    for c in extra:
        col = t.column(c)
        out[c] = col.to_numpy(zero_copy_only=False)
    return out


def exact_topk(store: dict, q: np.ndarray, k: int, mask: np.ndarray | None = None):
    """(ids, scores) of the k best cosine matches among ``mask`` rows."""
    q = np.asarray(q, dtype=np.float64)
    qn = np.linalg.norm(q)
    q_inv = 0.0 if qn == 0 else 1.0 / qn
    ids, vecs, inv = store["ids"], store["vecs"], store["inv_norm"]
    if mask is not None:
        ids, vecs, inv = ids[mask], vecs[mask], inv[mask]
    scores = (vecs @ q) * inv * q_inv
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def topk_mismatch(got_ids, got_scores, want_ids, want_scores) -> str | None:
    """None when the engine's ranked (id, score) list matches the
    oracle's, else a one-line reason."""
    if len(got_ids) != len(want_ids):
        return f"{len(got_ids)} rows, oracle has {len(want_ids)}"
    want_by_id = dict(zip(want_ids.tolist(), want_scores.tolist()))
    for i, (gid, gs) in enumerate(zip(got_ids, got_scores)):
        ws = want_scores[i]
        if abs(gs - ws) > TOL:
            return f"rank {i}: score {gs!r} vs oracle {ws!r}"
        if gid != want_ids[i]:
            tied = gid in want_by_id and abs(want_by_id[gid] - ws) <= TOL
            if not tied:
                return f"rank {i}: id {gid} vs oracle {want_ids[i]}"
    return None

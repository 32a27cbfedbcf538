"""Plain numpy replay of the SemDeDup decision, the reference that
tests hold operators.similarity.semdedup to."""

from __future__ import annotations

import numpy as np


def semdedup_reference(ids, vectors, cents, tau) -> dict:
    """{vec_id: (cell, csim, keep)}: assign each vector to its most
    cosine-similar centroid (ties → lower cell), rank each cell by
    (round(csim, 6), vec_id) ascending, and keep an item iff no
    earlier-ranked cellmate has round(cos, 6) >= tau with it.
    Vectors must have non-zero norm."""
    ids = np.asarray(ids)
    V = np.asarray(vectors, dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    nrm = np.linalg.norm(V, axis=1)
    csim_all = (V @ C.T) / np.outer(nrm, np.linalg.norm(C, axis=1))
    cell = csim_all.argmax(1)  # np argmax ties -> first = lower cell id
    csr = np.round(csim_all[np.arange(len(ids)), cell], 6)
    S = np.round((V / nrm[:, None]) @ (V / nrm[:, None]).T, 6)
    ref = {}
    for c in set(cell):
        idx = sorted(np.where(cell == c)[0], key=lambda i: (csr[i], ids[i]))
        for j, i in enumerate(idx):
            ref[int(ids[i])] = (
                int(c),
                float(csr[i]),
                not any(S[idx[p], i] >= tau for p in range(j)),
            )
    return ref

"""Shared references for the IVF cell kernel (similarity.ivf_assign).

``numpy_cells`` replays the assignment with the resident search
route's NumPy kernel — ``_cos_round4`` for round(cosine, 4) and
``_rank(nan_first=False)`` for the probe order — so the Spark kernel is
pinned by an implementation that shares none of its code.
``plane_nested_loops`` checks the plan shape the kernel is allowed to
add: a nested-loop join whose broadcast side is the one-row codebook
plane, nothing else.
"""

from __future__ import annotations


def numpy_cells(rows, cents: dict[int, list[float]],
                nprobe: int | None = None) -> dict:
    """``{vec_id: cell}`` (or ``{vec_id: [cells]}`` with ``nprobe``)
    for ``rows`` of ``(vec_id, vector)``: argmax round(cosine, 4),
    ties to the lowest cell id, NaN last."""
    import numpy as np

    from yelp_data_engineering_pipeline_spark.operators.ann_index import (
        _cos_round4, _lfold, _rank,
    )

    keys = sorted(cents)
    ids = np.array(keys, dtype=np.int64)
    cmat = np.array([cents[c] for c in keys], dtype=np.float64)
    c_norm = np.sqrt(_lfold(np.square(cmat)))
    out = {}
    for vid, vec in rows:
        qv = np.array(vec, dtype=np.float64)
        q_norm = np.sqrt(_lfold(np.square(qv[None, :])))[0]
        sims = _cos_round4(qv, cmat, q_norm, c_norm)
        assert sims is not None, "zero-norm input has no reference cell"
        order = ids[_rank(sims, ids, nan_first=False)].tolist()
        out[vid] = order[0] if nprobe is None else order[:max(1, nprobe)]
    return out


def plane_nested_loops(plan: str) -> tuple[int, int]:
    """(BroadcastNestedLoopJoin nodes, BroadcastExchanges sitting
    directly on the codebook plane's LocalTableScan) in a physical
    plan string. Equal counts mean every nested loop is a codebook
    attach, never a query × corpus product."""
    lines = [ln.lstrip(" +-:*") for ln in plan.splitlines()]
    n_bnlj = sum(1 for ln in lines
                 if ln.startswith("BroadcastNestedLoopJoin"))
    n_plane = sum(
        1 for a, b in zip(lines, lines[1:])
        if a.startswith("BroadcastExchange")
        and b.startswith("LocalTableScan [_cb_mat"))
    return n_bnlj, n_plane

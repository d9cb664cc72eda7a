"""References and comparisons for the benchmark's correctness gate.

The derive reference is the co-occurrence projection written directly in
NumPy from the generator's integer table; everything downstream of it is
checked against ``vite_spark.oracle``. Every comparison returns an error
string (empty when the result matches) so that the caller can count a
mismatch as a failed op and keep running.
"""

from __future__ import annotations

import numpy as np

from vite_spark.derive import DEFAULT_MAX_KEY_FREQ
from vite_spark.oracle import louvain_ref

from gen import EdgeInput, ReposInput


def repos_shape(inp: ReposInput) -> dict:
    """Key statistics of a repos table, computed from its integer form.

    Key frequency counts distinct repositories per path (derive
    deduplicates (repo, path) first); a kept key of frequency f emits
    f(f-1) ordered pairs.
    """
    inc = np.unique(inc_key(inp))
    keys, freq = np.unique(inc // len(inp.names), return_counts=True)
    dropped = keys[freq > DEFAULT_MAX_KEY_FREQ]
    kept = freq[freq <= DEFAULT_MAX_KEY_FREQ].astype(np.int64)
    return {
        "rows": len(inp.path_id),
        "max_key_freq": int(freq.max()),
        "cap_dropped_rows": int(np.isin(inp.path_id, dropped).sum()),
        "pairs_emitted": int((kept * (kept - 1)).sum()),
    }


def inc_key(inp: ReposInput) -> np.ndarray:
    """path_id * n_repos + dense repo id, per row."""
    return inp.path_id * len(inp.names) + dense_repo_ids(inp)[inp.repo_idx]


def dense_repo_ids(inp: ReposInput) -> np.ndarray:
    """Dense id of each repository: its rank in name order."""
    ids = np.empty(len(inp.names), np.int64)
    ids[np.argsort(inp.names, kind="stable")] = np.arange(len(inp.names))
    return ids


def derive_ref(inp: ReposInput) -> EdgeInput:
    """Symmetric co-occurrence edges over dense repo ids, weight = number
    of shared paths kept by the key-frequency cap, sorted by (src, dst)."""
    n = len(inp.names)
    inc = np.unique(inc_key(inp))            # sorted by (path, repo)
    key, repo = inc // n, inc % n
    bounds = np.flatnonzero(np.r_[True, key[1:] != key[:-1], True])
    start, size = bounds[:-1], np.diff(bounds)
    ok = size <= DEFAULT_MAX_KEY_FREQ
    start, size = start[ok], size[ok]
    # every ordered pair (i, j) of positions inside each kept key group
    slot_start = np.repeat(start, size)
    slot_size = np.repeat(size, size)
    a = np.repeat(slot_start + _ragged_arange(size), slot_size)
    b = np.repeat(slot_start, slot_size) + _ragged_arange(slot_size)
    keep = a != b
    pk, w = np.unique(repo[a[keep]] * n + repo[b[keep]], return_counts=True)
    return EdgeInput(src=pk // n, dst=pk % n, weight=w.astype(np.float64),
                     nv=n)


def _ragged_arange(lengths: np.ndarray) -> np.ndarray:
    """Concatenation of arange(l) for each l in ``lengths``."""
    offs = np.repeat(np.cumsum(lengths) - lengths, lengths)
    return np.arange(int(lengths.sum())) - offs


def canonical(labels: np.ndarray) -> np.ndarray:
    """Renumber communities by first appearance, so that two labelings of
    the same partition compare equal."""
    _, first, inv = np.unique(labels, return_index=True, return_inverse=True)
    rank = np.empty(len(first), np.int64)
    rank[np.argsort(first, kind="stable")] = np.arange(len(first))
    return rank[inv]


def same_edges(got: EdgeInput, want: EdgeInput) -> str:
    if len(got.src) != len(want.src):
        return f"{len(got.src)} edge rows, expected {len(want.src)}"
    if not (np.array_equal(got.src, want.src)
            and np.array_equal(got.dst, want.dst)
            and np.array_equal(got.weight, want.weight)):
        return "edge rows differ from the NumPy co-occurrence reference"
    return ""


def louvain_reference(edges: EdgeInput):
    return louvain_ref.louvain_oracle_full(edges.src, edges.dst,
                                           edges.weight, edges.nv)


def same_partition(ids: np.ndarray, labels: np.ndarray,
                   want: np.ndarray) -> str:
    """``labels`` (aligned with ``ids``) against ``want`` (indexed by id),
    compared after canonical renumbering over ``ids``."""
    order = np.argsort(ids)
    got = canonical(labels[order])
    exp = canonical(want[ids[order]])
    bad = int((got != exp).sum())
    return f"{bad} of {len(got)} vertex labels differ" if bad else ""


def same_louvain(ids, labels, q: float, ref) -> str:
    err = same_partition(ids, labels, ref.labels)
    if not err and abs(q - ref.q_per_phase[-1]) > 1e-6:
        err = f"Q {q!r} differs from oracle Q {ref.q_per_phase[-1]!r}"
    return err


def same_values(ids: np.ndarray, got: np.ndarray, want: np.ndarray,
                what: str, atol: float = 0.0) -> str:
    if len(ids) != len(want) or not np.array_equal(np.sort(ids),
                                                   np.arange(len(want))):
        return f"{what}: {len(ids)} vertices, expected 0..{len(want) - 1}"
    g = np.empty(len(want), dtype=np.asarray(got).dtype)
    g[ids] = got
    ok = (np.allclose(g, want, rtol=0.0, atol=atol) if atol
          else np.array_equal(g, want))
    return "" if ok else f"{what}: values differ from simple_ref"


def modularity(edges: EdgeInput, labels: np.ndarray) -> float:
    return louvain_ref.modularity_oracle(edges.src, edges.dst, edges.weight,
                                         labels, edges.nv)


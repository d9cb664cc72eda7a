"""Seeded input generators for the benchmark workloads.

Everything here is vectorized NumPy and depends only on the seed and the
size arguments, so one seed always yields the same tables. Every count
that drives the work (family sizes, vendored-path frequencies, block
sizes) has a distribution fixed by the constants below, so seeds change
the wiring but hardly the amount of work. Each generator also returns the
integer form of its table, which the NumPy references in
``perfbench/check.py`` consume without going through Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# Paths present in nearly every repository. With more than
# ``vite_spark.derive.DEFAULT_MAX_KEY_FREQ`` repositories each one exceeds
# the key-frequency cap, so derive drops them.
UBIQUITOUS = np.array(["README.md", "LICENSE", ".gitignore"])
LANGS = np.array(["py", "c", "cpp", "java", "go", "rs"])

# repos table shape
FAMILY_MEAN = 6.0           # mean fork-family size
FAMILY_PATHS = 12           # paths per family
VENDOR_VOCAB = 20_000       # vendored paths, Zipf(VENDOR_ZIPF) popularity
VENDOR_ZIPF = 0.8
OWN_FILES = 2.0             # mean unshared files per repository
EXTRA_COMMIT_P = 0.15       # chance, twice per row, of one more commit

# kernel edge table shape
AVG_DEGREE = 10.0
COMMUNITY = 64              # planted community size
MIXING = 0.2                # share of edges leaving the community
PARETO_A = 2.3              # vertex-weight tail
MAX_THETA_FRAC = 0.002      # weight cap, as a share of the block total
BLOCKS = 6                  # disconnected blocks of halving size
MAX_WEIGHT = 4


@dataclass
class ReposInput:
    table: pd.DataFrame      # repo, path, commit, lang, content
    repo_idx: np.ndarray     # per row: index into ``names``
    path_id: np.ndarray      # per row: integer path key
    names: np.ndarray        # repo names, indexed by repo_idx


@dataclass
class EdgeInput:
    src: np.ndarray          # symmetric: both orientations present
    dst: np.ndarray
    weight: np.ndarray       # integer-valued float64, equal both ways
    nv: int

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({"src": self.src, "dst": self.dst,
                             "weight": self.weight})


def _hex_names(rng: np.random.Generator, prefix: str, n: int) -> np.ndarray:
    """``n`` distinct names whose sort order is unrelated to their index."""
    vals = rng.choice(1 << 40, size=n, replace=False)
    return np.char.add(prefix, np.char.mod("%010x", vals))


def _fmt(fmt: str, vals: np.ndarray, suffix: np.ndarray) -> np.ndarray:
    """``fmt % v + suffix`` elementwise; empty input gives an empty array."""
    if not len(vals):
        return np.zeros(0, dtype=object)
    return np.char.add(np.char.mod(fmt, vals), suffix)


def repos_table(seed: int, n_repos: int, family_keep: float = 0.8,
                vendor_per_repo: float = 1.0,
                ubiquitous_keep: float = 0.9) -> ReposInput:
    """A ``repos(repo, path, commit, lang, content)`` table.

    Repositories come in fork families that share most of a family path
    set (community structure); each also vendors a few paths drawn with
    Zipf popularity from a shared vocabulary (hub vertices), has its own
    unshared files (rows that emit no pairs), and carries the
    ``UBIQUITOUS`` paths with probability ``ubiquitous_keep`` (keys the
    frequency cap drops once ``n_repos * ubiquitous_keep`` exceeds it).
    Some rows repeat under extra commits, so (repo, path) is not unique.
    """
    rng = np.random.default_rng(seed)
    names = _hex_names(rng, "repo-", n_repos)

    # fork families: consecutive runs of a random permutation
    sizes = 2 + rng.poisson(FAMILY_MEAN - 2, size=n_repos)
    sizes = sizes[: np.searchsorted(np.cumsum(sizes), n_repos) + 1]
    fam_of = np.repeat(np.arange(len(sizes)), sizes)[:n_repos]
    fam_of = fam_of[rng.permutation(n_repos)]

    # family paths: repo r keeps each of its family's paths w.p. family_keep
    r_fam = np.repeat(np.arange(n_repos), FAMILY_PATHS)
    j_fam = np.tile(np.arange(FAMILY_PATHS), n_repos)
    keep = rng.random(len(r_fam)) < family_keep
    r_fam, j_fam = r_fam[keep], j_fam[keep]
    p_fam = fam_of[r_fam].astype(np.int64) * FAMILY_PATHS + j_fam

    # vendored paths with Zipf popularity. Each path's repository count is
    # fixed by its rank, so the hub sizes do not vary with the seed; only
    # which repositories vendor it does.
    pop = 1.0 / np.arange(1, VENDOR_VOCAB + 1) ** VENDOR_ZIPF
    counts = np.floor(pop / pop.sum() * vendor_per_repo * n_repos).astype(int)
    k_vend = np.repeat(np.arange(VENDOR_VOCAB), counts)
    r_vend = rng.integers(n_repos, size=len(k_vend))

    # own files: one key per (repo, file)
    n_own = 1 + rng.poisson(OWN_FILES, size=n_repos)
    r_own = np.repeat(np.arange(n_repos), n_own)
    j_own = np.arange(len(r_own)) - np.repeat(np.cumsum(n_own) - n_own, n_own)

    # ubiquitous paths
    n_ubi = len(UBIQUITOUS)
    r_ubi = np.repeat(np.arange(n_repos), n_ubi)
    k_ubi = np.tile(np.arange(n_ubi), n_repos)
    keep = rng.random(len(r_ubi)) < ubiquitous_keep
    r_ubi, k_ubi = r_ubi[keep], k_ubi[keep]

    # integer path keys: disjoint ranges per path kind
    fam_base = 0
    vend_base = fam_base + (int(fam_of.max()) + 1) * FAMILY_PATHS
    ubi_base = vend_base + VENDOR_VOCAB
    own_base = ubi_base + n_ubi
    own_stride = int(n_own.max())
    repo_idx = np.concatenate([r_fam, r_vend, r_ubi, r_own])
    path_id = np.concatenate([
        fam_base + p_fam, vend_base + k_vend, ubi_base + k_ubi,
        own_base + r_own.astype(np.int64) * own_stride + j_own,
    ]).astype(np.int64)

    # the same (repo, path) under extra commits
    reps = 1 + rng.binomial(2, EXTRA_COMMIT_P, size=len(repo_idx))
    repo_idx = np.repeat(repo_idx, reps)
    path_id = np.repeat(path_id, reps)
    order = rng.permutation(len(repo_idx))
    repo_idx, path_id = repo_idx[order], path_id[order]

    # path strings are built once per distinct path, then gathered
    uniq, inv = np.unique(path_id, return_inverse=True)
    kind = np.searchsorted(np.array([vend_base, ubi_base, own_base]), uniq,
                           side="right")
    ext = LANGS[uniq % len(LANGS)]
    names_u = np.empty(len(uniq), dtype=object)
    fam, vend, ubi, own = (kind == k for k in range(4))
    names_u[fam] = _fmt("fam%d/src/", uniq[fam] // FAMILY_PATHS,
                        _fmt("m%d.", uniq[fam] % FAMILY_PATHS, ext[fam]))
    names_u[vend] = _fmt("vendor/lib%d/include.", uniq[vend] - vend_base,
                         ext[vend])
    names_u[ubi] = UBIQUITOUS[uniq[ubi] - ubi_base]
    names_u[own] = _fmt("src/own%d.", uniq[own] - own_base, ext[own])
    path = pd.Series(names_u[inv])
    commit = pd.Series(
        np.char.mod("%016x", rng.integers(1 << 62, size=len(path_id)))
        .astype(object))
    table = pd.DataFrame({
        "repo": names.astype(object)[repo_idx], "path": path,
        "commit": commit, "lang": ext.astype(object)[inv],
        "content": "// " + path + " @ " + commit,
    })
    return ReposInput(table=table, repo_idx=repo_idx, path_id=path_id,
                      names=names)


def _draw(rng, cum: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Per row, an index drawn with probability proportional to weight
    among positions ``lo[i]..hi[i]-1``; ``cum`` is the weights' cumsum."""
    base = np.where(lo > 0, cum[lo - 1], 0.0)
    x = base + rng.random(len(lo)) * (cum[hi - 1] - base)
    return np.minimum(np.searchsorted(cum, x, side="right"), hi - 1)


def kernel_edges(seed: int, nv: int) -> EdgeInput:
    """Symmetric integer-weight edge table with heavy-tailed degrees.

    Vertices split into ``BLOCKS`` disconnected blocks of halving size
    (several components of fixed sizes). Inside a block each vertex sits
    in a planted community of ``COMMUNITY`` vertices; an edge's second
    endpoint is drawn from the first one's community, or with probability
    ``MIXING`` from the whole block. Endpoints are drawn in proportion to
    Pareto(``PARETO_A``) vertex weights capped at ``MAX_THETA_FRAC`` of
    the block total (hubs, but no clique large enough to let triangles
    dominate). Every vertex gets at least one edge, so the table is
    vertex-closed over ``0..nv-1``.
    """
    rng = np.random.default_rng(seed)
    share = 0.5 ** np.arange(1, BLOCKS + 1)
    bsize = (share / share.sum() * nv).astype(np.int64)
    bsize[0] += nv - bsize.sum()
    perm = rng.permutation(nv)
    starts = np.concatenate([[0], np.cumsum(bsize)[:-1]])
    us, vs = [], []
    for b0, bn in zip(starts, bsize):
        verts = perm[b0:b0 + bn]
        theta = rng.pareto(PARETO_A, size=bn) + 1.0
        theta = np.minimum(theta, MAX_THETA_FRAC * theta.sum() + 1.0)
        cum = np.cumsum(theta)
        m = int(AVG_DEGREE * bn / 2)
        u = np.concatenate([_draw(rng, cum, np.zeros(m, np.int64),
                                  np.full(m, bn)), np.arange(bn)])
        lo = u // COMMUNITY * COMMUNITY
        hi = np.minimum(lo + COMMUNITY, bn)
        v = _draw(rng, cum, lo, hi)
        anywhere = rng.random(len(u)) < MIXING
        v[anywhere] = _draw(rng, cum, np.zeros(anywhere.sum(), np.int64),
                            np.full(anywhere.sum(), bn))
        # the guaranteed edge of each vertex (the last bn rows) never
        # closes on itself
        tail = slice(m, None)
        v[tail] = np.where(v[tail] == u[tail], (u[tail] + 1) % bn, v[tail])
        us.append(verts[u])
        vs.append(verts[v])
    u = np.concatenate(us)
    v = np.concatenate(vs)
    keep = u != v
    a = np.minimum(u[keep], v[keep])
    b = np.maximum(u[keep], v[keep])
    key, mult = np.unique(a * np.int64(nv) + b, return_counts=True)
    a, b = key // nv, key % nv
    w = np.minimum(mult + rng.integers(0, MAX_WEIGHT, size=len(key)),
                   MAX_WEIGHT).astype(np.float64)
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    return EdgeInput(src=src, dst=dst, weight=np.concatenate([w, w]), nv=nv)

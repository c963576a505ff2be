"""Seeded input generators, one per workload.

Every input is a pure function of (workload, seed). Inputs are cached
under perfbench/data/<workload>-<size tag>-s<seed>/; a directory is
only used once its params.json exists (written last, after an atomic
rename), so an interrupted generation is redone.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
KEEP_CACHED = 24  # input sets kept on disk; older ones are pruned

# Input sizes. Changing one changes the size tag, so stale caches are
# never reused.
SIZES = {
    "raster_tiles": {"grid": 512, "tile": 128, "rows": 600_000},
    "loops_dedup": {"grid": 64, "tile": 32, "period": 32,
                    "sources": [[10, 10], [40, 21], [25, 50]], "max_cost": 60.0,
                    "docs": 1000, "vocab": 3000, "zipf": 1.1, "len": (40, 160),
                    "families": (30, 5), "edit_rate": 0.05},
}


def size_tag(workload):
    return hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()[:8]


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _diamonds(rng, grid, n):
    # integer centres and radii with fractional part .3: cell centres sit
    # at half-odd coordinates, so no centre lies on a diamond's edge
    out = []
    for _ in range(n):
        cx = int(rng.integers(grid // 8, grid - grid // 8))
        cy = int(rng.integers(grid // 8, grid - grid // 8))
        r = int(rng.integers(grid // 16, grid // 5)) + 0.3
        out.append([cx, cy, r])
    return out


def gen_raster_tiles(rng, d, p):
    g, n = p["grid"], p["rows"]
    # lineitem-style rows; the harness re-keys them onto the grid with
    # x = l_orderkey mod grid, y = l_partkey mod grid
    _write(os.path.join(d, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, 1 << 40, n, dtype=np.int64),
        "l_partkey": rng.integers(0, 1 << 40, n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
    })
    # key-range catalog query window in grid cells, not tile-aligned
    x0, y0 = (int(v) for v in rng.integers(0, g // 2, 2))
    w, h = (int(v) for v in rng.integers(g // 8, g // 2, 2))
    return {"polys": _diamonds(rng, g, 3), "query": [x0, y0, x0 + w, y0 + h]}


def gen_loops_dedup(rng, d, p):
    g, period = p["grid"], p["period"]
    # egg-crate terrain: one basin per period x period block, so every
    # seed has the same drainage depth (about half a period) and the
    # loops run the same number of rounds; the seed only perturbs the
    # cells (far below the drop between neighbours) and the tilt that
    # breaks ties
    y, x = np.mgrid[0:g, 0:g]
    w = 2 * np.pi / period
    z = -10.0 * (np.cos(w * (x + 0.5)) + np.cos(w * (y + 0.5)))
    z = z + rng.uniform(0.0005, 0.002) * (x + 0.7 * y) + rng.uniform(0, 0.01, (g, g))
    f = 1.0 + 9.0 * (z - z.min()) / (z.max() - z.min())  # friction in [1, 10]
    _write(os.path.join(d, "terrain.parquet"), {
        "x": x.ravel().astype(np.int64), "y": y.ravel().astype(np.int64),
        "z": z.ravel(), "f": f.ravel()})
    src = np.array(p["sources"], dtype=np.float64)
    _write(os.path.join(d, "sources.parquet"), {
        "pid": np.arange(len(src), dtype=np.int64), "px": src[:, 0] + 0.5, "py": src[:, 1] + 0.5})
    _documents(rng, d, p)
    return {}


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(2, 9))
        words.add("".join(letters[rng.integers(0, 26, ln)]))
    return sorted(words)


def _documents(rng, d, p):
    n, vocab = p["docs"], _vocab(rng, p["vocab"])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    prob = ranks ** -p["zipf"]
    prob /= prob.sum()
    lo, hi = p["len"]
    docs = []
    for _ in range(n):
        docs.append(rng.choice(len(vocab), int(rng.integers(lo, hi + 1)), p=prob))
    # near-duplicate families: chains in which each member is the
    # previous one with a few tokens replaced, at random doc ids; a fixed
    # number of families of fixed length keeps the pair graph the same
    # size for every seed
    nfam, flen = p["families"]
    members = rng.choice(n, nfam * flen, replace=False).reshape(nfam, flen)
    for fam in members:
        for a, b in zip(fam[:-1], fam[1:]):
            src = docs[a].copy()
            m = max(1, int(len(src) * p["edit_rate"]))
            src[rng.integers(0, len(src), m)] = rng.choice(len(vocab), m, p=prob)
            docs[b] = src
    # the families as a graph: the known duplicate clusters
    _write(os.path.join(d, "families.parquet"), {
        "d1": members[:, :-1].ravel().astype(np.int64), "d2": members[:, 1:].ravel().astype(np.int64)})
    words = np.array(vocab)
    text = [" ".join(words[t]) + "." for t in docs]
    _write(os.path.join(d, "documents.parquet"), {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": ["en"] * n,
        "source": np.array(["web", "books", "code"])[rng.integers(0, 3, n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


GENERATORS = {
    "raster_tiles": gen_raster_tiles,
    "loops_dedup": gen_loops_dedup,
}


def ensure(workload, seed):
    """Return (directory, params) of the workload's inputs for `seed`,
    generating them on a cache miss."""
    d = os.path.join(DATA, f"{workload}-{size_tag(workload)}-s{seed}")
    meta = os.path.join(d, "params.json")
    if not os.path.exists(meta):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
        params = dict(SIZES[workload], seed=seed, workload=workload)
        params.update(GENERATORS[workload](rng, tmp, SIZES[workload]))
        with open(os.path.join(tmp, "params.json"), "w") as fh:
            json.dump(params, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        _prune(d)
    with open(meta) as fh:
        return d, json.load(fh)


def _prune(keep):
    entries = [os.path.join(DATA, e) for e in os.listdir(DATA)]
    entries = sorted((e for e in entries if e != keep and os.path.isdir(e)),
                     key=os.path.getmtime)
    for e in entries[:max(0, len(entries) + 1 - KEEP_CACHED)]:
        shutil.rmtree(e, ignore_errors=True)

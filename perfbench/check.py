"""Output checks, run after the JVM exits on the outputs of the untimed
warm-up pass. Each reference is computed here, apart from the program:
plain numpy arrays for the raster steps, a plain Dijkstra and
union-find for the loops, per-cell properties for the hydrology steps,
and DuckDB running the program's own oracle SQL twins over the same
generated documents for the text steps.

run() returns one message per step whose output is wrong.
"""
import heapq
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TEXT_ORACLES = ("q_dedup_minhash", "q_lm_backoff")
REL = 1e-9  # tolerance where two engines may round one libm call differently


class Wrong(Exception):
    pass


def _frame(check_dir, step, i=0):
    path = os.path.join(check_dir, f"{step}.{i}")
    if not os.path.isdir(path):
        raise Wrong("no output written")
    return pq.read_table(path).to_pandas()


def _grid_of_tiles(df, tile, ncols, nrows):
    """Assemble a (col, row, tile) frame into a [y, x] array (NaN where
    no tile or NoData)."""
    g = np.full((nrows * tile, ncols * tile), np.nan)
    seen = set()
    for c, r, t in zip(df["col"], df["row"], df["tile"]):
        if (c, r) in seen:
            raise Wrong(f"tile ({c}, {r}) appears twice")
        seen.add((c, r))
        g[r * tile:(r + 1) * tile, c * tile:(c + 1) * tile] = np.asarray(t, dtype=np.float64).reshape(tile, tile)
    return g


def _same(got, want, what, rel=0.0):
    if got.shape != want.shape:
        raise Wrong(f"{what}: shape {got.shape} vs {want.shape}")
    gn, wn = np.isnan(got), np.isnan(want)
    if (gn != wn).any():
        raise Wrong(f"{what}: NoData differs at {int((gn != wn).sum())} cells")
    g, w = got[~gn], want[~wn]
    bad = np.abs(g - w) > rel * np.maximum(1.0, np.abs(w))
    if bad.any():
        raise Wrong(f"{what}: {int(bad.sum())} cells differ, e.g. {g[bad][0]!r} vs {w[bad][0]!r}")


def _window(a):
    """The 3x3 neighbours of every cell as a [9, H, W] stack, NaN
    beyond the edge, in row-major window order n1..n9."""
    p = np.pad(a, 1, constant_values=np.nan)
    h, w = a.shape
    return np.stack([p[dy:dy + h, dx:dx + w] for dy in range(3) for dx in range(3)])


# --- raster_tiles -----------------------------------------------------

def check_raster_tiles(data, params, cd):
    g, t = params["grid"], params["tile"]
    li = pq.read_table(os.path.join(data, "lineitem.parquet")).to_pandas()
    idx = (li["l_partkey"].to_numpy() % g) * g + li["l_orderkey"].to_numpy() % g
    n = np.bincount(idx, minlength=g * g)
    vals = np.bincount(idx, weights=li["l_quantity"].to_numpy(), minlength=g * g)
    vals = np.where(n > 0, vals, np.nan).reshape(g, g)
    flag = np.array([ord(s) for s in li["l_returnflag"]], dtype=np.float64)
    zones = np.full(g * g, np.inf)
    np.minimum.at(zones, idx, flag)
    zones = np.where(n > 0, zones, np.nan).reshape(g, g)
    nt = g // t
    tiles = lambda step, i=0: _grid_of_tiles(_frame(cd, step, i), t, nt, nt)

    def dual():
        _same(tiles("rasterLayer.fromCellsDual", 0), vals, "value layer")
        _same(tiles("rasterLayer.fromCellsDual", 1), zones, "zone layer")

    win = _window(vals)

    def focal():
        cnt = (~np.isnan(win)).sum(axis=0)
        mean = np.nansum(win, axis=0) / np.maximum(cnt, 1)
        _same(tiles("focal.focal"), np.where(np.isnan(vals), np.nan, mean), "focal mean")

    n1, n2, n3, n4, n5, n6, n7, n8, n9 = win
    dzdx = ((n3 + 2 * n6 + n9) - (n1 + 2 * n4 + n7)) / 8.0
    dzdy = ((n7 + 2 * n8 + n9) - (n1 + 2 * n2 + n3)) / 8.0
    # the Horn window needs all nine cells, the centre included
    slope_r = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)) + 0 * n5

    def slope():
        _same(tiles("focal.terrain_slope"), np.degrees(slope_r), "slope", REL)

    def hillshade():
        asp = np.arctan2(dzdy, -dzdx)
        asp = np.where(asp < 0, asp + 2 * np.pi, asp)
        zen, az = np.radians(90 - 45.0), np.radians(315.0)
        hs = 255.0 * (np.cos(zen) * np.cos(slope_r) + np.sin(zen) * np.sin(slope_r) * np.cos(az - asp))
        got = tiles("focal.terrain_hillshade")
        lo = np.floor(np.maximum(0.0, hs - 1e-7))
        hi = np.floor(np.maximum(0.0, hs + 1e-7))
        _same(np.isnan(got).astype(float), np.isnan(hs).astype(float), "hillshade NoData")
        ok = np.isnan(hs) | ((got >= lo) & (got <= hi))
        if not ok.all():
            raise Wrong(f"hillshade: {int((~ok).sum())} cells differ")

    def zonal():
        got = _frame(cd, "zonalOps.zonalStats").sort_values("zone").reset_index(drop=True)
        m = ~np.isnan(vals)
        z, v = zones[m], vals[m]
        want = pd.DataFrame([(k, int((z == k).sum()), v[z == k].sum(), v[z == k].min(), v[z == k].max())
                             for k in np.unique(z)], columns=["zone", "cnt", "vsum", "vmin", "vmax"])
        want["vmean"] = want["vsum"] / want["cnt"]
        pd.testing.assert_frame_equal(got[list(want.columns)].astype(float), want.astype(float),
                                      check_exact=True)

    yy, xx = np.mgrid[0:g, 0:g]
    wx, wy = xx + 0.5, g - (yy + 0.5)  # cell centres in world coordinates (y up)
    inside = np.zeros((g, g), dtype=bool)
    for cx, cy, r in params["polys"]:
        inside |= np.abs(wx - cx) + np.abs(wy - cy) < r
    masked = np.where(inside, vals, np.nan)

    def mask():
        _same(tiles("zonalOps.mask"), masked, "mask")

    def to_cells():
        got = _frame(cd, "rasterLayer.toCells")
        grid = np.full((g, g), np.nan)
        grid[got["y"].to_numpy(), got["x"].to_numpy()] = got["v"].to_numpy()
        if len(got) != int((~np.isnan(masked)).sum()):
            raise Wrong(f"toCells: {len(got)} rows for {int((~np.isnan(masked)).sum())} cells")
        _same(grid, masked, "toCells")

    return {"rasterLayer.fromCellsDual": dual, "focal.focal": focal,
            "focal.terrain_slope": slope, "focal.terrain_hillshade": hillshade,
            "zonalOps.zonalStats": zonal, "zonalOps.mask": mask, "rasterLayer.toCells": to_cells,
            **storage_checks(cd, vals, t, params["query"])}


# --- loops_dedup ------------------------------------------------------

# ESRI D8 codes in tie order, y down
D8 = [(1, 0, 1), (1, 1, 2), (0, 1, 4), (-1, 1, 8), (-1, 0, 16), (-1, -1, 32), (0, -1, 64), (1, -1, 128)]


def d8_downstream(z):
    """Linear id of each cell's D8 receiver, -1 for pits and flats:
    steepest drop, diagonals over sqrt(2), ties to the lowest code."""
    g = z.shape[0]
    p = np.pad(z, 1, constant_values=np.nan)
    best = np.full(z.shape, -np.inf)
    code = np.full(z.shape, -1)
    for k, (dx, dy, _) in enumerate(D8):
        nz = p[1 + dy:1 + dy + g, 1 + dx:1 + dx + g]
        drop = np.where(np.isnan(nz), -1e300, (z - nz) / (math.sqrt(2.0) if dx and dy else 1.0))
        better = drop > best  # strict: the first (lowest) code wins a tie
        best = np.where(better, drop, best)
        code = np.where(better, k, code)
    yy, xx = np.mgrid[0:g, 0:g]
    ddx = np.array([d[0] for d in D8])[code]
    ddy = np.array([d[1] for d in D8])[code]
    down = (yy + ddy) * g + (xx + ddx)
    return np.where(best > 0, down, -1).ravel()


def _by_cell(df, col, g):
    out = np.full(g * g, -1, dtype=np.int64)
    ids = df["y"].to_numpy() * g + df["x"].to_numpy()
    if len(np.unique(ids)) != len(ids) or len(ids) != g * g:
        raise Wrong(f"{len(ids)} rows ({len(np.unique(ids))} distinct cells) for {g * g} cells")
    out[ids] = df[col].to_numpy()
    return out


def dijkstra(f, sources, max_cost):
    """Accumulated cost from the nearest source: entering cell n costs
    step * f(n), step 1 or sqrt(2); cells beyond max_cost stay NaN."""
    g = f.shape[0]
    dist = np.full(g * g, np.inf)
    ff = f.ravel()
    pq_ = []
    for sx, sy in sources:
        i = sy * g + sx
        dist[i] = 0.0
        pq_.append((0.0, i))
    heapq.heapify(pq_)
    steps = [(dx, dy, math.sqrt(2.0) if dx and dy else 1.0)
             for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dx or dy]
    while pq_:
        d, i = heapq.heappop(pq_)
        if d > dist[i]:
            continue
        y, x = divmod(i, g)
        for dx, dy, s in steps:
            nx, ny = x + dx, y + dy
            if 0 <= nx < g and 0 <= ny < g:
                j = ny * g + nx
                nd = d + s * ff[j]
                if nd <= max_cost and nd < dist[j]:
                    dist[j] = nd
                    heapq.heappush(pq_, (nd, j))
    return np.where(np.isinf(dist), np.nan, dist).reshape(g, g)


def _union_find_labels(d1, d2, ids):
    ids = np.asarray(ids, dtype=np.int64)
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(d1, d2):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def _check_components(got, labels):
    if len(got) != len(labels):
        raise Wrong(f"{len(got)} rows for {len(labels)} vertices")
    for v, c in zip(got["doc_id"], got["component"]):
        if labels.get(int(v)) != int(c):
            raise Wrong(f"vertex {v}: component {c}, union-find says {labels.get(int(v))}")


def check_loops_dedup(data, params, cd, oracles):
    g, t = params["grid"], params["tile"]
    ter = pq.read_table(os.path.join(data, "terrain.parquet")).to_pandas()
    z = np.full((g, g), np.nan)
    f = np.full((g, g), np.nan)
    z[ter["y"], ter["x"]] = ter["z"]
    f[ter["y"], ter["x"]] = ter["f"]
    down = d8_downstream(z)
    src = np.nonzero(down >= 0)[0]
    n_up = np.bincount(down[src], minlength=g * g)

    def accumulation():
        acc = _by_cell(_frame(cd, "hydrology.flowAccumulation"), "acc", g)
        # acc counts the cells draining through c: the sum over its
        # upstream neighbours u of (acc(u) + 1)
        want = np.bincount(down[src], weights=acc[src] + 1, minlength=g * g)
        if (acc != want).any():
            raise Wrong(f"accumulation property fails at {int((acc != want).sum())} cells")

    def watershed():
        lab = _by_cell(_frame(cd, "hydrology.watershed"), "basin", g)
        pits = down < 0
        if (lab[pits] != np.nonzero(pits)[0]).any():
            raise Wrong("a pit is not labelled with its own id")
        if (lab[src] != lab[down[src]]).any():
            raise Wrong("a cell's basin differs from its receiver's")

    def stream_order():
        o = _by_cell(_frame(cd, "hydrology.streamOrder"), "ord", g)
        mx = np.zeros(g * g, dtype=np.int64)
        np.maximum.at(mx, down[src], o[src])
        at_max = np.bincount(down[src], weights=(o[src] == mx[down[src]]), minlength=g * g)
        want = np.where(n_up == 0, 1, np.where(at_max >= 2, mx + 1, mx))
        if (o != want).any():
            raise Wrong(f"Strahler rule fails at {int((o != want).sum())} cells")

    sp = pq.read_table(os.path.join(data, "sources.parquet")).to_pandas()
    sources = list(zip(np.floor(sp["px"]).astype(int), np.floor(sp["py"]).astype(int)))
    ref = dijkstra(f, sources, params["max_cost"])

    def cost_distance():
        got = _grid_of_tiles(_frame(cd, "distance.costDistanceTiled"), t, g // t, g // t)
        near_cap = np.abs(ref - params["max_cost"]) < 1e-7 * params["max_cost"]
        _same(np.where(near_cap, np.nan, got), np.where(near_cap, np.nan, ref), "cost distance", REL)

    def cost_path():
        p = _frame(cd, "distance.costPath").sort_values("seq").reset_index(drop=True)
        if list(p["seq"]) != list(range(len(p))) or len(p) == 0:
            raise Wrong("path steps are not numbered 0..n-1")
        xs, ys = p["x"].to_numpy(), p["y"].to_numpy()
        d = ref[ys, xs]
        if np.isnan(d).any():
            raise Wrong("the path leaves the reachable set")
        if not np.isclose(d[0], np.nanmax(ref), rtol=REL, atol=0):
            raise Wrong(f"path starts at cost {d[0]}, the farthest reachable cell is at {np.nanmax(ref)}")
        if d[-1] != 0.0:
            raise Wrong("path does not end at a source")
        # v_u is round(d * 1e5): within half a unit of the reference
        if (np.abs(p["v_u"].to_numpy() - d * 1e5) > 0.5 + 1e-4).any():
            raise Wrong("path costs differ from the reference distances")
        for i in range(len(p) - 1):
            dx, dy = abs(xs[i + 1] - xs[i]), abs(ys[i + 1] - ys[i])
            if max(dx, dy) != 1:
                raise Wrong(f"steps {i} and {i + 1} are not neighbours")
            hop = (math.sqrt(2.0) if dx and dy else 1.0) * f[ys[i], xs[i]]
            if not math.isclose(d[i], d[i + 1] + hop, rel_tol=REL):
                raise Wrong(f"step {i} is not on a least-cost path")

    return {"hydrology.flowAccumulation": accumulation, "hydrology.watershed": watershed,
            "hydrology.streamOrder": stream_order, "distance.costDistanceTiled": cost_distance,
            "distance.costPath": cost_path, **text_checks(data, cd, oracles)}


def _same_rows(got, want):
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        raise Wrong(f"columns {list(got.columns)} vs {list(want.columns)}")
    if len(got) != len(want):
        raise Wrong(f"{len(got)} rows vs {len(want)}")
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    want = want.sort_values(list(want.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        raise Wrong(str(e)[:300])


def text_checks(data, cd, oracles):
    con = duckdb.connect(config={"threads": 4})
    con.sql("SET enable_progress_bar = false")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{os.path.join(data, 'documents.parquet')}')")
    def oracle(step, sql):
        return lambda: _same_rows(_frame(cd, step), con.sql(sql).df())

    def components():
        fam = pq.read_table(os.path.join(data, "families.parquet")).to_pandas()
        docs = pq.read_table(os.path.join(data, "documents.parquet"), columns=["doc_id"]).to_pandas()
        _check_components(_frame(cd, "dedup.connectedComponents"),
                          _union_find_labels(fam["d1"], fam["d2"], docs["doc_id"]))

    return {"dedup.minhashPairs": oracle("dedup.minhashPairs", oracles["q_dedup_minhash"]),
            "dedup.connectedComponents": components,
            "textAnalysis.stupidBackoff": oracle("textAnalysis.stupidBackoff", oracles["q_lm_backoff"])}


def storage_checks(cd, grid, t, query):
    """Checks of the catalog steps, against the value layer `grid`."""
    g = grid.shape[0]
    nt = g // t

    def pyramid():
        tiles = ds.dataset(os.path.join(cd, "catalog", "bench", "tiles"), format="parquet",
                           partitioning="hive").to_table(columns=["zoom", "col", "row", "tile"]).to_pandas()
        top = int(math.log2(nt))
        if sorted(tiles["zoom"].unique()) != list(range(top + 1)):
            raise Wrong(f"zoom levels {sorted(tiles['zoom'].unique())}, expected 0..{top}")
        level = lambda z: _grid_of_tiles(tiles[tiles["zoom"] == z], t, nt >> (top - z), nt >> (top - z))
        child = level(top)
        _same(child, grid, "pyramid base level")
        for z in range(top - 1, -1, -1):
            # each parent cell is the mean of its present 2x2 children,
            # summed in the program's order
            q = [child[dy::2, dx::2] for dy in (0, 1) for dx in (0, 1)]
            cnt = sum((~np.isnan(a)).astype(int) for a in q)
            s = np.zeros_like(q[0])
            for a in q:
                s = np.where(np.isnan(a), s, s + np.nan_to_num(a))
            parent = level(z)
            _same(parent, np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan), f"pyramid zoom {z}")
            child = parent

    def read():
        _same(_grid_of_tiles(_frame(cd, "catalog.read"), t, nt, nt), grid, "catalog read")

    def key_range():
        x0, y0, x1, y1 = query
        got = _frame(cd, "catalog.query")
        want = [(c, r) for c in range(x0 // t, (x1 - 1) // t + 1) for r in range(y0 // t, (y1 - 1) // t + 1)]
        if sorted(zip(got["col"], got["row"])) != sorted(want):
            raise Wrong(f"query returned tiles {sorted(zip(got['col'], got['row']))}, expected {sorted(want)}")
        covered = np.zeros((g, g), dtype=bool)
        for c, r in want:
            covered[r * t:(r + 1) * t, c * t:(c + 1) * t] = True
        _same(_grid_of_tiles(got, t, nt, nt), np.where(covered, grid, np.nan), "query tiles")

    def gt_roundtrip():
        _same(_grid_of_tiles(_frame(cd, "geoTrellisStore.readLayer"), t, nt, nt), grid,
              "geotrellis store read(write(layer))")

    return {"pyramid.write": pyramid, "catalog.read": read, "catalog.query": key_range,
            "geoTrellisStore.writeLayer": gt_roundtrip, "geoTrellisStore.readLayer": gt_roundtrip}


def run(workload, data, params, check_dir, run_dir):
    if workload == "loops_dedup":
        with open(os.path.join(run_dir, "oracles.json")) as fh:
            checks = check_loops_dedup(data, params, check_dir, json.load(fh))
    else:
        checks = check_raster_tiles(data, params, check_dir)
    bad = []
    for step, fn in checks.items():
        try:
            fn()
        except Wrong as e:
            bad.append(f"check {step}: {e}")
        except Exception as e:  # a reference that cannot read the output is a failed check too
            bad.append(f"check {step}: {type(e).__name__}: {e}")
    return bad

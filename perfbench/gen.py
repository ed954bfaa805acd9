"""Seeded input generators, one per workload.

Every table is a pure function of (workload, seed): the same pair always
writes byte-identical parquet, a different seed writes different rows.
Generated tables are cached per (workload, seed) under the data root and
re-used by later runs. Ids are distinct integers spread sparsely over a
10^12-wide key space, the scale the engine is designed for.

Tables (the program receives only these):
  documents.parquet/  doc_id, text, lang, source, n_chars   (forward inputs)
  continent.parquet, country.parquet, place.parquet
                      feature_id, west, south, east, north, flon, flat, geom_wkb
  points.parquet      event_id, elon, elat                   (reverse inputs)
  batches.txt         api_small call batches: `fwd|rev id id ...` per line
  warm/               a small slice of the same kind, for set-up's warm pass
  side/               fwd_bulk: small reverse inputs; rev_bulk: small pages
  inputs.json         sizes and measured input properties
"""
import hashlib
import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The document vocabulary of the engine's frozen gazetteer (Synth.gazetteer
# names are drawn from it, so mention extraction hits).
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ID_SPACE = 10 ** 12
FILE_SPLITS = 8

# Workload sizes. The api_small pools are small because each call only
# touches one batch.
SIZES = {
    "fwd_bulk": {"docs": 24000, "fwd_batches": 4, "fwd_batch": 50},
    "fwd_job": {"distinct_texts": 240, "copies": 100},
    "rev_bulk": {"places": 20000, "points": 120000, "rev_batches": 3, "rev_batch": 10},
    "api_small": {"docs": 2000, "places": 1500, "points": 2000,
                  "fwd_batches": 24, "fwd_batch": 50,
                  "rev_batches": 24, "rev_batch": 10},
}
# Set-up's warm pass runs each workload's operation once on this small slice.
WARM_DOCS = 1500
WARM_POINTS = 2500
# Small inputs of the other bulk workload, for the side measurements of a
# traced run (each bulk workload's trace measures every layer).
SIDE = {"docs": 1500, "fwd_batches": 3, "fwd_batch": 50,
        "places": 1500, "points": 4000, "rev_batches": 2, "rev_batch": 10}
GEN_VERSION = 2


def sparse_ids(rng, n):
    """n distinct ids drawn uniformly from [0, 10^12), ascending."""
    ids = np.unique(rng.integers(0, ID_SPACE, size=n + n // 8 + 16))
    while len(ids) < n:
        ids = np.unique(np.concatenate([ids, rng.integers(0, ID_SPACE, size=n)]))
    ids = rng.permutation(ids)[:n]
    return np.sort(ids).astype(np.int64)


def random_texts(rng, n):
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def docs_table(rng, texts):
    n = len(texts)
    ids = sparse_ids(rng, n)
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    src = rng.integers(0, 20, size=n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i}" for i in src], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_split(table, path, splits=FILE_SPLITS):
    """A multi-split table: one directory of `splits` parquet files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = (n + splits - 1) // splits
    for i in range(splits):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def lattice(x, step):
    """Round to a multiple of `step` (rect bounds live on a 0.001 lattice)."""
    return np.round(np.asarray(x) / step) * step


def rect_wkb(w, s, e, n):
    """ISO WKB (little-endian) of the closed counter-clockwise rectangle ring."""
    ring = (w, s, e, s, e, n, w, n, w, s)
    return struct.pack("<BIII10d", 1, 3, 1, 5, *ring)


def rect_table(ids, w, s, e, n):
    w, s, e, n = (np.round(lattice(v, 0.001), 3) for v in (w, s, e, n))
    wkb = [rect_wkb(*map(float, r)) for r in zip(w, s, e, n)]
    return pa.table({
        "feature_id": pa.array(ids, pa.int64()),
        "west": pa.array(w, pa.float64()), "south": pa.array(s, pa.float64()),
        "east": pa.array(e, pa.float64()), "north": pa.array(n, pa.float64()),
        "flon": pa.array(np.round((w + e) / 2, 4), pa.float64()),
        "flat": pa.array(np.round((s + n) / 2, 4), pa.float64()),
        "geom_wkb": pa.array(wkb, pa.binary()),
    })


def features(rng, n_places):
    """Continents (indexed at z4), countries (z6) and places (z8).

    Six continents sit in 60-degree longitude bands with open water between
    them, eight countries inside each continent, places inside countries.
    """
    n_cont, per_cont = 6, 8
    ids = sparse_ids(rng, n_cont + n_cont * per_cont + n_places)
    ids = rng.permutation(ids)
    cid, kid, pid = ids[:n_cont], ids[n_cont:n_cont * (1 + per_cont)], \
        ids[n_cont * (1 + per_cont):]
    cx = -150.0 + 60.0 * np.arange(n_cont) + rng.uniform(-4, 4, n_cont)
    cy = rng.uniform(-25, 25, n_cont)
    cw = rng.uniform(18, 22, n_cont)   # half widths
    ch = rng.uniform(14, 18, n_cont)
    cont = rect_table(cid, cx - cw, cy - ch, cx + cw, cy + ch)

    k_par = np.repeat(np.arange(n_cont), per_cont)
    kw = rng.uniform(3, 6, len(k_par))
    kh = rng.uniform(2, 4, len(k_par))
    kx = cx[k_par] + rng.uniform(-1, 1, len(k_par)) * (cw[k_par] - kw)
    ky = cy[k_par] + rng.uniform(-1, 1, len(k_par)) * (ch[k_par] - kh)
    country = rect_table(kid, kx - kw, ky - kh, kx + kw, ky + kh)

    # 80% of places inside a country, the rest anywhere in a continent
    p_in = rng.random(n_places) < 0.8
    p_k = rng.integers(0, len(k_par), n_places)
    p_c = rng.integers(0, n_cont, n_places)
    pw = rng.uniform(0.1, 0.4, n_places)
    ph = rng.uniform(0.05, 0.25, n_places)
    bx = np.where(p_in, kx[p_k], cx[p_c])
    by = np.where(p_in, ky[p_k], cy[p_c])
    bw = np.where(p_in, kw[p_k], cw[p_c]) - pw
    bh = np.where(p_in, kh[p_k], ch[p_c]) - ph
    px = bx + rng.uniform(-1, 1, n_places) * bw
    py = by + rng.uniform(-1, 1, n_places) * bh
    place = rect_table(pid, px - pw, py - ph, px + pw, py + ph)
    return cont, country, place


def z8_cell(lon, lat):
    """Web-mercator z8 tile (x, y) of a point."""
    n = 256.0
    x = np.floor((lon + 180.0) / 360.0 * n)
    r = np.radians(lat)
    y = np.floor(n * (1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / np.pi) / 2.0)
    return x.astype(np.int64), y.astype(np.int64)


def points(rng, n, cont, place, hot_share=0.2, open_share=0.15, hot_cells=4):
    """Reverse probe points.

    hot_share of the points crowd into `hot_cells` z8 cells around places;
    open_share lie in open water outside every continent (so outside every
    feature, the kNN fallback's input); the rest are uniform over the
    continents. Point coordinates sit on half-steps of a 0.0001 lattice, so
    no point lies on a rect boundary.
    """
    c = cont.to_pydict()
    p = place.to_pydict()
    n_hot, n_open = round(n * hot_share), round(n * open_share)
    kinds = rng.permutation(np.repeat([0, 1, 2], [n_hot, n_open, n - n_hot - n_open]))
    lon = np.empty(n)
    lat = np.empty(n)
    hot = rng.choice(len(p["flon"]), size=hot_cells, replace=False)
    hx = np.array(p["flon"])[hot]
    hy = np.array(p["flat"])[hot]
    m = kinds == 0
    h = rng.integers(0, hot_cells, int(m.sum()))
    lon[m] = hx[h] + rng.uniform(-0.3, 0.3, int(m.sum()))
    lat[m] = hy[h] + rng.uniform(-0.3, 0.3, int(m.sum()))
    # open water: the longitude gaps between consecutive continents
    m = kinds == 1
    k = int(m.sum())
    cw_, ce_ = np.array(c["west"]), np.array(c["east"])
    gap = rng.integers(0, len(cw_) - 1, k)
    lo, hi = ce_[gap] + 0.01, cw_[gap + 1] - 0.01
    lon[m] = lo + rng.random(k) * (hi - lo)
    lat[m] = rng.uniform(-60, 60, k)
    m = kinds == 2
    k = int(m.sum())
    ci = rng.integers(0, len(cw_), k)
    cs_, cn_ = np.array(c["south"]), np.array(c["north"])
    lon[m] = cw_[ci] + rng.random(k) * (ce_[ci] - cw_[ci])
    lat[m] = cs_[ci] + rng.random(k) * (cn_[ci] - cs_[ci])
    lon = np.floor(lon * 10000) / 10000 + 0.00005
    lat = np.floor(lat * 10000) / 10000 + 0.00005
    ids = sparse_ids(rng, n)
    ids = rng.permutation(ids)
    tbl = pa.table({"event_id": pa.array(ids, pa.int64()),
                    "elon": pa.array(lon, pa.float64()),
                    "elat": pa.array(lat, pa.float64())})
    # measured share of points inside the hot z8 cells
    px, py = z8_cell(lon, lat)
    hcx, hcy = z8_cell(hx, hy)
    in_hot = np.zeros(n, bool)
    for a, b in zip(hcx, hcy):
        in_hot |= (px == a) & (py == b)
    return tbl, float(in_hot.mean()), float((kinds == 1).mean())


def table_stats(docs):
    t = docs.column("text").to_pylist()
    ids = docs.column("doc_id").to_numpy()
    return {"docs": len(t), "distinct_texts": len(set(t)),
            "dup_text_share": round(1.0 - len(set(t)) / len(t), 6),
            "id_min": int(ids.min()), "id_max": int(ids.max())}


def generate(workload, seed, out):
    """Write the inputs of (workload, seed) into `out`; returns inputs.json."""
    rng = np.random.Generator(np.random.PCG64([seed, GEN_VERSION,
                                               sorted(SIZES).index(workload)]))
    size = SIZES[workload]
    info = {"workload": workload, "seed": seed, "version": GEN_VERSION}
    warm = os.path.join(out, "warm")
    if workload == "fwd_bulk":
        docs = docs_table(rng, random_texts(rng, size["docs"]))
        write_split(docs, os.path.join(out, "documents.parquet"))
        info.update(table_stats(docs))
        write_split(docs_table(rng, random_texts(rng, WARM_DOCS)),
                    os.path.join(warm, "documents.parquet"))
        write_batches(rng, out, size, docs.column("doc_id").to_numpy(), None)
    elif workload == "fwd_job":
        base = random_texts(rng, size["distinct_texts"])
        texts = [base[i] for i in rng.integers(0, len(base),
                                               len(base) * size["copies"])]
        docs = docs_table(rng, texts)
        write_split(docs, os.path.join(out, "documents.parquet"))
        info.update(table_stats(docs))
        write_split(docs_table(rng, texts[:WARM_DOCS]), os.path.join(warm, "documents.parquet"))
    elif workload == "rev_bulk":
        write_batches(rng, out, size, None, _reverse_inputs(rng, out, size, info))
    elif workload == "api_small":
        docs = docs_table(rng, random_texts(rng, size["docs"]))
        write_split(docs, os.path.join(out, "documents.parquet"), splits=1)
        info.update(table_stats(docs))
        ev = _reverse_inputs(rng, out, size, info)
        write_batches(rng, out, size, docs.column("doc_id").to_numpy(), ev)
    else:
        raise ValueError(f"unknown workload {workload}")
    if workload in ("fwd_bulk", "rev_bulk"):
        side_inputs(workload, seed, os.path.join(out, "side"))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def side_inputs(workload, seed, out):
    """The other bulk workload's inputs, small, from a separate stream."""
    rng = np.random.Generator(np.random.PCG64([seed, GEN_VERSION, 99,
                                               sorted(SIZES).index(workload)]))
    if workload == "fwd_bulk":
        write_batches(rng, out, SIDE, None, _reverse_inputs(rng, out, SIDE, {}))
    else:
        docs = docs_table(rng, random_texts(rng, SIDE["docs"]))
        write_split(docs, os.path.join(out, "documents.parquet"))
        write_batches(rng, out, SIDE, docs.column("doc_id").to_numpy(), None)


def write_batches(rng, out, size, doc_ids, event_ids):
    """batches.txt: the id sets of small API calls, one call per line."""
    with open(os.path.join(out, "batches.txt"), "w") as f:
        for kind, ids in (("fwd", doc_ids), ("rev", event_ids)):
            if ids is None:
                continue
            for _ in range(size[f"{kind}_batches"]):
                b = sorted(int(x) for x in rng.choice(ids, size[f"{kind}_batch"], replace=False))
                f.write(kind + " " + " ".join(map(str, b)) + "\n")


def _reverse_inputs(rng, out, size, info):
    os.makedirs(out, exist_ok=True)
    cont, country, place = features(rng, size["places"])
    pts, hot, open_ = points(rng, size["points"], cont, place)
    for name, t in (("continent", cont), ("country", country), ("place", place)):
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    write_split(pts, os.path.join(out, "points.parquet"))
    write_split(points(rng, WARM_POINTS, cont, place)[0],
                os.path.join(out, "warm", "points.parquet"))
    ids = pts.column("event_id").to_numpy()
    info.update({"points": pts.num_rows, "continents": cont.num_rows,
                 "countries": country.num_rows, "places": place.num_rows,
                 "hot_cell_share": round(hot, 6), "open_water_share": round(open_, 6),
                 "event_id_min": int(ids.min()), "event_id_max": int(ids.max())})
    return ids


def ensure(workload, seed, root):
    """Cached generation: returns (directory, inputs.json) for (workload, seed)."""
    key = hashlib.sha256(json.dumps([GEN_VERSION, SIZES[workload], WARM_DOCS,
                                     WARM_POINTS, SIDE]).encode()).hexdigest()[:10]
    out = os.path.join(root, f"{workload}-s{seed}-{key}")
    meta = os.path.join(out, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(workload, seed, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(meta) as f:
        return out, json.load(f)

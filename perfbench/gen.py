"""Seeded input generators for the workloads and the query probe.

Every generator is a pure function of (seed, size) and writes plain
files (PBF, Parquet) with numpy/pyarrow only. None of them calls into
``osm_read_enhanced_spark``: the program under test only ever sees the
generated files, and ``write_pbf`` returns the counts and checksums
that ``pbf_ingest`` checks against.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- protobuf


def _uvarints(v: np.ndarray) -> bytes:
    """Packed protobuf varint encoding of a uint64 array (vectorized)."""
    v = np.ascontiguousarray(v, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):
        nbytes += v >= np.uint64(1 << (7 * k))
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.empty(int(nbytes.sum()), dtype=np.uint8)
    for k in range(10):
        m = nbytes > k
        if not m.any():
            break
        byte = (v[m] >> np.uint64(7 * k)) & np.uint64(0x7F)
        byte |= np.where(nbytes[m] > k + 1, np.uint64(0x80), np.uint64(0))
        out[starts[m] + k] = byte.astype(np.uint8)
    return out.tobytes()


def _svarints(v: np.ndarray) -> bytes:
    v = np.asarray(v, dtype=np.int64)
    return _uvarints(((v << 1) ^ (v >> 63)).view(np.uint64))


def _delta(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64)
    return np.diff(v, prepend=np.int64(0))


def _varint(x: int) -> bytes:
    out = bytearray()
    while x > 0x7F:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


def _pyvarints(xs) -> bytes:
    return b"".join(_varint(int(x)) for x in xs)


def _pysvarints(xs) -> bytes:
    return _pyvarints((x << 1) ^ (x >> 63) for x in (int(v) for v in xs))


def _len_field(fno: int, payload: bytes) -> bytes:
    return _varint((fno << 3) | 2) + _varint(len(payload)) + payload


def _int_field(fno: int, x: int) -> bytes:
    return _varint(fno << 3) + _varint(x)


def _frame(block_type: str, payload: bytes) -> bytes:
    blob = _int_field(2, len(payload)) + _len_field(3, zlib.compress(payload, 6))
    header = _len_field(1, block_type.encode()) + _int_field(3, len(blob))
    return len(header).to_bytes(4, "big") + header + blob


# ---------------------------------------------------------------- pbf_ingest

NODES_PER_BLOCK = 8000
WAYS_PER_BLOCK = 400
REFS_PER_WAY = 10
RING_SHARE = 0.25  # closed landuse rings among a block's ways
LOOP_SHARE = 0.05  # closed but untagged-for-landuse (highway loops)
TAG_EVERY = 50  # every 50th node carries amenity/name tags
N_USERS = 64


def write_pbf(path: str, seed: int, n_blocks: int) -> dict:
    """Multi-block PBF shaped like ``fixtures.build_scale_pbf_fast``
    blocks (8k dense nodes with DenseInfo metadata and sparse tags, 400
    ways of 10 refs), except that a seeded share of ways are closed
    landuse rings whose nodes lie on a jittered circle, so way assembly
    yields real polygons. Returns the expected counts and checksums."""
    rng = np.random.default_rng(seed)
    n = NODES_PER_BLOCK
    tagged = np.arange(0, n, TAG_EVERY)
    exp = dict(nodes=0, ways=0, node_id_sum=0, way_id_sum=0, rings=0,
               ring_id_sum=0, ring_vertices=0, blocks=n_blocks)
    next_id, next_way, ts = 1, 1_000_000_000, 1_600_000_000
    with open(path, "wb") as f:
        header = (_len_field(4, b"OsmSchema-V0.6") + _len_field(4, b"DenseNodes")
                  + _len_field(16, b"perfbench"))
        f.write(_frame("OSMHeader", header))
        for b in range(n_blocks):
            strings = ["", "amenity", "cafe", "name", "highway", "residential",
                       "landuse", "forest", "meadow", "farmland"]
            strings += [f"user_{u}" for u in range(N_USERS)]
            user0 = len(strings) - N_USERS
            names0 = len(strings)
            strings += [f"poi_{b}_{int(i)}" for i in tagged]

            base_lat, base_lon = rng.uniform(-60, 60), rng.uniform(-170, 170)
            lats = base_lat + rng.normal(0, 0.01, n)
            lons = base_lon + rng.normal(0, 0.01, n)
            kind = rng.choice(3, WAYS_PER_BLOCK, p=[RING_SHARE, LOOP_SHARE,
                                                    1 - RING_SHARE - LOOP_SHARE])
            closed = kind < 2
            # closed ways: 9 distinct nodes on a jittered circle + the
            # first ref again, so the ring is simple and well-formed
            for w in np.flatnonzero(closed):
                k = REFS_PER_WAY - 1
                cy = base_lat + rng.normal(0, 0.01)
                cx = base_lon + rng.normal(0, 0.01)
                r = rng.uniform(0.0005, 0.003) * (1 + 0.3 * rng.uniform(-1, 1, k))
                a = np.sort(rng.uniform(0, 2 * np.pi, k))
                lats[w * 10 : w * 10 + k] = cy + r * np.sin(a)
                lons[w * 10 : w * 10 + k] = cx + r * np.cos(a)
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            lat_raw = np.rint(lats * 1e7).astype(np.int64)  # granularity 100
            lon_raw = np.rint(lons * 1e7).astype(np.int64)

            kv_len = np.ones(n, dtype=np.int64)
            kv_len[tagged] = 5
            off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(kv_len, out=off[1:])
            kv = np.zeros(int(off[-1]), dtype=np.int64)
            kv[off[tagged]] = 1
            kv[off[tagged] + 1] = 2
            kv[off[tagged] + 2] = 3
            kv[off[tagged] + 3] = names0 + np.arange(len(tagged))

            version = rng.integers(1, 6, n)
            stamps = ts + np.cumsum(rng.integers(0, 30, n))
            changeset = 5_000_000 + np.cumsum(rng.integers(0, 3, n))
            uid = rng.integers(0, N_USERS, n)
            info = (_len_field(1, _uvarints(version))
                    + _len_field(2, _svarints(_delta(stamps)))
                    + _len_field(3, _svarints(_delta(changeset)))
                    + _len_field(4, _svarints(_delta(uid + 1000)))
                    + _len_field(5, _svarints(_delta(uid + user0))))
            dense = (_len_field(1, _svarints(_delta(ids)))
                     + _len_field(5, info)
                     + _len_field(8, _svarints(_delta(lat_raw)))
                     + _len_field(9, _svarints(_delta(lon_raw)))
                     + _len_field(10, _uvarints(kv)))

            way_ids = np.arange(next_way, next_way + WAYS_PER_BLOCK, dtype=np.int64)
            landuse_val = 7 + rng.integers(0, 3, WAYS_PER_BLOCK)
            ways = []
            for w in range(WAYS_PER_BLOCK):
                refs = ids[w * 10 : w * 10 + REFS_PER_WAY].copy()
                if closed[w]:
                    refs[-1] = refs[0]
                keys, vals = ((6,), (int(landuse_val[w]),)) if kind[w] == 0 else ((4,), (5,))
                body = (_int_field(1, int(way_ids[w]))
                        + _len_field(2, _pyvarints(keys))
                        + _len_field(3, _pyvarints(vals))
                        + _len_field(8, _pysvarints(_delta(refs))))
                ways.append(_len_field(3, body))
            table = b"".join(_len_field(1, s.encode()) for s in strings)
            block = (_len_field(1, table)
                     + _len_field(2, _len_field(2, dense))
                     + _len_field(2, b"".join(ways)))
            f.write(_frame("OSMData", block))

            rings = way_ids[kind == 0]
            exp["nodes"] += n
            exp["ways"] += WAYS_PER_BLOCK
            exp["node_id_sum"] += int(ids.sum())
            exp["way_id_sum"] += int(way_ids.sum())
            exp["rings"] += len(rings)
            exp["ring_id_sum"] += int(rings.sum())
            exp["ring_vertices"] += len(rings) * (REFS_PER_WAY - 1)
            next_id += n
            next_way += WAYS_PER_BLOCK
            ts = int(stamps[-1])
    exp["elements"] = exp["nodes"] + exp["ways"]
    exp["bytes"] = os.path.getsize(path)
    return exp


# ---------------------------------------------------------------- geotag_enrich


def geotag_inputs(seed: int, n_images: int, n_rings: int):
    """Image+caption table with skewed geotags (dense urban clusters
    plus a uniform tail, as ``sources.images.geotag``) and a layer of
    irregular star-shaped rings, most of them over the clusters. All of
    it lies in the northern hemisphere, so a zoom-1 partitioning gives
    two partitions (west and east)."""
    rng = np.random.default_rng(seed)
    n_clusters = 8
    c_lat = rng.uniform(5, 60, n_clusters)
    c_lon = rng.uniform(-170, 170, n_clusters)
    c_sigma = np.geomspace(0.02, 0.2, n_clusters)  # same density mix for every seed
    in_cluster = rng.uniform(size=n_images) < 0.6
    which = rng.integers(0, n_clusters, n_images)
    lat = np.where(in_cluster, c_lat[which] + rng.normal(0, 1, n_images) * c_sigma[which],
                   rng.uniform(0.5, 70, n_images))
    lon = np.where(in_cluster, c_lon[which] + rng.normal(0, 1, n_images) * c_sigma[which],
                   rng.uniform(-179, 179, n_images))
    idx = np.arange(n_images)
    image_id = np.char.add("img_", np.char.zfill(idx.astype(str), 12))
    payload = rng.integers(0, 256, (n_images, 256), dtype=np.uint8)
    fmts = np.array(["ppm", "bmp", "png", "dct"])[idx % 4]
    captions = [f"image {i:012d} ({f}) near lat={a:.3f} lon={o:.3f}"
                for i, f, a, o in zip(idx, fmts, lat, lon)]
    images = pa.table({
        "image_id": pa.array(image_id.tolist(), pa.string()),
        "bytes": pa.array([r.tobytes() for r in payload], pa.binary()),
        "w": pa.array(np.full(n_images, 32, np.int32)),
        "h": pa.array(np.full(n_images, 32, np.int32)),
        "fmt": pa.array(fmts.tolist(), pa.string()),
        "caption": pa.array(captions, pa.string()),
        "lat": pa.array(lat),
        "lon": pa.array(lon),
    })

    near = rng.uniform(size=n_rings) < 0.8
    which = rng.integers(0, n_clusters, n_rings)
    r_lat = np.where(near, c_lat[which] + rng.normal(0, 1.5, n_rings) * c_sigma[which],
                     rng.uniform(4, 70, n_rings))
    r_lon = np.where(near, c_lon[which] + rng.normal(0, 1.5, n_rings) * c_sigma[which],
                     rng.uniform(-179, 179, n_rings))
    radius = np.where(near, rng.uniform(0.005, 0.05, n_rings), rng.uniform(0.5, 3, n_rings))
    ring_lats, ring_lons = [], []
    for cy, cx, r in zip(r_lat, r_lon, radius):
        k = int(rng.integers(8, 48))
        a = np.sort(rng.uniform(0, 2 * np.pi, k))
        rr = r * rng.uniform(0.4, 1.0, k)  # star-shaped, concave
        ring_lats.append(np.clip(cy + rr * np.sin(a), -85, 85))
        ring_lons.append(np.clip(cx + rr * np.cos(a), -180, 180))
    rings = pa.table({
        "polygon_id": pa.array(np.arange(1, n_rings + 1, dtype=np.int64)),
        "lats": pa.array([x.tolist() for x in ring_lats], pa.list_(pa.float64())),
        "lons": pa.array([x.tolist() for x in ring_lons], pa.list_(pa.float64())),
    })
    return images, rings


# ---------------------------------------------------------------- query probe

_WORDS = ("a the data spark table row column key value part hash join merge sort "
          "group agg window scan query line order customer small big fast slow "
          "batch stream vector").split()


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (seconds * 1e6).astype("timedelta64[us]"))


def write_tables(out_dir: str, seed: int, sf: float, tables) -> dict:
    """The named tables of a TPC-H-shaped star schema plus events and
    documents, with the column names, types and value ranges the query
    catalog expects. Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev, n_doc = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    i32, i64 = np.int32, np.int64
    days = lambda lo, hi, k: rng.integers(lo, hi, k) * 86400.0  # noqa: E731
    gens = {
        "region": lambda: {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": lambda: {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        },
        "customer": lambda: {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust).tolist(),
        },
        "orders": lambda: {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts("1995-01-01", days(0, 2400, n_ord)),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
        },
        "lineitem": lambda: {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _ts("1995-01-02", days(0, 2400, n_line)),
        },
        "events": lambda: {
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
            "user_id": rng.integers(0, max(150, n_ev // 67), n_ev).astype(i64),
            "event_type": rng.choice(["view", "click", "purchase", "signup",
                                      "error"], n_ev).tolist(),
            "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        },
        "documents": lambda: _documents(rng, n_doc),
    }
    rows = {}
    for name in tables:
        t = pa.table(gens[name]())
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def _documents(rng, n: int) -> dict:
    """Bag-of-words documents with ~5 % exact and ~5 % near duplicates,
    so the dedup and corpus queries have work to find."""
    words = np.array(_WORDS)
    texts = []
    for i in range(n):
        r = rng.uniform()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(20, 90)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "it"], n, p=[.44, .14, .14, .14, .14]).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

"""Deterministic input generators for the perfbench workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical files. Two families of inputs are written:

* the cartogram inputs (`write_cartogram`): a jittered n x n lattice of
  polygons as a GeoJSON FeatureCollection, plus a CSV attribute table
  with thousand-separator integers, mixed-case codes and duplicate keys;
* the `orders` table the lakehouse queries read (`write_orders`).
"""

import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Lattice geometry. Corner jitter and edge-vertex offsets are small
# enough that every cell stays a simple polygon, and every vertex is
# computed once and shared by all cells that touch it, so neighbours
# share their boundary exactly.
CORNER_JITTER = 0.15
EDGE_JITTER = 0.04
EDGE_VERTICES = 3  # interior vertices per cell edge
ISLAND_SHARE = 0.03  # keys that also own a small far-away polygon
CSV_DUP_SHARE = 0.05  # attribute rows repeated under another spelling


def queen_pairs(n):
    """Directed Queen-contiguity pairs of an n x n lattice."""
    return 8 * (n - 2) ** 2 + 20 * (n - 2) + 12


def region_code(i):
    return "RG%05d" % i


def _fmt(v):
    return "%.6f" % v


def _lattice(rng, n):
    corner = [[(i + rng.uniform(-CORNER_JITTER, CORNER_JITTER),
                j + rng.uniform(-CORNER_JITTER, CORNER_JITTER))
               for j in range(n + 1)] for i in range(n + 1)]

    def edge(a, b):
        # interior vertices from a to b, offset perpendicular to ab
        (ax, ay), (bx, by) = a, b
        dx, dy = bx - ax, by - ay
        pts = []
        for k in range(1, EDGE_VERTICES + 1):
            t = k / (EDGE_VERTICES + 1)
            off = rng.uniform(-EDGE_JITTER, EDGE_JITTER)
            pts.append((ax + t * dx - off * dy, ay + t * dy + off * dx))
        return pts

    # horizontal edges run (i, j) -> (i + 1, j); vertical (i, j) -> (i, j + 1)
    horiz = {(i, j): edge(corner[i][j], corner[i + 1][j])
             for j in range(n + 1) for i in range(n)}
    vert = {(i, j): edge(corner[i][j], corner[i][j + 1])
            for i in range(n + 1) for j in range(n)}
    cells = []
    for j in range(n):
        for i in range(n):
            ring = [corner[i][j]] + horiz[(i, j)] + [corner[i + 1][j]]
            ring += vert[(i + 1, j)] + [corner[i + 1][j + 1]]
            ring += list(reversed(horiz[(i, j + 1)])) + [corner[i][j + 1]]
            ring += list(reversed(vert[(i, j)])) + [corner[i][j]]
            cells.append(ring)
    return cells


def _feature(code, ring):
    coords = ",".join("[%s,%s]" % (_fmt(x), _fmt(y)) for x, y in ring)
    return ('{"type":"Feature","properties":{"ISO_CODE":%s},'
            '"geometry":{"type":"Polygon","coordinates":[[%s]]}}'
            % (json.dumps(code), coords))


def write_cartogram(seed, n, geojson_path, csv_path):
    """Write the lattice GeoJSON and its attribute CSV; return sizes."""
    rng = random.Random(seed)
    cells = _lattice(rng, n)
    feats = [_feature(region_code(k), ring) for k, ring in enumerate(cells)]
    # duplicate keys in the geometry: a small square far off the
    # lattice, which dedup-by-largest-area must drop
    islands = sorted(rng.sample(range(n * n), int(ISLAND_SHARE * n * n)))
    for m, k in enumerate(islands):
        x, y = n + 5 + 2 * (m % 20), 2 * (m // 20)
        feats.append(_feature(region_code(k), [(x, y), (x + 0.1, y), (x + 0.1, y + 0.1),
                                               (x, y + 0.1), (x, y)]))
    with open(geojson_path, "w", encoding="utf-8", newline="\n") as f:
        f.write('{"type":"FeatureCollection","features":[\n')
        f.write(",\n".join(feats))
        f.write("\n]}\n")

    rows = []
    for k in range(n * n):
        pop = rng.randint(10_000, 50_000_000)
        code = "".join(c.lower() if rng.random() < 0.5 else c for c in region_code(k))
        rows.append((code, "Region %d" % k, "{:,}".format(pop)))
    for k in sorted(rng.sample(range(n * n), int(CSV_DUP_SHARE * n * n))):
        code, name, pop = rows[k]
        rows.append((" " + code.swapcase() + " ", name, pop))
    rows.append(("zz99999", "Unmatched", "1,000"))  # no geometry: merge drops it
    with open(csv_path, "w", encoding="utf-8", newline="\n") as f:
        f.write("code,name,population\n")
        for code, name, pop in rows:
            f.write('%s,%s,"%s"\n' % (code, name, pop))
    return {"regions": n * n, "vertices_per_region": 4 * (EDGE_VERTICES + 1),
            "features": len(feats), "csv_rows": len(rows),
            "queen_pairs": queen_pairs(n)}


STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def write_orders(seed, rows, customers, path):
    """Write an `orders` parquet table in the schema of the repository's
    TPC-H-like test tables; return its row count."""
    rs = np.random.RandomState(seed)
    day0 = np.datetime64("1995-01-01", "us")
    days = rs.randint(0, 2404, size=rows).astype("timedelta64[D]").astype("timedelta64[us]")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(rows, dtype=np.int64)),
        "o_custkey": pa.array(rs.randint(0, customers, size=rows).astype(np.int64)),
        "o_orderstatus": pa.array(STATUS[rs.randint(0, 3, size=rows)]),
        "o_totalprice": pa.array(np.round(rs.uniform(1000.0, 500000.0, size=rows), 2)),
        "o_orderdate": pa.array(day0 + days, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITY[rs.randint(0, 5, size=rows)]),
    }), path, compression="snappy")
    return rows

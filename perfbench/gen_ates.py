"""Seeded ATES corpus generator for the benchmark.

Writes one ``<table>.parquet`` per ATES source table, in the column layout
of ``database2ogr_spark.schemas.ATES_SCHEMAS`` (GeoJSON geometry strings in
``geom_json``), plus ``expected.json`` with the row counts each export must
produce. It depends on numpy and DuckDB only, never on the program under
test, so the expected counts are an independent oracle.

Shape of the corpus:

- ``AREAS`` areas whose sizes are lognormal quantiles (median ``MEDIAN``
  features, sigma 1.7), shuffled over the area ids by the seed, so the
  largest area is more than 100x the median and the total row count is the
  same for every seed;
- every decision point gets 0-3 warnings of each type; one with none drops
  out of the exports' inner join, and ``expected.json`` accounts for that;
- polygons have 20-120 vertices and about a fifth of them have a hole;
- rows are written sorted by ``area_id`` (by ``decision_point_id`` for the
  warnings) in row groups of ``ROW_GROUP_ROWS`` rows, so that a reader can
  skip the rows of other areas, as with an indexed PostGIS table.

The same seed gives the same bytes: all randomness comes from one numpy
generator and DuckDB writes with a single thread.

Usage: ``python3 perfbench/gen_ates.py --seed 1 --out DIR``
"""

from __future__ import annotations

import argparse
import json
import math
import os
from statistics import NormalDist

import duckdb
import numpy as np
import pyarrow as pa

TABLE_ORDER = (
    "areas_vw",
    "points_of_interest",
    "access_roads",
    "avalanche_paths",
    "decision_points",
    "zones",
)
POI_TYPES = ("Other", "Parking", "Rescue Cache", "Cabin", "Destination", "Lake", "Mountain")
WARNING_TYPES = ("Managing risk", "Concern")
#: share of an area's features per child table (zones take the remainder)
SHARES = {"points_of_interest": 0.15, "access_roads": 0.10, "avalanche_paths": 0.30, "decision_points": 0.25}
AREAS = 200
MEDIAN = 20
SIGMA = 1.7
#: each area owns a CELL x CELL degree cell on a grid of GRID_W columns
CELL = 0.5
GRID_W = 40
#: decision points sit on a lattice of this pitch so that their coordinates
#: are unique across the corpus (warnify groups by coordinates)
DP_PITCH = 0.0005
DP_COLS = int(CELL / DP_PITCH) - 2


def area_sizes(n_areas: int, median: int, rng: np.random.Generator) -> np.ndarray:
    """Lognormal quantiles, shuffled: seed-independent multiset of sizes."""
    nd = NormalDist()
    q = np.array([nd.inv_cdf((i + 0.5) / n_areas) for i in range(n_areas)])
    sizes = np.maximum(1, np.rint(median * np.exp(SIGMA * q))).astype(np.int64)
    return rng.permutation(sizes)


def _coords(xs: np.ndarray, ys: np.ndarray) -> str:
    """``[x,y],[x,y],...`` with six decimals, one format call per geometry."""
    flat = np.empty(2 * len(xs))
    flat[0::2], flat[1::2] = xs, ys
    return ",".join(["[%.6f,%.6f]"] * len(xs)) % tuple(flat.tolist())


def _ring(cx: float, cy: float, r: float, n: int, rng: np.random.Generator) -> str:
    """Closed ring of ``n`` distinct vertices (``n + 1`` positions)."""
    ang = np.sort(rng.uniform(0.0, 2.0 * math.pi, n))
    rad = r * rng.uniform(0.7, 1.0, n)
    xs, ys = cx + rad * np.cos(ang), cy + rad * np.sin(ang)
    return "[" + _coords(np.append(xs, xs[0]), np.append(ys, ys[0])) + "]"


def _polygon(cx: float, cy: float, r: float, rng: np.random.Generator, hole_p: float) -> str:
    n = int(rng.integers(20, 121))
    rings = [_ring(cx, cy, r, n, rng)]
    if rng.random() < hole_p:
        rings.append(_ring(cx, cy, 0.3 * r, int(rng.integers(20, 41)), rng))
    return '{"type":"Polygon","coordinates":[' + ",".join(rings) + "]}"


def _line(x0: float, y0: float, n: int, rng: np.random.Generator) -> str:
    steps = rng.normal(0.0, 0.004, (n, 2)).cumsum(axis=0)
    return '{"type":"LineString","coordinates":[' + _coords(x0 + steps[:, 0], y0 + steps[:, 1]) + "]}"


def _point(x: float, y: float) -> str:
    return '{"type":"Point","coordinates":[%.6f,%.6f]}' % (x, y)


def _text(rng: np.random.Generator, stem: str, i: int) -> str | None:
    """Free text with the characters the sinks must escape now and then."""
    u = rng.random()
    if u < 0.1:
        return None
    if u < 0.15:
        return f"{stem} {i} & <b>bold</b> ]]> tail"
    return f"{stem} {i} " + "x" * int(rng.integers(0, 40))


def generate(seed: int, n_areas: int = AREAS, median: int = MEDIAN) -> tuple[dict[str, dict[str, list]], dict]:
    rng = np.random.default_rng(seed)
    sizes = area_sizes(n_areas, median, rng)
    tabs: dict[str, dict[str, list]] = {
        t: {} for t in (*TABLE_ORDER, "decision_points_warnings")
    }

    def add(table: str, **cols) -> None:
        for k, v in cols.items():
            tabs[table].setdefault(k, []).append(v)

    expected: dict[str, dict[str, int]] = {}
    next_id = {t: 1 for t in tabs}
    for a in range(n_areas):
        area_id = a + 1
        x0 = -139.0 + (a % GRID_W) * CELL
        y0 = 48.0 + (a // GRID_W) * CELL
        cx, cy = x0 + CELL / 2, y0 + CELL / 2
        s = int(sizes[a])
        counts = {t: int(round(sh * s)) for t, sh in SHARES.items()}
        counts["zones"] = max(0, s - sum(counts.values()))
        add("areas_vw", id=area_id, name=f"Area {area_id}",
            geom_json=_polygon(cx, cy, 0.45 * CELL, rng, 0.2))

        def jitter() -> tuple[float, float]:
            return x0 + rng.uniform(0.02, CELL - 0.02), y0 + rng.uniform(0.02, CELL - 0.02)

        for _ in range(counts["points_of_interest"]):
            i = next_id["points_of_interest"]
            next_id["points_of_interest"] += 1
            add("points_of_interest", id=i, area_id=area_id, name=f"POI {i}",
                type=POI_TYPES[int(rng.integers(0, len(POI_TYPES)))],
                comments=_text(rng, "poi", i), geom_json=_point(*jitter()))
        for table, stem in (("access_roads", "road"), ("avalanche_paths", "path")):
            for _ in range(counts[table]):
                i = next_id[table]
                next_id[table] += 1
                geom = _line(*jitter(), int(rng.integers(5, 61)), rng)
                if table == "access_roads":
                    add(table, id=i, area_id=area_id, description=_text(rng, stem, i), geom_json=geom)
                else:
                    add(table, id=i, area_id=area_id, name=_text(rng, stem, i), geom_json=geom)
        kept = 0
        for k in range(counts["decision_points"]):
            i = next_id["decision_points"]
            next_id["decision_points"] += 1
            px = x0 + DP_PITCH * (1 + k % DP_COLS)
            py = y0 + DP_PITCH * (1 + k // DP_COLS)
            add("decision_points", id=i, name=f"DP {i}", area_id=area_id,
                comments=_text(rng, "dp", i), geom_json=_point(px, py))
            n_warn = 0
            for wtype in WARNING_TYPES:
                for w in range(int(rng.integers(0, 4))):
                    add("decision_points_warnings", decision_point_id=i,
                        warning=f"{wtype} {i}.{w}", type=wtype)
                    n_warn += 1
            kept += n_warn > 0
        for _ in range(counts["zones"]):
            i = next_id["zones"]
            next_id["zones"] += 1
            zx, zy = jitter()
            add("zones", id=i, area_id=area_id, class_code=int(rng.integers(1, 4)),
                comments=_text(rng, "zone", i),
                geom_json=_polygon(zx, zy, rng.uniform(0.005, 0.02), rng, 0.2))
        expected[str(area_id)] = {
            "areas_vw": 1,
            "points_of_interest": counts["points_of_interest"],
            "access_roads": counts["access_roads"],
            "avalanche_paths": counts["avalanche_paths"],
            "decision_points": kept,
            "zones": counts["zones"],
        }
    totals = {t: sum(e[t] for e in expected.values()) for t in TABLE_ORDER}
    meta = {
        "seed": seed,
        "areas": n_areas,
        "median_area_features": int(np.median(sizes)),
        "largest_area_features": int(sizes.max()),
        "per_area": expected,
        "totals": totals,
    }
    return tabs, meta


#: rows per parquet row group, the smallest DuckDB writes: the row-group
#: statistics of the area-sorted files let a reader skip the groups that
#: hold no row of an area, as an index on area_id would
ROW_GROUP_ROWS = 2048
#: parquet column types matching schemas.ATES_SCHEMAS
_INT_COLS = {"id", "area_id", "class_code", "decision_point_id"}


def write(tabs: dict[str, dict[str, list]], meta: dict, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for table, cols in tabs.items():
        arrays = {
            k: pa.array(v, type=pa.int32() if k in _INT_COLS else pa.string())
            for k, v in cols.items()
        }
        con.register("rel", pa.table(arrays))
        key = {"areas_vw": "id", "decision_points_warnings": "decision_point_id, type, warning"
               }.get(table, "area_id, id")  # unique keys: a total order
        path = os.path.join(out, f"{table}.parquet")
        con.execute(
            f"COPY (SELECT * FROM rel ORDER BY {key}) TO '{path}' "
            f"(FORMAT PARQUET, COMPRESSION SNAPPY, ROW_GROUP_SIZE {ROW_GROUP_ROWS})"
        )
        con.unregister("rel")
    con.close()
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    tabs, meta = generate(a.seed)
    write(tabs, meta, a.out)


if __name__ == "__main__":
    main()

"""Seeded input generators, one per workload.

Each generator writes only files the engine then reads, and returns a small
description of what it planted for the output checks.  The same seed gives
byte-identical files; a different seed gives different files.
"""

from __future__ import annotations

import math
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# Same constant as the engine's functions/geodesy.py; the check recomputes
# lengths independently of Spark with it.
EARTH_RADIUS_M = 6371008.8

# ---------------------------------------------------------------------------
# survey: one KMZ of pipeline LineStrings
# ---------------------------------------------------------------------------

# Lines per group (one grid cell each): isolated lines and bundles of 2-5.
# The multiset and the spread of lengths are fixed, so every seed asks for
# the same amount of work; the seed picks the layout and the shapes.
SURVEY_SIZE = {
    "group_lines": [1, 1, 1, 2, 3, 4, 5, 2, 3],  # 9 groups, 22 lines
    "length_m": (800.0, 1600.0),
    "vertex_step_m": 50.0,
}
# Bundle spacing: adjacent lines inside the 15 m detection range, lines two
# apart at least 1.8 m outside it even at the steepest wobble (see below).
_SPACING_M = (9.0, 12.5)
_MAX_WOBBLE_SLOPE = 0.15      # rad; cos(0.15) * 2 * 9 m = 17.8 m >= 16.8 m
_ORIGIN = (-103.5, 31.5)      # lon, lat of the first cell (Delaware basin)
_CELL_DEG = 0.1               # >= 9.5 km between cells, lines are <= 1.6 km
_ATTR_FIELDS = [
    ("OBJECTID", "int"), ("DIAMETER", "double"), ("COMMODITY1", "string"),
    ("COUNTY", "string"), ("STATE", "string"), ("GIS_MILES", "double"),
]
_COMMODITIES = ["NG", "NGL", "CRD", "PRD", "HVL"]
_COUNTIES = ["REEVES", "LOVING", "WARD", "PECOS", "CULBERSON"]


@dataclass
class SurveyCorpus:
    kmz: Path
    names: list[str] = field(default_factory=list)
    # vertices[i] is the (lon, lat) array exactly as written to the KML text
    vertices: list[np.ndarray] = field(default_factory=list)
    planted_pairs: set[frozenset[str]] = field(default_factory=set)
    bytes: int = 0


def haversine_np(lat1, lon1, lat2, lon2):
    """Same formula as the engine's ``haversine_m`` column expression."""
    dlat = np.radians(lat2) - np.radians(lat1)
    dlon = np.radians(lon2) - np.radians(lon1)
    a = (np.sin(dlat / 2) ** 2
         + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2))
         * np.sin(dlon / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def polyline_length_m(v: np.ndarray) -> float:
    return float(haversine_np(v[:-1, 1], v[:-1, 0], v[1:, 1], v[1:, 0]).sum())


def _centerline(rng: np.random.Generator,
                length: float) -> tuple[np.ndarray, tuple]:
    """Local (x east, y north) metres: a straight run at a random heading
    with a sinusoidal wobble, one vertex every ~50 m."""
    step = SURVEY_SIZE["vertex_step_m"]
    t = np.arange(0.0, length + step / 2, step)
    t[1:-1] += rng.uniform(-0.2, 0.2, len(t) - 2) * step
    wavelength = rng.uniform(400.0, 1500.0)
    amp = rng.uniform(0.0, _MAX_WOBBLE_SLOPE * wavelength / (2 * math.pi))
    phase = rng.uniform(0.0, 2 * math.pi)
    lateral = amp * np.sin(2 * math.pi * t / wavelength + phase)
    heading = rng.uniform(0.0, 2 * math.pi)
    ux, uy = math.sin(heading), math.cos(heading)  # along-track unit vector
    nx, ny = uy, -ux                                # perpendicular
    x = t * ux + lateral * nx - length / 2 * ux
    y = t * uy + lateral * ny - length / 2 * uy
    return np.stack([x, y], axis=1), (nx, ny)


def _to_lonlat(xy: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    lat = lat0 + np.degrees(xy[:, 1] / EARTH_RADIUS_M)
    lon = lon0 + np.degrees(
        xy[:, 0] / (EARTH_RADIUS_M * math.cos(math.radians(lat0))))
    # round to the digits written to the KML so the check reads the same
    # numbers the parser does
    return np.round(np.stack([lon, lat], axis=1), 9)


def _placemark(name: str, oid: int, v: np.ndarray,
               rng: np.random.Generator) -> str:
    length_mi = polyline_length_m(v) / 1609.347218694
    values = [
        str(oid), f"{rng.choice([4.5, 6.625, 8.625, 12.75, 16.0])}",
        str(rng.choice(_COMMODITIES)), str(rng.choice(_COUNTIES)), "TX",
        f"{length_mi:.4f}",
    ]
    data = "".join(
        f'<SimpleData name="{f}">{val}</SimpleData>'
        for (f, _), val in zip(_ATTR_FIELDS, values)
    )
    coords = " ".join(f"{lon:.9f},{lat:.9f},0" for lon, lat in v)
    return (
        f"<Placemark><name>{name}</name>"
        f'<ExtendedData><SchemaData schemaUrl="#pipelines">{data}'
        f"</SchemaData></ExtendedData>"
        f"<LineString><coordinates>{coords}</coordinates></LineString>"
        f"</Placemark>\n"
    )


def make_survey(seed: int, out_dir: Path) -> SurveyCorpus:
    rng = np.random.default_rng([seed, 1])
    out_dir.mkdir(parents=True, exist_ok=True)
    corpus = SurveyCorpus(kmz=out_dir / "corpus.kmz")
    group_lines = rng.permutation(SURVEY_SIZE["group_lines"])
    groups = len(group_lines)
    lengths = rng.permutation(np.linspace(*SURVEY_SIZE["length_m"], groups))
    side = math.ceil(math.sqrt(groups))
    placemarks = []
    for g, n_lines in enumerate(group_lines):
        lon0 = _ORIGIN[0] + (g % side) * _CELL_DEG
        lat0 = _ORIGIN[1] + (g // side) * _CELL_DEG
        spacing = rng.uniform(*_SPACING_M)
        center, (nx, ny) = _centerline(rng, lengths[g])
        names = []
        for j in range(n_lines):
            # translated copies: arc lengths, bearings and segment indices
            # line up, so separation is exactly j * spacing across-track
            off = (j - (n_lines - 1) / 2) * spacing
            v = _to_lonlat(center + np.array([nx * off, ny * off]), lon0, lat0)
            name = f"PL-{len(corpus.names):05d}"
            placemarks.append(_placemark(name, len(corpus.names) + 1, v, rng))
            corpus.names.append(name)
            corpus.vertices.append(v)
            names.append(name)
        for a, b in zip(names, names[1:]):
            corpus.planted_pairs.add(frozenset((a, b)))
    schema = "".join(
        f'<SimpleField type="{t}" name="{f}"/>' for f, t in _ATTR_FIELDS)
    kml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        f"<name>corpus-{seed}</name>"
        f'<Schema name="pipelines" id="pipelines">{schema}</Schema>\n'
        + "".join(placemarks)
        + "</Document></kml>\n"
    )
    # fixed timestamp: same seed, byte-identical archive
    info = zipfile.ZipInfo("doc.kml", date_time=(1980, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(corpus.kmz, "w") as z:
        z.writestr(info, kml.encode())
    corpus.bytes = corpus.kmz.stat().st_size
    return corpus


# ---------------------------------------------------------------------------
# star: TPC-H-shaped parquet tables (FIXTURES.md section A schemas)
# ---------------------------------------------------------------------------

STAR_SIZE = {  # the row counts of the sf0.01 tables
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def make_star(seed: int, out_dir: Path) -> Path:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    out_dir.mkdir(parents=True, exist_ok=True)
    n = STAR_SIZE
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    parts = np.arange(n["part"])
    retail = np.round(900.0 + (parts % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(parts, i64),
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                   for _ in parts],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": retail,
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
    })
    nl = n["lineitem"]
    partkey = rng.integers(0, n["part"], nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey]
                                    * rng.uniform(0.98, 2.2, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(40.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    for name in STAR_TABLES:
        pq.write_table(tables[name], out_dir / f"{name}.parquet")
    return out_dir

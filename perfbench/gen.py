"""Seeded inputs for the pipeline benchmark, with their answers.

Geometry (lon = x, lat = y; every cell an axis-aligned square, so
point-in-polygon answers are known by construction):

- 27 UFs laid out 9 x 3, each a 3-degree block of 3 x 3 one-degree
  municipality cells (243 municipalities). One municipality has
  ``area_km2 = 0`` (the density-null case).
- Six biome bands, each a run of whole UF columns, padded half a
  degree past the grid so KNN-edge points still fall inside a biome.
- 50 UC and 50 TI squares (0.2 degrees) inside distinct cells.

Daily CSVs are named ``focos_diario_br_YYYYMMDD.csv`` (the landing
naming ``cli.discover_landing_files`` reads) and carry the dirty cases
of FIXTURES.md section 1: decimal commas, ``nan``, empty and
out-of-range coordinates, empty timestamps, spillover to the previous
day, exact duplicates, rows repeated from the previous day's file,
points just outside the grid that the 2 km KNN fallback attributes,
and points no municipality is near.

The generator counts what the pipeline must produce: the transform
hashes ``(file_date, lat, lon, view_ts, satelite)``, so an exact
duplicate inside one file collapses to one row, while a row repeated
from the previous day's file is a new event. Every surviving row is
counted under its event day (timestamp date, else file date), its UF,
municipality and biome.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

UFS = (
    "AC AL AM AP BA CE DF ES GO MA MG MS MT PA PB PE "
    "PI PR RJ RN RO RR RS SC SE SP TO"
).split()
LON0, LAT0 = -72.0, -25.0
UF_COLS, UF_SIZE, MUN_PER_SIDE = 9, 3.0, 3
BIOMES = (  # (code, name, first UF column, last UF column)
    ("BIO1", "Amazonia", 0, 1),
    ("BIO2", "Cerrado", 2, 3),
    ("BIO3", "Caatinga", 4, 5),
    ("BIO4", "Mata Atlantica", 6, 6),
    ("BIO5", "Pantanal", 7, 7),
    ("BIO6", "Pampa", 8, 8),
)
SATELLITES = ("AQUA_M-T", "NOAA-20", "NPP-375", "GOES-16", "TERRA_M-T")
HEADER = [
    "Lat", "Lon", "Data_Hora_GMT", "Satelite", "Municipio", "Estado",
    "Bioma", "FRP",
]
BIOME_NAME = {code: name for code, name, _lo, _hi in BIOMES}
ZERO_AREA_MUN = "1100008"  # last cell of the first UF
UNATTRIBUTED = (None, None, None)  # (uf, cd_mun, biome code)

# share of a day's rows per dirty case
P_SPILLOVER = 0.03
P_EMPTY_TS = 0.02
P_DECIMAL_COMMA = 0.10
P_DUPLICATE = 0.01
P_REPEAT_PREV = 0.01
P_KNN_EDGE = 0.005
P_FAR = 0.003
P_BAD_COORD = 0.01
P_NO_BIOME_LABEL = 0.02  # INPE's own Bioma column left empty


@dataclass(frozen=True)
class Mun:
    cd: str
    name: str
    uf: str
    biome: str  # biome code
    x0: float
    y0: float
    area_km2: float


def _biome_of_col(col: int) -> str:
    return next(code for code, _n, lo, hi in BIOMES if lo <= col <= hi)


def municipalities() -> list[Mun]:
    out = []
    for u, uf in enumerate(UFS):
        col, row = u % UF_COLS, u // UF_COLS
        for k in range(MUN_PER_SIDE * MUN_PER_SIDE):
            i, j = k % MUN_PER_SIDE, k // MUN_PER_SIDE
            cd = f"{11 + u}{k + 1:05d}"
            area = 0.0 if cd == ZERO_AREA_MUN else 900.0 + 37.0 * ((u * 9 + k) % 23)
            out.append(
                Mun(
                    cd, f"Municipio {cd}", uf, _biome_of_col(col),
                    LON0 + col * UF_SIZE + i, LAT0 + row * UF_SIZE + j, area,
                )
            )
    return out


def _square(x0: float, y0: float, w: float) -> list[tuple[float, float]]:
    return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w), (x0, y0)]


def write_dims(dims_dir: Path, seed: int) -> None:
    """GeoJSON dims in the layout ``cli.load_dims`` reads."""
    from inpe_queimadas_etl_spark.operators.geo import make_polygon
    from inpe_queimadas_etl_spark.sources.geojson_source import write_geojson

    dims_dir.mkdir(parents=True, exist_ok=True)
    muns = municipalities()
    write_geojson(
        str(dims_dir / "municipios.geojson"),
        [
            make_polygon(
                m.cd, _square(m.x0, m.y0, 1.0), nm_mun=m.name, uf=m.uf,
                area_km2=m.area_km2,
            )
            for m in muns
        ],
        id_field="cd_mun",
    )
    lat_lo, lat_hi = LAT0 - 0.5, LAT0 + 3 * UF_SIZE + 0.5
    biomes = []
    for code, name, lo, hi in BIOMES:
        x0 = LON0 + lo * UF_SIZE - (0.5 if lo == 0 else 0.0)
        x1 = LON0 + (hi + 1) * UF_SIZE + (0.5 if hi == UF_COLS - 1 else 0.0)
        ring = [(x0, lat_lo), (x1, lat_lo), (x1, lat_hi), (x0, lat_hi), (x0, lat_lo)]
        biomes.append(make_polygon(code, ring, bioma=name))
    write_geojson(str(dims_dir / "biomas.geojson"), biomes, id_field="cd_bioma")
    cells = random.Random(seed).sample(muns, 100)
    ucs = [
        make_polygon(f"UC{n:03d}", _square(m.x0 + 0.1, m.y0 + 0.1, 0.2), nome_uc=f"Unidade {n}")
        for n, m in enumerate(cells[:50])
    ]
    tis = [
        make_polygon(f"TI{n:03d}", _square(m.x0 + 0.6, m.y0 + 0.6, 0.2), terrai_nom=f"Terra {n}")
        for n, m in enumerate(cells[50:])
    ]
    write_geojson(str(dims_dir / "ucs.geojson"), ucs, id_field="cd_cnuc")
    write_geojson(str(dims_dir / "tis.geojson"), tis, id_field="terrai_cod")


def landing_name(day: dt.date) -> str:
    return f"focos_diario_br_{day:%Y%m%d}.csv"


@dataclass
class Landing:
    """Landed files plus the counts the pipeline must reproduce.
    ``counts`` maps (event_day, uf, cd_mun, biome code) to rows; the
    unattributable points count under (day, None, None, None).
    ``points`` holds every surviving row as (event_day, lon, lat, uf,
    biome code, INPE's own biome label), so a points answer can be
    checked row for row."""

    days: list[dt.date]
    counts: dict[dt.date, Counter] = field(default_factory=dict)  # by file day
    csv_bytes: dict[dt.date, int] = field(default_factory=dict)
    points: dict[dt.date, list[tuple]] = field(default_factory=dict)  # by file day

    def expected(self, file_days) -> Counter:
        total: Counter = Counter()
        for d in file_days:
            total.update(self.counts[d])
        return total


def _fmt(v: float, comma: bool) -> str:
    s = f"{v:.5f}"
    return s.replace(".", ",") if comma else s


def _ts(day: dt.date, rnd: random.Random) -> str:
    return f"{day} {rnd.randrange(24):02d}:{rnd.randrange(60):02d}:{rnd.randrange(60):02d}"


def _coord(s: str) -> float:
    return float(s.replace(",", "."))


def write_landing(
    landing_dir: Path, start: dt.date, rows_per_day: list[int], seed: int
) -> Landing:
    """Write one daily CSV per entry of ``rows_per_day``, from
    ``start``; each holds about that many rows before the dirty
    extras."""
    import csv

    landing_dir.mkdir(parents=True, exist_ok=True)
    rnd = random.Random(seed * 7919 + 17)
    muns = municipalities()
    uf_weight = {uf: rnd.lognormvariate(0.0, 0.8) for uf in UFS}
    weights = [uf_weight[m.uf] * rnd.uniform(0.5, 1.5) for m in muns]
    # border cells for KNN-edge points: west edge of column 0 and
    # south edge of row 0, each paired with the cell it must snap to
    west = [m for m in muns if m.x0 == LON0]
    south = [m for m in muns if m.y0 == LAT0]
    land = Landing(days=[start + dt.timedelta(days=i) for i in range(len(rows_per_day))])
    prev_rows: list[tuple[list[str], tuple]] = []
    for day, n_rows in zip(land.days, rows_per_day):
        rows: list[tuple[list[str], tuple]] = []  # (csv row, answer or None)
        picks = rnd.choices(muns, weights=weights, k=n_rows)
        for m in picks:
            r = rnd.random()
            if r < P_KNN_EDGE:
                # ~0.5 km outside the grid, mid-edge: the 2 km KNN
                # fallback snaps it to exactly this border cell
                if rnd.random() < 0.5:
                    m = rnd.choice(west)
                    lon, lat = m.x0 - 0.005, m.y0 + rnd.uniform(0.2, 0.8)
                else:
                    m = rnd.choice(south)
                    lon, lat = m.x0 + rnd.uniform(0.2, 0.8), m.y0 - 0.005
                answer = (m.uf, m.cd, m.biome)
                uf_s, mun_s, bio_s = "", "", BIOME_NAME[m.biome]
            elif r < P_KNN_EDGE + P_FAR:
                lon, lat = rnd.uniform(-32.0, -28.0), rnd.uniform(-10.0, -6.0)
                answer, uf_s, mun_s, bio_s = UNATTRIBUTED, "", "", ""
            else:
                lon = m.x0 + rnd.uniform(0.01, 0.99)
                lat = m.y0 + rnd.uniform(0.01, 0.99)
                answer, uf_s, mun_s = (m.uf, m.cd, m.biome), m.uf, m.name
                bio_s = "" if rnd.random() < P_NO_BIOME_LABEL else BIOME_NAME[m.biome]
            comma = rnd.random() < P_DECIMAL_COMMA
            t = rnd.random()
            if t < P_SPILLOVER:
                ts = _ts(day - dt.timedelta(days=1), rnd)
            elif t < P_SPILLOVER + P_EMPTY_TS:
                ts = ""
            else:
                ts = _ts(day, rnd)
            row = [
                _fmt(lat, comma), _fmt(lon, comma), ts, rnd.choice(SATELLITES),
                mun_s, uf_s, bio_s, f"{rnd.uniform(0.5, 90.0):.1f}",
            ]
            if rnd.random() < P_BAD_COORD:
                kind = rnd.randrange(3)
                if kind == 0:
                    row[0] = "nan"
                elif kind == 1:
                    row[1] = ""
                else:
                    row[0] = "95.5"
                answer = None
            rows.append((row, answer))
        extras = []
        for row, answer in rows:
            if rnd.random() < P_DUPLICATE:
                extras.append((list(row), None))  # same hash: collapses
        if prev_rows:
            for row, answer in rnd.sample(prev_rows, int(P_REPEAT_PREV * len(prev_rows))):
                extras.append((list(row), answer))  # new file date: new event
        for item in extras:
            rows.insert(rnd.randrange(len(rows) + 1), item)

        counts: Counter = Counter()
        points = []
        for row, answer in rows:
            if answer is None:
                continue
            event_day = dt.date.fromisoformat(row[2][:10]) if row[2] else day
            counts[(event_day, *answer)] += 1
            points.append((event_day, _coord(row[1]), _coord(row[0]), answer[0], answer[2], row[6]))
        path = landing_dir / landing_name(day)
        with open(path, "w", encoding="utf-8", newline="") as fh:
            w = csv.writer(fh, delimiter=";", lineterminator="\n")
            w.writerow(HEADER)
            w.writerows(row for row, _a in rows)
        land.counts[day] = counts
        land.points[day] = points
        land.csv_bytes[day] = path.stat().st_size
        prev_rows = [(row, a) for row, a in rows if a is not None]
    return land

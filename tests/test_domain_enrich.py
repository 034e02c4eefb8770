"""Enrichment (J2/J3/J4) attribution tests — answers knowable by
construction of the grid fixtures."""

from __future__ import annotations

import datetime as dt

import pytest

from inpe_queimadas_etl_spark.enrich import enrich
from inpe_queimadas_etl_spark.sources.csv_ingest import (
    read_csv_all_string,
    write_fixture_csv,
)
from inpe_queimadas_etl_spark.transform import curated_from_raw

from . import fixtures_geo as G

FILE_DATE = dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def enriched(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "focos.csv")
    write_fixture_csv(path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    curated = curated_from_raw(read_csv_all_string(spark, path), FILE_DATE)
    return enrich(
        curated, G.municipios(), G.biomas(), G.ucs(), G.tis()
    ).cache()


def _one(enriched, lat, lon):
    rows = enriched.filter(f"lat = {lat} and lon = {lon}").collect()
    assert len(rows) == 1
    return rows[0]


def test_point_in_polygon_attribution(enriched):
    assert _one(enriched, 0.55, 0.25)["mun_cd_mun"] == "m100"
    assert _one(enriched, 0.75, 1.25)["mun_cd_mun"] == "m101"
    assert _one(enriched, 1.5, 2.5)["mun_cd_mun"] == "m202"
    assert _one(enriched, 2.9, 2.9)["mun_cd_mun"] == "m302"


def test_mun_attrs_joined(enriched):
    row = _one(enriched, 0.55, 0.25)
    assert row["mun_uf"] == "AA"
    assert row["mun_nm_mun"] == "Mun m100"
    assert row["mun_area_km2"] == 100.0


def test_knn_fallback_within_2km(enriched):
    """Point 0.01 deg (~1.1 km) west of m100 -> KNN attribution (J3)."""
    assert _one(enriched, 0.5, -0.01)["mun_cd_mun"] == "m100"


def test_far_point_unattributed(enriched):
    assert _one(enriched, 0.5, -1.0)["mun_cd_mun"] is None


def test_bioma_split(enriched):
    assert _one(enriched, 1.1, 1.1)["cd_bioma"] == "B1"
    assert _one(enriched, 1.5, 2.5)["cd_bioma"] == "B2"
    assert _one(enriched, 1.5, 2.5)["bioma_enr"] == "Cerrado"


def test_uc_ti_hits(enriched):
    assert _one(enriched, 0.3, 0.3)["cd_cnuc"] == "U1"
    assert _one(enriched, 0.3, 0.3)["uc_nome"] == "Parque U1"
    assert _one(enriched, 1.25, 2.25)["terrai_cod"] == "T1"
    # a point outside any UC/TI stays null but is checked
    row = _one(enriched, 0.55, 0.25)
    assert row["cd_cnuc"] is None and row["terrai_cod"] is None


def test_checked_flags_all_true(enriched):
    from inpe_queimadas_etl_spark.checks import check_checked_flags

    assert check_checked_flags(enriched)["ok"]


def test_event_day_spillover(enriched):
    assert str(_one(enriched, 0.5, 0.5)["event_day"]) == "2024-05-01"
    assert str(_one(enriched, 0.6, 0.6)["event_day"]) == "2024-05-02"


def test_coverage_check(enriched):
    from inpe_queimadas_etl_spark.checks import check_enrichment_coverage

    # 12/13 municipality (far point misses), 12/13 biome -> thresholds
    # tuned to the fixture (FIXTURES.md designs data to hit >=90%)
    res = check_enrichment_coverage(enriched, min_mun_ratio=0.9, min_bioma_ratio=0.9)
    assert res["ok"], res


def _composed(points, muns, biomas, ucs, tis):
    """The enrichment ids by the public operators, one per dimension:
    PIP, KNN on the PIP misses, then first-match biome/UC/TI."""
    from pyspark.sql import functions as F

    from inpe_queimadas_etl_spark.functions.core import event_day
    from inpe_queimadas_etl_spark.operators.geo import (
        knn_nearest_within,
        point_in_polygon_join,
    )

    df = points.withColumn("event_day", event_day("view_ts", "file_date"))
    pip = point_in_polygon_join(df, muns, id_alias="mun_cd_mun")
    fallback = knn_nearest_within(
        pip.filter(F.col("mun_cd_mun").isNull()).drop("mun_cd_mun"),
        muns,
        max_dist_m=2000.0,
        id_alias="mun_cd_mun",
        dist_alias="__dist_m",
    ).drop("__dist_m")
    out = pip.filter(F.col("mun_cd_mun").isNotNull()).unionByName(fallback)
    for alias, feats in (("cd_bioma", biomas), ("cd_cnuc", ucs), ("terrai_cod", tis)):
        out = point_in_polygon_join(out, feats, id_alias=alias)
    return out


def test_fused_pass_equals_composed_operators(spark, enriched, tmp_path):
    """The single enrichment pass gives the ids the public operators
    give one dimension at a time, on the fixture rows plus NaN and
    out-of-range coordinates, points where polygons overlap (lowest id
    wins) and points in and around a polygon's hole."""
    from inpe_queimadas_etl_spark.operators.geo import make_polygon
    from inpe_queimadas_etl_spark.schemas import CURATED_FOCOS

    def sq(x0, y0, w):
        return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w), (x0, y0)]

    # m000 overlaps m100/m101 and sorts first; U0 overlaps U1 and sorts
    # first; T0 has a hole; B0 covers the KNN-edge point's neighbourhood
    muns = G.municipios() + [
        make_polygon("m000", sq(0.9, 0.4, 0.3), nm_mun="Overlap", uf="AA", area_km2="1.0")
    ]
    biomas = G.biomas() + [make_polygon("B0", sq(-0.2, 0.3, 0.3), bioma="Pampa")]
    ucs = G.ucs() + [make_polygon("U0", sq(0.25, 0.25, 0.3), nome_uc="Parque U0")]
    tis = G.tis() + [
        make_polygon("T0", sq(3.0, 2.0, 0.6), holes=[sq(3.2, 2.2, 0.2)], terrai_nom="TI T0")
    ]
    coords = [
        (0.5, 1.0),  # m000 over m100/m101, both edges
        (0.45, 0.95),  # m000 over m100
        (0.3, 0.3),  # U0 over U1
        (0.27, 0.27),  # U0 only
        (2.3, 3.3),  # inside T0's hole
        (2.1, 3.1),  # T0 ring
        (2.2, 3.2),  # corner of the hole
        (0.5, -0.01),  # KNN edge, inside B0
        (0.5, -0.019),  # KNN edge, ~2.1 km out: unattributed
        (0.5, -1.0),  # far
        (float("nan"), 0.5),
        (0.5, float("nan")),
        (95.0, 0.5),  # latitude out of range
        (0.5, 200.0),  # longitude out of range
    ]
    extra = spark.createDataFrame(
        [
            (f"x{i}", FILE_DATE, "2024-05-02 10:00:00", "AQUA_M-T", None, None, None, lat, lon, "{}")
            for i, (lat, lon) in enumerate(coords)
        ],
        CURATED_FOCOS,
    )
    path = str(tmp_path / "focos.csv")
    write_fixture_csv(path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    curated = curated_from_raw(read_csv_all_string(spark, path), FILE_DATE)
    points = curated.unionByName(extra)

    got = enrich(points, muns, biomas, ucs, tis).cache()
    want = _composed(points, muns, biomas, ucs, tis).cache()
    cols = want.columns
    assert got.select(*cols).exceptAll(want).count() == 0
    assert want.exceptAll(got.select(*cols)).count() == 0
    assert got.count() == points.count()
    by_hash = {r["event_hash"]: r for r in got.collect()}
    assert by_hash["x0"]["mun_cd_mun"] == "m000"
    assert by_hash["x2"]["cd_cnuc"] == "U0"
    assert by_hash["x4"]["terrai_cod"] is None
    assert by_hash["x5"]["terrai_cod"] == "T0"
    assert by_hash["x7"]["mun_cd_mun"] == "m100"
    assert by_hash["x7"]["cd_bioma"] == "B0"
    assert by_hash["x8"]["mun_cd_mun"] is None
    assert by_hash["x10"]["mun_cd_mun"] is None
    # the enriched table's column order, which published tables keep
    assert got.columns == enriched.columns == [
        "terrai_cod", "cd_cnuc", "cd_bioma", "mun_cd_mun",
        *curated.columns, "event_day",
        "mun_nm_mun", "mun_uf", "mun_area_km2", "mun_checked",
        "bioma_enr", "bioma_checked", "uc_nome", "uc_checked",
        "ti_nome", "ti_checked",
    ]

"""Spatial enrichment: curated focos -> enriched fact (J1-J4, J8).

The reference mutates `curated.inpe_focos_enriched` in place with SQL
UPDATEs and `*_checked` bookkeeping flags (sql/enrich/20,21). Spark
DataFrames are immutable, so the engine re-derives the enriched table
as a pure function of (curated, dims) per affected day and writes it
with dynamic partition overwrite — same outcome (first-match
attribution, stable under re-runs, checked flags all true after a
pass), no mutable state (SURVEY.md §7.1).

One pass over the rows: a single mapInPandas reads each Arrow batch
once and computes all four polygon ids with the numpy helpers of
operators.geo, so the point side is serialized to Python once, not
once per dimension:
- municipality: point-in-polygon first (st_intersects,
  20_enrich_municipio.sql:43-54), then, for the points no polygon
  contains, the nearest municipality within 2 km (20:56-74);
- biome/UC/TI: first-match by dimension id — the reference's
  `distinct on (event_hash) ... order by event_hash, b.id`
  (21_enrich_biomas_ucs_tis.sql:22-119) — which is exactly the
  lowest-id-wins rule of operators.geo.pip_ids.
Small broadcast joins then add each dimension's attributes and every
row is marked checked (a miss is checked too, 21:45-59).
The result equals point_in_polygon_join + knn_nearest_within composed
per dimension (tests/test_domain_enrich.py holds that parity).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.core import event_day
from .operators.geo import (
    PolyFeature,
    PolyGridIndex,
    _rebalance_for_compute,
    knn_ids,
    knn_pad_deg,
    pip_ids,
)
from .session import local_df


def _dim_lookup(spark, feats: list[PolyFeature], id_name: str, attr_map: dict[str, str]):
    """Small broadcastable DataFrame of polygon attributes."""
    rows = []
    seen = set()
    for f in feats:
        if f.poly_id in seen:
            continue
        seen.add(f.poly_id)
        vals = [f.props.get(src) for src in attr_map.values()]
        # the schema below declares every attr as string; prop values
        # may be numeric (e.g. area_km2 double from wkt.features_from_dim)
        rows.append(
            tuple([f.poly_id] + [None if v is None else str(v) for v in vals])
        )
    schema = ", ".join(
        [f"{id_name} string"] + [f"{dst} string" for dst in attr_map]
    )
    return local_df(spark, rows, T.StructType.fromDDL(schema))


def enrich(
    curated: DataFrame,
    municipios: list[PolyFeature],
    biomas: list[PolyFeature],
    ucs: list[PolyFeature],
    tis: list[PolyFeature],
    knn_radius_m: float = 2000.0,
) -> DataFrame:
    """Full enrichment pass: event day + municipality (PIP + KNN) +
    biome/UC/TI first-match attribution."""
    spark = curated.sparkSession
    df = curated.withColumn("event_day", event_day("view_ts", "file_date"))
    df = _rebalance_for_compute(df, [*municipios, *biomas, *ucs, *tis])
    mun_pip = PolyGridIndex(municipios)
    mun_knn = PolyGridIndex(municipios, pad_deg=knn_pad_deg(knn_radius_m))
    # id column -> (polygons, name column, dim property, checked flag)
    firsts = {
        "cd_bioma": (biomas, "bioma_enr", "bioma", "bioma_checked"),
        "cd_cnuc": (ucs, "uc_nome", "nome_uc", "uc_checked"),
        "terrai_cod": (tis, "ti_nome", "terrai_nom", "ti_checked"),
    }
    indexes = {col: PolyGridIndex(f[0]) for col, f in firsts.items()}
    id_schema = T.StructType(
        df.schema.fields
        + [T.StructField(c, T.StringType()) for c in ("mun_cd_mun", *firsts)]
    )

    def attribute(batches):
        for pdf in batches:
            px = pdf["lon"].to_numpy(dtype="float64")
            py = pdf["lat"].to_numpy(dtype="float64")
            mun = pip_ids(mun_pip, px, py)
            miss = pd.isna(mun)
            mun[miss] = knn_ids(mun_knn, px[miss], py[miss], knn_radius_m)[0]
            pdf["mun_cd_mun"] = mun
            for col, index in indexes.items():
                pdf[col] = pip_ids(index, px, py)
            yield pdf

    mun_attrs = _dim_lookup(
        spark,
        municipios,
        "mun_cd_mun",
        {"mun_nm_mun": "nm_mun", "mun_uf": "uf", "__area": "area_km2"},
    ).withColumn("mun_area_km2", F.col("__area").cast("double")).drop("__area")
    # each using-join puts its key first, which gives the enriched
    # table its column order: terrai_cod, cd_cnuc, cd_bioma,
    # mun_cd_mun, curated columns, event_day, then the attributes
    out = (
        df.mapInPandas(attribute, schema=id_schema)
        .join(F.broadcast(mun_attrs), "mun_cd_mun", "left")
        .withColumn("mun_checked", F.lit(True))
    )
    for col, (feats, name_col, prop, checked) in firsts.items():
        attrs = _dim_lookup(spark, feats, col, {name_col: prop})
        out = out.join(F.broadcast(attrs), col, "left").withColumn(
            checked, F.lit(True)
        )
    return out


def new_rows_only(curated_batch: DataFrame, existing: DataFrame | None) -> DataFrame:
    """J1/K1: idempotent append — keep only hashes not already loaded
    (left anti-join on event_hash; reference
    sql/enrich/20_enrich_municipio.sql:31-41, load/postgis.py:69-94)."""
    if existing is None:
        return curated_batch
    return curated_batch.join(
        existing.select("event_hash"), "event_hash", "left_anti"
    )

"""Europeana record cleaner (SURVEY §2 P4 + P5), columnar form.

The reference cleans each Europeana JSON record imperatively
(ingestion/europeana_ingestion_places.py:69-120):

- ``wid = "eid_" + id`` (namespace prefix);
- list-valued fields -> first element;
- dict-valued fields: extract ``def`` (first element if a list) … and
  then UNCONDITIONALLY overwrite with ``""`` — the ``n[k] = ""`` at
  europeana_ingestion_places.py:92 sits outside the ``"def" in v`` guard,
  so every dict-typed value ends up empty. That literal behavior is
  reproduced here (and pinned by the oracle).
- lat/lon folding: when both edmPlaceLatitude/edmPlaceLongitude parse and
  pass ``valid_latlon`` (ingestion/utils.py:71-81: -90<=lat<=90,
  -180<=lon<=180), they fold into ``coordinate_location`` and the raw
  string fields are dropped; otherwise the raw strings survive unfolded;
- renames: title -> label, dcDescription -> description,
  edmPreview -> image.

All pure column expressions — whole-stage-codegen, no UDFs, scales as a
narrow projection over any record count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def valid_latlon(lat: Column, lon: Column) -> Column:
    """P5: the reference coordinate-validity predicate (utils.py:71-81).
    NULL-safe: a missing coordinate is invalid."""
    return F.coalesce((lat >= -90) & (lat <= 90)
                      & (lon >= -180) & (lon <= 180), F.lit(False))


def first_of_list(col: Column) -> Column:
    """list -> first entry ('Simple but keep first entry',
    europeana_ingestion_places.py:83-84)."""
    return F.element_at(col, 1)


def flatten_def_reference(col: Column) -> Column:
    """dict -> '' — the literal reference behavior (the unguarded
    ``n[k] = ""`` at europeana_ingestion_places.py:92 clobbers the def
    extraction two lines above it)."""
    return F.when(col.isNotNull(), F.lit("")).otherwise(F.lit(""))


def clean_records(records: DataFrame) -> DataFrame:
    """Apply the full P4 cleaning to a typed Europeana record frame with
    columns (id string, title array<string>, dcDescription
    map<string,array<string>>, edmPreview array<string>,
    edmPlaceLatitude string, edmPlaceLongitude string)."""
    lat = F.col("edmPlaceLatitude").cast("double")
    lon = F.col("edmPlaceLongitude").cast("double")
    ok = valid_latlon(lat, lon)
    return records.select(
        F.concat(F.lit("eid_"), F.col("id")).alias("wid"),
        first_of_list(F.col("title")).alias("label"),
        flatten_def_reference(F.col("dcDescription")).alias("description"),
        first_of_list(F.col("edmPreview")).alias("image"),
        F.when(ok, F.round(lat, 6)).alias("coord_lat"),
        F.when(ok, F.round(lon, 6)).alias("coord_lon"),
        F.when(~ok, F.col("edmPlaceLatitude")).alias("edmPlaceLatitude"),
        F.when(~ok, F.col("edmPlaceLongitude")).alias("edmPlaceLongitude"),
    )

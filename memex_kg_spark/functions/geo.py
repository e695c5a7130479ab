"""Geo column expressions (pure built-ins — whole-stage codegen, no UDF).

Replaces the reference's Neo4j ``distance(point, point)`` calls
(db/db_connection.py:66-69, db/db_search.py:90-94) and the pure-Python
haversine of ingestion/mapillary_ingestion_places.py:32-49 (which used
R=6373 km; here the WGS-84 mean radius 6371.0088 km, documented per
SURVEY.md F6).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def haversine_km(lat1: Column, lon1: Column, lat2: Column,
                 lon2: Column) -> Column:
    """Great-circle distance in km as a codegen-able column expression."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (F.pow(F.sin(dlat), 2)
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
         * F.pow(F.sin(dlon), 2))
    return 2 * F.lit(EARTH_RADIUS_KM) * F.asin(F.sqrt(a))

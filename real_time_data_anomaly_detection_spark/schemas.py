"""Schemas for the energy telemetry stream and its entity model.

Mirrors the reference consumer's declared schema (reference
app/app3_ML.py:61-76) with ``timestamp`` as a real TimestampType up
front (the reference parses a string then casts, app/app3_ML.py:93),
and the per-plant-type feature-subset map (app/app3_ML.py:31-36).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: All 11 metric columns of the wire schema.
METRIC_COLUMNS = (
    "power_output",
    "demand",
    "grid_frequency",
    "fuel_consumption",
    "emissions",
    "wind_speed",
    "turbine_efficiency",
    "solar_radiation",
    "panel_temperature",
    "water_flow_rate",
    "turbine_rotation_speed",
)

#: Wire schema of the energy_stream JSON events (sparse-wide: metrics not
#: applicable to a row's plant_type arrive as nulls after from_json).
ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("plant_type", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
    ]
    + [T.StructField(m, T.DoubleType(), True) for m in METRIC_COLUMNS]
)

#: Same schema but with timestamp as ISO-8601 string, exactly as produced
#: on the wire (reference producer/producer-3.py:82); parse then cast.
ENERGY_WIRE_SCHEMA = T.StructType(
    [T.StructField("timestamp", T.StringType(), True)]
    + [f for f in ENERGY_SCHEMA.fields[1:]]
)

#: Which metric columns are meaningful per plant type (reference
#: app/app3_ML.py:31-36). Detection runs on these + power/demand.
PLANT_FEATURES: dict[str, list[str]] = {
    "Gas Plant": ["power_output", "demand", "fuel_consumption", "emissions"],
    "Wind Farm": ["power_output", "demand", "wind_speed", "turbine_efficiency"],
    "Solar Farm": ["power_output", "demand", "solar_radiation", "panel_temperature"],
    "Hydroelectric Plant": [
        "power_output",
        "demand",
        "water_flow_rate",
        "turbine_rotation_speed",
    ],
}

PLANT_TYPES = tuple(PLANT_FEATURES)
REGIONS = ("North", "South", "East", "West")

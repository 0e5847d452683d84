"""Declared schemas and domain constants for the covid pipeline.

Faithful to the reference's data model (SURVEY.md §1):
- the 14-field raw target schema (process_covid_raw.py:6-21)
- historical header aliases the conform layer resolves (:36-43)
- the JHU → World-Bank country normalization map (process_covid_ods.py:42-59)
- alert thresholds (alert_*.sql WHERE clauses)
"""

from __future__ import annotations

from pyspark.sql import types as T

# Target schema for raw.daily_reports — one row per (report file, admin
# region), province/county grain (reference process_covid_raw.py:6-21).
TARGET_RAW_SCHEMA = T.StructType(
    [
        T.StructField("FIPS", T.StringType(), True),
        T.StructField("Admin2", T.StringType(), True),
        T.StructField("Province_State", T.StringType(), True),
        T.StructField("Country_Region", T.StringType(), True),
        T.StructField("Last_Update", T.TimestampType(), True),
        T.StructField("Lat", T.DoubleType(), True),
        T.StructField("Long_", T.DoubleType(), True),
        T.StructField("Confirmed", T.LongType(), True),
        T.StructField("Deaths", T.LongType(), True),
        T.StructField("Recovered", T.LongType(), True),
        T.StructField("Active", T.LongType(), True),
        T.StructField("Combined_Key", T.StringType(), True),
        T.StructField("Incident_Rate", T.DoubleType(), True),
        T.StructField("Case_Fatality_Ratio", T.DoubleType(), True),
    ]
)

# Early-epoch (2020) JHU header aliases (reference process_covid_raw.py:38-43;
# "Province/State" / "Last Update" sanitize to underscore forms first).
RAW_ALIASES: dict[str, tuple[str, ...]] = {
    "Lat": ("Latitude",),
    "Long_": ("Longitude",),
}

# Last_Update historical formats (reference process_covid_raw.py:47-51).
RAW_TIMESTAMP_FORMATS = ("M/d/yyyy H:mm", "yyyy-MM-dd HH:mm:ss")

# JHU country naming → World-Bank naming, all 15 branches
# (reference process_covid_ods.py:42-59).
COUNTRY_NORMALIZATION: dict[str, str] = {
    "US": "United States",
    "Korea, South": "Korea, Rep.",
    "Taiwan*": "Taiwan",
    "Hong Kong": "Hong Kong SAR, China",
    "Iran (Islamic Republic of)": "Iran, Islamic Rep.",
    "Iran": "Iran, Islamic Rep.",
    "Russia": "Russian Federation",
    "Mainland China": "China",
    "Turkey": "Turkiye",
    "Vietnam": "Viet Nam",
    "Burma": "Myanmar",
    "Slovakia": "Slovak Republic",
    "Kyrgyzstan": "Kyrgyz Republic",
    "Egypt": "Egypt, Arab Rep.",
    "Venezuela": "Venezuela, RB",
}

# Population table schema (reference population_to_s3.py:40-50).
POPULATION_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType(), True),
        T.StructField("country_code", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("population", T.LongType(), True),
    ]
)

# Mart risk-category thresholds on cases_per_100k
# (reference process_covid_data_mart.py:106-111).
RISK_THRESHOLDS: list[tuple[float, str]] = [
    (5000, "Critical"),
    (1000, "High"),
    (100, "Medium"),
]
RISK_DEFAULT = "Low"

# Alert thresholds (reference alert_*.sql WHERE clauses).
CASE_RATE_THRESHOLD = 0.00005  # alert_case_spike.sql:56 (0.005% of population)
DEATH_RATE_THRESHOLD = 0.0000005  # alert_death_spike.sql:56
INCIDENCE_100K_THRESHOLD = 10.0  # alert_incidence.sql:43
DEATHS_100K_THRESHOLD = 1.0  # deaths_incidence.sql:43

# Warehouse table names (layer.table), mirroring the reference's catalog
# layout with the engine's filesystem Warehouse.
RAW_TABLE = "raw.daily_reports"
POPULATION_TABLE = "raw.country_population"
ODS_TABLE = "ods.daily_country_stats"
DIM_TABLE = "dds.dim_location"
FACT_TABLE = "dds.fact_covid"
MART_TABLE = "data_mart.covid_analytics"
ALERTS_TABLE = "alerts.covid_alerts"

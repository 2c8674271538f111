"""Helpers that compare results.

Kept free of Spark so the benchmark's own tests can exercise exactly
the code that decides whether an operation counts as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal


def _cell(v) -> str:
    """Engine-neutral text form of one value (the normalization
    scripts/check_oracle.py applies to Spark and DuckDB rows)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_digest(cols, rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, digest of the order-insensitive
    multiset of rows): a result in a form that is small to keep and
    compares equal exactly when the schema and the rows match."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return sorted(cols), len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def result_problems(got, want) -> list[str]:
    """Differences between two result digests: schema (column names, in
    any order), row count, then the rows. Empty when they match."""
    if got[0] != want[0]:
        return [f"columns {got[0]} != {want[0]}"]
    if got[1] != want[1]:
        return [f"rows {got[1]} != {want[1]}"]
    if got[2] != want[2]:
        return ["values differ"]
    return []


def count_problems(got: dict, want: dict) -> list[str]:
    """Keys of ``want`` whose value in ``got`` differs."""
    return [f"{k}: {got.get(k)} != {v}" for k, v in want.items() if got.get(k) != v]


# The curated lake as DuckDB computes it from the raw inputs, one query
# per table, each selecting the table's columns in a canonical order and
# type. Spark casts doubles to int by truncation; every raw numeric the
# generator writes is a whole number, so CAST gives the same value.
_RAW = "read_parquet('{src}/sas_data/*.parquet')"
_COUNTRY_RECODES = {
    "BOSNIA-HERZEGOVINA": "BOSNIA AND HERZEGOVINA", "INVALID: CANADA": "CANADA",
    "CHINA, PRC": "CHINA", "GUINEA-BISSAU": "GUINEA BISSAU",
    "INVALID: PUERTO RICO": "PUERTO RICO", "INVALID: UNITED STATES": "UNITED STATES",
}
_RACES = {
    "American Indian and Alaska Native": "AmericanIndianAndAlaskaNative",
    "Asian": "Asian", "Black or African-American": "BlackOrAfricanAmerican",
    "Hispanic or Latino": "HispanicOrLatino", "White": "White",
}
_DEMOGRAPHIC_INTS = {
    "Male Population": "MalePopulation", "Female Population": "FemalePopulation",
    "Total Population": "TotalPopulation", "Number of Veterans": "NumberVeterans",
    "Foreign-born": "ForeignBorn",
}
_FACT_INTS = ["cicid", "i94yr", "i94mon", "i94cit", "i94res", "i94mode", "i94bir", "i94visa"]
_FACT_STRINGS = ["i94port", "i94addr", "gender", "airline", "fltno", "visatype"]
_SEASON = ("CASE WHEN {m} IN (12, 1, 2) THEN 'winter' WHEN {m} IN (3, 4, 5) THEN 'spring' "
           "WHEN {m} IN (6, 7, 8) THEN 'summer' ELSE 'autumn' END")

LAKE_COLUMNS = {
    "immigration": ", ".join(
        [f"CAST({c} AS INTEGER) AS {c}" for c in _FACT_INTS]
        + _FACT_STRINGS + ["arrdate", "depdate", "CAST(stay AS INTEGER) AS stay"]),
    "arrival_date": ", ".join(
        ["CAST(sasdate AS INTEGER) AS sasdate", "CAST(iso_date AS DATE) AS iso_date"]
        + [f"CAST({c} AS INTEGER) AS {c}" for c in (
            "date_day", "date_month", "date_year", "day_of_week", "date_weekofyear")]
        + ["date_season"]),
    "demographics": ", ".join(
        ["City", "State", "StateCode", "MedianAge", "AverageHouseholdSize"]
        + [f"CAST({c} AS BIGINT) AS {c}"
           for c in [*_DEMOGRAPHIC_INTS.values(), *_RACES.values()]]),
    "country": "CAST(Code AS INTEGER) AS Code, Country, "
               "round(Temperature, 6) AS Temperature, Latitude, Longitude",
}


def _lake_reference(src: str) -> dict[str, str]:
    raw = _RAW.format(src=src)
    iso = "strftime(DATE '1960-01-01' + CAST({c} AS INTEGER), '%Y-%m-%d')"
    fact = (
        f"SELECT DISTINCT {', '.join([*_FACT_INTS, *_FACT_STRINGS])}, "
        f"{iso.format(c='arrdate')} AS arrdate, {iso.format(c='depdate')} AS depdate, "
        f"depdate - arrdate AS stay FROM {raw}"
    )
    dates = (
        "SELECT DISTINCT CAST(arrdate AS INTEGER) AS sasdate, d AS iso_date, "
        "day(d) AS date_day, month(d) AS date_month, year(d) AS date_year, "
        "dayofweek(d) + 1 AS day_of_week, weekofyear(d) AS date_weekofyear, "
        f"{_SEASON.format(m='month(d)')} AS date_season "
        f"FROM (SELECT arrdate, DATE '1960-01-01' + CAST(arrdate AS INTEGER) AS d "
        f"FROM {raw} WHERE arrdate IS NOT NULL)"
    )
    demo_csv = (f"read_csv('{src}/us_cities_demographics.csv', delim=';', header=true, "
                "all_varchar=true)")
    demo = (
        'SELECT City, State, "State Code" AS StateCode, '
        'min(TRY_CAST("Median Age" AS DOUBLE)) AS MedianAge, '
        'coalesce(min(TRY_CAST("Average Household Size" AS DOUBLE)), 0) '
        'AS AverageHouseholdSize, '
        + ", ".join(f'coalesce(min(TRY_CAST("{src_col}" AS INTEGER)), 0) AS {alias}'
                    for src_col, alias in _DEMOGRAPHIC_INTS.items()) + ", "
        + ", ".join(f"coalesce(sum(CASE WHEN Race = '{race}' THEN CAST(Count AS INTEGER) END), 0)"
                    f" AS {alias}" for race, alias in _RACES.items())
        + f" FROM {demo_csv} GROUP BY City, State, \"State Code\""
    )
    recode = " ".join(f"WHEN '{old}' THEN '{new}'" for old, new in _COUNTRY_RECODES.items())
    country = (
        f"WITH lk AS (SELECT Code, CASE I94CTRY {recode} ELSE I94CTRY END AS name "
        f"FROM read_csv('{src}/i94cit_i94res.csv', header=true, "
        "columns={'Code': 'INTEGER', 'I94CTRY': 'VARCHAR'})), "
        "t AS (SELECT lower(Country) AS k, avg(AverageTemperature) AS Temperature, "
        "min(Latitude) AS Latitude, min(Longitude) AS Longitude "
        f"FROM read_csv('{src}/temperatures.csv', header=true, columns={{"
        "'dt': 'DATE', 'AverageTemperature': 'DOUBLE', "
        "'AverageTemperatureUncertainty': 'DOUBLE', 'City': 'VARCHAR', "
        "'Country': 'VARCHAR', 'Latitude': 'VARCHAR', 'Longitude': 'VARCHAR'}) "
        "WHERE AverageTemperature IS NOT NULL GROUP BY 1) "
        "SELECT Code, py_title(name) AS Country, Temperature, Latitude, Longitude "
        "FROM lk LEFT JOIN t ON lower(lk.name) = t.k"
    )
    return {"immigration": fact, "arrival_date": dates, "demographics": demo,
            "country": country}


def lake_problems(src: str, lake: str) -> dict[str, list[str]]:
    """Each curated table under ``lake`` (partitioned parquet, as the
    lake build writes it) against the same table computed by DuckDB
    from the raw inputs under ``src``: rows missing from the lake and
    rows the lake has in excess, as multisets over every column."""
    import duckdb

    con = duckdb.connect()
    try:
        con.create_function("py_title", str.title, ["VARCHAR"], "VARCHAR")
        out = {}
        for table, sql in _lake_reference(src).items():
            cols = LAKE_COLUMNS[table]
            got = (f"SELECT {cols} FROM read_parquet('{os.path.join(lake, table)}/**/*.parquet',"
                   " hive_partitioning=true)")
            want = f"SELECT {cols} FROM ({sql})"
            missing = con.sql(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
            extra = con.sql(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
            out[table] = ([f"{missing} reference rows missing, {extra} rows in excess"]
                          if missing or extra else [])
        return out
    finally:
        con.close()

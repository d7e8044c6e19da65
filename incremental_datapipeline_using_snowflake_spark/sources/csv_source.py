"""Tolerant CSV ingestion — the reference's stage + file-format + COPY path.

Reference: ``COPY INTO ... FROM @stage`` with file format
``FIELD_DELIMITER=',' SKIP_HEADER=1 FIELD_OPTIONALLY_ENCLOSED_BY='"'
NULL_IF=('','NULL') TRIM_SPACE=TRUE ON_ERROR=CONTINUE`` and per-year
directories ``<base>/<YYYY>/co2_daily_mlo.csv``
(``raw_co2_data.py:77-95``, ``templates/setup.sql.j2:66-81``; SURVEY.md S5/S6).

Every file-format knob maps to a Spark CSV reader option; the explicit schema
means no inference pass over 100 TB, and the glob pattern prunes non-matching
files at listing time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .noaa_feed import RAW_SCHEMA


def write_co2_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    header: bool = True,
) -> None:
    """CSV serialization sink — the reference's pandas ``to_csv`` →
    object-store upload step (S7, ``scrape_co2data/data_extraction.py:62-76``,
    ``loading_data_sp/function.py:222-238``).

    ``single_file=True`` reproduces the reference's one-file-per-upload
    layout via ``coalesce(1)`` — correct for its ~365-row yearly batches,
    an anti-pattern for large data (use the default many-part layout, one
    file per partition, written in parallel).
    """
    out = df.coalesce(1) if single_file else df
    (
        out.write.mode("overwrite")
        .option("header", header)
        .option("quote", '"')
        .option("nullValue", "NULL")
        .csv(path)
    )


def read_co2_csv(
    spark: SparkSession,
    path: str,
    pattern: str = "*co2_daily_mlo.csv",
    drop_malformed: bool = True,
) -> DataFrame:
    """Read staged CO2 CSVs with the reference's tolerance semantics."""
    reader = (
        spark.read.schema(RAW_SCHEMA)
        .option("header", True)                      # SKIP_HEADER = 1
        .option("quote", '"')                        # FIELD_OPTIONALLY_ENCLOSED_BY
        .option("nullValue", "NULL")                 # NULL_IF ('' is null by default)
        .option("ignoreLeadingWhiteSpace", True)     # TRIM_SPACE = TRUE
        .option("ignoreTrailingWhiteSpace", True)
        .option("mode", "DROPMALFORMED" if drop_malformed else "PERMISSIVE")
        .option("recursiveFileLookup", True)         # <base>/<YYYY>/file.csv layout
        .option("pathGlobFilter", pattern)           # PATTERN = '.*co2_daily_mlo.csv'
    )
    return reader.csv(path)

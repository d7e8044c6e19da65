"""NOAA daily-CO2 text-feed ingestion: the one parser of the feed format.

The reference fetches the feed over HTTP and parses it in-process inside
its stored procedure (``loading_data_sp/function.py:60-185``, SURVEY.md
§2.1 S1-S4). The feed is one small document already on the driver, so the
parse runs there too, in plain Python, and only the rows a caller keeps
ever reach Spark:

- comment-aware whitespace parsing (S2): drop ``#`` lines and blanks, split
  with ``str.split()``, keep the first 5 fields;
- regex-extraction fallback (S3): if the line parse yields < 10 rows,
  re-scan with the reference's tuple regex
  ``(\\d{4})\\s+(\\d{1,2})\\s+(\\d{1,2})\\s+(\\d{4}\\.\\d+)\\s+(\\d+\\.\\d+)``;
- tolerant typed coercion (S4): a bad value becomes NULL, as
  ``pd.to_numeric(errors="coerce")`` makes it in the reference, with the
  results of Spark's non-ANSI ``CAST`` on ASCII tokens (pinned by
  ``tests/test_datasource.py``).

The HTTP GET stays behind an injectable interface so tests use canned
fixtures (reference fixture: ``tests/test_loading_co2_data_sp.py:28-33``).
Landed feed files read through ``format("noaa_feed")``
(``sources/noaa_datasource.py``), which calls the same line parser.
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..session import local_rows_df

FEED_URL = "https://gml.noaa.gov/webdata/ccgg/trends/co2/co2_daily_mlo.txt"

# The RAW layer's columns, shared by every CO2 source (feed, data source, CSV).
RAW_SCHEMA = "YEAR int, MONTH int, DAY int, DECIMAL_DATE double, CO2_PPM double"

# re.ASCII: Java's \d and \s, which the reference regex was written for,
# match ASCII only
_ROW_RE = re.compile(
    r"(\d{4})\s+(\d{1,2})\s+(\d{1,2})\s+(\d{4}\.\d+)\s+(\d+\.\d+)", re.ASCII
)
# Spark's string -> int cast: a sign, digits and a fractional part that is
# checked and truncated ("2025.0" -> 2025, ".5" -> 0, "+" -> NULL)
_INT_RE = re.compile(r"([+-]?)(\d*)(\.\d*)?", re.ASCII)
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def fetch_feed(url: str = FEED_URL, fetcher: Callable[[str], str] | None = None) -> str:
    """Driver-side HTTP fetch (S1). ``fetcher`` injectable for tests."""
    if fetcher is not None:
        return fetcher(url)
    import urllib.request

    with urllib.request.urlopen(url, timeout=60) as resp:  # pragma: no cover
        return resp.read().decode("utf-8", errors="replace")


def to_int(tok: str) -> int | None:
    """S4 integer coercion; NULL outside int32, as the cast makes it."""
    m = _INT_RE.fullmatch(tok)
    if m is None or not (m.group(2) or m.group(3)):
        return None
    v = int(m.group(1) + (m.group(2) or "0"))
    return v if _INT_MIN <= v <= _INT_MAX else None


def to_float(tok: str) -> float | None:
    """S4 double coercion. ``float()`` agrees with Java's parse on ASCII
    decimal, exponent, ``NaN`` and ``Infinity`` tokens; it also reads
    ``_`` digit separators and non-ASCII digits, which the cast does not.
    Java's ``d``/``f`` suffixes (``1d``) stay NULL, as in the reference."""
    if "_" in tok or not tok.isascii():
        return None
    try:
        return float(tok)
    except ValueError:
        return None


def _row(fields: Sequence[str]) -> tuple | None:
    """Typed RAW row from 5 tokens, or None when YEAR/MONTH/DAY do not
    coerce to a calendar date."""
    y, m, d = (to_int(t) for t in fields[:3])
    try:
        datetime.date(y, m, d)
    except (TypeError, ValueError):
        return None
    return y, m, d, to_float(fields[3]), to_float(fields[4])


def parse_line(line: str) -> tuple | None:
    """S2 + S4 on one feed line: a typed row, or None for a comment, a
    blank, a short line or a line whose date does not coerce."""
    parts = line.strip().split()
    if len(parts) < 5 or parts[0].startswith("#"):
        return None
    return _row(parts)


def parse_feed_rows(text: str) -> list[tuple]:
    """Parse a full feed document into RAW rows (YEAR..CO2_PPM), in feed
    order. Falls back to regex extraction when the line parser yields < 10
    rows and the regex finds more, mirroring
    ``loading_data_sp/function.py:124-145``."""
    lines = text.splitlines()
    rows = [r for ln in lines if (r := parse_line(ln)) is not None]
    if len(rows) < 10:
        hits = [m.groups() for ln in lines if (m := _ROW_RE.search(ln))]
        regex_rows = [r for g in hits if (r := _row(g)) is not None]
        if len(regex_rows) > len(rows):
            return regex_rows
    return rows


def parse_feed_text(spark: SparkSession, text: str) -> DataFrame:
    """A feed document as a RAW-schema DataFrame (one slice: the rows are
    a driver-side list)."""
    return local_rows_df(spark, parse_feed_rows(text), RAW_SCHEMA)

"""SQL-callable pandas UDFs over the best-effort datetime scanner
(functions/besteffort.py; reference src/IO/parseDateTimeBestEffort.cpp).

Strict variants raise (CH CANNOT_PARSE_DATETIME -> serverError), *OrNull
return NULL; *OrZero is composed in the dialect as coalesce(..., epoch).
DateTime64 variants carry the fractional part into timestamp micros.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf


def _parse(s, tz, us: bool, strict: bool):
    from clickhouse_23_3_19_32_lts_spark.functions.besteffort import (
        parse_best_effort_tz,
    )

    if s is None:
        return None
    if tz is not None and not isinstance(tz, str):
        # the reference rejects non-String timezone arguments (error 43)
        raise ValueError("Illegal type of timezone argument")
    if tz is not None and tz.upper() not in ("", "UTC", "GMT"):
        # unknown zone names are BAD_ARGUMENTS even for the OrNull forms
        try:
            from zoneinfo import ZoneInfo

            ZoneInfo(tz)
        except Exception as exc:  # noqa: BLE001
            raise ValueError(f"Invalid time zone {tz!r}") from exc
    r = parse_best_effort_tz(str(s), None if tz is None else str(tz), us)
    if r is None:
        if strict:
            raise ValueError(f"Cannot parse DateTime from '{s}'")  # CH 41
        return None
    return r


def _to_ts(r, scale: int, tz=None, dt64: bool = False):
    """Epoch -> naive wall-clock in tz (the reference renders DateTime in
    its column time zone; the session timestamp carries the wall clock).
    dt64: enforce the DateTime64 Int64-ticks range (epoch*10^scale must
    fit — parseDateTime64BestEffortOrNull('9279104477', 9) is NULL)."""
    import datetime as dt

    if r is None:
        return None
    epoch, fd, fv = r
    if dt64 and abs(epoch) > (2**63 - 1) // (10 ** max(scale, 0)):
        return None
    micros = 0
    if fd and scale > 0:
        keep = min(fd, scale, 6)
        v = fv // (10 ** (fd - keep)) if fd > keep else fv * (10 ** (keep - fd))
        micros = v * (10 ** (6 - keep))
    zone = dt.timezone.utc
    if tz is not None and str(tz).upper() not in ("UTC", "NONE", ""):
        try:
            from zoneinfo import ZoneInfo

            zone = ZoneInfo(str(tz))
        except Exception:  # noqa: BLE001 — unknown zone renders as UTC
            pass
    try:
        return dt.datetime.fromtimestamp(epoch, tz=zone).replace(
            tzinfo=None
        ) + dt.timedelta(microseconds=micros)
    except (OverflowError, OSError, ValueError):
        return None


def make_udfs() -> dict:
    def _series(ss: pd.Series, tzs: pd.Series, us: bool, strict: bool, scale: int) -> pd.Series:
        out = []
        for s, tz in zip(ss, tzs):
            out.append(_to_ts(_parse(s, tz, us, strict), scale, tz))
        return pd.Series(out, dtype="object")

    @pandas_udf("timestamp")
    def be_strict(s: pd.Series, tz: pd.Series) -> pd.Series:
        return _series(s, tz, False, True, 0)

    @pandas_udf("timestamp")
    def be_null(s: pd.Series, tz: pd.Series) -> pd.Series:
        return _series(s, tz, False, False, 0)

    @pandas_udf("timestamp")
    def be_us_strict(s: pd.Series, tz: pd.Series) -> pd.Series:
        return _series(s, tz, True, True, 0)

    @pandas_udf("timestamp")
    def be_us_null(s: pd.Series, tz: pd.Series) -> pd.Series:
        return _series(s, tz, True, False, 0)

    @pandas_udf("timestamp")
    def be64_strict(s: pd.Series, scale: pd.Series, tz: pd.Series) -> pd.Series:
        out = []
        for v, sc, tz1 in zip(s, scale, tz):
            out.append(_to_ts(_parse(v, tz1, False, True), int(sc) if sc is not None else 3, tz1, dt64=True))
        return pd.Series(out, dtype="object")

    @pandas_udf("timestamp")
    def be64_null(s: pd.Series, scale: pd.Series, tz: pd.Series) -> pd.Series:
        out = []
        for v, sc, tz1 in zip(s, scale, tz):
            out.append(_to_ts(_parse(v, tz1, False, False), int(sc) if sc is not None else 3, tz1, dt64=True))
        return pd.Series(out, dtype="object")

    @pandas_udf("timestamp")
    def be64_us_null(s: pd.Series, scale: pd.Series, tz: pd.Series) -> pd.Series:
        out = []
        for v, sc, tz1 in zip(s, scale, tz):
            out.append(_to_ts(_parse(v, tz1, True, False), int(sc) if sc is not None else 3, tz1, dt64=True))
        return pd.Series(out, dtype="object")

    @pandas_udf("timestamp")
    def be64_us_strict(s: pd.Series, scale: pd.Series, tz: pd.Series) -> pd.Series:
        out = []
        for v, sc, tz1 in zip(s, scale, tz):
            out.append(_to_ts(_parse(v, tz1, True, True), int(sc) if sc is not None else 3, tz1, dt64=True))
        return pd.Series(out, dtype="object")

    return {
        "chParseDTBestEffort": be_strict,
        "chParseDTBestEffortOrNull": be_null,
        "chParseDTBestEffortUS": be_us_strict,
        "chParseDTBestEffortUSOrNull": be_us_null,
        "chParseDT64BestEffort": be64_strict,
        "chParseDT64BestEffortOrNull": be64_null,
        "chParseDT64BestEffortUSOrNull": be64_us_null,
        "chParseDT64BestEffortUS": be64_us_strict,
    }

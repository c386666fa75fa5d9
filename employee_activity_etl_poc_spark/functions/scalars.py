"""Scalar column-expression builders — SURVEY §2.7 operators F1-F17.

Everything here is a pure ``Column -> Column`` builder on top of the
built-in ``pyspark.sql.functions`` (JVM-side, whole-stage-codegen'd):
the reference implemented all of these as per-row Python/pandas logic
(``df.apply(axis=1)`` loops, per-message dict munging), which is exactly
what idiomatic Spark deletes. Zero Python UDFs in this module.

Each builder's docstring cites the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Timestamps (F1-F3, F5; the F4 stamps live in gold_jobs.enrich_activities)
# ---------------------------------------------------------------------------


def micros_to_timestamp(col: Column | str) -> Column:
    """F1: int64 epoch-microseconds -> timestamp.

    Reference: ``datetime.fromtimestamp(x/1_000_000)`` at
    ``bronze/redPandaToDeltaLake.py:80-83`` (machine-local) and
    ``from_unixtime(col/1e6)`` at ``bronze/consume_data2.py:38-39``
    (second-truncating). We use ``timestamp_micros`` — exact to the µs and
    timezone-fixed (session TZ pinned to UTC in session.py).
    """
    return F.timestamp_micros(F.col(col) if isinstance(col, str) else col)


def timestamp_to_micros(col: Column | str) -> Column:
    """Inverse of F1 (used when re-emitting CDC-shaped payloads)."""
    return F.unix_micros(F.col(col) if isinstance(col, str) else col)


def format_ts(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """F2: timestamp -> string, CSV/export shape
    (``bronze/redPandaToDeltaLake.py:187-189``, ``gold/bronzeToGold.py:183``)."""
    return F.date_format(col, fmt)


def coerce_timestamp(col: Column | str) -> Column:
    """F3: string -> timestamp with null-on-failure, the Spark analogue of
    ``pd.to_datetime(errors='coerce')`` (``gold/2test1.py:126``)."""
    return F.try_to_timestamp(F.col(col) if isinstance(col, str) else col)


def coerce_double(col: Column | str) -> Column:
    """F3: string -> double with null-on-failure
    (``pd.to_numeric(errors='coerce')``, ``gold/2test1.py:135``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def elapsed_seconds(start: Column | str, end: Column | str) -> Column:
    """F5: whole seconds between two timestamps -> ``elapsed_time_seconds``
    (``find_unique_employee.ipynb:308-314``; µs-long variant
    ``slack_bot/slack_notifier.py:122``)."""
    return F.floor((F.unix_micros(end) - F.unix_micros(start)) / F.lit(1_000_000)).cast(
        "long"
    )


# ---------------------------------------------------------------------------
# Strings / normalization / mapping (F6, F10, F11)
# ---------------------------------------------------------------------------


def normalize_str(col: Column | str) -> Column:
    """F6: ``str(x).strip().lower()`` before comparisons
    (``gold/2test1.py:19-26``)."""
    return F.lower(F.trim(col))


_ACCENTED = "àâäáãåçéèêëíìîïñóòôöõúùûüýÿ"
_FOLDED = "aaaaaaceeeeiiiinooooouuuuyy"


def fold_accents(col: Column | str) -> Column:
    """F6 edge: accent folding via ``translate`` — the reference instead
    hardcoded accent-variant lists per comparison ("vélo"/"velo",
    ``gold/2test1.py:31-33``); folding once at normalization kills the
    whole variant-list category. Covers the French/Spanish range the
    domain uses; extend the table (not the call sites) for more."""
    return F.translate(normalize_str(col), _ACCENTED, _FOLDED)


def map_code(col: Column | str, mapping: dict[str, str], default: str) -> Column:
    """F11: code -> label with default, as a chained-when expression.

    Reference maps sport letter codes to French names with a fallback of
    ``"activité sportive"`` (``slack_bot/slack_notifier.py:81-92``) and to
    emojis from ``slack_bot/config.json``. A broadcast-joined code dim is the
    scale path; for small static maps the when-chain stays codegen'd.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for code, label in mapping.items():
        branch = F.when(c == code, F.lit(label))
        expr = branch if expr is None else expr.when(c == code, F.lit(label))
    if expr is None:
        raise ValueError("mapping must be non-empty")
    return expr.otherwise(F.lit(default))


# French sport-code dim (slack_bot/slack_notifier.py:83-91): single-letter
# CDC codes -> display names; default "activité sportive".
SPORT_CODE_NAMES = {
    "V": "Vélo",
    "R": "Course à pied",
    "S": "Natation",
    "M": "Marche",
    "E": "Escalade",
    "T": "Tennis",
    "N": "Natation",
}


# ---------------------------------------------------------------------------
# Flags (F7, F8; F9 null fills are plain F.coalesce)
# ---------------------------------------------------------------------------

# Active transport modes that qualify for the sport bonus
# (gold/2test1.py:17-27, normalized lower-case comparison set).
ACTIVE_TRANSPORT_MODES = ("marche/running", "vélo/trottinette/autres")


def prime_sportive(transport: Column | str) -> Column:
    """F7: Prime_Sportive — transport mode in the active set
    (``gold/2test1.py:17-27``). Comparison on normalized strings."""
    return normalize_str(transport).isin(*ACTIVE_TRANSPORT_MODES)


def commute_long(transport: Column | str, distance_km: Column | str) -> Column:
    """F8: Commute_long — walking & >15 km, or bike & >25 km, else false;
    null distance -> false (``gold/2test1.py:29-46``)."""
    t = normalize_str(transport)
    d = F.coalesce(
        F.col(distance_km) if isinstance(distance_km, str) else distance_km,
        F.lit(-1.0),
    )
    return (
        F.when((t == "marche/running") & (d > 15.0), F.lit(True))
        .when((t == "vélo/trottinette/autres") & (d > 25.0), F.lit(True))
        .otherwise(F.lit(False))
    )


# ---------------------------------------------------------------------------
# Formatting (F12, F13, F15)
# ---------------------------------------------------------------------------


def human_duration_fr(seconds: Column | str) -> Column:
    """F12: seconds -> "X jour(s) et Y heure(s) et Z minute(s)", with the
    "quelques secondes" fallback (``slack_bot/slack_notifier.py:65-79``).

    Pure column expression: concat of conditional fragments, no UDF.
    """
    s = (F.col(seconds) if isinstance(seconds, str) else seconds).cast("long")
    days = (s / 86400).cast("long")
    hours = ((s % 86400) / 3600).cast("long")
    minutes = ((s % 3600) / 60).cast("long")
    frag_d = F.when(days > 0, F.concat(days.cast("string"), F.lit(" jour(s)")))
    frag_h = F.when(hours > 0, F.concat(hours.cast("string"), F.lit(" heure(s)")))
    frag_m = F.when(minutes > 0, F.concat(minutes.cast("string"), F.lit(" minute(s)")))
    joined = F.concat_ws(" et ", frag_d, frag_h, frag_m)
    return F.when(joined == "", F.lit("quelques secondes")).otherwise(joined)


def hhmmss(seconds: Column | str) -> Column:
    """F15: seconds -> zero-padded ``hh:mm:ss``
    (``google_map/gmap_commute.py:178-182``)."""
    s = (F.col(seconds) if isinstance(seconds, str) else seconds).cast("long")
    return F.format_string(
        "%02d:%02d:%02d", (s / 3600).cast("long"), ((s % 3600) / 60).cast("long"), s % 60
    )


def distance_label(meters: Column | str) -> Column:
    """F13: distance formatting — km with 1 decimal when >= 1000 m, else
    whole meters. The reference used Python ``%.3g``
    (``slack_bot/slack_notifier.py:94-105``); %.3g is not expressible as a
    built-in column op, so we spec the close, deterministic variant
    ("12.3 km" / "850 m") and document the divergence.
    """
    m = (F.col(meters) if isinstance(meters, str) else meters).cast("double")
    # floor/round-first keeps the string deterministic across engines
    # (plain casts round in some engines and truncate in others).
    return F.when(
        m >= 1000.0,
        # format_string, NOT format_number: the latter inserts locale
        # thousands separators ("1,234.5 km") past 1000 km.
        F.concat(F.format_string("%.1f", F.round(m / 1000.0, 1)), F.lit(" km")),
    ).otherwise(F.concat(F.floor(m).cast("string"), F.lit(" m")))


# returnType as an instance (not a DDL string): string DDL parsing needs an
# active session, which would break importing this module before Spark is up.
@F.udf(returnType=T.StringType())
def distance_label_3g(meters) -> str | None:
    """F13 exact parity: Python ``%.3g`` distance formatting
    (``slack_bot/slack_notifier.py:94-105``) — "1.23 km" / "850 m" with
    3 significant digits.

    THE one deliberate Python UDF in the engine: %.3g has no built-in
    column equivalent, and the call sites (notification text) are
    low-volume side-effect paths, never table-scale hot paths. Everything
    else uses :func:`distance_label` (pure column expr, codegen'd).
    """
    if meters is None:
        return None
    m = float(meters)
    return f"{m / 1000:.3g} km" if m >= 1000 else f"{m:.3g} m"


# ---------------------------------------------------------------------------
# Quantity parsing (F16)
# ---------------------------------------------------------------------------

MILES_TO_KM = 1.60934  # google_map/explo.ipynb parse_distance


def parse_distance_km(col: Column | str) -> Column:
    """F16: parse "24.6 km" / "300 m" / "1.2 mi" -> km as double
    (``google_map/explo.ipynb`` ``parse_distance``)."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    num = F.regexp_extract(c, r"([0-9]+(?:\.[0-9]+)?)", 1).try_cast("double")
    return (
        F.when(c.rlike(r"(?i)\bkm\b"), num)
        .when(c.rlike(r"(?i)\bmi\b"), num * F.lit(MILES_TO_KM))
        .when(c.rlike(r"(?i)\bm\b"), num / F.lit(1000.0))
        .otherwise(F.lit(None).cast("double"))
    )


def parse_duration_seconds(col: Column | str) -> Column:
    """F16: parse "5 hours 36 mins" / "42 mins" -> seconds
    (``google_map/explo.ipynb`` ``parse_duration``)."""
    c = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
    hours = F.coalesce(
        F.regexp_extract(c, r"([0-9]+)\s*hour", 1).try_cast("long"), F.lit(0)
    )
    mins = F.coalesce(
        F.regexp_extract(c, r"([0-9]+)\s*min", 1).try_cast("long"), F.lit(0)
    )
    return hours * 3600 + mins * 60

"""Schema formatting: the engine's version of the reference's
``format_columns`` (ipynb:L960-997, cell 8).

The reference formats each raw ``_c*`` CSV table with two dicts — a rename
map and a cast map — applied as a single alias+cast projection (P1/P2,
ipynb:L976/L979). That one-pass ``select`` is already the right shape at any
scale (one narrow projection, no shuffle); we keep it and add a declarative
table registry so schemas are data, not code.

The projection is handed to Spark as SQL expression text in one
``selectExpr``. Catalyst gets the same projection as from per-column
``Column`` calls, but the driver sends about one py4j command per column
(to pass the list) instead of about a dozen (each ``F.col``/``.cast``/
``.alias`` is a round trip, plus the call-site capture of every ``F.*``
function). At one monthly batch those round trips, not the data, set the
plan-building time.

Casts are ``TRY_CAST``: a malformed raw value becomes null, as under the
reference's Spark 3.2 with ANSI off, instead of failing the whole batch
under Spark 4's ANSI mode. Integral targets first pass through
``_LEGACY_INTEGRAL``, so a fractional value truncates as it did there.

Decimal subtlety preserved (SURVEY.md §1.2): the reference casts payment
``amount`` to bare ``decimal`` = ``DecimalType(10,0)`` (ipynb:L988), which
rounds cents away before any aggregation. ``BIKESHARE_CASTS`` records exactly
that; engines wanting cents use an explicit DecimalType(10,2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

DataTypeLike = T.DataType | str


_INTEGRAL = {"tinyint", "byte", "smallint", "short", "int", "integer", "bigint", "long"}

# The reference's ANSI-off string -> integral cast trims ASCII whitespace
# and control characters, reads an optional sign and the digits before an
# optional '.', and ignores a well-formed fraction: '9.5' -> 9, '-9.9' -> -9,
# '12.' -> 12. TRY_CAST is the ANSI parse, which nulls any fraction. This
# pattern rewrites such a value to sign, '0', digits ('$10' in the
# replacement is group 1 then a literal 0: Java takes a second digit into a
# group number only if that group exists), so '.5' reads 0 as it did
# there, and TRY_CAST then range-checks for the target type. A value the
# pattern does not match passes through unchanged and TRY_CAST nulls it:
# everything TRY_CAST accepts matches the pattern. Backslashes are doubled
# for the SQL string literal.
_LEGACY_INTEGRAL = (
    r"^[\\x00-\\x20\\x7F]*(?![+-]?[\\x00-\\x20\\x7F]*$)"
    r"([+-]?)([0-9]*)(?:\\.[0-9]*)?[\\x00-\\x20\\x7F]*$"
)


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def format_columns(
    df: DataFrame,
    renames: dict[str, str] | None = None,
    casts: dict[str, DataTypeLike] | None = None,
) -> DataFrame:
    """Bulk rename + cast in one projection.

    Mirrors the reference's two list-comprehension selects (ipynb:L976, L979)
    but fused into a single ``selectExpr`` so Catalyst sees one projection
    node. Columns absent from the maps pass through untouched. ``casts`` keys
    are the *new* (post-rename) names; a value that does not parse as its
    type becomes null (``TRY_CAST``), and an integral target truncates a
    fractional value as the legacy cast does.
    """
    renames = renames or {}
    casts = casts or {}
    exprs = []
    for c in df.columns:
        new = renames.get(c, c)
        col = _quoted(c)
        if new in casts:
            ty = casts[new]
            ty = ty.simpleString() if isinstance(ty, T.DataType) else ty
            cast = f"TRY_CAST({col} AS {ty})"
            if ty.lower() in _INTEGRAL:
                # where the plain TRY_CAST succeeds it agrees with the legacy
                # cast, so only the values it nulls pay for the pattern
                legacy = f"regexp_replace({col}, '{_LEGACY_INTEGRAL}', '$10$2')"
                cast = f"coalesce({cast}, TRY_CAST({legacy} AS {ty}))"
            col = cast
        exprs.append(f"{col} AS {_quoted(new)}")
    return df.selectExpr(*exprs)


# --- reference bikeshare schema registry (ipynb:L985-991, cell 8) ---------

BIKESHARE_RENAMES: dict[str, dict[str, str]] = {
    "payments": {"_c0": "payment_id", "_c1": "date_id", "_c2": "amount", "_c3": "rider_id"},
    "trips": {
        "_c0": "trip_id",
        "_c1": "rideable_type",
        "_c2": "started_at",
        "_c3": "ended_at",
        "_c4": "start_station_id",
        "_c5": "end_station_id",
        "_c6": "rider_id",
    },
    "riders": {
        "_c0": "rider_id",
        "_c1": "first",
        "_c2": "last",
        "_c3": "address",
        "_c4": "birthday",
        "_c5": "account_start_date",
        "_c6": "account_end_date",
        "_c7": "is_member",
    },
    "stations": {"_c0": "station_id", "_c1": "name", "_c2": "latitude", "_c3": "longitude"},
}

BIKESHARE_CASTS: dict[str, dict[str, DataTypeLike]] = {
    # bare `decimal` in the reference == DecimalType(10,0): integer dollars.
    "payments": {"payment_id": "int", "date_id": "date", "amount": T.DecimalType(10, 0), "rider_id": "int"},
    "trips": {"started_at": "timestamp", "ended_at": "timestamp", "rider_id": "int"},
    "riders": {
        "rider_id": "int",
        "birthday": "date",
        "account_start_date": "date",
        "account_end_date": "date",
        "is_member": "boolean",
    },
    "stations": {"latitude": "float", "longitude": "float"},
}


def raw_bikeshare_schema(table: str) -> T.StructType:
    """The headerless CSV layout of one raw table: all-string ``_c0.._cN``,
    one field per ``BIKESHARE_RENAMES`` key, so the width is declared here
    rather than read off the file's first line. A short row gets nulls, a
    long row keeps its first N fields."""
    return T.StructType([T.StructField(c, T.StringType()) for c in BIKESHARE_RENAMES[table]])


def format_bikeshare_table(df: DataFrame, table: str) -> DataFrame:
    """Apply the reference's rename+cast maps for one of the four raw tables."""
    return format_columns(df, BIKESHARE_RENAMES[table], BIKESHARE_CASTS[table])

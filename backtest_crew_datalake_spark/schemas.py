"""Schema registry + coercing enforcement.

Mirrors the reference's fixed-by-convention schemas with defaulted coercion
(ref src/datalake/read/schemas.py:4-47, src/datalake/ingestors/ibkr/writer.py:12-27,
docs/specs/schema_m1.parquet.json). Enforcement here is a single ``select`` of
cast + coalesce(default) expressions, so it stays inside whole-stage codegen —
no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical column order of the lake (ref src/datalake/read/schemas.py:4-8).
CANONICAL_ORDER = [
    "ts", "open", "high", "low", "close", "volume",
    "source", "market", "timeframe", "symbol",
    "exchange", "what_to_show", "vendor", "tz",
]

NUMERIC = {"open", "high", "low", "close", "volume"}
TEXTUAL = {"source", "market", "timeframe", "symbol",
           "exchange", "what_to_show", "vendor", "tz"}

# Defaults back-filled when a metadata column is absent
# (ref src/datalake/read/schemas.py:13-22, writer.py:50-89).
DEFAULTS = {
    "source": "ibkr",
    "market": "crypto",
    "timeframe": "M1",
    "exchange": "PAXOS",
    "what_to_show": "AGGTRADES",
    "vendor": "ibkr",
    "tz": "UTC",
}

# Primary key / dedupe key of every candle dataset
# (docs/specs/schema_m1.parquet.json "primary_key"/"dedupe_on").
PRIMARY_KEY = ["source", "symbol", "timeframe", "ts"]

# IBKR 14-column dialect (ref writer.py:12-27); optional is_synth bool (writer.py:107).
CANDLE_SCHEMA = T.StructType(
    [T.StructField("ts", T.TimestampType(), False)]
    + [T.StructField(c, T.DoubleType(), c == "volume") for c in
       ("open", "high", "low", "close", "volume")]
    + [T.StructField(c, T.StringType(), True) for c in
       ("source", "market", "timeframe", "symbol",
        "exchange", "what_to_show", "vendor", "tz")]
    + [T.StructField("is_synth", T.BooleanType(), True)]
)

# Output of the opening-range levels analytic
# (ref src/datalake/levels/or_levels.py:55-62, docs/specs/schema_levels_daily.parquet.json).
LEVELS_SCHEMA = T.StructType([
    T.StructField("session_date", T.DateType(), False),
    T.StructField("tz", T.StringType(), False),
    T.StructField("or_start", T.TimestampType(), False),
    T.StructField("or_end", T.TimestampType(), False),
    T.StructField("or_high", T.DoubleType(), False),
    T.StructField("or_low", T.DoubleType(), False),
    T.StructField("break_dir", T.StringType(), False),
    T.StructField("break_ts", T.TimestampType(), True),
    T.StructField("retest_ts", T.TimestampType(), True),
    T.StructField("retest_price", T.DoubleType(), True),
    T.StructField("symbol", T.StringType(), False),
])


def enforce_schema(df: DataFrame, timeframe: str | None = None,
                   symbol: str | None = None) -> DataFrame:
    """Coerce a frame to the canonical candle schema.

    Semantics of ref src/datalake/read/schemas.py:25-47:
    ts -> UTC timestamp; numerics -> double (missing => 0.0); textual -> string
    with defaults (a column in DEFAULTS is defaulted when absent OR null);
    reorder to CANONICAL_ORDER keeping extras at the end.
    """
    cols = set(df.columns)
    exprs = []
    for c in CANONICAL_ORDER:
        if c == "ts":
            exprs.append(F.col("ts").cast("timestamp").alias("ts"))
        elif c in NUMERIC:
            exprs.append(
                (F.col(c).cast("double") if c in cols else F.lit(0.0)).alias(c)
            )
        else:  # textual
            if timeframe is not None and c == "timeframe":
                exprs.append(F.lit(str(timeframe)).alias(c))
            elif symbol is not None and c == "symbol":
                exprs.append(F.lit(str(symbol)).alias(c))
            elif c in cols and c in DEFAULTS:
                # a present-but-null value (e.g. a landing file read with
                # CANDLE_SCHEMA that lacks the column) defaults like an
                # absent one, so no row lands under a null partition value
                exprs.append(F.coalesce(F.col(c).cast("string"),
                                        F.lit(DEFAULTS[c])).alias(c))
            elif c in cols:
                exprs.append(F.col(c).cast("string").alias(c))
            else:
                exprs.append(F.lit(DEFAULTS.get(c, "")).alias(c))
    extras = [F.col(c) for c in df.columns if c not in CANONICAL_ORDER]
    return df.select(*exprs, *extras)

"""Semi-structured ingestion via Spark 4's VARIANT type.

The reference parses its JSON task-params and event payloads with
per-field string functions (``get_json_object`` — our §2.8 coverage);
VARIANT is the Spark-4-native upgrade: parse ONCE into a binary
semi-structured value, then typed ``variant_get`` extractions that
Catalyst can push into scans of variant-typed columns. For a
100 TB event stream with a JSON props column, the parse-once shape
removes the per-extraction re-parse that stacked get_json_object
calls pay.

Totality discipline: ``try_parse_json`` — a malformed payload becomes
a NULL variant (and NULL extractions) instead of an ANSI-mode job
abort; ``malformed_json_report`` quantifies exactly how many rows
took that path (the conform_schema/try_cast posture applied to JSON).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_json_variant(
    df: DataFrame, json_col: str, out_col: str = "v"
) -> DataFrame:
    """Add a VARIANT column parsed from a JSON string column —
    malformed JSON yields NULL, never an error."""
    return df.withColumn(out_col, F.try_parse_json(F.col(json_col)))


def variant_extract(
    df: DataFrame,
    json_col: str,
    fields: dict[str, tuple[str, str]],
    keep_variant: bool = False,
) -> DataFrame:
    """Parse ``json_col`` once and extract ``fields`` as typed
    columns: {out_name: (json_path, spark_type)} — e.g.
    {"ad_id": ("$.k", "int")}. A missing path, a type mismatch
    (try_variant_get — plain variant_get THROWS there), or a
    malformed document all yield NULL in that column (totality).
    ``keep_variant=True`` retains the parsed variant as ``__v`` for
    further ad-hoc extraction downstream."""
    v = F.try_parse_json(F.col(json_col))
    out = df.withColumn("__v", v)
    for name, (path, typ) in fields.items():
        out = out.withColumn(name, F.try_variant_get(F.col("__v"), path, typ))
    return out if keep_variant else out.drop("__v")


def malformed_json_report(df: DataFrame, json_col: str) -> DataFrame:
    """One row: (n_rows, n_null_input, n_malformed, malformed_frac) —
    how much of the payload column failed to parse (NULL inputs are
    counted separately; they are absent data, not bad data). One
    aggregate, map-side combined."""
    raw = F.col(json_col)
    parsed = F.try_parse_json(raw)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(raw.isNull(), 1).otherwise(0)).cast("bigint").alias(
            "n_null_input"
        ),
        F.sum(F.when(raw.isNotNull() & parsed.isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_malformed"),
        F.round(
            F.coalesce(
                F.sum(F.when(raw.isNotNull() & parsed.isNull(), 1).otherwise(0))
                / F.sum(F.when(raw.isNotNull(), 1).otherwise(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("malformed_frac"),
    )

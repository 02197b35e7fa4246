"""Relational column expressions for the airspace conversion, plus the
md5-prefix hash the corpus operators share.

Everything in this module is built-in `pyspark.sql.functions` only — it all
stays inside whole-stage codegen. Reference parity notes cite
src/airspace-converter.ts line numbers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference regexes (src/airspace-converter.ts:30-35)
REGEX_CEILING_SURFACE = r"^(SFC)$"
REGEX_CEILING_FEET = r"^(\d+(\.\d+)?)\s*(ft|FT)?\s*(SFC)?$"
REGEX_CEILING_FLIGHT_LEVEL = r"^FL\s*(\d{2,})?$"
REGEX_COORDINATES = r"^[0-9]{6}[NS]\s+[0-9]{7}[EW]$"


def md5_prefix_int(x: Column | str) -> Column:
    """BIGINT value of the first 8 hex chars of md5(x): the engine twin of
    the oracle's `_hex8_sql`."""
    return F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")


def airspace_name(name: Column, seq: Column) -> Column:
    """`name + ' ' + seq` when a sequence number exists, else `name`
    (reference buildAirspaceName, :229-235)."""
    return F.when(seq.isNotNull(), F.concat_ws(" ", name, seq.cast("string"))).otherwise(name)


def ceiling_struct(definition: Column) -> Column:
    """Parse a ceiling definition into struct(value double, unit, referenceDatum,
    error) — reference createCeiling (:507-549).

    'SFC' -> (0, FT, GND); '<n> ft [SFC]' -> (n, FT, MSL|GND);
    'FL<nn>' -> (nn, FL, STD); anything else -> error channel.
    """
    is_sfc = definition.rlike(REGEX_CEILING_SURFACE)
    is_feet = definition.rlike(REGEX_CEILING_FEET)
    is_fl = definition.rlike(REGEX_CEILING_FLIGHT_LEVEL)

    feet_value = F.regexp_extract(definition, REGEX_CEILING_FEET, 1).cast("double")
    feet_unit = F.upper(F.regexp_extract(definition, REGEX_CEILING_FEET, 3))
    feet_datum = F.regexp_extract(definition, REGEX_CEILING_FEET, 4)
    fl_value = F.regexp_extract(definition, REGEX_CEILING_FLIGHT_LEVEL, 1).cast("double")

    value = (
        F.when(is_sfc, F.lit(0.0))
        .when(is_feet, feet_value)
        .when(is_fl, fl_value)
    )
    unit = (
        F.when(is_sfc, F.lit("FT"))
        # a bare number without 'ft' would crash the reference (undefined
        # .toUpperCase(), :531); we surface it on the error channel instead.
        .when(is_feet, F.when(feet_unit == "", F.lit(None)).otherwise(feet_unit))
        .when(is_fl, F.lit("FL"))
    )
    datum = (
        F.when(is_sfc, F.lit("GND"))
        .when(is_feet, F.when(feet_datum == "SFC", F.lit("GND")).otherwise(F.lit("MSL")))
        .when(is_fl, F.lit("STD"))
    )
    error = F.when(
        ~(is_sfc | is_feet | is_fl),
        F.concat(F.lit("invalid ceiling definition: "), F.coalesce(definition, F.lit("null"))),
    ).when(
        is_feet & ~is_sfc & (feet_unit == ""),
        F.concat(F.lit("unit-less feet ceiling: "), definition),
    )
    return F.struct(
        value.alias("value"),
        unit.alias("unit"),
        datum.alias("referenceDatum"),
        error.alias("error"),
    )


def notam_flag(rules: Column) -> Column:
    """`rules.includes('NOTAM') === true` (reference :281)."""
    return F.coalesce(F.array_contains(rules, "NOTAM"), F.lit(False))


def remarks_text(rules: Column) -> Column:
    """`rules.join(', ')`, with undefined rules -> null and the empty string
    pruned (cleanObject drops '' — reference :284 + clean-object.ts)."""
    return F.nullif(F.array_join(rules, ", "), F.lit(""))


def frequency_formatted(frequency: Column) -> Column:
    """Zero-padded 3-decimal string: 120.38 -> '120.380', 119.0 -> '119.000'
    (reference :193-202: toString, split on '.', padEnd(3, '0')).

    Faithful to JS padEnd: decimals are padded but never truncated or
    rounded (a 4-decimal frequency keeps all 4 digits), which is why this
    is NOT format_number(freq, 3)."""
    as_str = frequency.cast("double").cast("string")
    whole = F.split(as_str, r"\.")[0]
    dec = F.coalesce(F.split(as_str, r"\.")[1], F.lit("000"))
    dec_padded = F.when(F.length(dec) >= 3, dec).otherwise(F.rpad(dec, 3, "0"))
    return F.concat(whole, F.lit("."), dec_padded)

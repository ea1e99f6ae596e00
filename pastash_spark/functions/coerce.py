"""Numeric auto-coercion with the reference's quirks.

Reference semantics (/root/reference/lib/lib/regex_helper.js:37-48):
  * a captured string matching ``^[0-9]+$`` becomes an int
  * one matching ``^[0-9]+[.,][0-9]+$`` becomes a float, with ``,`` treated
    as the decimal separator (``"12,3"`` -> 12.3)
  * a field declared numeric that matches neither is DROPPED (-> null here)

Spark columns are statically typed, so "int or float or string" per value
cannot survive into one column.  The engine's contract: un-declared captures
stay strings; a field declared numeric becomes DoubleType via
``coerce_numeric_str`` (ints come out integral-valued); declare IntegerType
explicitly where the schema wants ints.  The quirk set (comma decimals,
drop-on-mismatch) is preserved exactly and pinned by tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NUM_INT_RE = r"^[0-9]+$"
NUM_FLOAT_RE = r"^[0-9]+[.,][0-9]+$"


def coerce_numeric_str(col: Column | str) -> Column:
    """String column -> DoubleType with reference quirks, null on mismatch."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.rlike(NUM_INT_RE), c.cast("double"))
        .when(c.rlike(NUM_FLOAT_RE),
              F.regexp_replace(c, ",", ".").cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )


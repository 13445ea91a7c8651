"""Deterministic, engine-portable hashing used by dedup/fingerprint ops.

All signatures are derived from ``md5`` so the exact same integers are
computable in any ANSI-ish engine (the driver's DuckDB oracle uses
``('0x' || substring(md5(x),1,15))::BIGINT``) — deliberately NOT Spark's
``hash()``/``xxhash64`` which no other engine reproduces. 15 hex chars =
60 bits, safely inside a signed 64-bit long.

md5 is computed JVM-side (whole-stage codegen) — this is not a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


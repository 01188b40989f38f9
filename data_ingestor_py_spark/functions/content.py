"""Content invariants + vectorized transform stage (M6/M7).

The per-row ``sha2(content, 256)`` is the engine's cross-system invariant —
the generalization of the reference's ``json_hash`` column carried through
its mapping (interfaces/mist-ams/control-file.json:43, schema.sql:15). It is
a JVM built-in (no UDF). The pandas-UDF normalizer demonstrates the
engine's sanctioned Python escape hatch: Arrow-batched Series->Series, never
row-at-a-time (reference's per-record Transformation ABC,
transformations/transformation.py:3-12, re-expressed vectorized).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def content_sha256(col: str | Column = "content") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


# DataType instance (not a DDL string) so the decorator does not require an
# active SparkSession at import time.
@pandas_udf(StringType())
def normalize_content(s: pd.Series) -> pd.Series:
    """Vectorized content normalization: CRLF->LF, strip trailing spaces,
    ensure single trailing newline. Arrow-batched (M6)."""
    out = s.str.replace("\r\n", "\n", regex=False).str.replace(r"[ \t]+\n", "\n", regex=True)
    out = out.str.rstrip("\n") + "\n"
    return out.where(s.notna(), None)


def table_state_hash(df: DataFrame) -> str:
    """Order-insensitive whole-table hash: decimal sum of per-row sha256
    prefixes. Two tables are byte-equal iff (count, sum) match (collision
    probability ~2^-60). Used by replay-equality tests."""
    row_repr = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)])
    row_hash = F.conv(F.substring(F.sha2(row_repr, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count("*").alias("n"), F.sum(row_hash).alias("s")).collect()[0]
    return f"{r['n']}:{r['s']}"

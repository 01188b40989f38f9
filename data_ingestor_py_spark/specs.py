"""Mapping specs: the engine's declarative "schema of the pipeline".

Generalizes the reference's JSON control-file mapping
(``interfaces/mist-ams/control-file.json:36-63`` — a dict of
source-key -> DB column applied per record at
``msgbroker/file_producer.py:82-86``) into a versioned, typed column-mapping
spec that compiles to a Catalyst ``select`` list: rename + cast + NULL-fill
for missing sources, so column pruning and pushdown stay free.

The reference's mid-stream schema switch (flush batch, swap mapping on a
``__NEW_FILE__`` marker, ``msgbroker/sql_consumer.py:61-71``) becomes a
*versioned* spec: each change-event carries ``_schema_version`` and the
replay driver applies table schema evolution before merging a batch whose
spec version exceeds the table's.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ColumnMapping:
    """One output column: rename of ``source`` (or NULL if absent) cast to ``dtype``."""

    source: str | None
    target: str
    dtype: str = "string"


@dataclass(frozen=True)
class MappingSpec:
    """A versioned projection spec (reference: one ``jsonSchema`` mapping dict).

    ``constants`` mirrors the reference's enrichment transform
    (``transformations/context_file_transform.py:9-12`` adds context_id and
    filename to every record): literal audit columns stamped onto each row.
    """

    version: int
    columns: tuple[ColumnMapping, ...]
    constants: dict[str, str] = field(default_factory=dict)

    def select_exprs(self, df: DataFrame) -> list[Column]:
        present = set(df.columns)
        exprs: list[Column] = []
        for m in self.columns:
            if m.source is not None and m.source in present:
                exprs.append(F.col(m.source).cast(m.dtype).alias(m.target))
            else:
                # missing source key -> NULL (reference: dict.get default,
                # msgbroker/file_producer.py:84)
                exprs.append(F.lit(None).cast(m.dtype).alias(m.target))
        for name, value in self.constants.items():
            exprs.append(F.lit(value).alias(name))
        return exprs

    def apply(self, df: DataFrame, keep: list[str] | None = None) -> DataFrame:
        """Project ``df`` through the spec; ``keep`` preserves engine columns
        (``_seq``, ``_op``, ...) untouched."""
        exprs = self.select_exprs(df)
        for k in keep or []:
            if k in df.columns:
                exprs.append(F.col(k))
        return df.select(*exprs)

"""Versioned schema registry + micro-batch-boundary resolution.

The reference discovers schemas from database catalogs at job start
(DBSqlGenerator.java:60-89) and has no evolution story. The north rule
requires mid-stream evolution: added AND renamed columns, resolved at
micro-batch boundaries. Renames are the hard part — events written under an
old name must land in the current column without rewriting history — so the
registry stores *name lineage* per version (the field-id trick, done with
names).

Event payloads are version-named JSON (the Debezium-ish wire shape): a batch
may mix versions; resolution parses each version with its own schema
(`from_json`, JVM-side) and maps old names through the lineage chain to
current names. Target DDL (add/rename) is applied to the SnapshotTable when
a newer version first appears — metadata-only commits, no data rewrite.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_service_spark.tables.lake import SnapshotTable

_TYPE = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
}


@dataclass
class SchemaVersion:
    version: int
    effective_lsn: int
    columns: list[tuple[str, str]]          # (name, simple type) under THIS version's names
    renames: dict[str, str] = field(default_factory=dict)  # old -> new vs previous version

    def struct(self) -> T.StructType:
        return T.StructType(
            [T.StructField(n, _TYPE[t], True) for n, t in self.columns]
        )


class SchemaRegistry:
    """Ordered list of SchemaVersions, persisted as one JSON file."""

    def __init__(self, versions: list[SchemaVersion]):
        self.versions = sorted(versions, key=lambda v: v.version)
        by_v = {v.version: v for v in self.versions}
        if len(by_v) != len(self.versions):
            raise ValueError("duplicate schema version")
        self._by_version = by_v

    # ---- persistence ----
    @classmethod
    def load(cls, path: str) -> "SchemaRegistry":
        with open(path) as f:
            raw = json.load(f)
        return cls(
            [
                SchemaVersion(
                    version=v["version"],
                    effective_lsn=v["effective_lsn"],
                    columns=[tuple(c) for c in v["columns"]],
                    renames=v.get("renames", {}),
                )
                for v in raw["versions"]
            ]
        )

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "versions": [
                        {
                            "version": v.version,
                            "effective_lsn": v.effective_lsn,
                            "columns": [list(c) for c in v.columns],
                            "renames": v.renames,
                        }
                        for v in self.versions
                    ]
                },
                f,
            )

    # ---- lookups ----
    def get(self, version: int) -> SchemaVersion:
        return self._by_version[version]

    def latest(self) -> SchemaVersion:
        return self.versions[-1]

    def rename_chain(self, from_version: int, to_version: int) -> dict[str, str]:
        """Cumulative old-name -> name-at-`to_version` mapping."""
        mapping: dict[str, str] = {}
        for v in self.versions:
            if from_version < v.version <= to_version and v.renames:
                # extend existing chains, then add new links
                for old, cur in list(mapping.items()):
                    if cur in v.renames:
                        mapping[old] = v.renames[cur]
                for old, new in v.renames.items():
                    if old not in mapping.values():
                        mapping.setdefault(old, new)
        return mapping

    def current_name(self, name: str, from_version: int, to_version: int) -> str:
        chain = self.rename_chain(from_version, to_version)
        return chain.get(name, name)


def resolve_batch(
    raw: DataFrame,
    registry: SchemaRegistry,
    envelope_cols: tuple[str, ...] = ("lsn", "op", "repo", "path", "ts", "schema_version"),
    payload_col: str = "payload",
    to_version: int | None = None,
    versions: list[int] | None = None,
) -> DataFrame:
    """Normalize a mixed-version raw event batch to `to_version` column names.

    One `from_json` per version present (JVM expression, no Python), then the
    union aligns everything to the target version's column set; columns a
    version doesn't know yet come out NULL. A field is cast only where its
    version declares another type than the target, and aliased only where
    it was renamed or cast. `versions`: the distinct `schema_version` values
    of `raw` when the caller already collected them (default: one
    distinct-collect here).
    """
    target = registry.get(to_version) if to_version else registry.latest()
    if versions is None:
        versions = [r[0] for r in
                    raw.select("schema_version").distinct().collect()]
    if not versions:
        versions = [target.version]  # empty batch: emit the right shape
    out_cols = [n for n, _ in target.columns]
    parts = []
    for ver in sorted(versions):
        sv = registry.get(ver)
        part = raw.where(F.col("schema_version") == ver)
        parsed = part.withColumn("_p", F.from_json(F.col(payload_col), sv.struct()))
        sel = [F.col(c) for c in envelope_cols]
        have = {registry.current_name(n, ver, target.version): (n, t)
                for n, t in sv.columns}
        for name, typ in target.columns:
            if name in envelope_cols:
                continue
            if name not in have:
                sel.append(F.lit(None).cast(_TYPE[typ]).alias(name))
                continue
            src, src_typ = have[name]
            c = F.col(f"_p.{src}")
            if src_typ != typ:
                c = c.cast(_TYPE[typ])
            # a cast renames the column to its expression text
            sel.append(c if (src, src_typ) == (name, typ) else c.alias(name))
        parts.append(parsed.select(*sel))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def apply_ddl_for_version(
    table: SnapshotTable, registry: SchemaRegistry, version: int
) -> None:
    """Advance the target table's schema to `version` (metadata-only commits).

    Idempotent: applied version is tracked in table props; add/rename are
    individually idempotent too, so a crash between DDL and props update is
    safe on re-run.
    """
    applied = int(table.current().props.get("schema_version", "1"))
    if version <= applied:
        return
    for sv in registry.versions:
        if sv.version <= applied or sv.version > version:
            continue
        for old, new in sv.renames.items():
            table.rename_column(old, new)
        prev = registry.get(sv.version - 1) if sv.version > 1 else None
        prev_names = {
            registry.current_name(n, prev.version, sv.version) for n, _ in prev.columns
        } if prev else set()
        for name, typ in sv.columns:
            if name not in prev_names:
                table.add_column(name, _TYPE[typ])
            else:
                cur_schema = table.current().schema()
                if (name in cur_schema.names
                        and cur_schema[name].dataType != _TYPE[typ]):
                    # version widened an existing column (int→long, …):
                    # metadata-only promotion; widen_column REFUSES lossy
                    # changes, so a registry declaring a narrowing fails
                    # loudly here instead of silently truncating at the sink
                    table.widen_column(name, _TYPE[typ])
    table.commit("schema_version", {}, props_update={"schema_version": str(version)})

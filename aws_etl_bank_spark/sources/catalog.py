"""In-memory/file-backed data catalog — the Glue Data Catalog analog.

The reference resolves databases/tables through the Glue Data Catalog,
populated by crawlers with CombineCompatibleSchemas grouping
(reference aws-resource-management/.../glue_crawlers.tf:5-28;
context.py:158-188).  Here the catalog is a plain registry of
(database, table) → (path, format, options, partition keys, schema) that
can persist itself to JSON, plus a ``crawl`` operation that infers a
merged schema the same way the crawler does (schema union ≈ our
mergeDataTypes algebra, realized via Spark's parquet ``mergeSchema``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyspark.sql.types as T
from pyspark.sql import SparkSession

from aws_etl_bank_spark.durable import atomic_write


@dataclass
class CatalogTable:
    database: str
    name: str
    path: str
    format: str = "parquet"
    options: dict = field(default_factory=dict)
    partition_keys: list = field(default_factory=list)
    schema_json: str | None = None

    def spark_schema(self) -> T.StructType | None:
        if self.schema_json is None:
            return None
        return T.StructType.fromJson(json.loads(self.schema_json))


class Catalog:
    def __init__(self, state_path: str | None = None):
        self._tables: dict[tuple[str, str], CatalogTable] = {}
        self.state_path = state_path
        if state_path and os.path.exists(state_path):
            self._load()

    # -- registry ----------------------------------------------------------

    def create_table(self, database: str, name: str, path: str, format: str = "parquet",
                     options: dict | None = None, partition_keys: list | None = None,
                     schema: T.StructType | None = None) -> CatalogTable:
        t = CatalogTable(
            database, name, path, format, options or {}, partition_keys or [],
            json.dumps(schema.jsonValue()) if schema is not None else None,
        )
        self._tables[(database, name)] = t
        self._save()
        return t

    def get_table(self, database: str, name: str) -> CatalogTable:
        key = (database, name)
        if key not in self._tables:
            raise KeyError(f"table {database}.{name} not registered")
        return self._tables[key]

    def get_databases(self) -> list[str]:
        return sorted({db for db, _ in self._tables})

    def get_tables(self, database: str) -> list[str]:
        return sorted(name for db, name in self._tables if db == database)

    def drop_table(self, database: str, name: str):
        self._tables.pop((database, name), None)
        self._save()

    # -- crawler analog ----------------------------------------------------

    def crawl(self, spark: SparkSession, database: str, name: str, path: str,
              format: str = "parquet", options: dict | None = None,
              partition_keys: list | None = None) -> CatalogTable:
        """Infer and register a table schema from files — the Glue crawler
        analog.  For parquet, uses ``mergeSchema`` so files with drifted
        (compatible) schemas combine, matching CombineCompatibleSchemas."""
        options = dict(options or {})
        reader = spark.read
        if format == "parquet":
            reader = reader.option("mergeSchema", "true")
        elif format == "csv":
            options.setdefault("header", "true")
        for k, v in options.items():
            reader = reader.option(k, v)
        df = reader.format(format).load(path)
        return self.create_table(database, name, path, format, options,
                                 partition_keys or [], df.schema)

    # -- persistence -------------------------------------------------------

    def _save(self):
        if not self.state_path:
            return
        payload = {
            f"{db}.{name}": {
                "database": t.database, "name": t.name, "path": t.path,
                "format": t.format, "options": t.options,
                "partition_keys": t.partition_keys, "schema_json": t.schema_json,
            }
            for (db, name), t in self._tables.items()
        }
        atomic_write(self.state_path, json.dumps(payload, indent=1))

    def _load(self):
        with open(self.state_path) as fh:
            payload = json.load(fh)
        for spec in payload.values():
            t = CatalogTable(**spec)
            self._tables[(t.database, t.name)] = t

"""YAML pipeline config — the same `in:` / `out:` shape migbq documents
(`[pub:H config/*.yml]`, SURVEY.md §1.1):

    in:
      type: parquet | jdbc
      # parquet source:
      path: /root/testdata/sf0.01
      # jdbc source:
      url: jdbc:derby:memory:db;create=true      # prod: jdbc:sqlserver://...
      driver: org.apache.derby.jdbc.EmbeddedDriver
      user: ...
      password: ...
      tables:
        events:
          pk: event_id
      batch_size: 50000
    out:
      type: parquet                # bigquery raises: needs spark-bigquery-connector
      path: /path/to/dest          # parquet "dataset" directory
    meta:
      path: /path/to/state         # metadata store (migbq: sqlite/peewee)

migbq's MSSQL host/port/database keys map 1:1 onto the JDBC url; its
sqlite metadata DB is `meta.path`/migbq.sqlite (stdlib sqlite3).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import yaml


@dataclass
class TableSpec:
    name: str
    pk: str


@dataclass
class PipelineConfig:
    in_type: str
    out_type: str
    tables: list[TableSpec]
    batch_size: int
    in_path: str | None = None
    jdbc_url: str | None = None
    jdbc_driver: str | None = None
    jdbc_user: str | None = None
    jdbc_password: str | None = None
    out_path: str | None = None
    meta_path: str = ".stage/meta"

    @classmethod
    def from_dict(cls, raw: dict) -> "PipelineConfig":
        i, o = raw.get("in", {}), raw.get("out", {})
        tables = [
            TableSpec(name=str(t), pk=str((spec or {}).get("pk", "id")))
            for t, spec in (i.get("tables") or {}).items()
        ]
        return cls(
            in_type=i.get("type", "parquet"),
            out_type=o.get("type", "parquet"),
            tables=tables,
            batch_size=int(i.get("batch_size", 50_000)),
            in_path=i.get("path"),
            jdbc_url=i.get("url"),
            jdbc_driver=i.get("driver"),
            jdbc_user=i.get("user"),
            jdbc_password=i.get("password"),
            out_path=o.get("path"),
            meta_path=raw.get("meta", {}).get("path", ".stage/meta"),
        )

    @classmethod
    def load(cls, path: str | Path) -> "PipelineConfig":
        with open(path) as fh:
            return cls.from_dict(yaml.safe_load(fh) or {})

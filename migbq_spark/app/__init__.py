"""migbq application-parity layer: the reference's `run | sync | check`
CLI lifecycle (SURVEY.md §3.1 EP1-EP3) re-expressed as Spark jobs.

- config.py    — YAML `in:` / `out:` / `meta:` pipeline config
- metadata.py  — sqlite progress + job log (commits: migbq_spark/commit.py)
- forwarder.py — the run/sync/check pipeline itself
- cli.py       — `python -m migbq_spark.app run config.yml`
"""

from migbq_spark.app.config import PipelineConfig, TableSpec
from migbq_spark.app.forwarder import Forwarder
from migbq_spark.app.metadata import MetadataStore

__all__ = ["PipelineConfig", "TableSpec", "Forwarder", "MetadataStore"]

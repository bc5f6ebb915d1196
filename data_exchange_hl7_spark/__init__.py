"""PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the semantics of CDCgov/data-exchange-hl7
(reference at /root/reference, survey in SURVEY.md) as an idiomatic PySpark
engine: a binlog/WAL-style change-event stream over a lake table of
source-code repositories is replayed through key-partitioned MERGE/upsert
apply with deterministic per-(repo, path) LSN ordering, schema evolution,
and exactly-once idempotent commits.

Reference semantic map (SURVEY.md section 7.1):
  debatch (fn-receiver-debatcher Function.kt:104-170) -> operators.debatch
  latest-flag ordering (latest_flag_and_sequencing.scala:49-151) -> operators.dedup
  validation verdicts (lib-nist-validator ProfileManager.kt:135-172) -> operators.validate
  redaction (fn-redactor Function.kt:46-100) -> operators.normalize
  cosmos bulk upsert (fn-sc-cosmosdb-sink Function.kt:39-82) -> lake.table.LakeTable.merge
  replay API (svc-hl7-replay ReplayController.kt:100-139) -> replay
"""

from data_exchange_hl7_spark.engine import Engine

__all__ = ["Engine"]
__version__ = "0.1.0"

"""e_commerce_lakehouse_spark — a from-scratch PySpark-native lakehouse
table-maintenance engine.

Re-expresses the capabilities of the reference repo
(b-kenneth/E-commerce-lakehouse — a Glue/Lambda/Delta ETL pipeline; see
SURVEY.md) as an idiomatic PySpark engine over an Iceberg-style table
format implemented here from scratch:

- ``table/``      snapshot + manifest metadata layer, atomic commits,
                  per-file min/max stats, snapshot-pinned pruned scans
- ``operators/``  the five maintenance operators (compaction, Z-order /
                  Hilbert clustering, manifest rewrite, snapshot expire +
                  GC, MERGE INTO), row-level DELETE/UPDATE, schema
                  evolution, the reference's ETL dataflow operators
                  (validate / dedup / transform) and the transcript
                  training-data ops
- ``functions/``  vectorized key functions (Z-order & Hilbert interleave)
- ``plans/``      driver-side planning: bin-packing, skew/salting helpers
- ``sources/``    CSV/Excel/parquet ingestion (reference §2.1 parity)
- ``streaming/``  file-source micro-batch ingestion via foreachBatch MERGE
- ``catalog``     persistent named-table registry (snapshot-pinned,
                  expire-safe, attachable into any SparkSession)
- ``pipeline``    multi-op / multi-table orchestration with per-stage
                  checkpoint, retry/backoff, and catch-to-summary
- ``table/cdc``   at-least-once upsert consumer AND the typed change
                  feed (insert/delete rows with commit ordering)
- ``table/inspect`` Iceberg-style metadata tables (files / snapshots /
                  partitions / schemas / refs / manifests as DataFrames
                  + catalog SQL views)
- ``table/fieldids`` field-id binding for metadata-only RENAME/WIDEN
                  (write-schema versions recover Iceberg's id semantics
                  on name-addressed parquet)
- ``operators/metaagg`` metadata-only COUNT/MIN/MAX and the
                  stats-driven retention delete (boundary files only)

Refs: immutable tags, write-audit-publish staging, and mutable BRANCHES
with fast-forward publish (``Table.create_branch`` — every operator
works against a branch-loaded table). Partition specs are declared
transforms with exact planner pruning and Iceberg-style spec EVOLUTION.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"

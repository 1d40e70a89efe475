"""Lakehouse table layer with Iceberg-style semantics.

The sandbox has no Iceberg runtime jar, so the engine ships a thin,
API-compatible table format: bucket-partitioned parquet data files +
versioned schema + atomic commits. One data plane (``table.BucketTable``:
reads, MERGE, maintenance, the change feed and the commit loop) serves
two metadata logs — ``LakeTable``'s snapshot manifests and
``DirTable``'s commit log. A real Iceberg catalog is a drop-in
replacement (``IcebergTable``) — the operations exposed here
(create/append/overwrite/merge/schema-evolve/snapshot history) map 1:1
onto Iceberg ``writeTo``/``MERGE INTO``/``ALTER TABLE ADD COLUMNS``.
"""

from etl_framework_spark.lakehouse.dirtable import DirTable  # noqa: F401
from etl_framework_spark.lakehouse.iceberg import (  # noqa: F401
    IcebergTable,
    iceberg_available,
)
from etl_framework_spark.lakehouse.protocol import KeyedTable  # noqa: F401
from etl_framework_spark.lakehouse.table import (  # noqa: F401
    CommitConflict,
    LakeTable,
    SchemaEvolutionError,
    VersionExpiredError,
    commit_with_retry,
)

"""CDC change application: last-writer-wins dedupe + keyed merge."""

from etl_framework_spark.cdc.apply import (  # noqa: F401
    apply_changes,
    compute_lineage,
    lww_dedupe,
    resolve_lww_bucketed,
)
from etl_framework_spark.cdc.relay import (  # noqa: F401
    RelayDaemon,
    RelayGapError,
    start_relay,
    sync_once,
    sync_table,
)

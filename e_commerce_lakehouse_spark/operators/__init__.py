from .analyze import analyze, clustering_depth_report, read_stats
from .apply_changes import apply_changes, replicate
from .cluster import cluster
from .compact import compact
from .clone import shallow_clone
from .expire import expire_snapshots
from .maintain import maintain, plan_maintenance, table_health
from .manifest_rewrite import rewrite_manifests
from .merge import merge_into, merge_upsert_dataframes
from .rollback import rollback_to
from .rowlevel import delete_by_keys, delete_where, materialize_deletes, update_where
from .verify import verify_table
from .constraints import add_constraint, drop_constraint, enforce_constraints
from .schema_evolution import add_columns, drop_columns

__all__ = [
    "add_columns",
    "analyze",
    "clustering_depth_report",
    "read_stats",
    "drop_columns",
    "compact",
    "cluster",
    "rewrite_manifests",
    "maintain",
    "plan_maintenance",
    "table_health",
    "expire_snapshots",
    "shallow_clone",
    "merge_into",
    "merge_upsert_dataframes",
    "rollback_to",
    "delete_where",
    "delete_by_keys",
    "apply_changes",
    "replicate",
    "update_where",
    "materialize_deletes",
    "verify_table",
    "add_constraint",
    "drop_constraint",
    "enforce_constraints",
]

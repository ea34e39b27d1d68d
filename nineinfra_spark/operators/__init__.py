"""Composite operators Spark lacks natively (SURVEY.md §2.3)."""

from nineinfra_spark.operators.asof import asof_join
from nineinfra_spark.operators.bloomindex import (
    bloom_index_append,
    bloom_index_compact,
    bloom_index_write,
    bloom_probe_files_table,
    bloom_skipping_read,
    maintain_bloom_stream,
)
from nineinfra_spark.operators.components import star_components, star_contract
from nineinfra_spark.operators.ivf import IvfTrainResult, assign_cells, refine_centroids
from nineinfra_spark.operators.ivf import train as ivf_train
from nineinfra_spark.operators.lsh import band_pairs
from nineinfra_spark.operators.merge import (
    delete_where,
    merge_into_table,
    merge_into_table_versioned,
    merge_upsert,
    publish_snapshot,
    recover_published_table,
    update_where,
)
from nineinfra_spark.operators.diff import (
    snapshot_diff,
    snapshot_diff_counts,
    snapshot_diff_versions,
    table_changes,
)
from nineinfra_spark.operators.skew import salted_join
from nineinfra_spark.operators.zorder import (
    maintain_layout_stream,
    zorder_layout_append,
    zorder_layout_write,
    zorder_write,
    zvalue_column,
)

__all__ = [
    "asof_join",
    "bloom_index_append",
    "bloom_index_compact",
    "bloom_index_write",
    "bloom_probe_files_table",
    "bloom_skipping_read",
    "maintain_bloom_stream",
    "assign_cells",
    "refine_centroids",
    "ivf_train",
    "IvfTrainResult",
    "band_pairs",
    "star_components",
    "star_contract",
    "merge_upsert",
    "merge_into_table",
    "merge_into_table_versioned",
    "publish_snapshot",
    "recover_published_table",
    "delete_where",
    "update_where",
    "salted_join",
    "snapshot_diff",
    "snapshot_diff_counts",
    "snapshot_diff_versions",
    "table_changes",
    "maintain_layout_stream",
    "zorder_layout_append",
    "zorder_layout_write",
    "zorder_write",
    "zvalue_column",
]

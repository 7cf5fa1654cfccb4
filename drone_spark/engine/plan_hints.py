"""Join-strategy hints for the superstep hot paths.

Iterative state lives in localCheckpoint RDDs / fresh parquet commits,
whose plans carry no usable size statistics — so Catalyst's size-based
join selection degenerates: it either broadcasts the state every
superstep (driver collect + ship per iteration), sort-merge-joins
(re-sorting the cached edge table every superstep), or hash-builds the
WRONG side (the multi-million-row edge partition instead of the small
state slice). Both sides of these joins are already co-partitioned on
the join key, so strategy is the only degree of freedom — an explicit
SHUFFLE_HASH hint on the small side pins it.

Measured (13.4M edges, local[8], 3 supersteps, min-of-2): r5 shape
12.36 s → 8.62 s iteration with the hint + join-back step shape
(OPTIMIZATION_r06.md §Engine, item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shj_build(df: DataFrame) -> DataFrame:
    """Mark ``df`` as the preferred shuffled-hash-join build side.

    Use on the side KNOWN to be small per partition: per-vertex state
    slices (|V|/num_parts rows) or aggregated message tables (≤ that).
    Scale-safe: the build side is bounded per partition and num_parts
    scales with the cluster."""
    return df.hint("shuffle_hash")

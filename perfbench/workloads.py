"""The benchmark's workloads: which registered operator keys each one runs, on which tables.

Each workload stresses a different layer of the engine (README.md has the
layer -> metric map).  Keys are registry names from
``task_mapreduce_spark.registry.QUERIES``; every one has a DuckDB oracle.
``data`` names a directory under ``perfbench/data``.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    data: str
    keys: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # The MapReduce/relational surface: scan -> shuffle -> aggregate, with
    # few construction-time jobs.  The control for materialization and
    # ANN changes, which must leave it unmoved.
    "mr_sql": Workload("sf0.01", (
        "tpch_q1",
        "tpch_q18",
        "mr_word_count",
        "mr_inverted_index",
        "basket_pairs",
        "win_analytic",
    )),
    # Materialization: a fixpoint loop whose wall is mostly construction-time
    # checkpoint jobs (connected components), plus a key that writes what it
    # checkpoints to parquet and reads it back (index persist).
    "iterative": Workload("sf0.01", (
        "dedup_cluster_cc",
        "sim_index_persist",
    )),
    # Vector scoring on the sf0.1 embeddings (2,000 vectors; sf0.01 has 500),
    # where the interpreted zip_with dots are about half of the process CPU.
    "ann": Workload("ann", (
        "sim_join_knn",
        "mine_hard_negatives",
    )),
}

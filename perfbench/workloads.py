"""Workload definitions, the fixed session config and the query→module map.

Two workloads stress different layers of the engine:

* ``batch`` — one closed-loop client running the paper's weighted-bin
  calculator on events expanded tenfold, the TimeSeriesStudy GARCH fits
  (``applyInPandas`` in Python workers) and the LLM-data shard export, the
  only write path.  On 4 vCPUs execution takes ~73% of query time (builders
  ~27%), the shard write alone a third and the GARCH execution a quarter.
* ``interactive`` — ``NPROC`` concurrent closed-loop clients sharing one
  session, each running short queries from many operator families over
  tiny inputs.  Builders take ~35% of query time and executor task time
  ~0.7 s of each ~1.9 s query, so gains in driver or plan construction
  show here and gains in operator data paths should not.

Each workload also names ``coverage`` queries, run only in traced runs, so
that every operators module has per-layer numbers on one workload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

NPROC = len(os.sched_getaffinity(0))

# The session is vanilla apart from this fixed config: any conf the engine
# needs must come from the engine itself, as under the driver contract.
# Directory settings are filled in by run.py so nothing is written outside
# the benchmark's work directory.
SESSION_CONF = {
    "spark.master": f"local[{NPROC}]",
    "spark.app.name": "perfbench",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
}

EXPORT = "export_shards"
EXPORT_SHARDS = 16

# query -> layer (the operators module its builder calls); TPC-H queries
# are built inline in the driver module.
MODULE_OF = {
    "weighted_bins": "weighted_bins",
    "panel_ar1": "panel_stats",
    "memory_acf_hurst": "memory",
    "stationarity_kpss": "stat_tests",
    "lagged_corr": "cross_feature",
    "zscore_outliers": "outliers",
    "volatility_garch": "ml_fits",
    "text_stats": "text",
    "quality_rules": "cleaning",
    "dedup_clusters": "dedup",
    "similarity_ann": "similarity",
    "textrank": "graph",
    EXPORT: "pipeline",
    "pack_sequences": "packing",
    "events_funnel": "events",
    "hll_distinct": "sketches",
    "asof_profile": "asof",
    "tpch_q3": "driver.tpch",
}
MODULES = tuple(dict.fromkeys(MODULE_OF.values()))

# Queries whose result has no SQL oracle: checked for a non-empty result
# with the declared schema and a digest that repeats across passes.
ROWS_ONLY = ("volatility_garch",)


@dataclass(frozen=True)
class Workload:
    clients: int
    queries: tuple[str, ...]  # timed, in this order
    sizes: dict
    # traced runs only: queries of the modules no timed query calls
    coverage: tuple[str, ...] = ()


WORKLOADS = {
    "batch": Workload(
        clients=1,
        queries=("weighted_bins", "volatility_garch", EXPORT),
        coverage=("dedup_clusters",),
        # events: 2k base rows expanded 10x with remapped user/event ids;
        # lineitem over 150 ship dates -> a 150-date x 3-group panel
        sizes={
            "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
            "lineitem": 30000, "days": 150, "events": 2000, "users": 150,
            "events_expand": 10, "documents": 1000, "embeddings": 1000,
        },
    ),
    "interactive": Workload(
        clients=NPROC,
        queries=(
            "tpch_q3", "events_funnel", "asof_profile", "panel_ar1",
            "text_stats", "quality_rules", "zscore_outliers", "pack_sequences",
        ),
        coverage=(
            "memory_acf_hurst", "stationarity_kpss", "lagged_corr", "hll_distinct",
            "similarity_ann", "textrank",
        ),
        # the driver's sf0.001 table sizes
        sizes={
            "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
            "lineitem": 6000, "days": 2400, "events": 1000, "users": 15,
            "events_expand": 1, "documents": 500, "embeddings": 500,
        },
    ),
}

"""The benchmark's workloads: which operations one pass runs.

An operation is a catalog entry (built with its ``spark_fn`` and
collected with ``toPandas``) or ``pipeline``, the reference's nightly
job (``plans.pipeline.run_pipeline`` over the offline fetcher's pages).
Every workload is a closed loop: one client in one driver process runs
the operations one after another, pass after pass.

Each layer is exercised by one workload and bypassed by the other:

| layer                                  | nightly_curation | warehouse_stream |
|----------------------------------------|------------------|------------------|
| Python workers (mapInPandas, skills UDF) | yes            | no               |
| parquet sink (bronze, silver)          | yes              | no               |
| materialization (localCheckpoint)      | yes              | staging only     |
| connected components                   | yes              | no               |
| trained index build and probe          | yes              | no               |
| streaming state store                  | no               | yes              |
| scans, shuffles, joins over star tables| little           | yes              |
"""

from __future__ import annotations

PIPELINE = "pipeline"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The reference's nightly job, then the curation and serving steps
    # over the same night's corpus: near-duplicate clusters (iterative
    # connected components, localCheckpoint sites) and IVF top-k over
    # trained centroids.
    "nightly_curation": (
        PIPELINE,
        "jobs_skills_trie_udf",
        "docs_dedup_canonical",
        "ann_ivf_topk",
    ),
    # Scans, shuffles and joins over the largest tables plus a streaming
    # twin on the state store; almost no checkpoints or UDFs.
    "warehouse_stream": (
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "events_sessionization",
        "streaming_latest_per_user",
    ),
}

# A warm pass's nominal length on a 4-core host. ``--seconds`` buys
# round(seconds / nominal) warm passes, at least two, so that every run
# of a workload measures the same passes: warm passes still get faster
# for several passes as the JIT compiles, and a count that followed the
# host's speed would measure a faster run further down that slope.
NOMINAL_WARM_PASS_S = {
    "nightly_curation": 8.5,
    "warehouse_stream": 3.8,
}

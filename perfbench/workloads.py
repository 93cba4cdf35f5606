"""Workload definitions: the operations each pass runs, and why.

Every workload runs as a closed loop with one client: operations run one
after another, the next starting when the previous one has finished. An
operation is one gate execution (construct, plan, `toRdd.count()`) or one
ETL write step. In etl_daily each pass starts with the day's ingest, in its
fixed order (the raw-JSON zone transforms, the backfill upsert, the
compaction), as the reference's daily run does; the gates follow in a
seeded order.

Gate lists are sized so that a run (JVM start, set-up with its warm-up
pass, one timed pass, output checks) stays near one minute: a benchmark
evaluation allows about 70 s per run on average. LEDGER.md lists the gates
left out for that reason.
"""

# gate -> the ops family (module under graft.ops / graft.streaming) that
# SparkEntry calls for it
FAMILY = {
    "q_dq_report": "Etl", "q_error_rate": "Etl", "q_scd2": "Etl",
    "q_multi_join_agg": "Relational",
    "q_yoy": "Windows", "q_monthly_quartiles": "Windows",
    "q_asof_join": "Temporal",
    "q_retention": "Events", "q_markov_attribution": "Events",
    "q_sessions": "Streams",
    "q_cohort_ltv": "Commerce",
    "q_date_features": "Features",
    "q_zorder": "Layout",
    "q_louvain": "Graph", "q_modularity": "Graph",
    "q_lm_5gram": "Text", "q_lm_published": "Text",
    "q_bootstrap_ci": "Stats",
    "q_gbt_score": "Models",
    "q_sample_exact_k": "Curation",
    "q_cosine_topk": "Similarity",
    "q_exact_dedup": "Dedup",
}

# every family any workload touches, for the fixed per-layer metric list
FAMILIES = sorted(set(FAMILY.values()))

# consumers of per-JVM publish-once artifacts; the live receipts of the
# first two are q_louvain and q_lm_5gram, q_gbt_score's fit runs only in
# its warm-up
PUBLISH_CONSUMERS = ["q_modularity", "q_lm_published", "q_gbt_score"]

CONTROL = "q_zorder"

WORKLOADS = {
    # The reference's own daily run at sf0.01: its raw-JSON batch (three
    # countries, 30 day-files each, see inputs.py) through the
    # processed/error zones, a backfill upserted into the
    # partitioned gold copy of `events` and compacted, then short
    # dashboard gates. Writes and the per-query fixed cost (Catalyst plus
    # scheduling) dominate; construction work is small. A layout or commit
    # change that speeds reads but slows writes shows as ingest_s against
    # op_p50_s. The bypass case for construction and job-count work.
    "etl_daily": {
        "data": "sf0.01",
        "ingest": True,
        # its traced runs also time each SQL kernel against the Catalyst
        # spelling it replaced, over its documents and embeddings
        "kernel_probe": True,
        "gates": [
            "q_dq_report", "q_error_rate", "q_scd2", "q_multi_join_agg",
            "q_yoy",
            "q_monthly_quartiles", "q_asof_join", "q_retention",
            "q_sessions", "q_cohort_ltv", "q_date_features", CONTROL],
    },
    # Multi-job gates at sf0.001, where construction and the per-job floor,
    # not data volume, set the cost: two publish families as live receipt
    # and consumer, the Markov attribution chain, and q_bootstrap_ci, which
    # runs serially (a known defect). Fewer jobs and less construction work
    # act here. One short gate each keeps the Models (a publish consumer),
    # Curation, Similarity and Dedup families measured; their multi-job
    # gates do not fit the run budget.
    "iterative_models": {
        "data": "sf0.001",
        "ingest": False,
        "kernel_probe": False,
        "gates": [
            "q_louvain", "q_modularity", "q_lm_5gram", "q_lm_published",
            "q_markov_attribution", "q_bootstrap_ci",
            "q_gbt_score", "q_sample_exact_k", "q_cosine_topk",
            "q_exact_dedup"],
    },
}

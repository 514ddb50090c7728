"""The benchmark's workloads: why each exists and the operations it runs."""

from __future__ import annotations

from typing import Any

#: why each workload exists, the operations its closed loop runs, the
#: tables it reads and the probes its traced run adds.  The two
#: workloads split the engine along the line later optimisations care
#: about: the first never leaves the JVM, the second spends its time in
#: Python workers.  The availableNow stream (one micro-batch costs ~5 s
#: against ~1 s for any other operation) runs once per traced run as a
#: probe rather than in the loop, where it would set every figure.
WORKLOADS: dict[str, dict[str, Any]] = {
    "relational": {
        "why": ("JVM-only path: parquet scans, joins, aggregates, windows, the "
                "MapleJuice SQL frontend, the format writers and a stream; Python "
                "operators are bypassed and no job runs while a plan is built"),
        "ops": [
            "q_agg_pricing", "q_join_threeway", "q_tpch_q9", "q_window_rank",
            "q_events_funnel", "q_filter_regex", "q_maplejuice_sql_join",
            "csv_roundtrip", "parquet_roundtrip",
        ],
        "probes": ["plans", "stream"],
        "pass_s": 3.0,
        "tables": ["lineitem", "orders", "customer", "supplier", "part",
                   "nation", "region", "events", "documents"],
    },
    "llm_data": {
        "why": ("Python-worker path: MinHash mapInArrow, the applyInPandas "
                "cosine kernel and a localCheckpoint job at plan build time; the "
                "traced run adds prefix filtering and MapleJuice as executables"),
        "ops": [
            "q_dedup_exact", "q_dedup_near", "q_knn_graph", "q_sim_pairs",
            "q_text_classifier",
        ],
        "tables": ["documents", "embeddings"],
        "probes": ["operators"],
        "pass_s": 4.0,
    },
}

#: A run measures max(MIN_PASSES, round(--seconds / pass_s)) passes:
#: 4 of ``relational`` and 3 of ``llm_data`` at the declared 12 s, so
#: that every per-operation median has at least three samples to
#: discard one slow pass, while set-up plus measurement stays near a
#: minute on a 4-core box that other tenants load (a pass takes 4-9 s
#: there, set-up 20-60 s).  ``pass_s`` is therefore the share of
#: ``--seconds`` one pass stands for, not the wall of a pass.
#: A count fixed by the arguments, not "until the clock runs out", keeps
#: the number of latency samples the same in every run and on every
#: commit; the run budget in run.py only cuts passes beyond the minimum.
MIN_PASSES = 2

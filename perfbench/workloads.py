"""The benchmark's workloads: frozen lists of registered query names.

Queries run in the listed order; the run's seed sets only the generated
inputs (NOTES.md says why).  Why each workload exists, and what the
original four-workload design lost to the run budget, is in NOTES.md.
"""

WORKLOADS = {
    # Every 40th, by name, of the 236 oracle-backed queries in operators.
    # {relational, joins, aggregates, windows, setops, subqueries,
    # scalar_funcs, events, analytics, quality, curation} whose
    # BENCH_EPOCH.json best is under 1 s.
    "sql_short": (
        "q01_pricing_summary",
        "q29_unpivot",
        "q52d_business_days",
        "q68e_conversion_latency",
        "qc05_repetition_ratio",
        "qd12_chi_square_contingency",
    ),
    # Time spent inside the query function: a stream-stream join's
    # micro-batch and state store, two consumers of the shared co-purchase
    # graph memo (the first builds it, the second hits), and a model fit.
    "build_heavy": (
        "st08_stream_stream_join",
        "q84i_degree_assortativity",
        "q84k_motif_triads",
        "ml16_chi_square_test",
    ),
}

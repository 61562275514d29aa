"""The benchmark's workloads: registry jobs and the module each job's
operator lives in (the `<module>.*` per-layer roll-ups group by it).

Why each workload exists is in README.md. Each list has seven jobs, run
in four warm passes: 28 warm job samples put job_tail_s (the highest
percentile with ten samples beyond it) at p64, above the median, and
inside one job's cluster of samples rather than on the edge between two
(warm job times cluster by job). The lists are short because every run
is a fresh JVM that also pays set-up, a cold pass and an output-check
pass, and the whole measurement protocol (48 runs) must fit in under an
hour; the jobs left out are named in README.md.
"""

MODULES = ("ops", "join", "agg", "sources", "graph", "text", "dedup", "sim",
           "streaming")

WORKLOADS = {
    # the reference's own surface: sort, join, aggregation, layout writes,
    # the iterative graph chain; no text kernels, no streams
    "warehouse": {
        "modules": {
            "q_join_inner": "join",
            "q_sort_total": "ops",
            "q_field_selection": "ops",
            "q_wordcount": "ops",
            "q_bucketed_join": "sources",
            "q_cube": "agg",
            "q_pagerank": "graph",
        },
    },
    # the text, dedup and sim operators over one-task scans, with the jobs
    # of largest task-CPU share, and one AvailableNow stream run; keeps the
    # three jobs reported to disagree with DuckDB (README.md)
    "curation": {
        "modules": {
            "q_crawl_ingest": "text",
            "q_html_main": "text",
            "q_quality": "text",
            "q_substring_trim_exact": "dedup",
            "q_minhash_bands": "dedup",
            "q_ivfpq_batch": "sim",
            "q_stream_ingest": "streaming",
        },
    },
}

for _w in WORKLOADS.values():
    _w["jobs"] = sorted(_w["modules"])
    assert set(_w["modules"].values()) <= set(MODULES)

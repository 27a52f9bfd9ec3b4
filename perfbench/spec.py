"""Metric names, units, and which end-to-end metric each layer metric
should move on which workload. BENCHMARK.json mirrors this file (the tests
check that it does)."""

WORKLOADS = ("crawl_events", "curate")

# end-to-end (untraced run): name -> unit; every workload reports every one
E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",  # URLs popped per round second / items per pass second
    "latency_s_p50": "s",  # event due -> its round returned / pass start -> stage result
    "latency_s_p99": "s",
}

E2E_BETTER = {k: "higher" if k == "items_per_s" else "lower" for k in E2E}
# share of the parent's median by which a metric may worsen (setup_s largest)
E2E_BOUND = {
    "setup_s": 0.25,
    "items_per_s": 0.25,
    "latency_s_p50": 0.25,
    "latency_s_p99": 0.25,
}

_CRAWL = ("crawl_events",)
_IMG = _TXT = ("curate",)
_ALL = WORKLOADS

# per-layer (traced run): name -> (unit, better, the e2e metric it should
# move, the workloads it moves it on). Layers a workload bypasses report 0.
LAYERS = {
    "session.build_s": ("s", "lower", "setup_s", _ALL),
    # sum of VmHWM over the process tree at the program's own heap setting;
    # heap growth follows GC timing, too unsteady for an end-to-end bound
    "process.peak_rss_mb": ("MiB", "lower", "items_per_s", _ALL),
    "round_engine.seed_s": ("s", "lower", "setup_s", _CRAWL),
    "round_engine.round_s": ("s", "lower", "items_per_s", _CRAWL),
    "round_engine.jobs_per_round": ("count", "lower", "items_per_s", _CRAWL),
    "frontier_ops.politeness_s": ("s", "lower", "items_per_s", _CRAWL),
    "frontier_ops.politeness_jobs": ("count", "lower", "items_per_s", _CRAWL),
    "frontier_ops.rotation_s": ("s", "lower", "items_per_s", _CRAWL),
    "frontier_ops.rotation_jobs": ("count", "lower", "items_per_s", _CRAWL),
    "round_engine.select_fetch_s": ("s", "lower", "items_per_s", _CRAWL),
    "round_engine.children_s": ("s", "lower", "items_per_s", _CRAWL),
    "seen.merge_probe_s": ("s", "lower", "items_per_s", _CRAWL),
    "snapshot.write_s": ("s", "lower", "latency_s_p99", _CRAWL),
    "snapshot.bytes_per_round": ("B", "lower", "items_per_s", _CRAWL),
    "snapshot.files_per_round": ("count", "lower", "items_per_s", _CRAWL),
    "snapshot.bytes_per_url": ("B", "lower", "items_per_s", _CRAWL),
    "round_engine.selected": ("count", "higher", "items_per_s", _CRAWL),
    "round_engine.children": ("count", "higher", "items_per_s", _CRAWL),
    "round_engine.attenuated": ("count", "lower", "items_per_s", _CRAWL),
    "round_engine.bounced": ("count", "lower", "items_per_s", _CRAWL),
    "round_engine.deferred": ("count", "lower", "items_per_s", _CRAWL),
    "round_engine.requeued": ("count", "lower", "items_per_s", _CRAWL),
    "round_engine.deadlettered": ("count", "lower", "items_per_s", _CRAWL),
    "round_engine.ingested": ("count", "higher", "items_per_s", _CRAWL),
    "round_engine.child_useful_frac": ("ratio", "higher", "items_per_s", _CRAWL),
    "spark.shuffle_bytes_per_item": ("B", "lower", "items_per_s", _ALL),
    "spark.spill_bytes": ("B", "lower", "items_per_s", _ALL),
    "spark.gc_s": ("s", "lower", "items_per_s", _ALL),
    "spark.executor_busy_frac": ("ratio", "higher", "items_per_s", _ALL),
    "spark.task_skew": ("ratio", "lower", "items_per_s", _CRAWL),
    "event_source.stage_s": ("s", "lower", "latency_s_p50", _CRAWL),
    "event_source.offered": ("count", "higher", "latency_s_p50", _CRAWL),
    "event_source.staged": ("count", "higher", "latency_s_p50", _CRAWL),
    "event_source.dedup_dropped": ("count", "lower", "latency_s_p50", _CRAWL),
    "rate_limiter.throttled_frac": ("ratio", "lower", "latency_s_p50", _CRAWL),
    "events.generator_lag_s": ("s", "lower", "latency_s_p50", _CRAWL),
    "events.backlog_end": ("count", "lower", "latency_s_p99", _CRAWL),
    "images.validate_s": ("s", "lower", "items_per_s", _IMG),
    "images.png_rows_per_s": ("1/s", "higher", "items_per_s", _IMG),
    "images.jpeg_rows_per_s": ("1/s", "higher", "items_per_s", _IMG),
    "images.mpix_per_s": ("Mpix/s", "higher", "items_per_s", _IMG),
    "images.phash_s": ("s", "lower", "items_per_s", _IMG),
    "images.gates_s": ("s", "lower", "items_per_s", _IMG),
    "dedup.exact_s": ("s", "lower", "latency_s_p50", _TXT),
    "dedup.minhash_lsh_s": ("s", "lower", "latency_s_p50", _TXT),
    "dedup.pairs": ("count", "higher", "latency_s_p50", _TXT),
    "dedup.near_recall": ("ratio", "higher", "latency_s_p50", _TXT),
    "dedup.components_s": ("s", "lower", "latency_s_p50", _TXT),
    "similarity.semdedup_s": ("s", "lower", "latency_s_p50", _TXT),
    "text.pii_scrub_s": ("s", "lower", "latency_s_p50", _TXT),
    "text.profile_s": ("s", "lower", "latency_s_p50", _TXT),
    "text.repetition_s": ("s", "lower", "latency_s_p50", _TXT),
    "text_curate.write_s": ("s", "lower", "latency_s_p50", _TXT),
    "text_curate.kept_frac": ("ratio", "higher", "latency_s_p50", _TXT),
    # the traced run's own end-to-end values: minus the untraced run's on the
    # same seed, the tracing overhead
    **{f"traced.{k}": (u, E2E_BETTER[k], k, _ALL) for k, u in E2E.items()},
}

PER_LAYER = {k: v[0] for k, v in LAYERS.items()}

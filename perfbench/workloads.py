"""Workload name -> runner. Each runner takes the run Context and returns
{"e2e", "layer", "attempted", "failed", "notes"}."""

from perfbench import crawl_events, curate

WORKLOADS = {
    "crawl_events": crawl_events.run,
    "curate": curate.run,
}

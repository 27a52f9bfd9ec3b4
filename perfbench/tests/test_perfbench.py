"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import crawl_events, gen, spec  # noqa: E402
from perfbench.harness import Spans, parse_trace_lines, percentile  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_byte_identical_per_seed():
    small = dict(n_pages=300, n_hosts=20, rate_per_s=50.0, offer_s=2.0)
    assert gen.digest(gen.crawl_events_inputs(7, **small)) == gen.digest(
        gen.crawl_events_inputs(7, **small))
    assert gen.digest(gen.crawl_events_inputs(7, **small)) != gen.digest(
        gen.crawl_events_inputs(8, **small))
    assert gen.digest(gen.image_rows(7)) == gen.digest(gen.image_rows(7))
    assert gen.digest(gen.image_rows(7)) != gen.digest(gen.image_rows(8))
    docs = [gen.digest(x) for x in gen.text_docs(7, n_docs=500)]
    assert docs == [gen.digest(x) for x in gen.text_docs(7, n_docs=500)]
    assert docs != [gen.digest(x) for x in gen.text_docs(8, n_docs=500)]


def test_image_work_is_seed_independent():
    a, _ = gen.image_rows(1)
    b, _ = gen.image_rows(2)
    key = ["w", "h", "fmt"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist()))


def test_planted_labels_are_consistent():
    docs, _, _, labels = gen.text_docs(3, n_docs=2000)
    # every planted exact duplicate repeats an earlier text, nothing else does
    assert int(docs["text"].duplicated().sum()) == int(labels["exact"].sum())
    _, got = gen.image_rows(3)
    assert got["corrupt"].sum() >= 2


def test_metric_names_and_units():
    for name, unit in list(spec.E2E.items()) + list(spec.PER_LAYER.items()):
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), unit


def test_benchmark_json_mirrors_spec():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == spec.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == spec.PER_LAYER
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        assert m["better"] == spec.E2E_BETTER[m["name"]]
        assert m["bound"] == spec.E2E_BOUND[m["name"]]
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["better"] == spec.LAYERS[m["name"]][1]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_every_layer_metric_maps_to_e2e_and_workload():
    b = _bench()
    e2e = {m["name"] for m in b["end_to_end"]}
    workloads = {w["name"] for w in b["workloads"]}
    for name, (_, better, moves, on) in spec.LAYERS.items():
        assert better in ("higher", "lower"), name
        assert moves in e2e, name
        assert on and set(on) <= workloads, name


def test_trace_line_parser():
    text = (
        "[trace round 3] politeness (fused host stats): 1.50s (12 jobs)\n"
        "[trace round 3] bloom merge: 0.25s (3 jobs)\n"
        "[trace round 2] bloom merge: 9.00s (9 jobs)\n"
        "unrelated line\n"
    )
    out = parse_trace_lines(text, {3})
    assert out["frontier_ops.politeness"] == {"s": 1.5, "jobs": 12}
    assert out["seen.merge_probe"] == {"s": 0.25, "jobs": 3}


def test_span_self_time_subtracts_children():
    spans = Spans(enabled=True, run_id="t")
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    outer, inner = spans.spans
    assert inner.parent == 0 and outer.parent is None
    st = spans.self_times()
    assert abs(st["outer"] + st["inner"] - (outer.end - outer.start)) < 1e-9
    off = Spans(enabled=False, run_id="t")
    with off.span("x"):
        pass
    assert off.spans == []


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 99) == 99
    assert percentile([4.0], 99) == 4.0


def _staged_like_the_stream(events):
    """First offered event per (url, type), throttled as the oracle says."""
    from urllib.parse import urlsplit

    from ghcrawler_spark.streaming.rate_limiter import replay_oracle

    first = {}
    for e in events:
        first.setdefault((e["url"], e["type"]), e)
    rows = [{"url": e["url"], "type": e["type"], "action": None,
             "event_ms": e["event_ms"], "payload_id": e["payload_id"],
             "verified": True} for e in first.values()]
    oracle = replay_oracle(
        [(urlsplit(r["url"]).hostname, r["url"], r["event_ms"]) for r in rows],
        rate_per_sec=crawl_events.EVENT_RATE_PER_HOST, burst=crawl_events.EVENT_BURST)
    for r in rows:
        r["throttled"] = not oracle[(urlsplit(r["url"]).hostname, r["url"],
                                     r["event_ms"])][0]
    return rows


def test_stream_gate_fails_on_staging_faults():
    events = gen.crawl_events_inputs(5, n_pages=300, n_hosts=10,
                                     rate_per_s=100.0, offer_s=2.0).events
    rows = _staged_like_the_stream(events)
    assert any(r["throttled"] for r in rows)
    assert crawl_events._stream_gate(events, rows)[0] == 0
    # every event dropped
    assert crawl_events._stream_gate(events, [])[0] == len(rows)
    # the limiter throttles nothing
    unthrottled = [dict(r, throttled=False) for r in rows]
    assert crawl_events._stream_gate(events, unthrottled)[0] == sum(
        r["throttled"] for r in rows)
    # a duplicate inside the watermark is staged twice
    assert crawl_events._stream_gate(events, rows + rows[:1])[0] > 0
    # a staged row that no offered event produced
    assert crawl_events._stream_gate(
        events, [dict(rows[0], event_ms=rows[0]["event_ms"] + 1)] + rows[1:])[0] > 0

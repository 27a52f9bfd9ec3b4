"""curate: the corpus-curation half of the system, with the crawl engine
bypassed. One operation is one pass of the text stage (perfbench/
text_curate.py: dedup, near-dup components, semantic dedup,
repetition/PII/profile, parquet write) followed by the image stage
(perfbench/image_fetch.py: decode + PSNR + caption validation, phash,
curation gates). Items are documents plus image rows. An item's latency
runs from the start of its pass until its stage's result is in: the
parquet write for a document, the image stage's collected verdicts for an
image row. Documents outnumber image rows several times over, so
``latency_s_p50`` is the text stage and ``latency_s_p99`` the whole pass.

Closed loop, one caller: passes run back to back for ``--seconds`` (at
least one). There is no warm-up pass: a cold pass costs about twice a warm
one (JIT, Python worker start) and the run budget allows one pass, so the
first pass pays that one-time cost, alike in every run.
"""

from __future__ import annotations

import time

from perfbench import image_fetch, text_curate
from perfbench.harness import percentile


def run(ctx) -> dict:
    spans = ctx.spans
    im = image_fetch.prepare(ctx.spark, ctx.seed)
    tx = text_curate.prepare(ctx.spark, ctx.seed, ctx.work)
    ctx.setup_done()

    latencies: list[float] = []
    pass_s: list[float] = []
    items = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds or not pass_s:
        t = time.perf_counter()
        with spans.span("curate.pass"):
            n_docs = text_curate.one_pass(spans, tx)
            t_text = time.perf_counter() - t
            n_img = image_fetch.one_pass(spans, im)
        pass_s.append(time.perf_counter() - t)
        latencies += [t_text] * n_docs + [pass_s[-1]] * n_img
        items += n_docs + n_img
        ctx.rss.sample()
    wall = time.perf_counter() - t0
    ctx.timed_window(time.time() - wall, time.time())
    ctx.items = items

    e2e = {
        "items_per_s": items / wall,
        "latency_s_p50": percentile(latencies, 50),
        "latency_s_p99": percentile(latencies, 99),
    }

    t = time.perf_counter()
    img_failed, img_notes = image_fetch.check(im)
    txt_failed, txt_notes = text_curate.check(ctx.spark, tx, ctx.work)
    gate_s = time.perf_counter() - t
    layer = {
        "dedup.pairs": float(tx.pairs),
        "dedup.near_recall": txt_notes["near_recall"],
        "text_curate.kept_frac": txt_notes["kept"] / txt_notes["docs"],
    }
    if spans.enabled:
        layer.update(image_fetch.subset_rates(im))
    notes = dict(img_notes, **txt_notes, passes=len(pass_s), gate_s=gate_s,
                 pass_s=[round(s, 3) for s in pass_s])
    return {"e2e": e2e, "layer": layer, "attempted": items // len(pass_s),
            "failed": img_failed + txt_failed, "notes": notes}

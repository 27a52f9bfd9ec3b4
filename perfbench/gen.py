"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: it uses one
``numpy.random.default_rng(seed)`` stream, starts no thread and touches no
Spark, so the same seed gives byte-identical inputs (``digest`` pins that in
the tests). The workloads convert the returned Python/pandas objects into
DataFrames; the program under test only ever sees the generated rows.
"""

from __future__ import annotations

import hashlib
import pickle
from dataclasses import dataclass

import numpy as np
import pandas as pd

from ghcrawler_spark.functions.images import phash64, png_encode
from ghcrawler_spark.functions.jpeg import jpeg_encode

# fixed event-time origin: staged event timestamps are EPOCH_MS + schedule
# offset, so what the engine and the rate limiter see is seed-determined
EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def digest(obj) -> str:
    """Stable content hash of a generator output (tests compare these)."""
    if isinstance(obj, pd.DataFrame):
        obj = obj.to_dict("list")
    if hasattr(obj, "__dataclass_fields__"):
        obj = {k: digest(getattr(obj, k)) for k in obj.__dataclass_fields__}
    return hashlib.sha256(pickle.dumps(obj, protocol=4)).hexdigest()


# --- crawl_events ------------------------------------------------------------


@dataclass
class CrawlInputs:
    seeds: list  # url strings, tier in `tiers`
    tiers: list
    links: list  # (src_url, edge, dst_url, dst_type)
    # offered events in schedule order: dicts with offset_s, url, type,
    # payload_id, event_ms
    events: list


def _zipf_counts(total: int, n: int, s: float) -> np.ndarray:
    """Integer item counts per rank 1..n, proportional to 1/rank**s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    counts = np.floor(total * w / w.sum()).astype(np.int64)
    counts[: total - counts.sum()] += 1
    return counts


def _page_url(host: int, page: int) -> str:
    return f"http://h{host:04d}.test/p{page}"


def crawl_events_inputs(
    seed: int,
    n_pages: int = 4_000,
    n_hosts: int = 100,
    zipf_s: float = 1.1,
    rate_per_s: float = 1500.0,
    offer_s: float = 1.0,
) -> CrawlInputs:
    """Zipf-skewed frontier plus an open-loop webhook schedule.

    Pages 0..n_pages-1 are seeded; pages n_pages..2*n_pages-1 exist only as
    link targets. Every page links to one page new to the frontier (i +
    n_pages, mod 2*n_pages: for a seeded page that target is unseeded) and to
    two seeded pages, which are queued or already seen by the time the link
    is followed. Host page counts follow a Zipf law, so a few hot hosts hold
    hundreds of pages each.

    Events arrive at ``rate_per_s`` over schedule offsets (0, offer_s]:
    mostly crawl events, 8% carrying an inline payload id, 6% re-sends of an
    earlier event 0.5 s later (inside the stream's dedup watermark). Event
    urls follow the same host skew.
    """
    rng = np.random.default_rng(seed)
    universe = 2 * n_pages
    # fixed composition, seeded order: every seed gives each host rank the
    # same page count and each tier the same share, so the politeness and
    # rotation work per round does not depend on the seed
    per_half = np.repeat(np.arange(n_hosts), _zipf_counts(n_pages, n_hosts, zipf_s))
    hosts = np.concatenate([rng.permutation(per_half), rng.permutation(per_half)])
    urls = [_page_url(int(h), i) for i, h in enumerate(hosts)]
    tiers = rng.permutation(
        ["soon"] * (n_pages // 5) + ["later"] * (2 * n_pages // 5)
        + ["normal"] * (n_pages - n_pages // 5 - 2 * n_pages // 5)).tolist()
    old = rng.integers(0, n_pages, size=(universe, 2))
    links = []
    for i in range(universe):
        links.append((urls[i], "pages", urls[(i + n_pages) % universe], "page"))
        for j in (0, 1):
            links.append((urls[i], "pages", urls[int(old[i, j])], "page"))

    n_events = int(round(rate_per_s * offer_s))
    kind = rng.permutation(np.arange(n_events) / n_events)
    target = rng.integers(0, universe, size=n_events)
    events: list[dict] = []
    for i in range(n_events):
        offset = (i + 1) / rate_per_s
        if kind[i] < 0.06 and events:
            src = events[int(rng.integers(0, len(events)))]
            e = dict(src, offset_s=offset, event_ms=src["event_ms"] + 500)
        else:
            e = {
                "offset_s": offset,
                "url": urls[int(target[i])],
                "type": "page",
                "payload_id": None,
                "event_ms": EPOCH_MS + int(round(offset * 1000)),
            }
            if kind[i] < 0.14:
                e["payload_id"] = f"inline-{seed}-{i}"
        events.append(e)
    return CrawlInputs(seeds=urls[:n_pages], tiers=tiers, links=links, events=events)


# --- image_fetch ---------------------------------------------------------------

IMAGE_SIDES = (32, 48, 64, 96, 128, 192, 256)
CAPTION_WORDS = (
    "a photo of the red small dog cat sitting on green grass near blue "
    "river under bright sky with tall trees and old wooden house at sunset"
).split()


def _image_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Smooth gradient + texture, so JPEG at quality 95 clears 40 dB."""
    y, x = np.mgrid[0:h, 0:w]
    a, b, c = rng.integers(1, 6, size=3)
    base = np.stack(
        [(x * 255 * a // (w * 5)), (y * 255 * b // (h * 5)),
         ((x + y) * 127 * c // ((w + h) * 5)) + 64],
        axis=2,
    )
    noise = rng.integers(0, 6, size=base.shape)
    return (base + noise).clip(0, 255).astype(np.uint8)


def _corrupt_pixels(rng: np.random.Generator, px: np.ndarray) -> np.ndarray:
    """Flip the high bit of every channel in an 8x8 block: the payload still
    decodes, but its PSNR against the reference falls far below 40 dB."""
    out = px.copy()
    h, w, _ = px.shape
    y0 = int(rng.integers(0, h - 8))
    x0 = int(rng.integers(0, w - 8))
    out[y0:y0 + 8, x0:x0 + 8] ^= 0x80
    return out


def image_rows(seed: int, copies: int = 10,
               corrupt_share: float = 0.01) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(reference, fetched) tables in the north-rule schema
    (image_id, bytes, w, h, fmt, caption, phash).

    Every (w, h) pair of IMAGE_SIDES gets one source image, as baseline JPEG
    (quality 95) when the two side indices sum to an even number and PNG
    otherwise, both from the repo's own encoders. Each source is fetched
    ``copies`` times under its own image_id and caption, in a seed-shuffled
    order: the decode work per pass is the same for every seed, only pixels,
    captions and order change, and only len(IMAGE_SIDES)**2 images are
    encoded.
    ``fetched`` equals ``reference`` except on the planted-corrupt rows (at
    least one of each kind): half carry a bit-flipped payload, half a
    changed caption. The fetched frame's ``corrupt`` column is the planted
    label; ``phash`` is the average-hash of the source pixels."""
    rng = np.random.default_rng(seed)
    sources = []
    for i, w in enumerate(IMAGE_SIDES):
        for j, h in enumerate(IMAGE_SIDES):
            fmt = "jpeg" if (i + j) % 2 == 0 else "png"
            px = _image_pixels(rng, w, h)
            enc = jpeg_encode if fmt == "jpeg" else png_encode
            sources.append((w, h, fmt, px, enc, enc(px), phash64(px)))
    n_rows = len(sources) * copies
    order = rng.permutation(n_rows) % len(sources)
    n_bad = max(2, int(round(n_rows * corrupt_share)))
    # planted-corrupt row -> kind: even positions get a corrupted payload,
    # odd ones a changed caption
    bad = {int(r): j % 2 for j, r in enumerate(
        sorted(rng.choice(n_rows, size=n_bad, replace=False)))}
    ref_rows, got_rows = [], []
    for i in range(n_rows):
        w, h, fmt, px, enc, data, ph = sources[int(order[i])]
        n_words = int(rng.integers(3, 12))
        caption = " ".join(rng.choice(CAPTION_WORDS, size=n_words))
        image_id = f"img-{i:06d}"
        ref_rows.append((image_id, data, w, h, fmt, caption, ph))
        got_bytes, got_caption = data, caption
        if i in bad:
            if bad[i] == 0:
                got_bytes = enc(_corrupt_pixels(rng, px))
            else:
                got_caption = caption + " edited"
        got_rows.append((image_id, got_bytes, w, h, fmt, got_caption, ph, i in bad))
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return (
        pd.DataFrame(ref_rows, columns=cols),
        pd.DataFrame(got_rows, columns=cols + ["corrupt"]),
    )


# --- text_curate -----------------------------------------------------------------

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
              "da", "fe", "gu", "hi", "jo", "be")


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return sorted(words)


EMBED_DIM = 32
N_CENTROIDS = 16


def text_docs(seed: int, n_docs: int = 30_000, vocab_size: int = 3000):
    """Documents in the ``documents`` schema plus one embedding per doc.

    Planted (by share of docs): 3% exact duplicates of an earlier doc, 3%
    near-duplicates (2-3 tokens of an earlier doc replaced), 2% repetitive
    spam (one 3-word phrase repeated), 2% semantic duplicates (embedding =
    an earlier doc's embedding plus 1e-5 noise), and 5% carry a PII string
    (an email, an IPv4 address or a 555- phone number).

    Returns (docs, embeddings, centroids, labels) where ``labels`` has
    per-doc planted flags, the planted PII string (exact copies inherit
    their source's) and ``keep`` (no duplicate or spam flag), and
    ``centroids`` are the (cid, vector) cluster centres semantic_dedup
    assigns against."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, vocab_size))
    vocab_index = {w: j for j, w in enumerate(vocab.tolist())}
    kind = rng.random(n_docs)
    lengths = rng.integers(40, 120, size=n_docs)
    centroids = rng.normal(size=(N_CENTROIDS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    texts: list[str] = []
    toks_by_doc: list[list[str]] = []
    emb = np.empty((n_docs, EMBED_DIM))
    flags = {k: np.zeros(n_docs, dtype=bool)
             for k in ("exact", "near", "spam", "semantic", "pii")}
    pii_strings: list[str | None] = []
    for i in range(n_docs):
        k = kind[i] if i > 0 else 1.0
        src = int(rng.integers(0, i)) if i > 0 else 0
        if k < 0.03:
            toks = list(toks_by_doc[src])
            flags["exact"][i] = True
        elif k < 0.06:
            toks = list(toks_by_doc[src])
            for pos in rng.choice(len(toks), size=int(rng.integers(2, 4)),
                                  replace=False):
                # a replacement equal to the old token would turn the
                # near-duplicate into an unplanted exact duplicate
                shift = int(rng.integers(1, vocab_size))
                toks[int(pos)] = vocab[(vocab_index.get(toks[int(pos)], 0) + shift)
                                       % vocab_size]
            flags["near"][i] = True
        elif k < 0.08:
            phrase = vocab[rng.integers(0, vocab_size, size=3)].tolist()
            toks = phrase * int(lengths[i] // 3) + [f"spam{i}"]
            flags["spam"][i] = True
        else:
            toks = vocab[rng.integers(0, vocab_size, size=int(lengths[i]))].tolist()
        pii = None
        if 0.08 <= k < 0.13:
            which = int(rng.integers(0, 3))
            if which == 0:
                pii = f"user{i}@mail{i % 97}.example.com"
            elif which == 1:
                pii = f"10.{i % 250}.{(i // 250) % 250}.{int(rng.integers(1, 250))}"
            else:
                pii = f"555-{i % 10000:04d}"
            toks = toks[: len(toks) // 2] + ["contact", pii] + toks[len(toks) // 2:]
            flags["pii"][i] = True
        if flags["exact"][i] and pii_strings[src] is not None:
            flags["pii"][i] = True
        pii_strings.append(pii if pii is not None else
                           (pii_strings[src] if flags["exact"][i] else None))
        toks_by_doc.append(toks)
        texts.append(" ".join(toks))
        if 0.13 <= k < 0.15:
            emb[i] = emb[src] + rng.normal(scale=1e-5, size=EMBED_DIM)
            flags["semantic"][i] = True
        else:
            v = centroids[int(rng.integers(0, N_CENTROIDS))] + rng.normal(
                scale=0.6, size=EMBED_DIM)
            emb[i] = v
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [("en", "de", "es", "fr")[i % 4] for i in range(n_docs)],
        "source": [f"src{i % 8}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": [row.astype(np.float32).tolist() for row in emb],
    })
    labels = pd.DataFrame({"doc_id": docs["doc_id"], **flags,
                           "pii_string": pii_strings})
    labels["keep"] = ~(labels["exact"] | labels["near"] | labels["spam"]
                       | labels["semantic"])
    cents = [(c, centroids[c].tolist()) for c in range(N_CENTROIDS)]
    return docs, embeddings, cents, labels

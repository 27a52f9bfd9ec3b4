"""The image stage of the curate workload: validate fetched image+caption
rows against their reference copies, hash them and apply the curation
gates, with the Arrow-UDF decode kernels (functions.images +
functions.jpeg); the crawl engine is not involved.

Each call is collected on its own under a span, traced or not, so both runs
execute the same jobs. The traced run also times the PNG-only and JPEG-only
subsets once each, after the timed region.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pandas as pd

from perfbench import gen
from perfbench.harness import cpus


@dataclass
class Images:
    got_pd: pd.DataFrame  # fetched rows + the planted `corrupt` label
    got: object  # fetched DataFrame (no label column), cached
    ref: object  # reference DataFrame, cached
    rows: list | None = None  # last pass's verdicts


def prepare(spark, seed: int) -> Images:
    ref_pd, got_pd = gen.image_rows(seed)
    # several partitions per core, so the mixed row sizes balance
    n_part = 4 * cpus()
    ref = spark.createDataFrame(ref_pd).repartition(n_part, "image_id").persist()
    got = spark.createDataFrame(got_pd.drop(columns=["corrupt"])).repartition(
        n_part, "image_id").persist()
    ref.count()
    got.count()
    return Images(got_pd, got, ref)


def one_pass(spans, im: Images) -> int:
    """Validate, hash and gate every fetched row; returns the row count."""
    from pyspark.sql import functions as F

    from ghcrawler_spark.functions.images import (
        curation_gates,
        phash_udf,
        validate_against_reference,
    )

    gates = curation_gates(F.col("w"), F.col("h"), F.col("fmt"), F.col("caption"))
    with spans.span("images.validate"):
        valid = validate_against_reference(im.got, im.ref).select(
            "image_id", "valid").collect()
    with spans.span("images.phash"):
        ph = dict(im.got.select("image_id", phash_udf("bytes", "fmt")).collect())
    with spans.span("images.gates"):
        kept = dict(im.got.select("image_id", gates["kept"]).collect())
    im.rows = [{"image_id": r.image_id, "valid": r.valid,
                "phash_out": ph[r.image_id], "kept": kept[r.image_id]}
               for r in valid]
    return len(im.rows)


def check(im: Images) -> tuple[int, dict]:
    """Verdict == planted label for every row; phash exact on the clean
    lossless (PNG) rows."""
    got = im.got_pd.set_index("image_id")
    by_id = {r["image_id"]: r for r in im.rows}
    bad_verdict = sum(1 for i, r in by_id.items() if r["valid"] == got.at[i, "corrupt"])
    bad_phash = sum(1 for i, r in by_id.items()
                    if got.at[i, "fmt"] == "png" and not got.at[i, "corrupt"]
                    and r["phash_out"] != got.at[i, "phash"])
    missing = len(got) - len(by_id)
    return bad_verdict + bad_phash + missing, {
        "image_rows": len(got), "planted_corrupt": int(got["corrupt"].sum()),
        "verdict_mismatch": bad_verdict, "png_phash_mismatch": bad_phash,
        "image_rows_missing": missing,
    }


def subset_rates(im: Images) -> dict[str, float]:
    """Validate the PNG-only and JPEG-only rows on their own, once each,
    and all rows once more for the decoded-pixel rate."""
    from pyspark.sql import functions as F

    from ghcrawler_spark.functions.images import validate_against_reference

    out = {}
    for fmt in ("png", "jpeg"):
        t = time.perf_counter()
        n = validate_against_reference(
            im.got.filter(F.col("fmt") == fmt), im.ref).select("valid").collect()
        out[f"images.{fmt}_rows_per_s"] = len(n) / (time.perf_counter() - t)
    pix = float((im.got_pd["w"] * im.got_pd["h"]).sum())
    t = time.perf_counter()
    validate_against_reference(im.got, im.ref).select("valid").collect()
    # each validated row decodes the fetched and the reference payload
    out["images.mpix_per_s"] = 2 * pix / 1e6 / (time.perf_counter() - t)
    return out

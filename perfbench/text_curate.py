"""The text stage of the curate workload: exact dedup -> MinHash-LSH
near-dup pairs -> connected-components keep-list -> semantic dedup ->
repetition gate, PII scrub and quality profile, written out as parquet.
Band-collision shuffles and the text Column kernels (operators.dedup,
operators.similarity, functions.text) do the work; the crawl engine is not
involved.

A pass covers the whole corpus and ends in the parquet write. Each operator
is cached and counted on its own under a span, traced or not, so both runs
execute the same jobs and the write only joins the cached results.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import cpus

SEMDEDUP_EPS = 0.99
REPETITION_MAX_DUP_2GRAM = 0.5
N_DOCS = 3_000
GATE_DOCS = 300  # down-scaled doc set for the DuckDB oracle parity
ORACLE_QUERIES = ("d1_dedup_exact", "d3_minhash_lsh", "t4_pii_scrub")


@dataclass
class Texts:
    docs_pd: pd.DataFrame
    labels: pd.DataFrame  # planted flags per doc_id
    centroids: list
    docs: object  # cached DataFrames
    emb: object
    out_dir: str
    pairs: int = 0  # verified near-dup pairs of the last pass
    unique: int = 0  # docs left by exact dedup in the last pass


def prepare(spark, seed: int, work: str) -> Texts:
    docs_pd, emb_pd, centroids, labels = gen.text_docs(seed, n_docs=N_DOCS)
    n_part = 2 * cpus()
    docs = spark.createDataFrame(docs_pd).repartition(n_part).persist()
    emb = spark.createDataFrame(emb_pd, "vec_id long, embedding array<float>") \
        .repartition(n_part).persist()
    docs.count()
    emb.count()
    return Texts(docs_pd, labels, centroids, docs, emb, os.path.join(work, "curated"))


def _cached(df, held: list):
    """Persist ``df`` and fill the cache; returns (df, row count)."""
    df = df.persist()
    held.append(df)
    return df, df.count()


def one_pass(spans, tx: Texts) -> int:
    """One curation pass over every doc; returns the doc count."""
    from pyspark.sql import functions as F

    from ghcrawler_spark.functions.text import (
        pii_scrub,
        repetition_metrics_exploded,
        text_profile,
    )
    from ghcrawler_spark.operators.dedup import (
        connected_components,
        dedup_exact,
        minhash_lsh_pairs,
    )
    from ghcrawler_spark.operators.similarity import semantic_dedup

    docs, emb = tx.docs, tx.emb
    held: list = []
    with spans.span("dedup.exact"):
        keep_ids, tx.unique = _cached(dedup_exact(docs, "doc_id", "text").select(
            F.col("keep_id").alias("doc_id")), held)
    uniq = docs.join(keep_ids, "doc_id", "left_semi").persist()
    held.append(uniq)
    with spans.span("dedup.minhash_lsh"):
        pairs, tx.pairs = _cached(
            minhash_lsh_pairs(uniq, "doc_id", "text", k=3, threshold=0.5), held)
    with spans.span("dedup.components"):
        comps = connected_components(pairs, uniq.select("doc_id"), id_col="doc_id")
        survivors, _ = _cached(
            comps.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"), held)
    with spans.span("similarity.semdedup"):
        sem = semantic_dedup(emb, tx.centroids, SEMDEDUP_EPS).filter("kept").select(
            F.col("vec_id").alias("doc_id"))
        kept, _ = _cached(uniq.join(survivors, "doc_id", "left_semi").join(
            sem, "doc_id", "left_semi"), held)
    with spans.span("text.repetition"):
        rep, _ = _cached(repetition_metrics_exploded(kept, "doc_id", "text")
                         .filter(F.col("dup_2gram_frac") <= REPETITION_MAX_DUP_2GRAM)
                         .select("doc_id"), held)
    with spans.span("text.profile"):
        prof, _ = _cached(text_profile(kept, "doc_id", "text")
                          .select("doc_id", "pred_lang", "quality"), held)
    with spans.span("text.pii_scrub"):
        scrubbed, _ = _cached(kept.select("doc_id", pii_scrub("text").alias("text")), held)
    with spans.span("text_curate.write"):
        (scrubbed.join(rep, "doc_id", "left_semi")
         .join(prof, "doc_id")
         .write.mode("overwrite").parquet(tx.out_dir))
    for df in held:
        df.unpersist()
    return len(tx.docs_pd)


def check(spark, tx: Texts, work: str) -> tuple[int, dict]:
    """Keep/drop per doc vs the planted labels, exact-dup count, PII
    redaction, and DuckDB oracle parity on a down-scaled doc set.

    MinHash-LSH is approximate, so a planted near-duplicate it misses is
    reported as recall, not as a failure; dropping a doc with no planted
    duplicate or spam flag is a failure."""
    out = pq.read_table(tx.out_dir, columns=["doc_id", "text"]).to_pydict()
    kept = set(out["doc_id"])
    lab = tx.labels.set_index("doc_id")
    must_drop = lab["exact"] | lab["spam"] | lab["semantic"]
    may_drop = must_drop | lab["near"]
    kept_mask = lab.index.isin(list(kept))
    false_drop = int((~kept_mask & ~may_drop.to_numpy()).sum())
    missed_drop = int((kept_mask & must_drop.to_numpy()).sum())
    near = lab["near"].to_numpy() & ~must_drop.to_numpy()
    near_recall = float((~kept_mask & near).sum() / max(near.sum(), 1))

    exact_ok = len(lab) - tx.unique == int(lab["exact"].sum())

    planted = lab["pii_string"]
    pii_leaks = sum(
        1 for d, text in zip(out["doc_id"], out["text"])
        if planted[d] is not None and planted[d] in text
    )

    oracle_bad = _oracle_parity(spark, tx.docs_pd.head(GATE_DOCS), work)
    failed = (false_drop + missed_drop + pii_leaks
              + sum(oracle_bad.values()) + (0 if exact_ok else 1))
    return failed, {
        "docs": len(lab), "kept": len(kept), "false_drop": false_drop,
        "missed_drop": missed_drop,
        "near_recall": near_recall, "exact_dup_ok": exact_ok,
        "pii_planted_kept": int(sum(planted[d] is not None for d in kept)),
        "pii_leaks": pii_leaks,
        "oracle_mismatch": oracle_bad,
    }


def _oracle_parity(spark, small_pd, work: str) -> dict[str, int]:
    """Mismatching rows per query between the engine and its DuckDB oracle
    (``analytics.oracle_sql()``) on the down-scaled ``documents`` table."""
    from ghcrawler_spark.plans import analytics
    from tools.check_parity import normalize

    sf_dir = os.path.join(work, "gate_sf")
    os.makedirs(sf_dir, exist_ok=True)
    small_pd.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(sf_dir, 'documents.parquet')}'")
    queries, oracles = analytics.queries(), analytics.oracle_sql()
    bad = {}
    for name in ORACLE_QUERIES:
        a = normalize(queries[name](spark, sf_dir).toPandas())
        b = normalize(con.execute(oracles[name]).df())
        if len(a) != len(b) or list(a.columns) != list(b.columns):
            bad[name] = max(len(a), len(b), 1)
        else:
            bad[name] = int((~(a == b).all(axis=1)).sum())
    con.close()
    return bad

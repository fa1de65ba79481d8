"""The curation half of ``ingest_build``: the curated 8-stage
``operators.corpus.build_corpus`` with the ``corpus_build_curated``
registration's arguments, over the admitted documents, manifest to
parquet.  The check compares the manifest with the registry's DuckDB
oracle for the same composition on the same documents.
"""

from __future__ import annotations

import os
import time

QUERY = "corpus_build_curated"
STAGES = (
    "text_analysis.gopher",
    "corpus.substring_dedup",
    "paragraphs.keepfirst",
    "dedup.exact",
    "corpus.decontam_scrub",
    "corpus.mixture",
    "corpus.shards",
    "dedup.split_clusters",
)


def manifest_rows(path: str) -> list[tuple]:
    """Rows of a parquet manifest, columns in name order, sorted."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = sorted(table.column_names)
    return sorted(tuple(r[c] for c in cols) for r in table.select(cols).to_pylist())


def oracle_rows(docs_dir: str, ids: list[int]) -> list[tuple]:
    """The registry's DuckDB oracle over the documents whose id is in
    ``ids``, columns in name order, sorted."""
    import duckdb

    from textract_farmdata_pipeline_spark import registry

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute("CREATE TABLE admitted (doc_id BIGINT)")
        con.executemany("INSERT INTO admitted VALUES (?)", [(i,) for i in ids])
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(docs_dir, '*.parquet')}') "
            "WHERE doc_id IN (SELECT doc_id FROM admitted)"
        )
        res = con.execute(registry.ORACLES[QUERY])
        cols = [d[0] for d in res.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(r[i] for i in order) for r in res.fetchall())
    finally:
        con.close()


def build(docs):
    """The registration's composition (registry.corpus_build_curated),
    over a frame instead of the registration's table path: its arguments
    are repeated here, and the oracle check fails any run where they
    drift apart."""
    from pyspark.sql import functions as F

    from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

    return build_corpus(
        docs,
        docs.filter(F.col("doc_id") % 11 == 0),
        num_shards=16,
        quality_gate=True,
        substring_len=20,
        paragraph_words=12,
        decontam_scrub_len=8,
        split_weights=(90, 5, 5),
    )


def trace(spark, docs) -> tuple[dict, dict, list[tuple]]:
    """Replay the composition stage by stage from the operators' public
    functions, each stage's output checkpointed in its own job group,
    so a stage's wall time is its self time.  Returns (metrics,
    {stage: job group}, manifest rows)."""
    from pyspark.sql import functions as F

    from textract_farmdata_pipeline_spark.operators.corpus import (
        decontaminate_scrub,
        mixture_resample,
        shuffle_shards,
        substring_dedup,
    )
    from textract_farmdata_pipeline_spark.operators.dedup import (
        exact_dedup_by_hash,
        near_dup_clusters,
    )
    from textract_farmdata_pipeline_spark.operators.paragraphs import paragraph_dedup_keepfirst
    from textract_farmdata_pipeline_spark.operators.preprocess import dataset_split
    from textract_farmdata_pipeline_spark.operators.text_analysis import gopher_quality_filter

    sc = spark.sparkContext
    eval_docs = docs.filter(F.col("doc_id") % 11 == 0)

    def rewrite(cur, cleaned, *extra):
        kept = cleaned.where(F.col("clean_text") != "")
        return cur.drop("text").join(
            kept.select("doc_id", F.col("clean_text").alias("text"), *extra), "doc_id"
        )

    def gopher(f):
        passed = gopher_quality_filter(f["docs"]).where(F.col("keep")).select("doc_id")
        return f["docs"].join(passed, "doc_id")

    def substring(f):
        cur = f["text_analysis.gopher"]
        return rewrite(cur, substring_dedup(cur, min_len=20, min_count=2))

    def paragraphs(f):
        cur = f["corpus.substring_dedup"]
        return rewrite(cur, paragraph_dedup_keepfirst(cur, para_words=12))

    def exact(f):
        cur = f["paragraphs.keepfirst"]
        keep = exact_dedup_by_hash(cur).select(F.col("keep_doc_id").alias("doc_id"))
        return cur.join(keep, "doc_id")

    def scrub(f):
        base = f["dedup.exact"]
        return rewrite(base, decontaminate_scrub(base, eval_docs, min_len=8), "n_tokens_kept")

    def mixture(f):
        return mixture_resample(f["corpus.decontam_scrub"].select("doc_id", "source"), by="source")

    def shards(f):
        return shuffle_shards(f["corpus.mixture"], "doc_id", 16).select(
            "doc_id", "source", "shard", "shard_pos"
        )

    def split_clusters(f):
        sel = (
            f["corpus.decontam_scrub"]
            .select("doc_id", "text")
            .join(f["corpus.mixture"].select("doc_id"), "doc_id")
        )
        clusters = near_dup_clusters(
            sel, n_hashes=8, bands=4, threshold=0.5, shingle_n=3,
            max_bucket_size=None, hash_family="md5",
        )
        split = dataset_split(clusters, id_col="cluster_id", weights=(90, 5, 5))
        return f["corpus.shards"].join(split.select("doc_id", "split"), "doc_id").select(
            "doc_id", "source", "shard", "shard_pos", "split"
        )

    steps = (gopher, substring, paragraphs, exact, scrub, mixture, shards, split_clusters)
    frames = {"docs": docs}
    metrics: dict[str, float] = {}
    groups: dict[str, str] = {}
    for stage, step, src in zip(STAGES, steps, ("docs", *STAGES[:-1])):
        groups[stage] = f"trace:{stage}"
        sc.setJobGroup(groups[stage], stage)
        t0 = time.perf_counter()
        frames[stage] = step(frames).localCheckpoint(eager=True)
        metrics[f"{stage}.self_s"] = time.perf_counter() - t0
        sc.setJobGroup("trace:count", "count")
        metrics[f"{stage}.rows_in"] = frames[src].count()
        metrics[f"{stage}.rows_out"] = frames[stage].count()
    sc.setJobGroup("untraced", "untraced")
    out = frames[STAGES[-1]]
    cols = sorted(out.columns)
    rows = sorted(tuple(r) for r in out.select(*cols).collect())
    return metrics, groups, rows

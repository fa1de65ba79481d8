#!/usr/bin/env python
"""End-to-end training-data curation example: raw documents in,
split-labeled packed JSONL shards out, with every decision stage from
this package composed the way a production pipeline would.

Stages (each is an independently oracle-checked operator):

1.  source-level blocklist (`source_quality_gate`) — drop whole
    domains with high cross-source duplication / low stopword rate;
2.  ExactSubstr removal (`build_corpus(substring_len=…)`, Lee et al.
    2022) — duplicated ≥L-token spans removed before exact dedup;
3.  exact dedup → eval-set decontamination → uniform source mixture →
    leakage-safe cluster-atomic train/val/test split (`split_weights`);
4.  per-split 512-token sequence packing + JSONL shard layout
    (`corpus_jsonl_split`-shaped tail);
5.  on the side: perceptual dHash near-dup clusters over the media
    column (`dhash_clusters`) and DSIR importance scores against an
    English target (`dsir_scores`) — the selection signals you'd feed
    back into the next curation round.

Run: ``python examples/run_corpus_curation.py [sf_dir] [out_dir]``
(defaults: /root/testdata/sf0.001 → /tmp/corpus_curation_demo).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from textract_farmdata_pipeline_spark.operators.corpus import (
    build_corpus,
    dsir_select,
    source_quality_gate,
)
from textract_farmdata_pipeline_spark.operators.multimodal import (
    attach_media,
    dhash_clusters,
)
from textract_farmdata_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_curation_demo"
    spark = get_spark("corpus-curation-example")
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)  # stand-in eval set

    # 1. domain-level curation: the |sources|-row block decision
    keep = [
        r["source"]
        for r in source_quality_gate(docs, max_shared_bp=100, min_stop_bp=600)
        .filter(~F.col("blocked"))
        .select("source")
        .collect()
    ]
    gated = docs.filter(F.col("source").isin(keep) if keep else F.lit(False))
    print(f"source gate: kept {len(keep)} source(s)")

    # 2–3. the composed build: ExactSubstr → exact dedup → decontam →
    # mixture → shards, with the cluster-atomic split column
    manifest = build_corpus(
        gated,
        eval_docs,
        num_shards=8,
        substring_len=12,
        split_weights=(90, 5, 5),
    )
    manifest.write.mode("overwrite").parquet(os.path.join(out_dir, "manifest"))
    print("manifest:")
    manifest.groupBy("split").count().orderBy("split").show()

    # 5a. perceptual near-dup clusters over the media column
    media_dups = dhash_clusters(attach_media(docs)).filter(~F.col("keep"))
    print(f"dHash media near-dups flagged: {media_dups.count()}")

    # 5b. DSIR selection signal: the 32 most English-target-like docs
    picks = dsir_select(docs, docs.filter(F.col("lang") == "en"), k=32)
    picks.write.mode("overwrite").parquet(os.path.join(out_dir, "dsir_top32"))
    print(f"outputs under {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()

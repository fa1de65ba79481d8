"""ingest_build: the LLM-data path.  Documents arrive as micro-batch
files and are admitted by ``streaming.ingest.dedup_ingest_stream``
(incremental MinHash dedup against growing ``ParquetMergeTable``
state); the curated 8-stage ``build_corpus`` then runs over the
admitted documents and writes its manifest to parquet.
"""

from __future__ import annotations

import os

import common
import corpus
import gen
import sizes
from ingest import Stream


class IngestBuild:
    name = "ingest_build"
    min_passes = 2

    def __init__(self, spark, rng):
        self.spark = spark
        self.work = common.fresh_dir(os.path.join(common.WORK, "ingest_build"))
        planted = gen.write_llm_input(
            rng, self.work, sizes.LLM_BATCHES, sizes.LLM_FRESH, sizes.LLM_EXACT, sizes.LLM_NEAR
        )
        self.stream = Stream(spark, self.work, planted, sizes.LLM_BATCHES)
        self.docs_dir = os.path.join(self.work, "documents.parquet")
        self.out = os.path.join(self.work, "manifest")
        self.input_bytes = self.stream.input_bytes
        self.admitted_ids: list[int] | None = None
        self.expected: list[tuple] | None = None

    def _admitted_docs(self, state: str):
        ids = self.stream.state_table(state).read().select("doc_id")
        return self.spark.read.parquet(self.docs_dir).join(ids, "doc_id", "left_semi")

    def run_pass(self, i: int):
        state, progress = self.stream.drain(i)
        before = common.persistent_rdd_ids(self.spark)
        corpus.build(self._admitted_docs(state)).write.mode("overwrite").parquet(self.out)
        # the build's staging checkpoints live as long as its frame
        common.release_new_rdds(self.spark, before)
        return state, progress

    def warm_up(self) -> bool:
        return self.inspect(self.run_pass(-1))["ok"]

    def units(self) -> int:
        return sizes.LLM_BATCHES

    def inspect(self, res) -> dict:
        state, progress = res
        ids = sorted(self.stream.admitted(state))
        if self.expected is None:  # first pass: the oracle for this admitted set
            self.admitted_ids = ids
            self.expected = corpus.oracle_rows(self.docs_dir, ids)
        ok = (
            self.stream.check(progress, ids)
            and ids == self.admitted_ids
            and corpus.manifest_rows(self.out) == self.expected
        )
        stored = common.tree_bytes(state, ".parquet")[0] + common.tree_bytes(self.out, ".parquet")[0]
        self.stream.drop(state)
        return {
            "ok": ok,
            "stored": stored,
            "batches": [p.durationMs["triggerExecution"] / 1e3 for p in progress],
        }

    # -- traced run ----------------------------------------------------------
    def trace(self) -> tuple[dict, dict]:
        metrics, window, state = self.stream.trace()
        before = common.persistent_rdd_ids(self.spark)
        stage_metrics, groups, rows = corpus.trace(self.spark, self._admitted_docs(state))
        common.release_new_rdds(self.spark, before)
        self.stream.drop(state)
        if rows != self.expected:
            raise common.CheckFailed("stage-by-stage replay differs from the oracle manifest")
        metrics.update(stage_metrics)
        return metrics, {"window": window, "stages": groups}

    def spark_metrics(self, jobs: list, groups: dict) -> dict:
        lo, hi = groups["window"]
        stage_groups = set(groups["stages"].values())
        out = {
            f"{stage}.executor_cpu_s": common.sum_jobs(jobs, lambda j, g=g: j["group"] == g)[
                "executor_cpu_s"
            ]
            for stage, g in groups["stages"].items()
        }
        tot = common.sum_jobs(
            jobs, lambda j: lo <= j["time"] <= hi or j["group"] in stage_groups
        )
        out.update({f"spark.{k}": v for k, v in tot.items()})
        return out

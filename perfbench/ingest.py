"""The streaming half of ``ingest_build``: a backlog of micro-batch files
drained through ``streaming.ingest.dedup_ingest_stream`` at its default
threshold (the MinHash path), ``maxFilesPerTrigger=1`` +
``availableNow``.

Every drain starts from empty state (a fresh state table and stream
checkpoint) and reads the same staged batch files, so the admitted
corpus grows batch by batch exactly as in a backfill.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from urllib.parse import urlparse

import common


class Stream:
    def __init__(self, spark, work: str, planted: dict, batches: int):
        self.spark = spark
        self.work = work
        self.src = os.path.join(work, "incoming")
        self.planted = planted
        self.batches = batches
        # the texts' own bytes, not the batch files': how well snappy
        # packs the files moves with the seed more than the stored side
        self.input_bytes = planted["text_bytes"]

    def _drain(self, state: str, ckpt: str) -> list:
        from textract_farmdata_pipeline_spark.streaming.ingest import dedup_ingest_stream

        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(self.src)
        )
        query = (
            dedup_ingest_stream(stream, state)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return [p for p in query.recentProgress if p.numInputRows > 0]

    def drain(self, i: int) -> tuple[str, list]:
        """Drain the backlog into fresh state ``i``: the state table
        ``state-i`` and the stream checkpoint ``ckpt-i``."""
        state = os.path.join(self.work, f"state-{i}")
        progress = self._drain(state, os.path.join(self.work, f"ckpt-{i}"))
        return state, progress

    def drop(self, state: str) -> None:
        """Delete a checked drain's state table and stream checkpoint."""
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(state.replace("state-", "ckpt-"), ignore_errors=True)

    def state_table(self, state: str):
        from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

        return ParquetMergeTable(self.spark, state)

    def admitted(self, state: str) -> list[int]:
        return [r.doc_id for r in self.state_table(state).read().select("doc_id").collect()]

    def near_dup_recall(self, admitted: set[int]) -> float:
        return len(self.planted["near"] - admitted) / len(self.planted["near"])

    def check(self, progress: list, ids: list[int]) -> bool:
        """One batch per file; every fresh doc admitted; no exact copy
        admitted; ids unique; near-copies rejected.  A one-word edit
        keeps 3-shingle Jaccard near 0.9, far above the 0.5 threshold,
        so banding misses one with p < 1e-3."""
        admitted = set(ids)
        return (
            len(progress) == self.batches
            and len(ids) == len(admitted)
            and self.planted["fresh"] <= admitted
            and not (self.planted["exact"] & admitted)
            and self.near_dup_recall(admitted) >= 0.95
        )

    # -- traced run ----------------------------------------------------------
    def trace(self) -> tuple[dict, tuple[float, float], str]:
        """One drain timed by Spark's own progress records, then a
        driver-loop pass over the same batch files that times the
        read / decide / commit calls separately and must admit exactly
        the drain's set.  Returns (metrics, drain time window, state)."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.checkpoints import (
            release,
            tracked_local_checkpoint,
        )
        from textract_farmdata_pipeline_spark.operators.dedup import incremental_minhash_dedup

        sc = self.spark.sparkContext
        t0 = time.time()
        state, progress = self.drain(1000)
        window = (t0, time.time())
        ids = self.admitted(state)
        if not self.check(progress, ids):
            raise common.CheckFailed("traced drain failed its output check")

        def per_batch(key: str) -> list[float]:
            return [p.durationMs.get(key, 0) / 1e3 for p in progress]

        trig, add = per_batch("triggerExecution"), per_batch("addBatch")
        metrics = {
            "streaming.ingest.trigger_s": statistics.median(trig),
            "streaming.ingest.add_batch_s": statistics.median(add),
            "streaming.ingest.planning_s": statistics.median(per_batch("queryPlanning")),
            "streaming.ingest.wal_commit_s": statistics.median(per_batch("walCommit")),
            "streaming.ingest.harness_s": statistics.median([t - a for t, a in zip(trig, add)]),
            "operators.dedup.near_dup_recall": self.near_dup_recall(set(ids)),
        }

        loop_state = os.path.join(self.work, "loop-state")
        shutil.rmtree(loop_state, ignore_errors=True)
        table = self.state_table(loop_state)
        read_s, decide_s, commit_s = [], [], []
        rows_in = rejected = 0
        for b in range(self.batches):
            batch = self.spark.read.parquet(os.path.join(self.src, f"batch_{b:03d}.parquet"))
            exists = table.latest_version() > 0
            sc.setJobGroup("trace:operators.merge.read", "read")
            t = time.perf_counter()
            if exists:
                # read() only plans the scan: checkpoint it so the scan
                # is timed here, not inside the dedup's actions
                corpus, scanned = tracked_local_checkpoint(table.read().select("doc_id", "text"))
            else:
                corpus, scanned = self.spark.createDataFrame([], "doc_id long, text string"), set()
            read_s.append(time.perf_counter() - t)
            sc.setJobGroup("trace:operators.dedup", "decide")
            t = time.perf_counter()
            ann = incremental_minhash_dedup(corpus, batch.select("doc_id", "text")).persist()
            rows_in += ann.count()
            rejected += ann.filter(F.col("dup_of").isNotNull()).count()
            decide_s.append(time.perf_counter() - t)
            sc.setJobGroup("trace:operators.merge.commit", "commit")
            t = time.perf_counter()
            novel = batch.select("doc_id", "text").join(
                ann.filter(F.col("dup_of").isNull()).select("doc_id"), "doc_id"
            )
            if exists:
                table.merge(novel, key="doc_id")
            else:
                table.create(novel)
            commit_s.append(time.perf_counter() - t)
            ann.unpersist()
            release(self.spark, scanned)
        sc.setJobGroup("untraced", "untraced")
        if set(self.admitted(loop_state)) != set(ids):
            raise common.CheckFailed("driver-loop admission differs from the stream's")
        files = [urlparse(u).path for u in table.read().inputFiles()]
        written = common.tree_bytes(loop_state, ".parquet")[0]
        metrics.update(
            {
                "operators.dedup.decide_s": statistics.median(decide_s),
                "operators.dedup.rejected_ratio": rejected / rows_in,
                "operators.merge.read_s": statistics.median(read_s),
                "operators.merge.commit_s": statistics.median(commit_s),
                "operators.merge.state_files": len(files),
                "operators.merge.state_bytes": sum(os.path.getsize(f) for f in files),
                "operators.merge.bytes_written_per_commit": written / self.batches,
            }
        )
        return metrics, window, state

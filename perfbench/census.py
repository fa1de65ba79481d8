"""census_backfill: a backlog of Textract block dumps → per-document CSVs.

One pass is the paper's job over the whole backlog:
``read_blocks_json → flatten_blocks → run_pipeline(keep_doc_id=True)
→ write_census_csv``.  The check reads every CSV back and compares its
rows, per document, with the records the generator planted.
"""

from __future__ import annotations

import collections
import csv
import glob
import os
import time

import common
import gen
import sizes


class Census:
    name = "census_backfill"
    min_passes = 3

    def __init__(self, spark, rng):
        self.spark = spark
        self.work = common.fresh_dir(os.path.join(common.WORK, "census"))
        self.src = os.path.join(self.work, "in")
        self.out = os.path.join(self.work, "out")
        planted = gen.write_census_input(rng, self.src, sizes.CENSUS_DOCS)
        self.expected = {doc: collections.Counter(rows) for doc, rows in planted.items()}
        self.input_bytes = common.tree_bytes(self.src, ".json")[0]

    # -- the workload ------------------------------------------------------
    def _blocks(self):
        from textract_farmdata_pipeline_spark.sources import flatten_blocks, read_blocks_json

        return flatten_blocks(read_blocks_json(self.spark, os.path.join(self.src, "*.json")))

    def run_pass(self, _i: int) -> str:
        from textract_farmdata_pipeline_spark.plans import run_pipeline
        from textract_farmdata_pipeline_spark.sources import write_census_csv

        write_census_csv(run_pipeline(self._blocks(), keep_doc_id=True), self.out)
        return self.out

    def warm_up(self) -> bool:
        """Untimed passes over the run's own input: pass time and CPU
        keep falling for six to ten passes while the JIT compiles."""
        return all(
            self.inspect(self.run_pass(-1))["ok"] for _ in range(sizes.CENSUS_WARM_PASSES)
        )

    def units(self) -> int:
        return len(self.expected)

    def check(self, out: str) -> bool:
        got: dict[str, collections.Counter] = {}
        for path in glob.glob(os.path.join(out, "doc_id=*", "*.csv")):
            doc = os.path.basename(os.path.dirname(path))[len("doc_id=") :]
            with open(path, newline="", encoding="utf-8") as fh:
                rows = list(csv.reader(fh))
            if not rows or rows[0][:2] != ["name", "alternate_name"]:
                return False
            got.setdefault(doc, collections.Counter()).update(tuple(r) for r in rows[1:])
        return got == self.expected

    def inspect(self, out: str) -> dict:
        return {"ok": self.check(out), "stored": common.tree_bytes(out, ".csv")[0]}

    # -- traced run ----------------------------------------------------------
    def trace(self) -> tuple[dict, dict]:
        """Time each layer as the difference between consecutive
        cumulative prefixes, each prefix materialized in its own job
        group (the noop sink for all but the last, which is the real
        CSV write).  Returns (metrics, {metric prefix: job group})."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.assembly import assemble_records
        from textract_farmdata_pipeline_spark.operators.layout import (
            classify_lines,
            prepare_blocks,
        )
        from textract_farmdata_pipeline_spark.plans import run_pipeline
        from textract_farmdata_pipeline_spark.sources import write_census_csv

        sc = self.spark.sparkContext
        counts: dict[str, int] = {}

        def observed(df, layer):
            obs = Observation(layer)
            return df.observe(obs, F.count(F.lit(1)).alias("n")), obs

        prefixes = [
            ("sources.blocks", lambda: self._blocks()),
            ("operators.layout", lambda: classify_lines(prepare_blocks(self._blocks()))),
            (
                "operators.assembly",
                lambda: assemble_records(classify_lines(prepare_blocks(self._blocks()))),
            ),
            ("operators.output", lambda: run_pipeline(self._blocks(), keep_doc_id=True)),
        ]
        cum: dict[str, float] = {}
        groups: dict[str, str] = {}
        for layer, build in prefixes:
            group = f"trace:{layer}"
            sc.setJobGroup(group, layer)
            t0 = time.perf_counter()
            df, obs = observed(build(), layer)
            df.write.format("noop").mode("overwrite").save()
            cum[layer] = time.perf_counter() - t0
            counts[layer] = obs.get["n"]
            groups[layer] = group
        sc.setJobGroup("trace:sources.csv_sink", "sources.csv_sink")
        t0 = time.perf_counter()
        write_census_csv(run_pipeline(self._blocks(), keep_doc_id=True), self.out)
        cum["sources.csv_sink"] = time.perf_counter() - t0
        groups["sources.csv_sink"] = "trace:sources.csv_sink"
        sc.setJobGroup("untraced", "untraced")
        if not self.check(self.out):
            raise common.CheckFailed("traced census pass wrote wrong CSVs")

        order = [layer for layer, _ in prefixes] + ["sources.csv_sink"]
        self_s = {
            layer: cum[layer] - (cum[order[i - 1]] if i else 0.0)
            for i, layer in enumerate(order)
        }
        csv_bytes, csv_files = common.tree_bytes(self.out, ".csv")
        metrics = {
            "sources.blocks.scan_s": self_s["sources.blocks"],
            "sources.blocks.blocks_in": counts["sources.blocks"],
            "operators.layout.self_s": self_s["operators.layout"],
            "operators.layout.lines_kept_ratio": counts["operators.layout"]
            / counts["sources.blocks"],
            "operators.assembly.self_s": self_s["operators.assembly"],
            "operators.assembly.records_out": counts["operators.assembly"],
            "operators.output.self_s": self_s["operators.output"],
            "sources.csv_sink.write_s": self_s["sources.csv_sink"],
            "sources.csv_sink.files_written": csv_files,
            "sources.csv_sink.bytes_written": csv_bytes,
        }
        return metrics, groups

    def spark_metrics(self, jobs: list, groups: dict) -> dict:
        """Full-pass engine totals (the last prefix) and per-layer
        executor CPU as the difference of consecutive prefixes."""
        per = {
            layer: common.sum_jobs(jobs, lambda j, g=group: j["group"] == g)
            for layer, group in groups.items()
        }
        out = {f"spark.{k}": v for k, v in per["sources.csv_sink"].items()}
        prev = 0.0
        for layer, tot in per.items():
            out[f"{layer}.executor_cpu_s"] = tot["executor_cpu_s"] - prev
            prev = tot["executor_cpu_s"]
        return out

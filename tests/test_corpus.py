"""Corpus-level ops: decontamination, deterministic sampling, sharding."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from textract_farmdata_pipeline_spark.operators.corpus import (
    decontaminate,
    hash_sample,
    ngram_shingles,
    shuffle_shards,
    stratified_sample,
)
from textract_farmdata_pipeline_spark.operators.text_analysis import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestShingles:
    def test_ngram_positions(self, spark):
        df = _docs(spark, [(1, "a b c d")])
        got = sorted(
            (r["pos"], r["shingle"]) for r in ngram_shingles(df, 3).collect()
        )
        assert got == [(1, "a b c"), (2, "b c d")]

    def test_short_doc_yields_whole_text(self, spark):
        df = _docs(spark, [(1, "a b")])
        got = [(r["pos"], r["shingle"]) for r in ngram_shingles(df, 5).collect()]
        assert got == [(1, "a b")]


class TestDecontaminate:
    def test_hit_counts_exact(self, spark):
        corpus = _docs(
            spark,
            [
                (1, "w x y z secret eval phrase here tail"),  # 1 distinct hit
                (2, "secret eval phrase secret eval phrase"),  # repeated hits
                (3, "totally clean document nothing shared"),
            ],
        )
        ev = _docs(spark, [(100, "the secret eval phrase was this")])
        out = {r["doc_id"]: r for r in decontaminate(corpus, ev, n=3).collect()}
        assert 3 not in out  # clean doc absent
        assert out[1]["n_hit_ngrams"] == 1 and out[1]["n_hit_distinct"] == 1
        # doc 2: 3-grams = [sep, eps, pse, sep] -> "secret eval phrase" x2
        assert out[2]["n_hit_ngrams"] == 2 and out[2]["n_hit_distinct"] == 1

    def test_no_overlap_empty(self, spark):
        corpus = _docs(spark, [(1, "a b c d e")])
        ev = _docs(spark, [(9, "q r s t u")])
        assert decontaminate(corpus, ev, n=3).count() == 0


class TestHashSample:
    def test_nested_fractions(self, spark):
        """The 10% sample is a strict subset of the 20% sample."""
        df = spark.range(5000).withColumnRenamed("id", "doc_id")
        s10 = {r["doc_id"] for r in hash_sample(df, 0.10, "doc_id").collect()}
        s20 = {r["doc_id"] for r in hash_sample(df, 0.20, "doc_id").collect()}
        assert s10 < s20
        assert 0.07 < len(s10) / 5000 < 0.13
        assert 0.16 < len(s20) / 5000 < 0.24

    def test_seed_changes_selection(self, spark):
        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"] for r in hash_sample(df, 0.1, "doc_id", seed="a").collect()}
        b = {r["doc_id"] for r in hash_sample(df, 0.1, "doc_id", seed="b").collect()}
        assert a != b


class TestStratifiedSample:
    def test_exact_per_stratum_and_deterministic(self, spark):
        df = spark.range(1000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("g")
        )
        out1 = stratified_sample(df, "g", 25, "doc_id").collect()
        out2 = stratified_sample(df, "g", 25, "doc_id").collect()
        assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
        c = Counter(r["g"] for r in out1)
        assert c == {"0": 25, "1": 25, "2": 25, "3": 25}

    def test_small_stratum_kept_whole(self, spark):
        df = spark.createDataFrame(
            [(1, "rare"), (2, "rare")] + [(i, "common") for i in range(10, 60)],
            "doc_id long, g string",
        )
        c = Counter(r["g"] for r in stratified_sample(df, "g", 10, "doc_id").collect())
        assert c["rare"] == 2 and c["common"] == 10


class TestShuffleShards:
    def test_layout_properties(self, spark):
        df = spark.range(4000).withColumnRenamed("id", "doc_id")
        rows = shuffle_shards(df, "doc_id", 16).collect()
        assert len(rows) == 4000  # nothing dropped
        by_shard = Counter(r["shard"] for r in rows)
        assert set(by_shard) == set(range(16))
        # hash-uniform: every shard within 2x of the mean
        assert max(by_shard.values()) < 2 * (4000 / 16)
        # positions are contiguous 1..count within each shard
        pos = {}
        for r in rows:
            pos.setdefault(r["shard"], []).append(r["shard_pos"])
        for s, ps in pos.items():
            assert sorted(ps) == list(range(1, by_shard[s] + 1))

    def test_rerun_identical(self, spark):
        df = spark.range(500).withColumnRenamed("id", "doc_id")
        a = sorted(map(tuple, shuffle_shards(df, "doc_id", 8).collect()))
        b = sorted(map(tuple, shuffle_shards(df, "doc_id", 8).collect()))
        assert a == b


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        df = _docs(spark, [(1, "a b a b c")])
        r = repetition_stats(df, n=2).collect()[0]
        # bigrams: "a b", "b a", "a b", "b c"
        assert r["n_ngrams"] == 4
        assert r["top_ngram_frac"] == 0.5
        assert r["dup_ngram_frac"] == 0.5

    def test_all_distinct_vs_degenerate(self, spark):
        df = _docs(spark, [(1, "a b c d e f"), (2, "x x x x x x")])
        out = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
        assert out[1]["dup_ngram_frac"] == 0.0
        assert out[2]["top_ngram_frac"] == 1.0 and out[2]["dup_ngram_frac"] == 1.0


class TestMixture:
    def test_weights_uniform_target(self, spark):
        df = spark.createDataFrame(
            [(i, "big" if i < 90 else "small") for i in range(100)],
            "doc_id long, source string",
        )
        w = {r["source"]: r for r in __import__(
            "textract_farmdata_pipeline_spark.operators.corpus", fromlist=["mixture_weights"]
        ).mixture_weights(df, by="source").collect()}
        assert w["big"]["target_n"] == 50.0 and w["small"]["target_n"] == 50.0
        assert abs(w["big"]["sample_rate"] - 50 / 90) < 1e-12
        assert w["small"]["sample_rate"] == 1.0  # never upsampled

    def test_resample_balances_and_is_deterministic(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import mixture_resample

        df = spark.createDataFrame(
            [(i, "big" if i < 1800 else "small") for i in range(2000)],
            "doc_id long, source string",
        )
        a = mixture_resample(df, by="source", key_col="doc_id").collect()
        b = mixture_resample(df, by="source", key_col="doc_id").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        c = Counter(r["source"] for r in a)
        assert c["small"] == 200  # rate 1.0 keeps everything
        # "big" downsampled toward 1000 (hash-Bernoulli, so approximate)
        assert 850 < c["big"] < 1150


class TestTfidf:
    def test_hand_computed_ratio_scores(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_top_terms,
        )

        df = _docs(spark, [(1, "a a b"), (2, "b c")])
        out = {
            (r["doc_id"], r["term"]): r
            for r in tfidf_top_terms(df, k=5, use_log=False).collect()
        }
        # N=2; df(a)=1, df(b)=2, df(c)=1
        assert out[(1, "a")]["score"] == 2 * 2 / 1
        assert out[(1, "b")]["score"] == 1 * 2 / 2
        assert out[(2, "c")]["score"] == 1 * 2 / 1
        assert out[(1, "a")]["rank"] == 1

    def test_log_and_ratio_agree_on_ranking(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_top_terms,
        )

        df = _docs(spark, [(1, "x x y z"), (2, "y z z w"), (3, "w w q x")])
        def ranks(use_log):
            return sorted(
                (r["doc_id"], r["rank"], r["term"])
                for r in tfidf_top_terms(df, k=2, use_log=use_log).collect()
            )
        # same tf/df profile => same order under any monotone-per-df score here
        assert ranks(True) == ranks(False)


class TestLengthHistogram:
    def test_buckets(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            length_histogram,
        )

        df = spark.createDataFrame(
            [(1, 50), (2, 99), (3, 100), (4, 250)], "doc_id long, n_chars long"
        )
        out = {r["bucket"]: r for r in length_histogram(df, 100).collect()}
        assert out[0]["n_docs"] == 2 and out[0]["min_len"] == 50
        assert out[1]["bucket_lo"] == 100
        assert out[2]["max_len"] == 250


class TestCorpusNgrams:
    def test_top_counts(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            corpus_ngram_counts,
        )

        df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
        out = [(r["shingle"], r["n_occurrences"]) for r in
               corpus_ngram_counts(df, n=2, top=2).collect()]
        assert out[0] == ("a b", 3)
        assert out[1] in [("b a", 1), ("b c", 1)]  # tie broken by string
        assert out[1] == ("b a", 1)


class TestSpanDedup:
    def test_shared_span_removed_from_all_docs(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_dedup

        # span size 2: doc1 = [a b][c d], doc2 = [a b][x y], doc3 = [p q]
        df = _docs(spark, [(1, "a b c d"), (2, "a b x y"), (3, "p q")])
        out = {r["doc_id"]: r for r in span_dedup(df, span_words=2).collect()}
        assert out[1]["clean_text"] == "c d"
        assert out[2]["clean_text"] == "x y"
        assert out[3]["clean_text"] == "p q"
        assert out[1]["n_spans_dropped"] == 1 and out[1]["n_spans_kept"] == 1
        assert out[3]["n_spans_dropped"] == 0

    def test_intra_doc_repeat_is_kept(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_dedup

        # "a b" occurs twice but only inside doc 1 -> min_docs=2 keeps it
        df = _docs(spark, [(1, "a b a b"), (2, "z z z z")])
        out = {r["doc_id"]: r for r in span_dedup(df, span_words=2).collect()}
        assert out[1]["clean_text"] == "a b a b"

    def test_fully_shared_doc_empties(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_dedup

        df = _docs(spark, [(1, "a b"), (2, "a b")])
        out = {r["doc_id"]: r for r in span_dedup(df, span_words=2).collect()}
        assert out[1]["clean_text"] == "" and out[1]["n_spans_kept"] == 0
        assert out[2]["n_spans_dropped"] == 1

    def test_tail_span_and_order(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_dedup

        # 5 words, span 2 -> spans [a b][c d][e]; [c d] shared with doc 2
        df = _docs(spark, [(1, "a b c d e"), (2, "c d")])
        out = {r["doc_id"]: r for r in span_dedup(df, span_words=2).collect()}
        assert out[1]["clean_text"] == "a b e"
        assert out[1]["n_spans_kept"] == 2 and out[1]["n_spans_dropped"] == 1


class TestSubstringDedup:
    """ExactSubstr (Lee et al. 2022): stride-1 window detection, maximal
    span extension/merge, and removal — including the phase-shifted
    verbatim copy that non-overlapping C4 windows (span_dedup)
    structurally miss."""

    _SHARED = " ".join(f"s{i}" for i in range(15))  # 15-token copy

    def _fixture(self, spark):
        return _docs(
            spark,
            [
                (1, "a b c " + self._SHARED + " x y z"),  # copy at pos 4
                (2, "p q " + self._SHARED + " r"),  # copy at pos 3
                (3, " ".join(f"u{i}" for i in range(30))),  # unique
                (4, "tiny doc"),  # shorter than L
                # within-doc repeat of 7 < L tokens: must NOT flag
                (5, "m v0 v1 v2 v3 v4 v5 m v0 v1 v2 v3 v4 v5"),
            ],
        )

    def test_phase_shifted_copy_found_with_exact_maximal_spans(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            span_dedup,
            substring_dup_spans,
        )

        docs = self._fixture(spark)
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
            for r in substring_dup_spans(docs, min_len=12).collect()
        }
        # maximal spans, exact 1-based inclusive extents, both phases
        assert spans == {1: (4, 18, 15), 2: (3, 17, 15)}
        # ...and the C4 fixed-phase windows MISS this copy entirely:
        # doc 1's 10-word windows start at tokens 1/11/21, doc 2's at
        # 1/11, and no pair of them is equal because of the offset.
        c4 = {
            r["doc_id"]: r["n_spans_dropped"]
            for r in span_dedup(docs, span_words=10).collect()
        }
        assert all(v == 0 for v in c4.values())

    def test_removal_reassembles_survivors(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            substring_dedup,
        )

        docs = self._fixture(spark)
        out = {r["doc_id"]: r for r in substring_dedup(docs, min_len=12).collect()}
        assert out[1]["clean_text"] == "a b c x y z"
        assert out[2]["clean_text"] == "p q r"
        assert out[1]["n_tokens_dropped"] == 15
        assert out[3]["n_tokens_dropped"] == 0 and out[3]["n_tokens_kept"] == 30
        assert out[4]["clean_text"] == "tiny doc"
        # sub-threshold within-doc repeat untouched
        assert out[5]["n_tokens_dropped"] == 0

    def test_within_doc_repeat_of_threshold_length_flags(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            substring_dup_spans,
        )

        # the SAME 12 tokens twice inside one doc: occurrences >= 2
        # (paper counts within-doc repeats), both extents flagged
        block = " ".join(f"w{i}" for i in range(12))
        docs = _docs(spark, [(1, block + " mid " + block)])
        spans = sorted(
            (r["span_start"], r["span_end"])
            for r in substring_dup_spans(docs, min_len=12).collect()
        )
        assert spans == [(1, 12), (14, 25)]

    def test_overlapping_windows_merge_into_one_span(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            substring_dup_spans,
        )

        # 16-token shared run: 5 duplicated 12-windows per doc merge
        # into ONE maximal span covering all 16 tokens
        run = " ".join(f"r{i}" for i in range(16))
        docs = _docs(spark, [(1, run + " a1 a2"), (2, "b1 b2 " + run)])
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"])
            for r in substring_dup_spans(docs, min_len=12).collect()
        }
        assert spans == {1: (1, 16), 2: (3, 18)}

    def test_fully_duplicated_doc_empties(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            substring_dedup,
        )

        text = " ".join(f"d{i}" for i in range(12))
        docs = _docs(spark, [(1, text), (2, text)])
        out = {r["doc_id"]: r for r in substring_dedup(docs, min_len=12).collect()}
        assert out[1]["clean_text"] == "" and out[1]["n_tokens_kept"] == 0
        assert out[2]["n_tokens_dropped"] == 12

    def test_incremental_on_empty_artifact_equals_one_shot(self, spark):
        """A batch decided against an EMPTY window-count artifact must
        reproduce substring_dup_spans verbatim (within-batch repeats
        count toward min_count in both forms)."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            incremental_substring_spans,
            substring_dup_spans,
        )

        docs = self._fixture(spark)
        empty = spark.createDataFrame([], "h long, c long")
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(
            incremental_substring_spans(empty, docs, min_len=12)
        ) == key(substring_dup_spans(docs, min_len=12))

    def test_incremental_flags_batch_spans_against_corpus(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            incremental_substring_spans,
            substring_window_counts,
        )

        corpus = _docs(spark, [(1, "c1 c2 " + self._SHARED)])
        stored = substring_window_counts(corpus, min_len=12).localCheckpoint()
        batch = _docs(
            spark,
            [
                (10, "b1 b2 " + self._SHARED + " b3"),  # dups corpus run
                (11, " ".join(f"n{i}" for i in range(20))),  # novel
            ],
        )
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"])
            for r in incremental_substring_spans(
                stored, batch, min_len=12
            ).collect()
        }
        # the 15-token shared run sits at tokens 3..17 of doc 10; the
        # corpus doc is NEVER re-decided (frozen-corpus contract)
        assert spans == {10: (3, 17)}

    def test_corpus_windows_shuffle_at_most_twice(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            substring_dup_spans,
        )

        # parquet-backed so the planner has stats: over an in-memory
        # frame AQE first plans a sort-merge semi join and only
        # CONVERTS to broadcast at runtime, leaving a local-read probe
        # exchange in the text; over a FileScan (the real shape) the
        # broadcast is planned outright
        path = str(tmp_path / "docs.parquet")
        self._fixture(spark).write.parquet(path)
        docs = spark.read.parquet(path)
        df = substring_dup_spans(docs, min_len=12)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # AQE broadcasts the duplicate-hash set, so the probe side goes
        # Generate -> BroadcastHashJoin with NO window re-shuffle; the
        # only hash exchanges are the duplicate-count aggregate (_h)
        # and the hit-island merge (doc_id).  A third one would mean
        # corpus window rows shuffled for the lookup join.
        assert "BroadcastHashJoin" in final and "LeftSemi" in final
        assert final.count("Exchange hashpartitioning") <= 2


class TestSpanDedupTextCol:
    def test_non_default_text_col_forwarded(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            span_dedup,
            span_self_dedup,
        )

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b x y")], "rid long, body string"
        )
        out = {
            r["rid"]: r
            for r in span_dedup(
                df, span_words=2, id_col="rid", text_col="body"
            ).collect()
        }
        assert out[1]["clean_text"] == "c d" and out[2]["clean_text"] == "x y"
        df2 = spark.createDataFrame([(1, "a b a b c d")], "rid long, body string")
        self_out = span_self_dedup(
            df2, span_words=2, id_col="rid", text_col="body"
        ).collect()[0]
        assert self_out["clean_text"] == "a b c d"


class TestGopherFilter:
    def _run(self, spark, rows):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            gopher_quality_filter,
        )

        df = _docs(spark, rows)
        return {
            r["doc_id"]: r
            for r in gopher_quality_filter(df, min_words=3, max_words=8).collect()
        }

    def test_clean_doc_keeps(self, spark):
        out = self._run(spark, [(1, "the crane lifted onto a barge")])
        assert out[1]["keep"] and out[1]["failed_rules"] == ""

    def test_length_rules(self, spark):
        out = self._run(
            spark,
            [(1, "the a"), (2, "the cat sat on a mat with the big red dog now")],
        )
        assert "too_short" in out[1]["failed_rules"]
        assert "too_long" in out[2]["failed_rules"]
        assert not out[2]["keep"]

    def test_word_len_rule(self, spark):
        # mean word length < 3 -> fails; stopwords present so only that rule
        out = self._run(spark, [(1, "a a is to on a")])
        assert "word_len_out_of_range" in out[1]["failed_rules"]

    def test_repetition_rules(self, spark):
        # "zap zap zap zap zap zap" -> one bigram repeated 5x: top + dup fire
        out = self._run(spark, [(1, "the zap zap zap zap is")])
        assert "top_bigram_repetition" in out[1]["failed_rules"]
        assert "dup_bigram_repetition" in out[1]["failed_rules"]

    def test_stopword_diversity(self, spark):
        out = self._run(spark, [(1, "grape melon banana kiwi")])
        assert "low_stopword_diversity" in out[1]["failed_rules"]

    def test_rule_order_deterministic(self, spark):
        out = self._run(spark, [(1, "xx yy")])
        assert out[1]["failed_rules"].startswith("too_short")


class TestBuildCorpusFull:
    """The 6-stage build (gate -> span dedup -> dedup -> decontam ->
    mixture -> shards): every extended stage must be observable in the
    final manifest membership."""

    def _manifest(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        S = [f"s{i:03d}" for i in range(10)]          # 10-word shared span
        a = [f"a{i:03d}" for i in range(20)]
        b = [f"b{i:03d}" for i in range(20)]
        c = [f"c{i:03d}" for i in range(20)]
        d = [f"d{i:03d}" for i in range(27)]
        e = [f"e{i:03d}" for i in range(30)]
        mk = lambda toks: " ".join(toks)
        rows = [
            (1, "a b", "web"),                                   # gate: too_short
            (2, mk(S + ["the", "and"] + a), "web"),              # shares span S
            (3, mk(S + ["the", "and"] + b), "web"),              # shares span S
            (4, mk(["the", "and"] + c), "web"),                  # == doc 5
            (5, mk(["the", "and"] + c), "web"),                  # == doc 4
            (6, mk(["the", "and"] + d[:18] + ["alpha", "beta", "gamma"] + d[18:]), "web"),
            (7, mk(["the", "and"] + e), "web"),                  # clean survivor
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        ev = spark.createDataFrame(
            [(99, "alpha beta gamma", "eval")],
            "doc_id long, text string, source string",
        )
        return build_corpus(
            docs, ev, num_shards=4, quality_gate=True, span_words=10
        ).collect()

    def test_stage_semantics_in_manifest(self, spark):
        out = self._manifest(spark)
        # doc 1 fails the gate; docs 4/5 are full duplicates so every
        # span is shared and both empty out at span dedup; doc 6 holds
        # the eval 3-gram and is decontaminated away; docs 2/3 lose the
        # shared leading span but keep distinct tails; doc 7 untouched.
        assert sorted(r["doc_id"] for r in out) == [2, 3, 7]
        # one uniform source at rate 1.0 -> nothing resampled away, and
        # the shard layout is positionally dense within each shard.
        by_shard: dict[int, list[int]] = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1))
            assert 0 <= shard < 4

    def test_deterministic_across_runs(self, spark):
        one = {(r["doc_id"], r["shard"], r["shard_pos"]) for r in self._manifest(spark)}
        two = {(r["doc_id"], r["shard"], r["shard_pos"]) for r in self._manifest(spark)}
        assert one == two

    def test_non_default_key_and_text_cols(self, spark):
        """quality_gate + span_words must honor advertised key_col /
        text_col (previously raised AnalysisException when the id was
        not literally 'doc_id')."""
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        c = [f"c{i:03d}" for i in range(40)]
        rows = [
            (1, "a b", "web"),                       # gate: too_short
            (2, "the and " + " ".join(c), "web"),    # == doc 3
            (3, "the and " + " ".join(c), "web"),    # == doc 2
            (4, "the and " + " ".join(f"e{i:03d}" for i in range(30)), "web"),
        ]
        docs = spark.createDataFrame(rows, "rec_id long, body string, source string")
        ev = spark.createDataFrame(
            [(99, "zz yy xx", "eval")], "rec_id long, body string, source string"
        )
        out = build_corpus(
            docs, ev, num_shards=2,
            key_col="rec_id", text_col="body",
            quality_gate=True, span_words=10,
        ).collect()
        # doc 1 gated out; 2/3 fully mutual spans -> both empty out; 4 survives
        assert sorted(r["rec_id"] for r in out) == [4]


class TestTemperatureWeights:
    def test_alpha_half_hand_computed(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            temperature_weights,
        )

        df = spark.createDataFrame(
            [(i, "a") for i in range(4)] + [(9, "b")],
            "doc_id long, source string",
        )
        out = {
            r["source"]: r
            for r in temperature_weights(df, by="source", alpha=0.5).collect()
        }
        # weights sqrt(4)=2, sqrt(1)=1 -> targets 10/3, 5/3
        assert abs(out["a"]["target_n"] - round(10 / 3, 4)) < 1e-9
        assert abs(out["b"]["target_n"] - round(5 / 3, 4)) < 1e-9
        assert abs(out["a"]["sample_rate"] - round(10 / 3 / 4, 6)) < 1e-9
        assert out["b"]["sample_rate"] == 1.0  # under-represented: kept whole

    def test_alpha_one_is_natural(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            temperature_weights,
        )

        df = spark.createDataFrame(
            [(i, "a") for i in range(4)] + [(9, "b")],
            "doc_id long, source string",
        )
        out = temperature_weights(df, by="source", alpha=1.0).collect()
        assert all(r["sample_rate"] == 1.0 for r in out)

    def test_alpha_zero_matches_uniform_mixture(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            mixture_weights,
            temperature_weights,
        )

        df = spark.createDataFrame(
            [(i, "a") for i in range(6)] + [(10, "b"), (11, "b"), (12, "c")],
            "doc_id long, source string",
        )
        t = {
            r["source"]: r["sample_rate"]
            for r in temperature_weights(df, by="source", alpha=0.0).collect()
        }
        u = {
            r["source"]: round(r["sample_rate"], 6)
            for r in mixture_weights(df, by="source").collect()
        }
        assert t == u


class TestSpanSelfDedup:
    def test_repeat_within_doc_keeps_first(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_self_dedup

        df = _docs(spark, [(1, "a b a b c")])
        out = {r["doc_id"]: r for r in span_self_dedup(df, span_words=2).collect()}
        assert out[1]["clean_text"] == "a b c"
        assert out[1]["n_spans_kept"] == 2 and out[1]["n_spans_dropped"] == 1

    def test_cross_doc_repeats_untouched(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_self_dedup

        df = _docs(spark, [(1, "x y"), (2, "x y")])
        out = {r["doc_id"]: r for r in span_self_dedup(df, span_words=2).collect()}
        assert out[1]["clean_text"] == "x y" and out[2]["clean_text"] == "x y"
        assert all(r["n_spans_dropped"] == 0 for r in out.values())

    def test_order_preserved(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import span_self_dedup

        df = _docs(spark, [(1, "p q r s p q r s t u")])
        out = span_self_dedup(df, span_words=2).collect()[0]
        assert out["clean_text"] == "p q r s t u"
        assert out["n_spans_kept"] == 3 and out["n_spans_dropped"] == 2


class TestBuildCorpusLmGated:
    def test_lm_gate_drops_out_of_model_docs(self, spark):
        """Gate at threshold 0: docs fully OOV under the trained LM
        (no scorable bigram) must vanish from the manifest; in-model
        docs flow through the 4-stage tail untouched."""
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        filler = " ".join(f"w{i:02d}" for i in range(20))
        rows = [
            (1, f"spark scan {filler}", "web"),
            (2, f"scan spark {filler}", "web"),
            (3, "zz qq", "web"),  # no context word seen in training
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        train = docs.filter(F.col("doc_id") < 3)
        ev = spark.createDataFrame(
            [(99, "nothing shared here at all", "eval")],
            "doc_id long, text string, source string",
        )
        out = build_corpus(
            docs, ev, num_shards=2, lm_train=train, lm_threshold=0.0
        ).collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2]

    def test_gate_equals_manual_filter_then_build(self, spark, sf_dir):
        """Composition contract: build_corpus(lm_train=...) must equal
        scoring+filtering first and building the survivors — the gate
        adds membership, never reorders or rescales later stages."""
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_doc_score,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        train = docs.filter(F.col("lang") == "en")
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        thr = 0.033
        composed = build_corpus(
            docs, ev, num_shards=4, lm_train=train, lm_threshold=thr
        )
        passed = (
            kn_doc_score(docs, train=train)
            .filter(F.col("kn_score") >= thr)
            .select("doc_id")
        )
        manual = build_corpus(docs.join(passed, "doc_id"), ev, num_shards=4)
        key = lambda r: (r["doc_id"], r["source"], r["shard"], r["shard_pos"])
        assert sorted(map(key, composed.collect())) == sorted(
            map(key, manual.collect())
        )


class TestWeightedMixtureResample:
    def test_light_group_kept_whole_heavy_downsampled(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            weighted_mixture_resample,
        )

        rows = [(i, "big", 100) for i in range(40)] + [
            (100 + i, "small", 10) for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, w long")
        out = weighted_mixture_resample(df, "w", by="source", key_col="doc_id")
        got = out.groupBy("source").agg(
            F.count("*").alias("n"), F.sum("w").alias("w")
        ).collect()
        by = {r["source"]: r for r in got}
        assert by["small"]["n"] == 4  # rate 1.0: under-budget group whole
        # big: rate = (4040/2)/4000 = 0.505 -> expected token share ~ 2020
        assert 0 < by["big"]["n"] < 40
        assert abs(by["big"]["w"] - 2020) < 800  # Bernoulli, generous band

    def test_deterministic_across_runs(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            weighted_mixture_resample,
        )

        rows = [(i, "a" if i % 3 else "b", 1 + i % 7) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, source string, w long")
        one = {r["doc_id"] for r in weighted_mixture_resample(df, "w").collect()}
        two = {r["doc_id"] for r in weighted_mixture_resample(df, "w").collect()}
        assert one == two and one


class TestContaminationProfile:
    def test_hand_computed_fractions(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            contamination_profile,
        )

        docs = spark.createDataFrame(
            [
                (1, "a b c d"),        # 3-grams: 'a b c', 'b c d'
                (2, "x y z"),          # 'x y z'
                (3, "a b c"),          # 'a b c'
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([(9, "a b c q")], "doc_id long, text string")
        got = {r["doc_id"]: r for r in contamination_profile(docs, ev, n=3).collect()}
        assert got[1]["n_distinct_ngrams"] == 2 and got[1]["n_hit_distinct"] == 1
        assert got[1]["contamination"] == 0.5
        assert got[2]["n_hit_distinct"] == 0 and got[2]["contamination"] == 0.0
        assert got[3]["contamination"] == 1.0

    def test_every_doc_reported(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            contamination_profile,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = contamination_profile(docs, docs.limit(5), n=3)
        assert out.count() == docs.count()  # clean docs included with 0.0


class TestJsonlPipeline:
    """The composed JSONL→CCNet→pack→JSONL flagship: beyond the
    driver's CTE-chain oracle, pin the structural invariants the
    composition must preserve (sequence budgets, manifest membership,
    JSONL round-trip of the packed rows)."""

    def test_composed_invariants(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.registry import QUERIES

        out = QUERIES["corpus_jsonl_pipeline"](spark, sf_dir)
        rows = out.collect()
        assert rows, "pipeline produced no spans"
        # spans of every non-final sequence total exactly the 512
        # budget; every span is positive and within its doc
        by_seq: dict[int, int] = {}
        for r in rows:
            assert r["n_tokens"] > 0 and r["tok_start"] >= 0
            by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + r["n_tokens"]
        last = max(by_seq)
        for seq, tot in by_seq.items():
            if seq != last:
                assert tot == 512, f"seq {seq} packed {tot} != 512"
        assert 0 < by_seq[last] <= 512
        # every packed doc carries its manifest shard (0..15) + source
        assert all(0 <= r["shard"] < 16 and r["source"] for r in rows)
        # the packed set equals the CCNet manifest's doc set (no doc
        # lost or invented between the gate and the pack)
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        manifest_ids = {
            r["doc_id"]
            for r in build_corpus(
                docs,
                docs.filter(F.col("doc_id") % 97 == 0),
                num_shards=16,
                lm_train=docs.filter(F.col("lang") == "en"),
                lm_threshold=0.033,
                containment_t=0.8,
            ).select("doc_id").collect()
        }
        assert {r["doc_id"] for r in rows} == manifest_ids


class TestBuildCorpusSplit:
    """split_weights appends the leakage-safe split stage: the manifest
    carries a cluster-atomic train/val/test column over the FINAL
    selection."""

    def _docs(self, spark):
        base = [f"w{i:03d}" for i in range(30)]
        near = base[:-1] + ["zzz"]  # Jaccard vs base well above 0.5
        other = [f"x{i:03d}" for i in range(30)]
        rows = [
            (1, " ".join(base), "web"),
            (2, " ".join(near), "web"),       # near-dup of 1 -> same cluster
            (3, " ".join(other), "web"),      # its own cluster
            (4, " ".join(base), "web"),       # exact dup of 1 -> dropped by dedup
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_split_is_cluster_atomic_and_deterministic(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        docs = self._docs(spark)
        ev = spark.createDataFrame(
            [(99, "q1 q2 q3", "eval")], "doc_id long, text string, source string"
        )
        out = build_corpus(
            docs, ev, num_shards=4, split_weights=(90, 5, 5)
        ).collect()
        got = {r["doc_id"]: r["split"] for r in out}
        # exact dedup keeps min-id doc 1; survivors 1,2,3 all selected
        assert sorted(got) == [1, 2, 3]
        # near-dups 1 and 2 must ship in the same split (cluster-atomic)
        assert got[1] == got[2]
        assert set(got.values()) <= {"train", "val", "test"}
        # column contract: the manifest grows exactly one column
        assert set(out[0].asDict()) == {
            "doc_id", "source", "shard", "shard_pos", "split"
        }
        again = {
            r["doc_id"]: r["split"]
            for r in build_corpus(
                docs, ev, num_shards=4, split_weights=(90, 5, 5)
            ).collect()
        }
        assert got == again

    def test_substring_stage_cleans_before_exact_dedup(self, spark):
        """build_corpus(substring_len=...) must (a) drop fully-
        duplicated docs, (b) rewrite partially-duplicated docs so the
        EXACT dedup stage sees cleaned text — two docs identical only
        after span removal collapse to one."""
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        shared = " ".join(f"s{i}" for i in range(12))
        rows = [
            # distinct prefixes, so only the pure shared-run window is
            # duplicated — each doc keeps its own prefix post-clean
            (1, "alpha beta " + shared, "a"),
            (2, "gamma delta " + shared + " x", "a"),
            (3, shared, "a"),          # fully duplicated -> dropped
            (4, shared, "a"),          # fully duplicated -> dropped
            (5, " ".join(f"u{i}" for i in range(20)), "b"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        ev = spark.createDataFrame(
            [(99, "zz1 zz2 zz3 zz4", "eval")],
            "doc_id long, text string, source string",
        )
        out = {
            r["doc_id"]
            for r in build_corpus(
                docs, ev, num_shards=4, substring_len=12
            ).collect()
        }
        # 3,4 fully duplicated -> gone; 1 cleans to "alpha beta", 2 to
        # "alpha beta x" (distinct post-clean, both survive); 5 untouched
        assert 3 not in out and 4 not in out
        assert 5 in out and 1 in out and 2 in out

    def test_substring_stage_collapses_post_clean_twins(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        shared = " ".join(f"s{i}" for i in range(12))
        other = " ".join(f"t{i}" for i in range(12))
        rows = [
            # identical except each carries a different duplicated run:
            # post-clean BOTH become "alpha beta" -> exact dedup keeps min
            (1, "alpha beta " + shared, "a"),
            (2, "alpha beta " + other, "a"),
            (3, shared, "a"),  # twin source for doc 1's run
            (4, other, "a"),   # twin source for doc 2's run
            (5, " ".join(f"u{i}" for i in range(20)), "b"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        ev = spark.createDataFrame(
            [(99, "zz1 zz2 zz3 zz4", "eval")],
            "doc_id long, text string, source string",
        )
        out = {
            r["doc_id"]
            for r in build_corpus(
                docs, ev, num_shards=4, substring_len=12
            ).collect()
        }
        assert 1 in out and 2 not in out  # exact dedup on CLEANED text

    def test_paragraph_stage_keeps_first_occurrence(self, spark):
        """build_corpus(paragraph_words=...) must (a) keep the FIRST
        occurrence of a repeated paragraph (the CCNet semantic — unlike
        the substring/span stages, which keep no canonical copy), (b)
        drop docs whose every paragraph was a later copy, and (c) feed
        exact dedup the CLEANED text."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            build_corpus,
        )

        shared = " ".join(f"s{i}" for i in range(12))
        pref = " ".join(f"p{i}" for i in range(12))
        rows = [
            (1, shared, "a"),            # FIRST occurrence -> kept whole
            (2, pref + " " + shared, "a"),  # later copy of `shared` ->
            #   cleans to `pref` alone
            (3, shared, "a"),            # later copy, fully covered -> drop
            (4, pref + " " + shared, "a"),  # cleans to `pref` = doc 2's
            #   clean text -> exact dedup collapses 4 into 2... but
            #   `pref` inside doc 4 is ITSELF a later copy of doc 2's
            #   first paragraph -> doc 4 cleans to '' and drops first
            (5, " ".join(f"u{i}" for i in range(20)), "b"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        ev = spark.createDataFrame(
            [(99, "zz1 zz2 zz3 zz4", "eval")],
            "doc_id long, text string, source string",
        )
        out = {
            r["doc_id"]
            for r in build_corpus(
                docs, ev, num_shards=4, paragraph_words=12
            ).collect()
        }
        assert 1 in out          # first occurrence survives (CCNet)
        assert 2 in out          # rewritten, keeps its unique prefix
        assert 3 not in out and 4 not in out
        assert 5 in out

    def test_no_split_weights_keeps_four_columns(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        docs = self._docs(spark)
        ev = spark.createDataFrame(
            [(99, "q1 q2 q3", "eval")], "doc_id long, text string, source string"
        )
        out = build_corpus(docs, ev, num_shards=4)
        assert out.columns == ["doc_id", "source", "shard", "shard_pos"]


class TestIncrementalSplitStored:
    def test_assigned_form_equals_recomputed_form(self, spark):
        """incremental_leakage_split(assigned=stored) must reproduce the
        recompute-everything form row for row — the API contract that
        lets the one-shot batch path consume the stored state table the
        streaming twin maintains."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_leakage_split,
            near_dup_clusters,
        )
        from textract_farmdata_pipeline_spark.operators.preprocess import dataset_split

        base = [f"w{i:03d}" for i in range(30)]
        rows = [
            (i, " ".join(base[:-1] + [f"tail{i % 3}"]), ) for i in range(1, 9)
        ] + [(9, " ".join(f"x{j}" for j in range(30)),)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        corpus = docs.filter(F.col("doc_id") % 2 == 1)
        batch = docs.filter(F.col("doc_id") % 2 == 0)
        plain = incremental_leakage_split(corpus, batch)
        stored = dataset_split(
            near_dup_clusters(
                corpus, n_hashes=8, bands=4, threshold=0.5, shingle_n=3,
                max_bucket_size=None, hash_family="md5",
            ),
            id_col="cluster_id",
        ).select("doc_id", "split").localCheckpoint()
        reused = incremental_leakage_split(corpus, batch, assigned=stored)
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(plain) == key(reused)
        # drifted corpus (a doc_id the stored table never assigned)
        # must raise loudly, not silently shrink the linking set
        import pytest as _pytest

        drifted = corpus.unionByName(
            corpus.sparkSession.createDataFrame(
                [(999, "brand new drifted doc text")],
                "doc_id long, text string",
            )
        )
        with _pytest.raises(ValueError, match="missing from the stored"):
            incremental_leakage_split(drifted, batch, assigned=stored)
        # and the reused plan must NOT contain the corpus clustering —
        # no second LSH/banding subtree, just the checkpoint scan
        plan = reused._jdf.queryExecution().optimizedPlan().toString()
        assert "ExistingRDD" in plan or "LogicalRDD" in plan


class TestDsir:
    """DSIR importance resampling — exactness of the Mitchell
    fixed-point family against a pure-Python IEEE reference, and rank
    agreement of the production ln family with the portable one."""

    @staticmethod
    def _py_reference(rows, target_ids, n=2, buckets=4096, scale_bits=20):
        """Bit-exact Python mirror: Python floats ARE IEEE doubles, so
        the same expression tree must reproduce every Spark score."""
        import hashlib

        def grams(text):
            t = text.split(" ")
            n_pos = max(len(t) - (n - 1), 1)
            return [" ".join(t[i : i + n]) for i in range(n_pos)]

        def bucket(g):
            h = hashlib.md5(("dsir|" + g).encode()).hexdigest()[:8]
            return int(h, 16) % buckets

        per, rawc, tgtc = {}, Counter(), Counter()
        for doc_id, text in rows:
            for g in grams(text):
                b = bucket(g)
                per[(doc_id, b)] = per.get((doc_id, b), 0) + 1
                rawc[b] += 1
                if doc_id in target_ids:
                    tgtc[b] += 1
        tr, tt = sum(rawc.values()), sum(tgtc.values())

        def plog2(x):
            f = x.bit_length() - 1
            return float(f) + (float(x) / float(1 << f) - 1.0)

        import math

        w = {
            b: math.floor(
                (
                    (
                        (plog2(tgtc.get(b, 0) + 1) - plog2(tt + buckets))
                        - plog2(cr + 1)
                    )
                    + plog2(tr + buckets)
                )
                * float(1 << scale_bits)
            )
            for b, cr in rawc.items()
        }
        out = {}
        for (doc_id, b), c in per.items():
            g, s = out.get(doc_id, (0, 0))
            out[doc_id] = (g + c, s + c * w[b])
        return out

    _ROWS = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "eins zwei drei vier fünf"),
        (4, "sechs sieben acht neun zehn"),
        (5, "the cat sat quietly nearby"),
        (6, "x"),  # degenerate: shorter than the n-gram width
    ]
    _TARGET = {1, 2, 5}

    def _frames(self, spark):
        docs = _docs(spark, self._ROWS)
        return docs, docs.filter(F.col("doc_id").isin(*self._TARGET))

    def test_mitchell_scores_bit_exact(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import dsir_scores

        docs, target = self._frames(spark)
        got = {
            r["doc_id"]: (r["n_grams"], r["score_q20"])
            for r in dsir_scores(docs, target).collect()
        }
        assert got == self._py_reference(self._ROWS, self._TARGET)

    def test_target_like_docs_outscore_rest(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import dsir_scores

        docs, target = self._frames(spark)
        got = {
            r["doc_id"]: r["score_q20"]
            for r in dsir_scores(docs, target).collect()
        }
        assert len(got) == len(self._ROWS)  # degenerate doc 6 is scored too
        # every English-style doc beats every German-style doc
        assert min(got[d] for d in (1, 2, 5)) > max(got[d] for d in (3, 4))

    def test_ln_family_agrees_within_mitchell_bound(self, spark):
        """Mitchell's plog2 overshoots log2 by at most 0.0861 bits per
        term, so a per-doc score can drift by ≤ 4·0.0861·n_grams bits
        from the true log-ratio; any pair separated by MORE than the
        two docs' combined bound must rank identically in both
        families (near-ties may legitimately swap — that is the
        documented price of the exact-portable log)."""
        import math

        from textract_farmdata_pipeline_spark.operators.corpus import dsir_scores

        docs, target = self._frames(spark)
        mit = {
            r["doc_id"]: (r["score_q20"] / float(1 << 20), r["n_grams"])
            for r in dsir_scores(docs, target, weight="mitchell").collect()
        }
        ln = {
            r["doc_id"]: r["score"] / math.log(2.0)
            for r in dsir_scores(docs, target, weight="ln").collect()
        }
        bound = lambda d: 4 * 0.0861 * mit[d][1]
        decided = 0
        for i in ln:
            for j in ln:
                if ln[i] - ln[j] > bound(i) + bound(j):
                    assert mit[i][0] > mit[j][0], (i, j)
                    decided += 1
        assert decided > 0  # the fixture separates EN from DE decisively

    def test_select_orders_and_limits(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            dsir_scores,
            dsir_select,
        )

        docs, target = self._frames(spark)
        top = dsir_select(docs, target, k=3).collect()
        assert len(top) == 3
        scores = {
            r["doc_id"]: r["score_q20"]
            for r in dsir_scores(docs, target).collect()
        }
        expect = sorted(scores, key=lambda d: (-scores[d], d))[:3]
        assert [r["doc_id"] for r in top] == expect

    def test_weight_table_broadcasts(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import dsir_scores

        docs, target = self._frames(spark)
        plan = dsir_scores(docs, target)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_corpus_explode_runs_once(self, spark):
        """The raw-bucket totals must come from AQE reuse of the
        per-doc count's shuffle, not a second corpus explode — the
        100 TB contract of the docstring.  Pinned on the FINAL
        adaptive plan: the (doc_id, bucket) exchange is reused."""
        import re

        from textract_farmdata_pipeline_spark.operators.corpus import dsir_scores

        docs, target = self._frames(spark)
        df = dsir_scores(docs, target)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"ReusedExchange.*hashpartitioning\(doc_id", plan)

    def test_frozen_weights_equal_one_shot(self, spark):
        """dsir_train_weights → dsir_score_against (the production /
        streaming cadence) must reproduce the one-shot dsir_scores
        exactly — weights are a pure function of (docs, target)."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            dsir_score_against,
            dsir_scores,
            dsir_train_weights,
        )

        docs, target = self._frames(spark)
        w = dsir_train_weights(docs, target)
        norm = lambda rows: sorted(
            (r["doc_id"], r["n_grams"], r["score_q20"]) for r in rows
        )
        assert norm(dsir_score_against(docs, w).collect()) == norm(
            dsir_scores(docs, target).collect()
        )

    def test_stream_replay_equals_one_shot(self, spark, tmp_path):
        """The real foreachBatch replay (frozen weights, K=2 batches,
        MERGE-committed scores table) accumulates exactly the one-shot
        score set — the stream-equals-batch contract."""
        from textract_farmdata_pipeline_spark.operators.corpus import dsir_scores
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            replay_dsir_batches,
        )

        docs, target = self._frames(spark)
        rep = replay_dsir_batches(
            docs, target, str(tmp_path / "wd"), k_batches=2
        )
        norm = lambda rows: sorted(
            (r["doc_id"], r["n_grams"], r["score_q20"]) for r in rows
        )
        assert norm(rep.collect()) == norm(dsir_scores(docs, target).collect())

    def test_frozen_scoring_smooths_unseen_buckets(self, spark):
        """Weights trained on the English subset, then the FULL corpus
        scored against the frozen artifact: German docs hash into
        buckets the table never saw.  Under add-one smoothing those
        buckets carry the constant unseen weight w0 (NOT dropped):
        every doc gets a row — including the all-novel ones — n_grams
        counts every shingle, and each score matches a bit-exact
        Python mirror of the smoothed estimator."""
        import hashlib
        import math

        from textract_farmdata_pipeline_spark.operators.corpus import (
            dsir_score_against,
            dsir_train_weights,
        )

        docs, _ = self._frames(spark)
        train_ids = {1, 2, 5}
        raw = docs.filter(F.col("doc_id").isin(*train_ids))
        target = docs.filter(F.col("doc_id").isin(1, 2))
        w = dsir_train_weights(raw, target)
        got = {
            r["doc_id"]: (r["n_grams"], r["score_q20"])
            for r in dsir_score_against(docs, w).collect()
        }
        # bit-exact Python mirror with the smoothed unseen weight
        n, buckets, scale_bits = 2, 4096, 20

        def grams(text):
            t = text.split(" ")
            return [
                " ".join(t[i : i + n])
                for i in range(max(len(t) - (n - 1), 1))
            ]

        def bucket(g):
            h = hashlib.md5(("dsir|" + g).encode()).hexdigest()[:8]
            return int(h, 16) % buckets

        def plog2(x):
            f = x.bit_length() - 1
            return float(f) + (float(x) / float(1 << f) - 1.0)

        rawc, tgtc = Counter(), Counter()
        for doc_id, text in self._ROWS:
            if doc_id not in train_ids:
                continue
            for g in grams(text):
                rawc[bucket(g)] += 1
                if doc_id in {1, 2}:
                    tgtc[bucket(g)] += 1
        tr, tt = sum(rawc.values()), sum(tgtc.values())
        wtab = {
            b: math.floor(
                (
                    (
                        (plog2(tgtc.get(b, 0) + 1) - plog2(tt + buckets))
                        - plog2(cr + 1)
                    )
                    + plog2(tr + buckets)
                )
                * float(1 << scale_bits)
            )
            for b, cr in rawc.items()
        }
        w0 = math.floor(
            (plog2(tr + buckets) - plog2(tt + buckets))
            * float(1 << scale_bits)
        )
        want = {}
        for doc_id, text in self._ROWS:
            g_count, score = 0, 0
            for g in grams(text):
                g_count += 1
                score += wtab.get(bucket(g), w0)
            want[doc_id] = (g_count, score)
        # the all-novel German docs MUST be present (the old inner
        # join dropped them entirely)
        assert set(got) == set(want) and 3 in got and 4 in got
        assert got == want

    def test_frozen_scoring_empty_artifact_raises(self, spark):
        """An EMPTY w0-carrying weight table would annihilate every
        scored doc through the 1-row crossJoin — must raise loudly."""
        import pytest as _pytest

        from textract_farmdata_pipeline_spark.operators.corpus import (
            dsir_score_against,
        )

        docs, _ = self._frames(spark)
        empty = spark.createDataFrame(
            [], "bucket long, cr long, ct long, w long, w0 long"
        )
        with _pytest.raises(ValueError, match="EMPTY"):
            dsir_score_against(docs, empty)

    def test_empty_artifact_guard_runs_once_per_table(self, spark):
        """The empty-artifact guard is a full Spark action; for a
        frozen artifact it must run AT MOST ONCE per DataFrame (the
        streaming twin calls the scorer once per micro-batch — r9
        advisor finding).  Verified by counting isEmpty() invocations
        on the artifact object across repeated scoring calls."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            dsir_score_against,
            dsir_train_weights,
            ensure_dsir_weights_nonempty,
        )

        docs, target = self._frames(spark)
        weights = dsir_train_weights(docs, target).localCheckpoint()
        calls = {"n": 0}
        real = weights.isEmpty

        def counted():
            calls["n"] += 1
            return real()

        weights.isEmpty = counted
        ensure_dsir_weights_nonempty(weights)  # stream-setup prepay
        for _ in range(3):  # three "micro-batches"
            dsir_score_against(docs, weights)
        assert calls["n"] == 1

    def test_frozen_scoring_legacy_table_drops_unseen(self, spark):
        """Back-compat: a (bucket, w) artifact WITHOUT w0 keeps the
        documented drop semantics — unseen buckets vanish from both
        score and n_grams, all-novel docs get no row."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            dsir_score_against,
            dsir_train_weights,
        )

        docs, _ = self._frames(spark)
        raw = docs.filter(F.col("doc_id").isin(1, 2, 5))
        target = docs.filter(F.col("doc_id").isin(1, 2))
        legacy = dsir_train_weights(raw, target).select("bucket", "w")
        got = {r["doc_id"] for r in dsir_score_against(docs, legacy).collect()}
        assert 3 not in got and 4 not in got and {1, 2, 5} <= got


class TestDecontaminateSpans:
    """Span-level eval-set decontamination: the ExactSubstr window
    machinery with the matching state swapped to "present in the eval
    set" — maximal span extents, eligibility boundaries, and the
    corpus-duplicate blind spot (corpus-internal repeats are NOT
    contamination)."""

    _EVAL = " ".join(f"e{i}" for i in range(10))  # 10-token eval doc
    _REP = " ".join(f"r{i}" for i in range(12))  # corpus-internal twin

    def _pair(self, spark):
        corpus = _docs(
            spark,
            [
                (1, "a b c " + self._EVAL + " x y z"),  # eval mid-doc
                (2, self._EVAL),  # document IS eval text
                (3, " ".join(f"u{i}" for i in range(20))),  # clean
                (4, "tiny doc"),  # shorter than L
                # 6-token eval prefix < L=8: must NOT flag
                (5, "e0 e1 e2 e3 e4 e5 " + " ".join(f"z{i}" for i in range(8))),
                (6, self._REP),  # corpus-internal duplicate pair:
                (7, self._REP),  # shares no eval window -> untouched
            ],
        )
        ev = _docs(spark, [(100, self._EVAL), (101, "short eval")])
        return corpus, ev

    def test_maximal_spans_and_eligibility(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_spans,
        )

        corpus, ev = self._pair(spark)
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
            for r in decontaminate_spans(corpus, ev, min_len=8).collect()
        }
        # doc 1: eval block occupies tokens 4..13; windows at 4/5/6
        # merge into ONE maximal span covering exactly the block
        assert spans == {1: (4, 13, 10), 2: (1, 10, 10)}

    def test_scrub_rewrites_and_empties(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_scrub,
        )

        corpus, ev = self._pair(spark)
        out = {
            r["doc_id"]: r
            for r in decontaminate_scrub(corpus, ev, min_len=8).collect()
        }
        assert out[1]["clean_text"] == "a b c x y z"
        assert out[1]["n_tokens_dropped"] == 10
        assert out[2]["clean_text"] == "" and out[2]["n_tokens_kept"] == 0
        assert out[3]["n_tokens_dropped"] == 0
        assert out[4]["clean_text"] == "tiny doc"
        assert out[5]["n_tokens_dropped"] == 0  # sub-threshold overlap
        # corpus-internal duplication is dedup's job, not decontam's
        assert out[6]["n_tokens_dropped"] == 0
        assert out[7]["n_tokens_dropped"] == 0

    def test_short_eval_docs_produce_no_windows(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_spans,
        )

        corpus = _docs(spark, [(1, "short eval plus padding tokens here now ok")])
        ev = _docs(spark, [(100, "short eval")])  # 2 tokens < L
        assert decontaminate_spans(corpus, ev, min_len=8).count() == 0


class TestBuildCorpusDecontamScrub:
    """build_corpus(decontam_scrub_len=...): span-scrub replaces the
    document-drop rule — partially-contaminated docs stay (minus their
    spans affecting only the empty-exit rule), fully-contaminated docs
    exit."""

    _EVAL = " ".join(f"e{i}" for i in range(10))

    def _frames(self, spark):
        rows = [
            (1, "a b c " + self._EVAL + " x y z", "web"),  # partial
            (2, self._EVAL, "web"),  # fully contaminated
            (3, " ".join(f"u{i}" for i in range(20)), "web"),  # clean
            (4, " ".join(f"v{i}" for i in range(20)), "book"),  # clean
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        ev = spark.createDataFrame(
            [(100, self._EVAL, "eval")], "doc_id long, text string, source string"
        )
        return docs, ev

    def test_scrub_mode_keeps_partial_drops_full(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        docs, ev = self._frames(spark)
        kept = {
            r["doc_id"]
            for r in build_corpus(
                docs, ev, num_shards=4, decontam_scrub_len=8
            ).collect()
        }
        # doc 2 is entirely eval text -> exits; doc 1 keeps its
        # residue; the 3-gram drop rule would kill BOTH.
        # (doc 3 is sampled out downstream by the mixture stage: web
        # rate = 1.5/2 = 0.75 and md5-bucket(3) = 778110 >= 750000 —
        # a mixture decision, not a decontamination one.)
        assert 2 not in kept and 1 in kept and 4 in kept and 3 not in kept
        dropped = {
            r["doc_id"]
            for r in build_corpus(docs, ev, num_shards=4).collect()
        }
        assert 1 not in dropped and 2 not in dropped


class TestDecontamEvalDelta:
    """Benchmark-release audit: the positional window artifact probed
    by newly added eval docs must reproduce the one-shot span decision
    against that same eval slice — artifact == rebuild."""

    _EVAL_A = " ".join(f"a{i}" for i in range(10))
    _EVAL_B = " ".join(f"b{i}" for i in range(10))

    def _frames(self, spark):
        corpus = _docs(
            spark,
            [
                (1, "x y z " + self._EVAL_A + " tail tokens"),
                (2, "p q " + self._EVAL_B + " r s"),
                (3, " ".join(f"u{i}" for i in range(20))),
            ],
        )
        old_eval = _docs(spark, [(100, self._EVAL_A)])
        new_eval = _docs(spark, [(101, self._EVAL_B)])
        return corpus, old_eval, new_eval

    def test_delta_equals_one_shot_on_new_slice(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontam_eval_delta,
            decontaminate_spans,
            substring_window_index,
        )

        corpus, _old, new = self._frames(spark)
        stored = substring_window_index(corpus, min_len=8).localCheckpoint()
        key = lambda df: sorted(tuple(r) for r in df.collect())
        got = decontam_eval_delta(stored, new, min_len=8)
        assert key(got) == key(decontaminate_spans(corpus, new, min_len=8))
        # only doc 2 (the EVAL_B host) is affected; the EVAL_A overlap
        # is old news, not part of this release's delta
        assert {r["doc_id"] for r in got.collect()} == {2}
        # exact extent: EVAL_B occupies tokens 3..12 of doc 2
        r = got.collect()[0]
        assert (r["span_start"], r["span_end"], r["n_tokens"]) == (3, 12, 10)


class TestDecontamStreamReplay:
    """Streaming scrub over K micro-batches against the frozen eval
    window artifact equals the one-shot scrub — stream-equals-batch,
    and idempotent by construction (stateless given the artifact)."""

    def test_stream_replay_equals_one_shot(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_scrub,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            replay_decontam_batches,
        )

        ev_text = " ".join(f"e{i}" for i in range(10))
        corpus = _docs(
            spark,
            [
                (1, "a b c " + ev_text + " x y z"),
                (2, ev_text),
                (3, " ".join(f"u{i}" for i in range(20))),
                (4, "tiny doc"),
                (5, "m n " + ev_text),
            ],
        )
        ev = _docs(spark, [(100, ev_text)])
        rep = replay_decontam_batches(
            corpus, ev, str(tmp_path / "wd"), k_batches=3, min_len=8
        )
        key = lambda df: sorted(tuple(r) for r in df.collect())
        assert key(rep) == key(decontaminate_scrub(corpus, ev, min_len=8))
        got = {r["doc_id"]: r["clean_text"] for r in rep.collect()}
        assert got == {
            1: "a b c x y z",
            2: "",
            3: " ".join(f"u{i}" for i in range(20)),
            4: "tiny doc",
            5: "m n",
        }


class TestBuildCorpusCurated:
    """All eight stages composed, each doing DISTINCT work (substring
    L=20 > paragraph 12, the registration's stratification): Gopher
    drops the degenerate doc, ExactSubstr removes only the >=20-token
    phase-shifted copy (from ALL owners — byte twins of long docs exit
    here, which is why exact dedup needs the longer threshold to have
    anything left to do), paragraph keep-first keeps the FIRST copy of
    12-word boilerplate ExactSubstr ignores, and the scrub removes the
    eval overlap while keeping the document."""

    @staticmethod
    def _filler(p, n):
        # Gopher-compliant filler: >= 2 distinct stopwords, mean word
        # length in [3, 10], all bigrams distinct (no repetition flag)
        return "the with " + " ".join(f"{p}word{i:02d}" for i in range(n))

    def test_stage_signatures_compose(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        F20 = self._filler  # >= 2 stopwords, distinct bigrams
        shared20 = " ".join(f"shared{i:02d}" for i in range(20))
        para12 = " ".join(f"boiler{i:02d}" for i in range(12))
        ev_text = " ".join(f"evaltok{i}" for i in range(10))
        rows = [
            # 1/3: byte twins, 32 tokens each — the whole text is a
            # >=20-token duplicate, so ExactSubstr (remove ALL
            # occurrences, no canonical copy — the Lee et al. semantic
            # this build declares) annihilates BOTH; they never reach
            # exact dedup.
            (1, F20("a", 30), "web"),
            (3, F20("a", 30), "web"),
            # Gopher kill: < 30 tokens
            (2, "far too short", "web"),
            # scrub: eval text embedded mid-doc -> span removed,
            # document retained
            (4, F20("b", 15) + " " + ev_text + " " + F20("c", 15), "web"),
            # ExactSubstr: phase-shifted 20-token copy pair -> block
            # removed from both, distinct residues survive
            (5, F20("d", 15) + " " + shared20, "book"),
            (6, shared20 + " " + F20("g", 15), "book"),
            # paragraph keep-first: chunk-aligned 12-token boilerplate
            # (first 12 tokens of both) — 12 < L=20 so ExactSubstr
            # ignores it; doc 7 (earlier) keeps it, doc 8 loses it,
            # both survive on their residues
            (7, para12 + " " + F20("p", 20), "book"),
            (8, para12 + " " + F20("q", 20), "book"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        ev = spark.createDataFrame(
            [(100, ev_text, "eval")], "doc_id long, text string, source string"
        )
        out = build_corpus(
            docs,
            ev,
            num_shards=2,
            quality_gate=True,
            substring_len=20,
            paragraph_words=12,
            decontam_scrub_len=8,
            split_weights=(90, 5, 5),
        )
        rows_out = out.collect()
        kept = {r["doc_id"] for r in rows_out}
        # mixture rates: web survivors {4} rate 1.0; book survivors
        # {5,6,7,8} rate 0.625 and all four md5 buckets < 625000 —
        # so the kept set below is exactly the gate outcomes
        assert kept == {4, 5, 6, 7, 8}
        assert {r["split"] for r in rows_out} <= {"train", "val", "test"}
        assert all(r["shard"] in (0, 1) for r in rows_out)

    def test_annihilated_twins_vs_dedup_first(self, spark):
        """The declared stage-order semantic, pinned: with ExactSubstr
        IN FRONT of exact dedup, byte twins of long documents exit
        entirely (all occurrences of the duplicated text are removed);
        the 4-stage build (no substring stage) keeps the min-id copy."""
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        twin = self._filler("t", 30)
        docs = spark.createDataFrame(
            [(1, twin, "web"), (2, twin, "web"),
             (3, self._filler("u", 30), "web")],
            "doc_id long, text string, source string",
        )
        ev = spark.createDataFrame(
            [(100, "unrelated eval words here", "e")],
            "doc_id long, text string, source string",
        )
        with_ss = {
            r["doc_id"]
            for r in build_corpus(
                docs, ev, num_shards=2, quality_gate=True,
                substring_len=20, decontam_scrub_len=8,
            ).collect()
        }
        without_ss = {
            r["doc_id"]
            for r in build_corpus(
                docs, ev, num_shards=2, quality_gate=True,
                decontam_scrub_len=8,
            ).collect()
        }
        assert 1 not in with_ss and 2 not in with_ss and 3 in with_ss
        assert 1 in without_ss and 2 not in without_ss


class TestBuildCorpusTokenMixture:
    """mixture_unit='tokens': the resample stage balances expected
    TOKEN mass per domain, not document count — a domain of few huge
    docs downsamples while a domain of many small docs keeps all."""

    def test_token_budget_rates_in_build(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        small = " ".join(f"s{i}" for i in range(10))  # 10 tokens
        rows = (
            # 'tiny': 4 docs x 10 tokens = 40 tokens
            [(i, small + f" u{i}", "tiny") for i in range(1, 5)]
            # 'huge': 4 docs x 200 tokens = 800 tokens
            + [
                (10 + i, " ".join(f"h{i}w{j}" for j in range(200)), "huge")
                for i in range(4)
            ]
        )
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        ev = spark.createDataFrame(
            [(100, "zz yy xx ww", "e")], "doc_id long, text string, source string"
        )
        doc_bal = build_corpus(docs, ev, num_shards=2)
        tok_bal = build_corpus(
            docs, ev, num_shards=2, mixture_unit="tokens"
        )
        per = lambda df: {
            s: n
            for s, n in df.groupBy("source").count().rdd.map(tuple).collect()
        }
        # doc-balanced: 4 docs/source target -> rate 1.0 both sides
        assert per(doc_bal) == {"tiny": 4, "huge": 4}
        tok = per(tok_bal)
        # token-balanced: total 844 tokens, 2 domains -> target 422
        # tokens/domain; tiny (44 tokens) keeps all at rate 1.0; huge
        # rate = 422/800 = 0.5275 -> the md5 buckets thin the 4 docs
        assert tok["tiny"] == 4 and tok.get("huge", 0) < 4


class TestDecontamEvalReport:
    """Reverse-direction report: per EVAL doc, verbatim-coverage of
    its windows in the corpus — planted full hosts at 10000 bp, partial
    hosts at the exact window fraction, clean benchmarks at 0."""

    def test_coverage_fractions(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontam_eval_report,
        )

        ev_a = " ".join(f"a{i}" for i in range(10))  # fully hosted
        ev_b = " ".join(f"b{i}" for i in range(12))  # partially hosted
        ev_c = " ".join(f"c{i}" for i in range(10))  # clean
        corpus = _docs(
            spark,
            [
                (1, "x y " + ev_a + " z"),
                # hosts only the first 9 tokens of ev_b -> 2 of its 5
                # windows found
                (2, "p " + " ".join(f"b{i}" for i in range(9)) + " q"),
                (3, " ".join(f"u{i}" for i in range(20))),
            ],
        )
        ev = _docs(spark, [(100, ev_a), (101, ev_b), (102, ev_c), (103, "tiny")])
        rep = {
            r["doc_id"]: (r["n_windows"], r["n_found"], r["coverage_bp"])
            for r in decontam_eval_report(corpus, ev, min_len=8).collect()
        }
        assert rep[100] == (3, 3, 10000)
        assert rep[101] == (5, 2, 4000)
        assert rep[102] == (3, 0, 0)
        assert rep[103] == (0, 0, 0)  # shorter than L: nothing to leak


class TestDecontaminateFuzzy:
    """The third decontamination rung: near-duplicate eval leakage —
    catches the paraphrase that exact-window scrubbing misses, and
    ignores low-overlap docs that merely quote a short phrase."""

    def test_catches_paraphrase_exact_windows_miss(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_fuzzy,
            decontaminate_spans,
        )

        ev_text = " ".join(f"ev{i}" for i in range(30))
        # paraphrase: tokens 7 and 22 edited -> the longest surviving
        # verbatim run is 14 tokens, so at min_len=15 the exact-window
        # rung sees nothing; 3-gram Jaccard stays ~0.66 (22 shared of
        # 34 union after 2x3 destroyed shingles) -> fuzzy catches it
        para = " ".join(
            (f"XX{i}" if i in (7, 22) else f"ev{i}") for i in range(30)
        )
        corpus = _docs(
            spark,
            [
                (1, para),
                (2, " ".join(f"u{i}" for i in range(30))),  # clean
                # quotes a 5-token eval phrase inside an unrelated doc:
                # low Jaccard -> NOT flagged by the fuzzy rung
                (3, "ev0 ev1 ev2 ev3 ev4 " + " ".join(f"q{i}" for i in range(40))),
            ],
        )
        ev = _docs(spark, [(100, ev_text)])
        fuzzy = {
            (r["doc_id"], r["matched_eval_id"])
            for r in decontaminate_fuzzy(
                corpus, ev, n_hashes=8, bands=4, threshold=0.5, hash_family="md5"
            ).collect()
        }
        assert fuzzy == {(1, 100)}
        # ...and the exact-window rung sees NOTHING in the paraphrase
        # at a 15-token threshold (longest verbatim run is 14)
        assert (
            decontaminate_spans(
                corpus.filter(F.col("doc_id") == 1), ev, min_len=15
            ).count()
            == 0
        )

    def test_members_map_through_reps(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_fuzzy,
        )

        ev_text = " ".join(f"ev{i}" for i in range(30))
        corpus = _docs(
            spark,
            [(1, ev_text), (2, ev_text), (3, "other words entirely here")],
        )
        ev = _docs(spark, [(100, ev_text)])
        got = {
            (r["doc_id"], r["matched_eval_id"])
            for r in decontaminate_fuzzy(
                corpus, ev, n_hashes=8, bands=4, hash_family="md5"
            ).collect()
        }
        # both exact copies flagged (the non-rep member through its rep)
        assert got == {(1, 100), (2, 100)}


class TestDecontaminateContainment:
    """The fourth decontamination rung: a benchmark pasted into a much
    larger page — near-total containment of the eval shingle set, but
    Jaccard far below the fuzzy threshold."""

    def test_host_page_caught_fuzzy_misses(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_containment,
            decontaminate_fuzzy,
        )

        ev_text = " ".join(f"ev{i}" for i in range(30))
        host = " ".join(f"page{i}" for i in range(90)) + " " + ev_text
        corpus = _docs(
            spark,
            [
                (1, host),  # benchmark inside a big page
                (2, " ".join(f"u{i}" for i in range(40))),  # clean
                (3, "ev0 ev1 ev2 plus other words here now"),  # tiny overlap
            ],
        )
        ev = _docs(spark, [(100, ev_text)])
        got = {
            (r["doc_id"], r["eval_id"], r["containment_bp"])
            for r in decontaminate_containment(
                corpus, ev, threshold_bp=8000
            ).collect()
        }
        # all 28 eval shingles occur in the host -> 10000 bp
        assert got == {(1, 100, 10000)}
        # ...and the Jaccard rung does NOT flag the host: union is
        # dominated by the page (28 shared / ~120 union ~ 0.23 < 0.5)
        fuzzy = decontaminate_fuzzy(
            corpus, ev, n_hashes=8, bands=4, threshold=0.5, hash_family="md5"
        )
        assert fuzzy.count() == 0

    def test_threshold_is_integer_exact(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate_containment,
        )

        # eval has 8 shingles (10 tokens); host carries exactly 4 of
        # them (6 eval tokens -> 4 shingles): 5000 bp
        ev_text = " ".join(f"e{i}" for i in range(10))
        partial = " ".join(f"e{i}" for i in range(6)) + " " + " ".join(
            f"w{i}" for i in range(20)
        )
        corpus = _docs(spark, [(1, partial)])
        ev = _docs(spark, [(100, ev_text)])
        at_50 = decontaminate_containment(corpus, ev, threshold_bp=5000).collect()
        assert [(r["doc_id"], r["n_shared"], r["containment_bp"]) for r in at_50] == [
            (1, 4, 5000)
        ]
        assert (
            decontaminate_containment(corpus, ev, threshold_bp=5001).count() == 0
        )


class TestWeightedSampleTopk:
    """A-ES weighted sampling: weight-proportional winners, exact
    determinism, bounded-rank contract."""

    def test_heavy_weights_dominate(self, spark):
        """Two rows at weight 10_000 vs eight at weight 1: the heavy
        clocks tick ~10^4 slower, so k=2 picks both heavies (a light
        row would need u within 2^-20 of 1 to compete)."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            weighted_sample_topk,
        )

        rows = [(i, 10_000 if i < 2 else 1) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        got = [
            r["doc_id"]
            for r in weighted_sample_topk(df, "w", k=2).collect()
        ]
        assert sorted(got) == [0, 1]

    def test_deterministic_rank_permutation(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            weighted_sample_topk,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = weighted_sample_topk(docs, "n_chars", k=50).collect()
        b = weighted_sample_topk(docs, "n_chars", k=50).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        ranks = [r["sample_rank"] for r in a]
        assert ranks == list(range(1, 51))
        assert len({r["doc_id"] for r in a}) == 50  # without replacement

    def test_sample_mean_weight_exceeds_corpus_mean(self, spark, sf_dir):
        """Weight-proportional selection over a spread weight column
        must pull the sample's mean weight above the corpus mean."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.corpus import (
            weighted_sample_topk,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sample_mean = (
            weighted_sample_topk(docs, "n_chars", k=50)
            .agg(F.avg("weight"))
            .collect()[0][0]
        )
        corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
        assert sample_mean > corpus_mean

    def test_zero_weight_rows_excluded(self, spark):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            weighted_sample_topk,
        )

        df = spark.createDataFrame(
            [(1, 0), (2, -3), (3, 5)], "doc_id long, w long"
        )
        got = [r["doc_id"] for r in weighted_sample_topk(df, "w", k=10).collect()]
        assert got == [3]

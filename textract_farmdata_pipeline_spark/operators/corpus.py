"""Corpus-level training-data operations: decontamination, sampling, sharding.

The reference pipeline (`lambda_function.py`) has no corpus-level
surface; these are the north-star operations a pre-training data
pipeline runs *after* per-document cleaning (see
:mod:`..operators.preprocess`) and *before* writing training shards.

Scale design (the part that matters at 100 TB):

* **Decontamination** joins the corpus against the *eval set's* n-gram
  universe.  Eval sets are tiny (thousands of documents), so their
  distinct-shingle set broadcasts — the corpus side is scan → explode →
  broadcast hash join with **zero shuffle of corpus bytes**; only the
  per-document hit counts (one row per contaminated doc) shuffle.
* **Sampling / splitting** is md5-hash-deterministic: no RNG state, no
  `sample()` nondeterminism across retries/speculative tasks, identical
  assignment in any engine and on any rerun.  A filter, not a shuffle.
* **Shard shuffling** produces the (shard, position) layout training
  jobs expect.  The global order is the md5 hash of the key — uniform,
  so shards are balanced by construction — and the only shuffle is the
  `repartition` on shard id that the subsequent write needs anyway.

All expressions are built-in Column ops (whole-stage codegen); the
n-gram explode uses `posexplode(sequence)` + `slice` rather than a
higher-order `transform` lambda because interpreted HOF lambdas are
~20× slower than codegen in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def md5_bucket(key: Column, mod: int, seed: str = "") -> Column:
    """Deterministic uniform bucket in ``[0, mod)`` from an id column.

    First 8 hex digits of ``md5(seed || key)`` as an integer, modulo
    ``mod``.  Engine-portable: DuckDB's
    ``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT)`` computes the
    identical value, which is what lets every sampling / split operator
    here be oracle-checked exactly.
    """
    hexpart = F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 8)
    return F.conv(hexpart, 16, 10).cast("long") % mod


def ngram_shingles(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per whitespace-token n-gram: ``(id, pos, shingle)``.

    Documents shorter than ``n`` tokens yield their whole text as a
    single (short) shingle, so every document is represented.  The
    explode is a Generate over an integer ``sequence`` with the shingle
    sliced in the projection — all codegen, no Python, no shuffle.
    """
    toks = F.split(F.col(text_col), " ")
    n_pos = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return (
        docs.select(id_col, toks.alias("_toks"), F.explode(F.sequence(F.lit(1), n_pos)).alias("pos"))
        .select(id_col, "pos", F.array_join(F.slice("_toks", F.col("pos"), n), " ").alias("shingle"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag corpus documents sharing any token n-gram with an eval set.

    The standard pre-training decontamination rule (n-gram overlap with
    benchmark data, n=13 in GPT-3/PaLM practice).  Returns one row per
    *contaminated* document: ``(id, n_hit_ngrams, n_hit_distinct)`` —
    total overlapping shingle instances and distinct overlapping
    shingles.  Anti-join the result against the corpus to drop them.

    Plan shape: eval shingles are distinct-ed (tiny) and broadcast; the
    corpus explode flows through the broadcast join map-side, then a
    partial-aggregated count by document id.  No corpus-sized shuffle.
    """
    corpus_sh = ngram_shingles(docs, n, text_col, id_col)
    eval_sh = (
        ngram_shingles(eval_docs.select(text_col), n, text_col=text_col, id_col=text_col)
        .select("shingle")
        .distinct()
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hit_ngrams"),
            F.countDistinct("shingle").alias("n_hit_distinct"),
        )
    )


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep iff md5 bucket < fraction.

    Unlike ``DataFrame.sample`` this is stable under task retries and
    speculative execution (no partition-indexed RNG), reproducible
    across engines, and consistent between runs — the properties that
    matter when a sample defines a training corpus.  Pure filter: no
    shuffle, pushes down past column pruning.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(md5_bucket(F.col(key_col), 1_000_000, seed) < int(fraction * 1_000_000))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """Exactly ``n`` rows per stratum, chosen by deterministic hash order.

    ``row_number`` over (stratum, md5(key)) — the hash order is uniform
    and reproducible, so this is a seeded without-replacement sample
    with an exact per-group size (what class-balanced training mixes
    need).  One shuffle on the stratum key; heavily skewed strata
    degrade gracefully because only rank ≤ n rows survive the window
    (AQE coalesces the rest).
    """
    order = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    seed: str = "",
) -> DataFrame:
    """Assign every row a deterministic (shard, shard_pos) for training.

    The md5 hash of the key gives a uniform pseudo-random global order;
    its low bits pick the shard and ``row_number`` within the shard
    gives the position — the layout a data loader consumes
    (``shard-00042.parquet``, records in ``shard_pos`` order).  Shards
    are balanced by hash uniformity, the assignment is identical on
    every rerun, and the only shuffle is on shard id — the same
    exchange the partitioned write would do anyway.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("_h")
    return (
        df.withColumn("_h", h)
        .withColumn("shard", md5_bucket(F.col(key_col), num_shards, seed + "|shard"))
        .withColumn("shard_pos", F.row_number().over(w))
        .drop("_h")
    )


def _budget_rate(total: Column, n_groups: Column, unit: Column) -> Column:
    """The one mixture-rate formula: ``min(1, (total/n_groups)/unit)``
    — unit = docs (:func:`mixture_weights`) or any per-row weight sum
    (:func:`weighted_mixture_resample`).  One definition so the two
    resamplers and their oracles cannot drift."""
    return F.least(F.lit(1.0), total.cast("double") / n_groups / unit)


def _rate_keep(
    df: DataFrame, rates: DataFrame, by: str, key_col: str, seed: str
) -> DataFrame:
    """Deterministic Bernoulli keep at a per-group rate COLUMN: the
    shared tail of every mixture resampler (broadcast rates onto the
    corpus, md5-bucket comparison, retry-stable)."""
    kept = df.join(rates, by).filter(
        md5_bucket(F.col(key_col), 1_000_000, seed)
        < F.col("sample_rate") * 1_000_000
    )
    return kept.drop("sample_rate")


def mixture_weights(df: DataFrame, by: str = "source") -> DataFrame:
    """Per-domain sampling rates targeting a uniform mixture.

    One aggregate over the corpus plus a broadcast 1-row total — the
    rate for domain *d* is ``min(1, (total/n_domains) / n_d)``, i.e.
    downsample over-represented domains to the uniform share and keep
    under-represented ones whole.  The output is #domains rows; feed it
    to :func:`mixture_resample` (broadcast) to apply."""
    counts = df.groupBy(by).agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.count("*").alias("n_groups")
    )
    target = F.col("total").cast("double") / F.col("n_groups")
    return counts.crossJoin(F.broadcast(tot)).select(
        by,
        "n_docs",
        target.alias("target_n"),
        _budget_rate(
            F.col("total"), F.col("n_groups"), F.col("n_docs")
        ).alias("sample_rate"),
    )


def temperature_weights(
    df: DataFrame, by: str = "source", alpha: float = 0.5
) -> DataFrame:
    """Temperature-scaled mixture rates: target share of domain *d* is
    ``n_d^alpha / SUM n_e^alpha`` (the multilingual-sampling rule of
    Lample & Conneau 2019, §3.1) — ``alpha=1`` keeps natural
    proportions, ``alpha -> 0`` approaches the uniform mixture of
    :func:`mixture_weights`, and intermediate values upsample rare
    domains without flattening the head entirely.

    Same plan shape as :func:`mixture_weights`: one corpus aggregate,
    one broadcast 1-row total; output is #domains rows of
    ``(domain, n_docs, target_n, sample_rate)`` for
    :func:`mixture_resample`-style application.  ``sample_rate`` is
    ``min(1, target_n / n_d)`` — a pure *downsampling* schedule (no
    replication), the conservative form when the consumer cannot
    duplicate rows."""
    counts = df.groupBy(by).agg(F.count("*").alias("n_docs"))
    powed = counts.withColumn(
        "_w", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    )
    tot = powed.agg(
        F.sum("n_docs").alias("total"), F.sum("_w").alias("wsum")
    )
    target = (
        F.col("total").cast("double") * F.col("_w") / F.col("wsum")
    )
    return powed.crossJoin(F.broadcast(tot)).select(
        by,
        "n_docs",
        F.round(target, 4).alias("target_n"),
        F.round(
            F.least(F.lit(1.0), target / F.col("n_docs").cast("double")), 6
        ).alias("sample_rate"),
    )


def mixture_resample(
    df: DataFrame,
    by: str = "source",
    key_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Deterministic per-domain Bernoulli resample to a uniform mixture.

    The per-domain rates broadcast onto the corpus (no corpus shuffle)
    and each row keeps iff its md5 bucket clears the domain's rate —
    the same retry-stable sampling contract as :func:`hash_sample`,
    with the rate a *column*, not a literal.  Rows out ≈ uniform across
    domains; assignment reproducible on any engine."""
    rates = F.broadcast(mixture_weights(df, by).select(by, "sample_rate"))
    return _rate_keep(df, rates, by, key_col, seed)


def corpus_ngram_counts(
    docs: DataFrame,
    n: int = 2,
    top: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level top-``top`` n-grams by occurrence count.

    Explode to shingles (codegen Generate, no Python), aggregate with
    map-side combine on the shingle key, then TakeOrdered for the
    top slice — the full n-gram table is never sorted or collected.
    Deterministic output: ties broken by the shingle string."""
    sh = ngram_shingles(docs, n, text_col=text_col, id_col=id_col)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("shingle"))
        .limit(top)
    )


# build_corpus constants: every caller balances by source, scores the
# drop-rule decontamination and the excerpt stage on 3-gram shingles,
# and counts a substring as duplicated at two occurrences.
_BY = "source"
_DECONTAM_N = 3
_CONTAINMENT_N = 3
_SUBSTRING_MIN_COUNT = 2


def _stage(df: DataFrame) -> DataFrame:
    """The corpus build's one staging boundary: an eager local
    checkpoint, so every later reference scans materialized rows
    instead of re-expanding the stage's subtree."""
    from .checkpoints import tracked_local_checkpoint

    staged, _ = tracked_local_checkpoint(df)
    return staged


def _gate(docs: DataFrame, passed: DataFrame, key_col: str) -> DataFrame:
    """Keep the documents whose id is in ``passed``."""
    return docs.join(passed.select(key_col), key_col)


def _rewrite(
    docs: DataFrame, cleaned: DataFrame, key_col: str, text_col: str, *extra: str
) -> DataFrame:
    """Replace ``docs``' text with ``cleaned``'s ``clean_text`` (plus
    ``extra`` columns); documents left with nothing (``''``) drop."""
    kept = cleaned.where(F.col("clean_text") != "")
    return docs.drop(text_col).join(
        kept.select(key_col, F.col("clean_text").alias(text_col), *extra), key_col
    )


def build_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    num_shards: int = 16,
    key_col: str = "doc_id",
    text_col: str = "text",
    quality_gate: bool = False,
    span_words: int | None = None,
    lm_train: DataFrame | None = None,
    lm_threshold: float = 0.0,
    containment_t: float | None = None,
    split_weights: tuple[int, int, int] | None = None,
    substring_len: int | None = None,
    paragraph_words: int | None = None,
    decontam_scrub_len: int | None = None,
    mixture_unit: str | None = None,
    return_text: bool = False,
) -> DataFrame:
    """The end-to-end corpus build: one lazy plan that folds the
    stages its keywords switch on over the corpus, in this order, and
    returns the ``(key, source, shard, shard_pos)`` manifest a loader
    consumes.

    ``lm_train`` (CCNet LM gate, Wenzek et al. 2020): train
    :func:`..operators.text_analysis.kn_doc_score`'s Kneser-Ney bigram
    model on ``lm_train`` and keep documents with ``kn_score >=
    lm_threshold``; documents with no scorable bigram fail.  The score
    is a ratio of exact integer sums, so the gate is engine-portable.

    ``quality_gate`` (Gopher gate): keep documents passing the six
    integer rules of :func:`..operators.text_analysis.gopher_quality_filter`.

    ``span_words`` (C4 span dedup, :func:`span_dedup`): remove every
    ``span_words``-word span shared by two or more documents from all
    of them; later stages see the cleaned text.

    ``substring_len`` (ExactSubstr, :func:`substring_dedup`, Lee et al.
    2022): remove every token covered by a stride-1 substring of at
    least ``substring_len`` tokens that occurs twice or more in the
    corpus, from all occurrences.

    ``paragraph_words`` (CCNet paragraph keep-first,
    :func:`..operators.paragraphs.paragraph_dedup_keepfirst`): every
    repeated ``paragraph_words``-word paragraph keeps only its first
    ``(doc_id, chunk_idx)`` occurrence.  Each of the three rewrites
    drops documents left with no text.

    Exact dedup (always): one document per distinct text, the lowest id.

    ``containment_t`` (excerpt removal,
    :func:`..operators.dedup.containment_excerpt_drop`): drop each
    document whose 3-gram shingle set is covered at least
    ``containment_t`` by a document above it in the (set size ASC, id
    DESC) order.  Running after exact dedup confines the pair join to
    distinct texts.

    Decontamination (always) against ``eval_docs``: by default drop
    every document sharing a 3-gram with the eval set.
    ``decontam_scrub_len`` switches to span scrubbing
    (:func:`decontaminate_scrub`): every verbatim eval overlap of at
    least that many tokens is removed from the text, documents left
    with nothing drop, and every later stage (mixture weights, split
    clustering, ``return_text``) sees the scrubbed text.  An id-only
    manifest must not be joined back to the raw store in this mode; set
    ``return_text=True`` to ship the clean text.

    Mixture (always): resample each source to the same expected
    document count (:func:`mixture_resample`), or with
    ``mixture_unit="tokens"`` the same expected whitespace-token count
    of the current text (:func:`weighted_mixture_resample`).  The rates
    are rationals of integer sums, so the build stays hash-checkable.

    Shards (always): :func:`shuffle_shards` into ``num_shards``.

    ``split_weights`` (leakage-safe split): cluster the final selection
    with the md5 near-dup family
    (:func:`..operators.dedup.near_dup_clusters`) and give each
    document the md5-bucket split of its cluster id
    (:func:`..operators.preprocess.dataset_split`), so near-duplicates
    ship in the same split; the manifest gains a ``split`` column.

    ``return_text`` appends the text of the last text-rewriting stage,
    so the manifest alone is a loadable corpus.

    Staging: each gate and rewrite ends in a join back onto the
    corpus, and later stages reference their input two or three times.
    Composed lazily, Catalyst re-expands those subtrees per reference
    (a 33-exchange sum of stages became a 200-exchange plan), so the
    fold stages (:func:`_stage`) the output of the LM gate, of the
    Gopher gate when span dedup follows it, of each rewrite, of exact
    dedup when excerpt removal or scrubbing follows, of excerpt
    removal, of the scrub, and of the mixture when the split follows.
    The checkpoint blocks live as long as the returned frame; a
    production build writes staging tables instead.
    """
    from .dedup import exact_dedup_by_hash

    key, text = key_col, text_col
    split = split_weights is not None
    steps = []  # (stage, staged, ships_text), in fold order
    if lm_train is not None:
        from .text_analysis import kn_doc_score

        steps.append((
            lambda d: _gate(d, kn_doc_score(d, train=lm_train, text_col=text, id_col=key)
                            .filter(F.col("kn_score") >= F.lit(lm_threshold)), key),
            True, True,
        ))
    if quality_gate:
        from .text_analysis import gopher_quality_filter

        steps.append((
            lambda d: _gate(d, gopher_quality_filter(d, text_col=text, id_col=key)
                            .where(F.col("keep")), key),
            span_words is not None, True,
        ))
    from .paragraphs import paragraph_dedup_keepfirst

    cleaners = [  # (enabled, text rewrite), in fold order
        (span_words, lambda d: span_dedup(
            d, span_words=span_words, id_col=key, text_col=text)),
        (substring_len, lambda d: substring_dedup(
            d, min_len=substring_len, min_count=_SUBSTRING_MIN_COUNT,
            id_col=key, text_col=text)),
        (paragraph_words, lambda d: paragraph_dedup_keepfirst(
            d, para_words=paragraph_words, id_col=key, text_col=text)),
    ]
    steps += [
        (lambda d, clean=clean: _rewrite(d, clean(d), key, text), True, True)
        for enabled, clean in cleaners
        if enabled is not None
    ]
    steps.append((
        lambda d: d.join(exact_dedup_by_hash(d, text_col=text, id_col=key)
                         .select(F.col("keep_doc_id").alias(key)), key),
        containment_t is not None or decontam_scrub_len is not None, False,
    ))
    if containment_t is not None:
        from .dedup import containment_excerpt_drop

        steps.append((
            lambda d: d.join(containment_excerpt_drop(
                d, threshold=containment_t, shingle_n=_CONTAINMENT_N,
                id_col=key, text_col=text,
            ).withColumnRenamed("doc_id", key), key, "left_anti"),
            True, False,
        ))
    if decontam_scrub_len is not None:
        steps.append((
            lambda d: _rewrite(d, decontaminate_scrub(
                d, eval_docs, min_len=decontam_scrub_len, id_col=key, text_col=text,
            ), key, text, "n_tokens_kept"),
            True, True,
        ))
        weight = F.col("n_tokens_kept")
    else:
        steps.append((
            lambda d: d.join(F.broadcast(decontaminate(
                d, eval_docs, n=_DECONTAM_N, text_col=text, id_col=key
            ).select(key)), key, "left_anti"),
            False, False,
        ))
        weight = F.size(F.split(F.col(text), " ")).cast("long")
    if mixture_unit == "tokens":
        steps.append((
            lambda d: weighted_mixture_resample(
                d.select(key, _BY, weight.alias("_w")), "_w", by=_BY, key_col=key
            ).select(key, _BY),
            split, False,
        ))
    else:
        steps.append((
            lambda d: mixture_resample(d.select(key, _BY), by=_BY, key_col=key),
            split, False,
        ))

    cur = text_docs = docs
    for stage, staged, ships_text in steps:
        cur = stage(cur)
        if staged:
            cur = _stage(cur)
        if ships_text:
            text_docs = cur
    sampled = cur

    cols = [key, _BY, "shard", "shard_pos"]
    out = shuffle_shards(sampled, key, num_shards).select(*cols)
    if split:
        from .dedup import near_dup_clusters
        from .preprocess import dataset_split

        # cluster the final selection only: a twin that did not
        # survive to the output cannot leak
        sel = text_docs.select(
            F.col(key).alias("doc_id"), F.col(text).alias("text")
        ).join(sampled.select(F.col(key).alias("doc_id")), "doc_id")
        clusters = near_dup_clusters(
            sel, n_hashes=8, bands=4, threshold=0.5, shingle_n=3,
            max_bucket_size=None, hash_family="md5",
        )
        split_map = dataset_split(
            clusters, id_col="cluster_id", weights=split_weights
        ).select(F.col("doc_id").alias(key), "split")
        cols.append("split")
        out = out.join(split_map, key).select(*cols)
    if return_text:
        out = out.join(text_docs.select(key, text), key).select(*cols, text)
    return out


def span_dedup(
    docs: DataFrame,
    span_words: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-document span deduplication.

    The C4 recipe (Raffel et al. 2020, §2.2) drops any three-sentence
    span that occurs more than once in the corpus.  This corpus has no
    sentence structure, so the dedup unit is a fixed ``span_words``-word
    window (non-overlapping, last span keeps the tail): every span whose
    text appears in at least ``min_docs`` *distinct* documents is
    removed from **all** of them (C4 keeps no canonical copy either),
    and each document is reassembled from its surviving spans in order.

    Returns ``(id, clean_text, n_spans_kept, n_spans_dropped)`` with
    ``clean_text = ''`` when every span of a document was shared.

    Scale shape (100 TB corpus):

    * Segmentation is :func:`..operators.preprocess.chunk_tokens` — a
      per-row codegen'd slice + explode, **no shuffle**.
    * Duplicate detection groups on ``xxhash64(span)`` — an 8-byte key
      with map-side partial aggregation, never the span text itself, so
      the count shuffle moves ~16 bytes per span, not the corpus.
    * The anti join keys on the same 8-byte hash; AQE broadcasts the
      duplicate-hash set when it is small and falls back to a shuffled
      hash join when a crawl-scale corpus makes it large — both plans
      are correct, neither is quadratic.
    * Reassembly is the one unavoidable corpus-byte shuffle (surviving
      spans group back to their document); its key is the id column, so
      skew is bounded by document length, not corpus popularity.
    """
    from .preprocess import chunk_tokens

    seg = chunk_tokens(
        docs.select(F.col(id_col).alias("doc_id"), text_col),
        chunk_size=span_words,
        overlap=0,
        text_col=text_col,
    ).select("doc_id", "chunk_idx", "chunk_text", F.xxhash64("chunk_text").alias("_h"))
    dup = (
        seg.groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    kept = seg.join(dup, "_h", "left_anti")
    reassembled = (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))).alias("_a")
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("_a.chunk_text")).alias("clean_text"),
            F.size("_a").alias("n_spans_kept"),
        )
    )
    toks = F.split(F.col(text_col), " ")
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.ceil(F.size(toks) / F.lit(span_words)), F.lit(1))
        .cast("int")
        .alias("_n_spans"),
    )
    return totals.join(reassembled, "doc_id", "left").select(
        F.col("doc_id").alias(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_spans_kept", F.lit(0)).alias("n_spans_kept"),
        (F.col("_n_spans") - F.coalesce("n_spans_kept", F.lit(0))).alias(
            "n_spans_dropped"
        ),
    )


def span_self_dedup(
    docs: DataFrame,
    span_words: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document span dedup: repeated ``span_words``-word windows
    inside one document keep only their first occurrence — the
    boilerplate-stutter companion to the cross-document
    :func:`span_dedup` (which removes corpus-shared spans from all
    docs; this one never looks across documents).

    Plan shape: segmentation is the same codegen'd chunker;
    first-occurrence detection is a window rank over (doc, span-hash)
    in chunk order; the total-span count and reassembly share a
    doc-keyed exchange — two corpus-byte shuffles total, both keyed by
    the id (skew bounded by document length, not span popularity).

    Returns ``(id, clean_text, n_spans_kept, n_spans_dropped)``
    (clean_text is never empty — the first occurrence always stays).
    """
    from .preprocess import chunk_tokens

    seg = chunk_tokens(
        docs.select(F.col(id_col).alias("doc_id"), text_col),
        chunk_size=span_words,
        overlap=0,
        text_col=text_col,
    )
    w = Window.partitionBy("doc_id", F.xxhash64("chunk_text")).orderBy("chunk_idx")
    kept = (
        seg.withColumn("_occ", F.row_number().over(w))
        .withColumn("_tot", F.count("*").over(Window.partitionBy("doc_id")))
        .filter(F.col("_occ") == 1)
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_idx", "chunk_text"))
            ).alias("_a"),
            F.count("*").alias("n_spans_kept"),
            F.first("_tot").alias("_n_spans_total"),
        )
        .select(
            F.col("doc_id").alias(id_col),
            F.concat_ws(" ", F.col("_a.chunk_text")).alias("clean_text"),
            F.col("n_spans_kept").cast("long").alias("n_spans_kept"),
            (F.col("_n_spans_total") - F.col("n_spans_kept"))
            .cast("long")
            .alias("n_spans_dropped"),
        )
    )


def _shingle_hash(hash_family: str):
    """md5 (portable oracle family) vs xxhash64 (product default) —
    the ONE dispatch shared by every ExactSubstr entry point."""
    if hash_family == "md5":
        return F.md5
    if hash_family == "xxhash64":
        return F.xxhash64
    # caller contract
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def _hit_islands(hits: DataFrame, L: int, id_col: str) -> DataFrame:
    """Union-of-intervals tail shared by the one-shot and incremental
    ExactSubstr forms: duplicated-window hit positions → maximal
    ``(id, span_start, span_end, n_tokens)`` spans.  Equal-length
    windows sorted by pos have monotone ends, so the island break is
    one lag: a new span starts when this window's first token is
    beyond the previous window's last token + 1.  ONE definition, so
    the boundary condition cannot diverge between the forms (the
    empty-artifact-equals-one-shot pytest pins the equivalence)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + F.lit(L)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col("doc_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        )
    )


def substring_dup_spans(
    docs: DataFrame,
    min_len: int = 12,
    min_count: int = 2,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT duplicated-substring detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): every maximal token span such that each of its
    ``min_len``-token windows occurs ≥ ``min_count`` times in the
    corpus (within-document repeats count, as in the paper).

    Returns ``(doc_id, span_start, span_end, n_tokens)`` — 1-based
    inclusive token positions of each maximal span.

    Exactness without a suffix array: a duplicated substring of length
    ≥ L exists iff some STRIDE-1 length-L window is duplicated, and the
    token set covered by duplicated substrings of length ≥ L is
    exactly the union of the duplicated windows' extents.  Lee et al.'s
    sorted-suffix + adjacent-LCP scan computes the same set with a
    global sort; grouping stride-1 window hashes replaces that sort
    with ONE hash-partitioned exchange — same answer, no range
    partitioner, no driver-side suffix merge.  This is what the
    fixed-phase :func:`span_dedup` (non-overlapping C4 windows)
    structurally misses: a verbatim copy whose alignment differs
    between two documents never produces equal non-overlapping
    windows, but always produces equal stride-1 windows.

    Scale shape (100 TB): the window explode is a Generate over the
    shared :func:`ngram_shingles` scaffold (codegen, no shuffle; docs
    shorter than ``min_len`` are filtered OUT first — a short document
    equal to another short document is not a length-≥L duplicate).
    Only the window HASH shuffles (8-byte xxhash64 product key / md5
    hex for the oracle family), never window text: the duplicate
    filter is ``groupBy(hash)`` with map-side combine, and the
    hit-lookup semi join broadcasts the duplicate-hash set under AQE
    (the probe side flows Generate → join with NO re-shuffle,
    pytest-pinned) and falls back to a shuffled hash join keyed on the
    same 8 bytes when a crawl-scale corpus makes the set large — the
    span_dedup contract.  The island merge shuffles only HIT positions
    (duplicated windows, a small fraction of the corpus) by
    ``doc_id``.  Every stage is
    linear in corpus tokens — the same I/O class as the paper's
    distributed suffix-array build, with Spark picking the join
    strategy per scale.
    """
    h = _shingle_hash(hash_family)
    L = min_len
    eligible = docs.select(F.col(id_col).alias("doc_id"), text_col).where(
        F.size(F.split(F.col(text_col), " ")) >= L
    )
    win = ngram_shingles(eligible, L, text_col=text_col, id_col="doc_id").select(
        "doc_id", "pos", h(F.col("shingle")).alias("_h")
    )
    dup = (
        win.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_h")
    )
    hits = win.join(dup, "_h", "left_semi").select("doc_id", "pos")
    return _hit_islands(hits, L, id_col)


def substring_dedup(
    docs: DataFrame,
    min_len: int = 12,
    min_count: int = 2,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply Lee et al. 2022 ExactSubstr REMOVAL: drop every token
    covered by a duplicated substring of ≥ ``min_len`` tokens
    (:func:`substring_dup_spans`) and reassemble each document from
    its surviving tokens in order.  No canonical copy is kept — the
    paper removes ALL occurrences, same as C4 span dedup.

    Returns ``(id, clean_text, n_tokens_kept, n_tokens_dropped)``
    with ``clean_text = ''`` when the whole document was duplicated.

    Scale shape: the rewrite path runs ONLY on documents that own at
    least one span — those inner-join their (few) spans collected per
    doc, and the token filter is a per-row higher-order ``filter``
    against that tiny span array (O(tokens·spans_per_doc), no explode,
    no reassembly shuffle).  The untouched majority anti-joins the
    span doc-ids and passes through as a projection.  Corpus bytes are
    never shuffled to rebuild text — the only corpus-sized exchange in
    the whole product is the window-hash groupBy in the span stage.
    """
    spans = substring_dup_spans(
        docs,
        min_len=min_len,
        min_count=min_count,
        hash_family=hash_family,
        id_col=id_col,
        text_col=text_col,
    )
    return _remove_spans(docs, spans, id_col=id_col, text_col=text_col)


def _remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-level span-removal rewrite shared by ExactSubstr removal
    (:func:`substring_dedup`) and span-level eval decontamination
    (:func:`decontaminate_scrub`): given maximal 1-based inclusive
    ``(id, span_start, span_end)`` spans, drop every covered token and
    reassemble each document from the survivors in order.  ONE
    definition so the rewrite boundary condition cannot diverge
    between the two products.  The rewrite runs only on span-owning
    documents (higher-order token filter against their collected-span
    array); the untouched majority anti-joins the span ids and passes
    through as a projection — corpus bytes are never shuffled to
    rebuild text."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    toks = F.split(F.col(text_col), " ")
    base = docs.select(id_col, toks.alias("_t"))
    # 1-based token index i+1 against 1-based inclusive span bounds;
    # spans are disjoint by construction so `exists` hits ≤ once.
    kept = F.filter(
        "_t",
        lambda x, i: ~F.exists(
            "_sp",
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    rewritten = base.join(per_doc, id_col).select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_tokens_dropped"),
    )
    untouched = base.join(per_doc, id_col, "left_anti").select(
        id_col,
        F.array_join("_t", " ").alias("clean_text"),
        F.size("_t").cast("long").alias("n_tokens_kept"),
        F.lit(0).cast("long").alias("n_tokens_dropped"),
    )
    return untouched.unionByName(rewritten)


def substring_window_counts(
    docs: DataFrame,
    min_len: int = 12,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ExactSubstr STATE artifact: one ``(h, c)`` row per distinct
    stride-1 ``min_len``-token window hash with its corpus occurrence
    count — what you materialize once (bucketed by ``h``) so arriving
    batches can be decided without rescanning corpus text
    (:func:`incremental_substring_spans`).  8 bytes + a count per
    distinct window; the groupBy is map-side combined."""
    h = _shingle_hash(hash_family)
    L = min_len
    eligible = docs.select(F.col(id_col).alias("doc_id"), text_col).where(
        F.size(F.split(F.col(text_col), " ")) >= L
    )
    win = ngram_shingles(eligible, L, text_col=text_col, id_col="doc_id")
    return (
        win.select(h(F.col("shingle")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("c"))
    )


def incremental_substring_spans(
    stored_counts: DataFrame,
    batch: DataFrame,
    min_len: int = 12,
    min_count: int = 2,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ExactSubstr — the ingest-time form: the corpus is
    represented ONLY by its :func:`substring_window_counts` artifact,
    and each arriving batch's duplicated spans are decided against
    (corpus count + batch count) ≥ ``min_count`` without rescanning
    corpus text.  Returns the batch's maximal duplicated token spans
    ``(doc_id, span_start, span_end, n_tokens)`` — the
    :func:`substring_dup_spans` contract over batch docs only.

    FROZEN-CORPUS contract (the incremental-split discipline): corpus
    documents are never re-decided — a batch window that makes a
    previously-unique corpus span duplicated flags the BATCH doc here;
    re-cleaning the affected corpus docs is a rebuild decision, not a
    per-batch one.  Within-batch repeats count toward ``min_count``
    exactly as the one-shot does, so a batch processed against an
    empty artifact reproduces :func:`substring_dup_spans` verbatim
    (pytest-pinned).

    Scale shape: batch windows explode and count per hash (map-side
    combine, |batch|-proportional); the ONE corpus-sized operation is
    the equality join of the batch's distinct window hashes against
    the stored ``(h, c)`` table — co-located when the artifact is
    bucketed by ``h``, and only matched rows leave the scan.  Island
    merge shuffles batch hit positions by doc_id."""
    h = _shingle_hash(hash_family)
    L = min_len
    eligible = batch.select(F.col(id_col).alias("doc_id"), text_col).where(
        F.size(F.split(F.col(text_col), " ")) >= L
    )
    win = ngram_shingles(eligible, L, text_col=text_col, id_col="doc_id").select(
        "doc_id", "pos", h(F.col("shingle")).alias("h")
    )
    bc = win.groupBy("h").agg(F.count("*").alias("bc"))
    dup = (
        bc.join(stored_counts.select("h", "c"), "h", "left")
        .where(F.coalesce(F.col("c"), F.lit(0)) + F.col("bc") >= min_count)
        .select("h")
    )
    hits = win.join(dup, "h", "left_semi").select("doc_id", "pos")
    return _hit_islands(hits, L, id_col)


def decontaminate_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SPAN-level eval-set decontamination: every maximal corpus token
    span whose each stride-1 ``min_len``-token window occurs verbatim
    anywhere in the eval set — the ExactSubstr machinery
    (:func:`substring_dup_spans`) with the matching state swapped from
    "duplicated within the corpus" to "present in the eval set".

    :func:`decontaminate` (the GPT-3-style n-gram rule) flags WHOLE
    documents on any shared n-gram — the right gate for short
    benchmark strings, but it throws away an entire document for one
    overlapping phrase.  This form localizes the overlap: it returns
    the exact token spans ``(id, span_start, span_end, n_tokens)``
    (1-based inclusive) that reproduce ≥ ``min_len`` consecutive eval
    tokens, so :func:`decontaminate_scrub` can remove just those and
    keep the rest of the document — the span-removal discipline
    training pipelines apply to long verbatim eval overlap.

    Scale shape (100 TB): eval windows hash to a distinct 8-byte set
    (|eval|-bounded, tiny next to the corpus) and the corpus window
    explode flows through ONE semi join on that key — broadcast under
    AQE, shuffled hash join on the same 8 bytes when the eval set is
    crawl-scale.  Only HIT positions (rare by construction) shuffle by
    doc id for the island merge.  No corpus-sized exchange anywhere:
    the corpus side is Generate → hash → join, all map-side when the
    eval set broadcasts.
    """
    ev_win = eval_window_hashes(
        eval_docs, min_len=min_len, hash_family=hash_family, text_col=text_col
    )
    return decontaminate_spans_against(
        ev_win,
        docs,
        min_len=min_len,
        hash_family=hash_family,
        id_col=id_col,
        text_col=text_col,
    )


def eval_window_hashes(
    eval_docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """The decontamination MATCHING-STATE artifact: one distinct row
    ``(h)`` per stride-1 ``min_len``-token eval window hash — what you
    materialize once per eval-set release so every ingest batch and
    every corpus rebuild decides against the same frozen 8-byte set
    without re-shingling benchmark text.  |eval|-bounded (tiny next to
    any training corpus), so it broadcasts; the streaming scrubber
    (:func:`..streaming.ingest.decontam_ingest_stream`) requires it
    materialized so no micro-batch re-runs the eval explode."""
    h = _shingle_hash(hash_family)
    L = min_len
    ev = eval_docs.select(F.col(text_col).alias("text")).where(
        F.size(F.split(F.col("text"), " ")) >= L
    )
    # id_col=text carries the text through as its own id, the
    # decontaminate() spelling — no synthetic id, and it projects away
    # in the distinct-hash select.
    return (
        ngram_shingles(ev, L, text_col="text", id_col="text")
        .select(h(F.col("shingle")).alias("h"))
        .distinct()
    )


def decontaminate_spans_against(
    stored_hashes: DataFrame,
    docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`decontaminate_spans` with the eval side already reduced
    to its :func:`eval_window_hashes` artifact — the form every other
    consumer composes (the one-shot wraps it; the streaming scrubber
    calls it per micro-batch against the frozen artifact).  ``min_len``
    MUST match the artifact's window length: the island merge extends
    each hit by ``min_len - 1`` tokens, so a mismatched L yields wrong
    span extents, not an error."""
    h = _shingle_hash(hash_family)
    L = min_len
    eligible = docs.select(F.col(id_col).alias("doc_id"), text_col).where(
        F.size(F.split(F.col(text_col), " ")) >= L
    )
    win = ngram_shingles(eligible, L, text_col=text_col, id_col="doc_id").select(
        "doc_id", "pos", h(F.col("shingle")).alias("_h")
    )
    hits = win.join(
        stored_hashes.select(F.col("h").alias("_h")), "_h", "left_semi"
    ).select("doc_id", "pos")
    return _hit_islands(hits, L, id_col)


def decontaminate_scrub_against(
    stored_hashes: DataFrame,
    docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Artifact-side scrub: :func:`decontaminate_scrub` against a
    frozen :func:`eval_window_hashes` table — span detection + the
    shared :func:`_remove_spans` rewrite.  Stateless per document given
    the artifact, which is what makes the streaming replay idempotent
    BY CONSTRUCTION (a replayed batch re-derives identical rows; no
    batch reads state its own commit mutated — contrast the dhash
    admission stream, which needed explicit self-exclusion)."""
    spans = decontaminate_spans_against(
        stored_hashes,
        docs,
        min_len=min_len,
        hash_family=hash_family,
        id_col=id_col,
        text_col=text_col,
    )
    return _remove_spans(docs, spans, id_col=id_col, text_col=text_col)


def decontaminate_fuzzy(
    docs: DataFrame,
    eval_docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FUZZY decontamination: flag corpus documents whose shingle-set
    Jaccard with ANY eval document ≥ ``threshold`` — the
    near-duplicate leak that BOTH n-gram flagging and exact-window
    scrubbing structurally miss (a paraphrased, re-rendered, or
    lightly edited benchmark item shares high Jaccard but few long
    verbatim windows).  The third rung of the decontamination ladder:
    :func:`decontaminate` (any shared n-gram), :func:`decontaminate_
    spans`/:func:`decontaminate_scrub` (long verbatim overlap,
    localized), and this (near-duplicate whole documents).

    Returns one row per CONTAMINATED corpus doc:
    ``(id, matched_eval_id)`` — the minimum eval id whose verified
    Jaccard clears the threshold.  Anti-join against the corpus to
    drop them, or feed the pairs to a review queue.

    Plan shape (the :func:`..operators.dedup.incremental_minhash_dedup`
    vs-corpus leg with the eval set as the stored side, batch leg
    deleted — the corpus NEVER self-joins): both sides exact-collapse
    to distinct-text representatives, MinHash/LSH band buckets are
    built per side, candidates come from the band equality join with
    the |eval|-sized side broadcast, and only candidates pay the exact
    hashed-shingle Jaccard verification.  Corpus-side work is linear
    (signatures + buckets); members map back through their rep, so
    duplicated corpus text cannot inflate the pair leg."""
    from pyspark.sql.window import Window as _W

    from .dedup import band_buckets, minhash_signatures, shingles

    portable = hash_family == "md5"
    corpg = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("rep_id", F.min("doc_id").over(_W.partitionBy("text")))
    corp_reps = corpg.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )
    evg = eval_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("rep_id", F.min("doc_id").over(_W.partitionBy("text")))
    ev_reps = evg.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )

    corp_sigs = band_buckets(
        minhash_signatures(corp_reps, n_hashes, shingle_n, hash_family=hash_family),
        n_hashes,
        bands,
        portable=portable,
    )
    ev_sigs = band_buckets(
        minhash_signatures(ev_reps, n_hashes, shingle_n, hash_family=hash_family),
        n_hashes,
        bands,
        portable=portable,
    )
    cands = (
        corp_sigs.alias("x")
        .join(
            F.broadcast(ev_sigs.alias("y")),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("cand"))
        .distinct()
    )
    if portable:
        hashed_sh = shingles(F.col("text"), shingle_n)
    else:
        hashed_sh = F.array_distinct(
            F.transform(shingles(F.col("text"), shingle_n), lambda s: F.xxhash64(s))
        )
    corp_sh = corp_reps.select("doc_id", hashed_sh.alias("sa")).withColumn(
        "sza", F.size("sa")
    )
    ev_sh = (
        ev_reps.select("doc_id", hashed_sh.alias("sb"))
        .withColumn("szb", F.size("sb"))
        .withColumnRenamed("doc_id", "cand")
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jaccard = inter.cast("double") / (
        F.col("sza") + F.col("szb") - inter
    ).cast("double")
    verified = (
        cands.join(corp_sh, "doc_id")
        .join(F.broadcast(ev_sh), "cand")
        .filter(jaccard >= threshold)
        .groupBy("doc_id")
        .agg(F.min("cand").alias("matched_eval_id"))
        .withColumnRenamed("doc_id", "rep_id")
    )
    return (
        corpg.select("doc_id", "rep_id")
        .join(verified, "rep_id")
        .select(F.col("doc_id").alias(id_col), "matched_eval_id")
    )


def decontaminate_containment(
    docs: DataFrame,
    eval_docs: DataFrame,
    threshold_bp: int = 8000,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CONTAINMENT decontamination — the fourth rung of the ladder:
    flag corpus documents that contain ≥ ``threshold_bp``/10000 of an
    eval document's distinct ``shingle_n``-gram set.  This is the leak
    shape the other three rungs miss TOGETHER: a benchmark item pasted
    into a much larger page has low Jaccard (the union is dominated by
    the page, so :func:`decontaminate_fuzzy` scores it under any
    sane threshold) and may be quoted in scattered fragments shorter
    than the span window (so :func:`decontaminate_scrub` removes
    nothing) — but its shingle-set CONTAINMENT in the host is high by
    construction.  The directional-containment insight of
    :func:`..operators.dedup.containment_cover_map`, pointed across
    the corpus/eval boundary.

    Returns one row per flagged ``(corpus doc, eval doc)`` pair:
    ``(id, eval_id, n_shared, n_eval_distinct, containment_bp)`` —
    distinct shared shingles, the eval doc's distinct-shingle count,
    and integer basis points (``n_shared·10000 // n_eval_distinct``),
    so the decision replays exactly in ANSI SQL.  The threshold
    comparison is pure integers: ``n_shared·10000 ≥ threshold_bp ·
    n_eval_distinct``.

    Scale shape: BOTH sides exact-collapse to one representative per
    distinct text before any shingle work (the incremental-dedup rep
    discipline — containment depends only on the texts, so rep-level
    decisions are exact and members map back through their reps at
    the end; without this, d corpus copies × d' eval copies of the
    same text pair inflate the candidate pair count d·d'-fold, the
    O(d²) duplication disease every pair-generating operator here has
    already been cured of).  The eval-rep side reduces to a distinct
    ``(hash, eval_rep)`` map (|eval|-bounded, broadcast); corpus-rep
    DISTINCT shingle hashes flow through that broadcast join map-side
    and partial-aggregate per ``(rep, eval_rep)`` pair — only pairs
    with ≥1 shared shingle ever exist.  Output is member-level (the
    true pair answer), expanded from the (small) flagged rep pairs
    only."""
    from pyspark.sql.window import Window as _W

    h = _shingle_hash(hash_family)
    corpg = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("rep_id", F.min("doc_id").over(_W.partitionBy("text")))
    corp_reps = corpg.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )
    evg = eval_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("rep_id", F.min("doc_id").over(_W.partitionBy("text")))
    ev_reps = evg.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )

    corpus_sh = (
        ngram_shingles(corp_reps, shingle_n, text_col="text", id_col="doc_id")
        .select("doc_id", h(F.col("shingle")).alias("_h"))
        .distinct()
    )
    ev_sh = (
        ngram_shingles(ev_reps, shingle_n, text_col="text", id_col="doc_id")
        .select(F.col("doc_id").alias("eval_rep"), h(F.col("shingle")).alias("_h"))
        .distinct()
    )
    ev_sizes = ev_sh.groupBy("eval_rep").agg(
        F.count("*").cast("long").alias("n_eval_distinct")
    )
    flagged = (
        corpus_sh.join(F.broadcast(ev_sh), "_h")
        .groupBy("doc_id", "eval_rep")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .join(F.broadcast(ev_sizes), "eval_rep")
        .filter(
            F.col("n_shared") * F.lit(10000)
            >= F.lit(int(threshold_bp)) * F.col("n_eval_distinct")
        )
        .withColumnRenamed("doc_id", "corp_rep")
    )
    return (
        corpg.select("doc_id", F.col("rep_id").alias("corp_rep"))
        .join(flagged, "corp_rep")
        .join(
            F.broadcast(
                evg.select(
                    F.col("doc_id").alias("eval_id"),
                    F.col("rep_id").alias("eval_rep"),
                )
            ),
            "eval_rep",
        )
        .select(
            F.col("doc_id").alias(id_col),
            "eval_id",
            "n_shared",
            "n_eval_distinct",
            F.expr("(n_shared * 10000) div n_eval_distinct").alias(
                "containment_bp"
            ),
        )
    )


def decontam_eval_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-integrity report — the REVERSE aggregation of
    :func:`decontaminate_spans`: for each EVAL document, how much of
    it appears verbatim in the training corpus.  Returns one row per
    eval doc: ``(id, n_windows, n_found, coverage_bp)`` — its stride-1
    ``min_len``-token window count, how many of those windows occur
    anywhere in the corpus, and basis-point coverage (integer, so the
    report hash-checks).  Eval docs shorter than ``min_len`` report
    ``n_windows = 0`` (nothing to leak at this granularity).

    This is the eval-team view of the same overlap the scrub removes:
    a benchmark at high coverage is compromised for any model trained
    on this corpus REGARDLESS of later curation, so the report gates
    benchmark selection the way the scrub gates document admission.

    Scale shape: corpus windows reduce to their distinct 8-byte hash
    set ONCE (map-side combined groupBy — the
    :func:`substring_window_counts` artifact without counts, reusable
    from it when materialized); eval windows (tiny) LEFT-join it on
    the equality key and aggregate per eval doc.  The corpus pass is
    the one unavoidable scan; nothing scales with |eval| × |corpus|.
    """
    h = _shingle_hash(hash_family)
    L = min_len
    corpus_hashes = (
        ngram_shingles(
            docs.select(F.col(id_col).alias("doc_id"), text_col).where(
                F.size(F.split(F.col(text_col), " ")) >= L
            ),
            L,
            text_col=text_col,
            id_col="doc_id",
        )
        .select(h(F.col("shingle")).alias("h"))
        .distinct()
        .withColumn("_found", F.lit(1))
    )
    ev = eval_docs.select(F.col(id_col).alias("doc_id"), text_col)
    ev_win = ngram_shingles(
        ev.where(F.size(F.split(F.col(text_col), " ")) >= L),
        L,
        text_col=text_col,
        id_col="doc_id",
    ).select("doc_id", h(F.col("shingle")).alias("h"))
    per = (
        ev_win.join(corpus_hashes, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.coalesce(F.col("_found"), F.lit(0)))
            .cast("long")
            .alias("n_found"),
        )
    )
    base = ev.select("doc_id").distinct()
    return base.join(per, "doc_id", "left").select(
        F.col("doc_id").alias(id_col),
        F.coalesce(F.col("n_windows"), F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce(F.col("n_found"), F.lit(0)).cast("long").alias("n_found"),
        F.when(
            F.coalesce(F.col("n_windows"), F.lit(0)) > 0,
            F.expr("(n_found * 10000) div n_windows"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("coverage_bp"),
    )


def substring_window_index(
    docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The POSITIONAL window artifact ``(h, doc_id, pos)`` — one row
    per stride-1 ``min_len``-token corpus window.  The companion to
    :func:`substring_window_counts` (which keeps counts and forgets
    positions): materialized once (bucketed by ``h``), it answers the
    REVERSE decontamination question — when the eval set GROWS, which
    already-admitted corpus documents (and which exact spans) does the
    new benchmark contaminate (:func:`decontam_eval_delta`)?  Without
    it, every benchmark release forces a full corpus re-shingle; with
    it, the delta is |new_eval|-window probes against an equality key.
    Bigger than the counts artifact (corpus-windows rows, ~16 bytes
    each) but linear, and the same class a real deployment stores as
    the suffix-array-equivalent index."""
    h = _shingle_hash(hash_family)
    L = min_len
    eligible = docs.select(F.col(id_col).alias("doc_id"), text_col).where(
        F.size(F.split(F.col(text_col), " ")) >= L
    )
    return ngram_shingles(eligible, L, text_col=text_col, id_col="doc_id").select(
        h(F.col("shingle")).alias("h"), "doc_id", "pos"
    )


def decontam_eval_delta(
    stored_index: DataFrame,
    new_eval: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-set UPDATE audit: given the corpus's positional window
    artifact (:func:`substring_window_index`) and a batch of NEWLY
    ADDED eval documents, return the maximal corpus spans the new
    benchmarks contaminate — the re-scrub decision list, computed
    WITHOUT rescanning corpus text.  The frozen-corpus discipline in
    the reverse direction: the corpus is represented only by its
    artifact; the new eval windows (tiny, distinct) probe it on the
    8-byte equality key (broadcast under AQE, co-located when the
    artifact is bucketed by ``h``), and only hit positions shuffle for
    the island merge.  Returns the :func:`decontaminate_spans`
    contract ``(id, span_start, span_end, n_tokens)``."""
    ev = eval_window_hashes(new_eval, min_len=min_len, hash_family=hash_family)
    hits = stored_index.join(ev, "h", "left_semi").select("doc_id", "pos")
    return _hit_islands(hits, min_len, id_col)


def decontaminate_scrub(
    docs: DataFrame,
    eval_docs: DataFrame,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply span-level decontamination: drop every token covered by a
    ≥ ``min_len``-token verbatim eval overlap
    (:func:`decontaminate_spans`) and reassemble each document from
    the survivors — remove the contamination, keep the document.

    Returns ``(id, clean_text, n_tokens_kept, n_tokens_dropped)`` with
    ``clean_text = ''`` when the document is entirely eval text (those
    should then exit the pipeline, the :func:`build_corpus`
    ``decontam_scrub_len`` rule).  The rewrite is the shared
    :func:`_remove_spans` tail — identical boundary semantics to
    ExactSubstr removal."""
    spans = decontaminate_spans(
        docs,
        eval_docs,
        min_len=min_len,
        hash_family=hash_family,
        id_col=id_col,
        text_col=text_col,
    )
    return _remove_spans(docs, spans, id_col=id_col, text_col=text_col)


def weighted_mixture_resample(
    df: DataFrame,
    weight_col: str,
    by: str = "source",
    key_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Mixture resample where the balanced unit is a per-row WEIGHT
    (tokens, bytes, chars) instead of the document count: domain *d*
    keeps rows at rate ``min(1, (Σw_total / n_domains) / Σw_d)`` so
    every domain contributes ≈ the same EXPECTED weight after
    sampling.

    Docs-vs-tokens is not a nicety: languages differ 2-5× in tokenizer
    fertility (see ``corpus_tokenizer_fertility``), so a doc-balanced
    mixture silently over-trains low-fertility languages in token
    terms — the unit a training run actually budgets.  Same shapes as
    :func:`mixture_resample`: one integer-sum aggregate (map-side
    combinable), #domains broadcast rows, md5-deterministic Bernoulli
    keep — engine-exact end to end.
    """
    sums = df.groupBy(by).agg(F.sum(weight_col).alias("w_d"))
    tot = sums.agg(F.sum("w_d").alias("w_total"), F.count("*").alias("n_groups"))
    rates = F.broadcast(
        sums.crossJoin(F.broadcast(tot)).select(
            by,
            _budget_rate(
                F.col("w_total"), F.col("n_groups"), F.col("w_d")
            ).alias("sample_rate"),
        )
    )
    return _rate_keep(df, rates, by, key_col, seed)


def weighted_sample_topk(
    docs: DataFrame,
    weight_col: str,
    k: int = 100,
    seed: str = "ws|",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, top-``k`` (Efraimidis &
    Spirakis 2006, A-ES): give every row the key ``-log2(u) / w`` with
    ``u`` a deterministic per-row uniform and keep the ``k`` smallest
    keys — the exponential-clocks construction whose winners are a
    weight-proportional sample without replacement.  The missing third
    member of the sampling family: :func:`mixture_resample` balances
    GROUPS, ``dataset_split`` buckets by hash, this one draws
    individual rows ∝ an arbitrary per-row weight (quality score,
    token count, soft-dedup weight) — "give me 10k docs, proportional
    to quality" in one pass.

    Engine-exact by the DSIR doctrine: ``u = (md5_long(id) mod 2^40 +
    1) / 2^40`` (2^40 resolution, not 2^20: at 2^20 roughly ``n/2^20``
    rows draw ``num = 2^20`` exactly — key 0 regardless of weight — so
    a 10^8-row corpus would fill the whole top-k with weight-blind
    zero keys; at 2^40 the expected zero-key count stays < 1 up to
    10^12 rows) and ``-log2(u) = 40 − plog2(num)`` with
    :func:`mitchell_plog2_sql`'s piecewise-linear log — every step
    exact or correctly-rounded IEEE, so keys (and the top-k) replay
    bit-for-bit in any engine.  Mitchell's log is monotone with ≤0.086
    bits of error, so this is A-ES under a slightly-perturbed-but-
    deterministic clock — the provable-portability trade the DSIR
    scorer already made, documented there.

    Scale shape: keying is map-side codegen; the top-k is Spark's
    distributed TakeOrdered (per-partition heads, no global sort, no
    single-partition exchange); the final rank numbers only the ``k``
    returned rows (a bounded single-partition window, k ≪ corpus).
    Rows with non-positive weight are excluded (a zero-weight row has
    an infinite clock).  Returns ``(id, weight, sample_rank)``.
    """
    from .dedup import md5_long

    num = F.pmod(
        md5_long(F.col(id_col).cast("string"), seed), F.lit(1 << 40)
    ) + F.lit(1)
    keyed = (
        docs.where(F.col(weight_col) > 0)
        .select(
            id_col,
            F.col(weight_col).cast("double").alias("_w"),
            num.alias("_num"),
        )
        .select(
            id_col,
            "_w",
            (
                (
                    F.lit(40.0)
                    - F.expr(
                        mitchell_plog2_sql("_num", "shiftleft({b}, {f})")
                    )
                )
                / F.col("_w")
            ).alias("_key"),
        )
    )
    top = keyed.orderBy(F.asc("_key"), F.asc(id_col)).limit(k)
    w_rank = Window.orderBy(F.asc("_key"), F.asc(id_col))
    return top.select(
        id_col,
        F.col("_w").alias("weight"),
        F.row_number().over(w_rank).cast("int").alias("sample_rank"),
    )


def contamination_profile(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document eval-overlap REPORT — the graded version of the
    binary :func:`decontaminate` gate: for EVERY corpus document, how
    many of its distinct n-grams appear in the eval set and what
    fraction of the document that represents.  The standard
    contamination audit (report overlap percentiles before choosing a
    drop threshold) rather than the drop itself.

    Same plan as :func:`decontaminate` (broadcast eval shingles, one
    corpus explode, per-doc partial-aggregated counts) plus a per-doc
    distinct-shingle total; the fraction is one IEEE division of two
    exact integers, so the whole profile is hash-checkable.
    """
    corpus_sh = ngram_shingles(docs, n, text_col, id_col).select(
        id_col, "shingle"
    ).distinct()
    eval_sh = (
        ngram_shingles(
            eval_docs.select(text_col), n, text_col=text_col, id_col=text_col
        )
        .select("shingle")
        .distinct()
    )
    hit = F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
    return (
        corpus_sh.join(
            F.broadcast(eval_sh.withColumn("_hit", F.lit(1))), "shingle", "left"
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_distinct_ngrams"),
            F.sum(hit).alias("n_hit_distinct"),
            (
                F.sum(hit).cast("double") / F.count("*").cast("double")
            ).alias("contamination"),
        )
    )


def source_novelty(
    docs: DataFrame,
    n: int = 3,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Marginal-diversity curve per source: how many DISTINCT n-gram
    shingles each source contributes that no lexicographically-earlier
    source has — the diminishing-returns signal behind "is crawl N+1
    still adding anything?" (each shingle is credited to its MIN
    source, so summing ``n_novel`` over any lexicographic prefix of
    sources gives that prefix's exact distinct-shingle count).

    Returns one row per source: ``(source, n_distinct, n_novel,
    novelty_bp)`` with ``novelty_bp = n_novel·10000 // n_distinct``
    (integer basis points, engine-exact — the
    :func:`source_quality_gate` discipline).

    Scale shape (100 TB): the shingle explode is codegen'd; both
    aggregates key on the (source, 8-byte hash) pair or the hash alone
    and are map-side combinable, so a boilerplate shingle repeated a
    billion times collapses per map task before either shuffle; output
    is |sources| rows.  The same frame ordered by ``novelty_bp``
    descending IS the greedy source-selection curve.
    """
    toks = F.split(F.col(text_col), " ")
    n_pos = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    dist = (
        docs.select(
            by,
            toks.alias("_t"),
            F.explode(F.sequence(F.lit(1), n_pos)).alias("_p"),
        )
        .select(
            by,
            F.xxhash64(
                F.array_join(F.slice("_t", F.col("_p"), n), " ")
            ).alias("_h"),
        )
        .distinct()
    )
    per = dist.groupBy(by).agg(F.count("*").alias("n_distinct"))
    nov = (
        dist.groupBy("_h")
        .agg(F.min(by).alias(by))
        .groupBy(by)
        .agg(F.count("*").alias("n_novel"))
    )
    nn = F.coalesce(F.col("n_novel"), F.lit(0))
    return (
        per.join(nov, by, "left")
        .select(
            by,
            "n_distinct",
            nn.alias("n_novel"),
            F.expr("(coalesce(n_novel, 0) * 10000) div n_distinct").alias(
                "novelty_bp"
            ),
        )
    )


def source_quality_gate(
    docs: DataFrame,
    max_shared_bp: int = 100,
    min_stop_bp: int = 600,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Domain-level curation DECISION — the source-granularity stage a
    web-scale pipeline runs before any per-document work: block whole
    sources whose content is mostly lifted from elsewhere or reads
    like keyword spam (the RefinedWeb/Dolma "domain blocklist" step,
    derived from the corpus itself instead of a hand list).

    One row per source: ``(source, n_docs, distinct_texts, shared_bp,
    stop_bp, blocked)`` where ``shared_bp`` is the fraction (integer
    basis points) of the source's documents whose exact text also
    appears under ANOTHER source — cross-source duplicate exposure,
    the "scraper site" signal — and ``stop_bp`` is the mean per-doc
    stopword rate in basis points, the cheapest natural-prose proxy.
    ``blocked = shared_bp ≥ max_shared_bp OR stop_bp < min_stop_bp``.

    Every number is pure integer arithmetic (counts, ``·10000`` and
    integral division — truncation equals floor for the non-negative
    operands here), so the gating decision hash-checks against ANSI
    SQL exactly; no float threshold ever decides a block.

    Scale shape: scan → per-doc Column expressions (JVM-side; the
    stopword filter's lambda is interpreted but runs once per doc in
    the scan stage — no Python, no shuffle) → ``groupBy(text-hash,
    source)`` with map-side combine collapses duplication BEFORE the
    only other exchanges — a window over the collapsed (hash, source)
    rows to count distinct sources per text, then the |sources|-row
    final aggregate.  No joins, no pair work; output is |sources| rows
    at any corpus size.

    NULL texts are pinned to ``''`` (one token after split, zero
    stopword hits) so Spark and the ANSI-SQL oracle agree instead of
    inheriting each engine's NULL-propagation quirks; the stopword
    count is widened to long BEFORE the ``·10000``, so a multi-MB
    document cannot overflow the int32 ``size()``.
    """
    from .text_analysis import stopword_filter

    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(text, " ")
    d = docs.select(
        F.col(source_col).alias("source"),
        F.md5(text).alias("_h"),
        (F.size(stopword_filter(toks)).cast("long") * F.lit(10000)).alias(
            "_stop_n"
        ),
        F.size(toks).cast("long").alias("_tok_n"),
    ).withColumn("stop_bp", F.expr("_stop_n div _tok_n"))
    g = d.groupBy("_h", "source").agg(
        F.count("*").alias("_n"), F.sum("stop_bp").alias("_ss")
    )
    g = g.withColumn("_ns", F.count("*").over(Window.partitionBy("_h")))
    agg = g.groupBy("source").agg(
        F.sum("_n").alias("n_docs"),
        F.count("*").alias("distinct_texts"),
        F.sum(F.when(F.col("_ns") > 1, F.col("_n")).otherwise(F.lit(0))).alias(
            "_shared"
        ),
        F.sum("_ss").alias("_stop_sum"),
    )
    shared_bp = F.expr("(_shared * 10000) div n_docs")
    stop_bp = F.expr("_stop_sum div n_docs")
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("distinct_texts").cast("long").alias("distinct_texts"),
        shared_bp.cast("long").alias("shared_bp"),
        stop_bp.cast("long").alias("stop_bp"),
        (
            (shared_bp >= F.lit(int(max_shared_bp)))
            | (stop_bp < F.lit(int(min_stop_bp)))
        ).alias("blocked"),
    )


# =========================================================================
# DSIR — data selection via importance resampling (hashed n-grams)
# =========================================================================


def mitchell_plog2_sql(x: str, shift: str) -> str:
    """SQL fragment: Mitchell piecewise-linear log2 of the positive
    integer expression ``x`` — ``floor(log2 x) + (x / 2^floor(log2 x)
    - 1)`` (Mitchell 1962's logarithm approximation).

    Every step is exact or correctly-rounded basic IEEE arithmetic:
    ``floor(log2 x)`` comes from the binary-string length (``bin``,
    identical in Spark and DuckDB — no libm), ``2^f`` is an integer
    shift, the division by a power of two and the subtraction are
    correctly rounded, so ANY engine produces the bit-identical
    double.  That is what the repo's no-``ln``-in-oracles doctrine
    (see operators/approx.py module docstring) demands of a
    hash-checked log: monotone, log-shaped (max error 0.086 bits),
    and portable with zero last-ulp exposure.

    ``shift`` is the engine's shift spelling: ``"shiftleft({b}, {f})"``
    for Spark SQL, ``"({b} << {f})"`` for DuckDB.
    """
    f = f"(length(bin(CAST({x} AS BIGINT))) - 1)"
    b = "CAST(1 AS BIGINT)"
    p = f"CAST({shift.format(b=b, f=f)} AS DOUBLE)"
    return (
        f"(CAST({f} AS DOUBLE) + "
        f"(CAST({x} AS DOUBLE) / {p} - CAST(1.0 AS DOUBLE)))"
    )


def _dsir_bucket_weights(
    raw_counts: DataFrame,
    target_counts: DataFrame,
    buckets: int,
    weight: str,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-bucket importance weight table from hashed-n-gram counts.

    ``log p_target(b) - log p_raw(b)`` with add-one smoothing over
    ``buckets`` features, one row per RAW bucket (a document can only
    occupy raw buckets, so target-only buckets never score anything).

    ``weight="mitchell"``: the portable family — the log is the exact
    piecewise-linear :func:`mitchell_plog2_sql` and the weight is the BIGINT
    ``floor(2^scale_bits · plog2-ratio)`` (fixed-point "q20" bits), so
    document scores are ORDER-FREE integer sums and the whole chain
    hash-checks against ANSI SQL.  ``weight="ln"``: the production
    default — true natural-log ratio as a double (libm ``ln`` is
    engine-specific in the last ulp, so this family is pytest-pinned
    for rank agreement with the portable one, never hash-checked;
    the same product-vs-oracle split as xxhash64 vs md5 in dedup).

    The table also carries ``w0`` — the smoothed UNSEEN-bucket weight
    (the same expression at ``cr = ct = 0``, constant across rows) —
    so a frozen artifact handed to :func:`dsir_score_against` can
    score batch buckets that never appeared in training instead of
    dropping them (the DSIR paper's estimator defines a weight for
    every feature under add-one smoothing, not just observed ones).
    """
    tr = raw_counts.agg(F.sum("cr").cast("long").alias("tr"))
    tt = target_counts.agg(F.sum("ct").cast("long").alias("tt"))
    base = (
        raw_counts.join(target_counts, "bucket", "left")
        .select(
            "bucket",
            F.col("cr").cast("long").alias("cr"),
            F.coalesce(F.col("ct"), F.lit(0)).cast("long").alias("ct"),
        )
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tt))
    )
    if weight == "mitchell":
        shift = "shiftleft({b}, {f})"
        expr = (
            f"CAST(FLOOR(((({mitchell_plog2_sql('ct + 1', shift)}"
            f" - {mitchell_plog2_sql(f'tt + {buckets}', shift)})"
            f" - {mitchell_plog2_sql('cr + 1', shift)})"
            f" + {mitchell_plog2_sql(f'tr + {buckets}', shift)})"
            f" * CAST({1 << scale_bits} AS DOUBLE)) AS BIGINT)"
        )
        w = F.expr(expr)
        # Unseen-bucket default: the same add-one-smoothed expression
        # at cr = ct = 0.  plog2(1) is EXACTLY 0 in the Mitchell
        # piecewise family, so the ct/cr terms drop and the tree below
        # is bit-identical to `expr` evaluated at those constants —
        # the SQL oracle replays the identical reduced form.
        w0_expr = (
            f"CAST(FLOOR(({mitchell_plog2_sql(f'tr + {buckets}', shift)}"
            f" - {mitchell_plog2_sql(f'tt + {buckets}', shift)})"
            f" * CAST({1 << scale_bits} AS DOUBLE)) AS BIGINT)"
        )
        w0 = F.expr(w0_expr)
    elif weight == "ln":
        w = F.log(
            (F.col("ct") + F.lit(1)).cast("double")
            / (F.col("tt") + F.lit(buckets)).cast("double")
        ) - F.log(
            (F.col("cr") + F.lit(1)).cast("double")
            / (F.col("tr") + F.lit(buckets)).cast("double")
        )
        w0 = F.log(
            F.lit(1.0) / (F.col("tt") + F.lit(buckets)).cast("double")
        ) - F.log(
            F.lit(1.0) / (F.col("tr") + F.lit(buckets)).cast("double")
        )
    else:  # pragma: no cover - caller contract
        raise ValueError(f"unknown weight family: {weight!r}")
    return base.select("bucket", "cr", "ct", w.alias("w"), w0.alias("w0"))


def dsir_scores(
    docs: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 4096,
    weight: str = "mitchell",
    seed: str = "dsir|",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance score per document: how much its hashed
    n-gram profile looks like ``target`` rather than the raw corpus
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — the hashed-n-gram bag-of-features
    estimator, §3).

    Features are word ``n``-grams (with multiplicity,
    :func:`ngram_shingles`) hashed into ``buckets`` ids by the
    engine-portable :func:`md5_bucket`; the score is
    ``Σ_b c_doc(b) · (log p̂_target(b) - log p̂_raw(b))`` with
    add-one smoothing.  Output: ``(doc_id, n_grams, score_q20)``
    (BIGINT fixed-point, ``weight="mitchell"``) or ``(doc_id,
    n_grams, score)`` (double, ``weight="ln"``).

    Scale shape: ONE shingle pipeline (scan → codegen Generate →
    md5 bucket) feeds everything — per-doc counts are the only
    corpus-sized shuffle (``groupBy(doc, bucket)``, map-side
    combine; ≤ min(#grams, buckets) rows per doc), raw bucket
    totals RE-AGGREGATE those counts (bucket key, ≤ ``buckets``
    rows — never a second corpus explode), the weight table is ≤
    ``buckets`` rows and broadcasts, and the final per-doc sum is
    a combiner-friendly integer aggregate.  The target side is a
    separate (usually tiny) scan.  Nothing driver-side, no
    floats in any exchange for the portable family.
    """
    sh = ngram_shingles(docs, n, text_col=text_col, id_col=id_col).select(
        id_col, md5_bucket(F.col("shingle"), buckets, seed=seed).alias("bucket")
    )
    # the explicit non-null filter matches the one the scoring join
    # would otherwise push into ITS branch only — with it in the
    # shared lineage, the per-doc count's shuffle subtree is identical
    # in the scoring branch and the raw-bucket re-aggregation branch,
    # so Spark's exchange reuse materializes the corpus explode ONCE
    # (ReusedExchange, pinned by a pytest plan test) instead of
    # scanning the corpus a second time for the weight table.
    per = (
        sh.where(F.col("bucket").isNotNull())
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("c"))
    )
    raw_c = per.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt_c = (
        ngram_shingles(target, n, text_col=text_col, id_col=id_col)
        .select(md5_bucket(F.col("shingle"), buckets, seed=seed).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    w = _dsir_bucket_weights(raw_c, tgt_c, buckets, weight)
    return _dsir_score_join(per, w, id_col, portable=weight == "mitchell")


def _dsir_score_join(
    per: DataFrame,
    weights: DataFrame,
    id_col: str,
    portable: bool,
    smooth_unseen: bool = False,
) -> DataFrame:
    """The scoring tail shared by the one-shot and frozen-weight DSIR
    forms: broadcast the (≤ buckets)-row weight table onto per-doc
    bucket counts and integer-sum the scores.  With ``smooth_unseen``
    the join is LEFT and unseen buckets coalesce to the table's
    constant ``w0`` (carried to every task as a 1-row broadcast, no
    driver collect) — ONE spelling of the q20/ln score fork and the
    n_grams aggregate, so the legacy and smoothed paths can differ
    only in join type and coalesce."""
    effective_w = (
        F.coalesce(F.col("w"), F.col("w0")) if smooth_unseen else F.col("w")
    )
    score = F.sum(F.col("c") * effective_w)
    score_col = (
        score.cast("long").alias("score_q20")
        if portable
        else score.alias("score")
    )
    joined = per.join(
        F.broadcast(weights.select("bucket", "w")),
        "bucket",
        "left" if smooth_unseen else "inner",
    )
    if smooth_unseen:
        joined = joined.crossJoin(F.broadcast(weights.select("w0").limit(1)))
    return joined.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_grams"), score_col
    )


def dsir_train_weights(
    docs: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 4096,
    weight: str = "mitchell",
    seed: str = "dsir|",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train the DSIR ``(bucket, cr, ct, w)`` table alone — the
    ≤ ``buckets``-row artifact you persist once and hand to
    :func:`dsir_score_against` for every later batch."""
    def _counts(df, alias):
        return (
            ngram_shingles(df, n, text_col=text_col, id_col=id_col)
            .select(md5_bucket(F.col("shingle"), buckets, seed=seed).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias(alias))
        )

    return _dsir_bucket_weights(
        _counts(docs, "cr"), _counts(target, "ct"), buckets, weight
    )


def ensure_dsir_weights_nonempty(weights: DataFrame) -> DataFrame:
    """Raise loudly if a frozen DSIR weight artifact is EMPTY; cache
    the verdict on the DataFrame object so repeated scoring calls
    (one per micro-batch in :func:`..streaming.ingest.dsir_ingest_stream`)
    don't re-run a full Spark action to guard a condition that cannot
    change for a materialized artifact.  Returns ``weights``."""
    if not getattr(weights, "_dsir_nonempty", False):
        if weights.isEmpty():
            raise ValueError(
                "dsir_score_against: the frozen weight table is EMPTY — "
                "the training corpus matched no documents; retrain the "
                "artifact instead of scoring against nothing"
            )
        weights._dsir_nonempty = True
    return weights


def dsir_score_against(
    docs: DataFrame,
    weights: DataFrame,
    n: int = 2,
    buckets: int = 4096,
    seed: str = "dsir|",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a FROZEN DSIR weight table — the
    production cadence: :func:`dsir_scores` (or its oracle) trains the
    ``(bucket, w)`` table ONCE on a reference corpus + target, then
    every later batch is scored with this map-side-only form (one
    shingle explode → bucket count → broadcast join → integer sum; no
    reference-corpus scan, no state mutation).  ``weights.w`` being
    LongType selects the portable q20 output schema, DoubleType the
    ``ln`` one — the same family split as :func:`dsir_scores`.
    The streaming twin :func:`..streaming.ingest.dsir_ingest_stream`
    calls exactly this per micro-batch.

    Unseen buckets: a batch document can hash shingles into buckets
    the frozen table never saw.  When ``weights`` carries the ``w0``
    column (:func:`dsir_train_weights` always emits it), those buckets
    score the smoothed unseen-bucket weight via a LEFT join +
    ``coalesce(w, w0)`` — ``n_grams`` counts every shingle and an
    all-novel document still gets a row, matching the paper's add-one
    estimator.  A legacy ``(bucket, w)`` table without ``w0`` falls
    back to the inner join, which DROPS unseen buckets from both the
    score and ``n_grams`` (and a fully-novel document entirely) —
    retrain or re-derive the artifact to get smoothed semantics."""
    sh = ngram_shingles(docs, n, text_col=text_col, id_col=id_col).select(
        id_col, md5_bucket(F.col("shingle"), buckets, seed=seed).alias("bucket")
    )
    per = (
        sh.where(F.col("bucket").isNotNull())
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql.types import LongType

    portable = isinstance(
        weights.schema["w"].dataType, LongType
    )
    if "w0" not in weights.columns:
        # Legacy artifact: documented drop semantics (see docstring).
        return _dsir_score_join(per, weights, id_col, portable=portable)
    # LOUD empty-artifact guard: the smoothed path carries w0 to every
    # row via a 1-row crossJoin, and an EMPTY weight table would
    # annihilate every scored document — the exact silent-drop failure
    # the w0 path exists to eliminate.  An empty frozen artifact means
    # the training corpus matched nothing; that is a caller bug worth
    # naming, not a zero-row result.  The verdict is cached per weights
    # DataFrame (the artifact is frozen by contract), so a streaming
    # caller pays the isEmpty() action at most once — stream setup can
    # prepay it via :func:`ensure_dsir_weights_nonempty` instead of
    # re-running a Spark job every micro-batch.
    ensure_dsir_weights_nonempty(weights)
    return _dsir_score_join(
        per, weights, id_col, portable=portable, smooth_unseen=True
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int = 64,
    **kwargs,
) -> DataFrame:
    """Deterministic DSIR selection: the ``k`` documents whose hashed
    n-gram profile is most target-like (:func:`dsir_scores` descending,
    ``doc_id`` tie-break — the noise-free twin of the paper's
    Gumbel-top-k; at equal scores the sampled and deterministic
    variants differ only in tie order).  TakeOrdered top-k: the full
    score table is never globally sorted."""
    id_col = kwargs.get("id_col", "doc_id")
    scores = dsir_scores(docs, target, **kwargs)
    score_col = "score_q20" if "score_q20" in scores.columns else "score"
    return scores.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)

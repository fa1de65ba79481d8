"""Similarity search over embedding columns (north-star surface).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the approximate scale path.  All vector math is JVM-side
higher-order functions (``zip_with``/``aggregate``) over ``array<double>``
— no Python in the scoring loop; the query side is broadcast so scoring
is a map-only stage (no shuffle of the corpus).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return guarded_cosine(dot(a, b), norm(a), norm(b))


def guarded_cosine(dot_col: Column, na: Column, nb: Column) -> Column:
    """``dot/(na·nb)`` with a zero-norm guard: NULL when either norm is
    0 instead of an ANSI DIVIDE_BY_ZERO error.  NULL then loses every
    ``>= threshold`` comparison and sorts last under ``desc`` ranking —
    both strictly saner than the pre-ANSI NaN (which sorted FIRST in a
    descending top-k)."""
    denom = na * nb
    return F.when(denom > 0, dot_col / denom)


def _cosine_scored(
    corpus: DataFrame,
    queries: DataFrame,
    round_digits: int | None = 4,
) -> DataFrame:
    """All (query, neighbor, cosine) pairs — the shared scoring core
    of :func:`cosine_topk` and :func:`hard_negatives` (one definition,
    so retrieval and negative mining can never drift on the arithmetic
    the oracles pin).  Queries broadcast; the corpus never shuffles;
    self-matches excluded."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qnorm", norm(F.col("qv")))
    # Norms are per-row, not per-pair: hoist them out of the O(n·q)
    # scoring loop.  The arithmetic shape dot/(qnorm·cnorm) is kept
    # bit-identical to the inline form (same fold, same sqrt).  The
    # repartition spreads a single-file corpus across all cores; at
    # cluster scale the source is already partitioned and this becomes
    # a cheap round-robin of vector rows (never a wide shuffle).
    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
        )
        .withColumn("cnorm", norm(F.col("cv")))
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    score = guarded_cosine(
        dot(F.col("qv"), F.col("cv")), F.col("qnorm"), F.col("cnorm")
    )
    if round_digits is not None:
        score = F.round(score, round_digits)
    return _scan(c, q).select("query_id", "neighbor_id", score.alias("cosine"))


def _scan(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """The scan step of every top-k in this module: each corpus row
    (``neighbor_id``, …) against the BROADCAST query side
    (``query_id``, …), self-matches excluded.  A flat scan is a cross
    join; when the query side carries a probed ``cell`` (the IVF gate)
    it is an EQUALITY join on the cell id instead — Catalyst prunes
    every non-probed cell's rows at the join, so the scan fraction is
    ``Σ probed-cell sizes`` instead of ``|corpus| · |queries|``.  Each
    neighbor lives in exactly one cell, so no dedup is needed."""
    q = F.broadcast(queries)
    pairs = corpus.join(q, "cell") if "cell" in queries.columns else corpus.crossJoin(q)
    return pairs.filter(F.col("neighbor_id") != F.col("query_id"))


def _top_per_query(scored: DataFrame, by: Column, k: int) -> DataFrame:
    """``scored`` plus ``rank``: row number per query ordered by ``by``,
    ties → lower ``neighbor_id`` (the tie-break every oracle pins),
    top ``k`` rows only — the window behind every per-query neighbor
    ranking in this module."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(by, F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _rank_per_query(
    scored: DataFrame,
    k: int,
    extra_cols: Sequence[str] = (),
    rank_type: str | None = None,
) -> DataFrame:
    """The ONE definition of the repo-wide per-query ranking rule
    (cosine desc, neighbor_id asc — the tie-break every oracle pins).
    ``extra_cols`` carries additional score columns through;
    ``rank_type`` optionally casts the rank (oracles emit BIGINT)."""
    rank = F.col("rank").cast(rank_type) if rank_type else F.col("rank")
    return _top_per_query(scored, F.col("cosine").desc(), k).select(
        "query_id", "neighbor_id", rank.alias("rank"), *extra_cols, "cosine"
    )


def _shortlist_rerank(
    scored: DataFrame,
    by: Column,
    carry: Sequence[str],
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 4,
    rank_type: str | None = "long",
) -> DataFrame:
    """Stage 2 of every two-stage ANN here (SQ8, BQ, asymmetric BQ, PQ,
    matryoshka): each query's top ``shortlist`` stage-1 pairs by ``by``
    (ties → lower neighbor id), float vectors joined back for those
    ``|queries| · shortlist`` rows only, then exact cosine under the
    repo-wide 4-dp + neighbor-id rule (:func:`_rank_per_query`).
    ``carry`` names the stage-1 score columns kept in the output.  One
    definition, so neither a gated scan and its flat twin nor two
    quantizers can drift on ranking rules."""
    short = _top_per_query(scored, by, shortlist).select(
        "query_id", "neighbor_id", *carry
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    score = cosine(F.col("qv"), F.col("cv"))
    if round_digits is not None:
        score = F.round(score, round_digits)
    rer = (
        short.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cosine", score)
    )
    return _rank_per_query(rer, k, extra_cols=carry, rank_type=rank_type)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (vec_id, embedding) is broadcast; the corpus streams
    through one map stage computing scores, then a per-query top-k via
    window rank.  At 100 TB the corpus never shuffles — only the
    (tiny) scored candidates move.  Self-matches are excluded.
    """
    return _rank_per_query(_cosine_scored(corpus, queries, round_digits), k)


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: Sequence[int] = (32, 16, 8),
    k: int = 5,
    round_digits: int | None = 4,
) -> DataFrame:
    """Matryoshka truncation-recall profile (the Kusupati et al. 2022
    evaluation): for each prefix dimension ``d``, how much of the
    FULL-dimension exact top-k survives when both sides are truncated
    to their first ``d`` components — ``(dim, n_hits, recall)`` with
    ``recall = n_hits / |full-dim reference pairs|`` (the realized
    reference count, ≤ |queries|·k — so a perfect truncation reports
    1.0 even when the corpus has fewer than k+1 vectors).  The report
    that decides how
    far an MRL-style embedding can be truncated for cheap first-stage
    retrieval before the full-dim rerank.

    Every per-dim top-k is :func:`cosine_topk` on prefix-sliced
    vectors — same broadcast-queries/scan-side-scoring plan (the
    corpus is scanned once per dim, never shuffled; a handful of dims
    is a handful of scans), same 4dp rounding and tie rules, so the
    whole profile inherits the ``embedding_cosine_topk`` portability
    argument and hash-checks end to end."""
    from functools import reduce

    def trunc(df: DataFrame, d: int) -> DataFrame:
        return df.select(
            "vec_id",
            F.slice(_as_double(F.col("embedding")), 1, d).alias("embedding"),
        )

    full_lazy = cosine_topk(corpus, queries, k, round_digits).select(
        "query_id", "neighbor_id"
    )
    # materialize the full-dim reference ONCE — it is ≤ |queries|·k
    # rows by construction, and joining the lazy plan into every
    # per-dim branch would re-run the full-dimension corpus scoring
    # len(dims) times (Catalyst does not share subplans across
    # branches); the tiny pair set re-enters as a broadcast literal
    full_rows = full_lazy.collect()
    full = F.broadcast(
        corpus.sparkSession.createDataFrame(full_rows, full_lazy.schema)
    )
    # recall denominator = the reference pair count we actually
    # materialized, NOT |queries|·k: with fewer than k+1 corpus
    # vectors (or a query shorter than k neighbors) the reference has
    # fewer rows, and |queries|·k would report recall < 1 even for a
    # perfect truncation
    n_ref = max(len(full_rows), 1)
    per_dim = [
        cosine_topk(trunc(corpus, d), trunc(queries, d), k, round_digits)
        .select("query_id", "neighbor_id")
        .join(full, ["query_id", "neighbor_id"])
        .agg(F.count("*").alias("n_hits"))
        .select(F.lit(int(d)).alias("dim"), "n_hits")
        for d in dims
    ]
    hits = reduce(lambda a, b: a.unionByName(b), per_dim)
    return hits.select(
        "dim",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(float(n_ref))).alias("recall"),
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int = 16,
    k: int = 5,
    shortlist: int = 50,
    round_digits: int | None = 4,
) -> DataFrame:
    """Two-stage matryoshka ANN — the DEPLOYMENT of what
    :func:`matryoshka_recall` profiles (Kusupati et al. 2022): stage 1
    shortlists per query by PREFIX-dimension cosine (first
    ``prefix_dim`` components of both sides — the cheap scan an
    MRL-trained embedding is built to support), stage 2 exact
    FULL-dimension rerank of the ``|queries| · shortlist`` survivors
    only, under the repo-wide 4-dp + neighbor-id ranking rule
    (:func:`_rank_per_query`, one definition).

    The BQ/SQ/PQ families compress per-coordinate precision; this one
    compresses the COORDINATE COUNT — at ``prefix_dim=16`` over
    64-dim vectors the whole-collection scan touches 25% of the
    floats with zero quantization machinery, and the recall profile
    says exactly what that costs before you commit.

    Scale shape: stage 1 is the :func:`cosine_topk` plan on sliced
    vectors (queries broadcast, corpus never shuffles, per-query
    window over scored candidates); stage 2 re-reads full vectors for
    shortlist members only — a |shortlist·queries|-row equality join,
    never a second corpus scan of all pairs.  Both stages replay in
    ANSI SQL (prefix slice = ``e[1:d]``, same left-fold dots), so the
    two-stage product hash-checks end to end like the BQ twin."""
    def sliced(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            F.slice(_as_double(F.col("embedding")), 1, prefix_dim).alias(
                "embedding"
            ),
        )

    return _shortlist_rerank(
        _cosine_scored(sliced(corpus), sliced(queries), round_digits),
        F.col("cosine").desc(), (), corpus, queries, k, shortlist,
        round_digits=round_digits, rank_type=None,
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    lo: float = 0.5,
    hi: float = 0.9,
    k: int = 5,
    round_digits: int | None = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k corpus vectors whose cosine falls in ``[lo, hi)`` — similar
    enough to be informative negatives, below the near-duplicate band
    that would make them false negatives (the standard dense-retrieval
    recipe: mine negatives from the retriever's own confusable
    neighborhood, exclude the near-dup top).

    Same plan as :func:`cosine_topk` (broadcast queries, scan-side
    scoring, window rank over the tiny banded candidate set) with the
    band as a pushed filter; scores round to 4 dp before banding and
    ranking on BOTH sides, so the band edges and order are
    engine-exact.
    """
    banded = _cosine_scored(corpus, queries, round_digits).filter(
        (F.col("cosine") >= F.lit(lo)) & (F.col("cosine") < F.lit(hi))
    )
    return _rank_per_query(banded, k)


def near_dup_pairs(vectors: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs above a cosine threshold (exact, O(n²) — baseline).

    For scale, gate with :func:`lsh_buckets` first so only same-bucket
    pairs are scored.
    """
    a = (
        vectors.select(F.col("vec_id").alias("id_a"), _as_double(F.col("embedding")).alias("va"))
        .withColumn("na", norm(F.col("va")))
        .repartition(vectors.sparkSession.sparkContext.defaultParallelism)
    )
    b = F.broadcast(
        vectors.select(F.col("vec_id").alias("id_b"), _as_double(F.col("embedding")).alias("vb"))
        .withColumn("nb", norm(F.col("vb")))
    )
    score = F.round(guarded_cosine(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def near_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """LSH-gated near-dup pairs — the at-scale product path.

    Same output contract as :func:`near_dup_pairs` (``id_a < id_b``,
    exact rounded cosine, ``>= threshold``) but candidates come from an
    equality-keyed self-join on multi-table hyperplane buckets instead
    of an all-pairs broadcast nested loop: corpus rows shuffle once on
    (table, bucket), so the plan is a SortMergeJoin/ShuffledHashJoin
    that survives a corpus too big to broadcast, and scoring touches
    only same-bucket pairs.

    Recall is governed by (n_planes, n_tables) OR-amplification:
    per-pair capture P = 1 - (1 - (1 - θ/π)^n_planes)^n_tables.  For
    the production near-dup regime (threshold ≥ 0.9, θ ≤ 26°) the
    defaults give >0.999 with strong bucket selectivity; thresholds
    near 0.4 sit at θ≈66° where hyperplane bits barely separate, so
    exact parity there needs few planes + many tables (see the
    registry's fixture-pinned parameters) and the gate's selectivity
    is honest-but-weak — that regime is the brute-force oracle's job.
    The plane family is deterministic (md5-seeded), so recall on a
    given corpus is a fixed, testable property, not a per-run draw.

    Duplication-safety (the minhash-pairs lesson, re-learned here when
    the ×10 probe OOM'd the first version): identical vectors are
    exact-collapsed to one representative BEFORE bucketing, so d copies
    of a vector put ONE row in each bucket, not d — the LSH candidate
    join never sees duplication.  True pairs involving copies are then
    reconstructed by expanding rep-level pairs through group
    membership; the output is still O(d²) (that's the pair contract —
    for linear output use the clustered operators), but every shuffle
    before the final expansion is linear in DISTINCT vectors.
    """
    from pyspark.sql.window import Window

    g = (
        vectors.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("sig", F.md5(F.to_json(F.col("v"))))
        .withColumn("rep_id", F.min("vec_id").over(Window.partitionBy("sig")))
    )
    members = g.select("sig", "rep_id", "vec_id")
    reps = g.filter(F.col("vec_id") == F.col("rep_id")).select(
        "vec_id", F.col("v").alias("embedding")
    )

    b = reps.select(
        "vec_id",
        F.posexplode(
            _multi_buckets(F.col("embedding"), n_planes, n_tables, dim)
        ).alias("tbl", "bucket"),
    )
    bx = b.select(F.col("vec_id").alias("ra"), "tbl", "bucket")
    by = b.select(F.col("vec_id").alias("rb"), "tbl", "bucket")
    rep_cand = (
        bx.join(by, ["tbl", "bucket"])
        .filter(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
        .distinct()
    )
    # score AT THE REP LEVEL, before any expansion: scoring work is then
    # invariant to duplication (the first version expanded first and
    # scored |rep pairs| × d² rows — 186M dot products at the ×10 probe)
    rv = reps.select(
        F.col("vec_id"), F.col("embedding").alias("v")
    ).withColumn("n", norm(F.col("v")))
    score = F.round(guarded_cosine(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 4)
    rep_pairs = (
        rep_cand.join(
            rv.select(
                F.col("vec_id").alias("ra"),
                F.col("v").alias("va"),
                F.col("n").alias("na"),
            ),
            "ra",
        )
        .join(
            rv.select(
                F.col("vec_id").alias("rb"),
                F.col("v").alias("vb"),
                F.col("n").alias("nb"),
            ),
            "rb",
        )
        .select("ra", "rb", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    # cross-group member pairs inherit their rep pair's exact cosine
    # (members are bit-identical vectors); least/greatest restores the
    # id_a < id_b contract after expansion
    cross = (
        rep_pairs.join(members.select(F.col("rep_id").alias("ra"), F.col("vec_id").alias("ma")), "ra")
        .join(members.select(F.col("rep_id").alias("rb"), F.col("vec_id").alias("mb")), "rb")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "cosine",
        )
    )
    # within-group pairs: identical vectors score round(1.0) by the same
    # formula unless zero-norm (cosine NaN, excluded like brute force)
    self_score = F.round(
        guarded_cosine(
            dot(F.col("v"), F.col("v")), norm(F.col("v")), norm(F.col("v"))
        ),
        4,
    )
    within_ok = (
        g.select("sig", "vec_id", self_score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    within = (
        within_ok.select("sig", F.col("vec_id").alias("id_a"), "cosine")
        .join(within_ok.select("sig", F.col("vec_id").alias("id_b")), "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cosine")
    )
    return cross.unionByName(within)


def _plane(table: int, p: int, dim: int) -> F.Column:
    """One deterministic hyperplane as a literal array — md5-derived
    components in [-0.5, 0.5), reproducible with no fitted state."""
    import hashlib

    comps = []
    for d in range(dim):
        h = int(hashlib.md5(f"{table}:{p}:{d}".encode()).hexdigest()[:12], 16)
        comps.append(F.lit(h / float(1 << 48) - 0.5))
    return F.array(*comps)


# Sign decisions for LSH bits use a -1e-9 margin instead of exact 0:
# the projection is a float SUM whose association order differs between
# numpy (pairwise/SIMD) and a SQL engine's sequential fold, so a value
# within summation error (~1e-13 here) of the threshold could flip a
# bucket bit between engines and fail the hash oracle.  Zero is a
# structural attractor (zero vectors, symmetric data); -1e-9 is not —
# it sits ~4 orders above the error bound and ~5 below real projection
# magnitudes, so both engines always agree.  Kept identical in the
# DuckDB oracle (_ANN_LSH_ORACLE).
_SIGN_EPS = -1e-9


def lsh_buckets(
    vectors: DataFrame, n_planes: int = 16, dim: int = 64, table: int = 0
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (one hash table).

    Bucket = sign-bit string of the n_planes projections (with the
    ``_SIGN_EPS`` engine-stability margin); ``table`` seeds an
    independent plane family (for OR-amplification).
    """
    v = _as_double(F.col("embedding"))
    bits = [
        F.when(dot(v, _plane(table, p, dim)) >= _SIGN_EPS, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in range(n_planes)
    ]
    return vectors.select("vec_id", F.concat(*bits).alias("bucket"))


def _plane_matrix(n_planes: int, n_tables: int, dim: int):
    """(n_tables·n_planes, dim) float64 matrix of deterministic
    md5-derived components in [-0.5, 0.5) — same family as
    :func:`_plane`, materialized once per executor for numpy."""
    import hashlib

    import numpy as np

    mat = np.empty((n_tables * n_planes, dim))
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:12], 16)
                mat[t * n_planes + p, d] = h / float(1 << 48) - 0.5
    return mat


def _multi_buckets(v: Column, n_planes: int, n_tables: int, dim: int) -> Column:
    """Array of one bucket string per hash table for vector column ``v``.

    Arrow-vectorized pandas UDF: the whole batch projects onto all
    ``n_tables·n_planes`` hyperplanes in one numpy matmul, then sign
    bits pack into per-table bucket strings.  (The pure-Column form —
    one literal 64-float array per plane — drowned Catalyst in a
    ~50k-node expression tree; one matmul per Arrow batch is the right
    physical shape for codebook-style projections.)
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def buckets(col: pd.Series) -> pd.Series:
        import numpy as np

        planes = _plane_matrix(n_planes, n_tables, dim)
        out = []
        for vec in col:
            arr = np.asarray(vec, dtype=np.float64)
            bits = (planes @ arr) >= _SIGN_EPS
            out.append(
                [
                    "".join("1" if b else "0" for b in bits[t * n_planes : (t + 1) * n_planes])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return buckets(v)


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """Approximate top-k via IVF-flat: coarse quantize the corpus into
    ``n_centroids`` buckets, probe each query's ``n_probe`` nearest.

    By default centroids are a deterministic pseudo-random corpus
    sample (xxhash64-ordered) — the K-means-free variant; pass a
    trained codebook from :func:`kmeans_train` as ``centroids`` for
    better-balanced inverted lists.  Either way they are driver-small
    and travel as a literal, so corpus bucket assignment is a pure map
    stage (no shuffle, no join).  Only same-bucket candidates are
    scored: at scale this is O(n·q·probe/C) instead of O(n·q) scored
    pairs.
    """
    from pyspark.sql.window import Window

    if centroids is not None:
        unit_cents = [[float(x) for x in c] for c in centroids]
    else:
        rows = (
            corpus.select("vec_id", _as_double(F.col("embedding")).alias("v"))
            .orderBy(F.xxhash64(F.col("vec_id")))
            .limit(n_centroids)
            .collect()
        )
        # unit-normalize driver-side: assignment ranking then needs only
        # a dot product per (row, centroid)
        unit_cents = []
        for r in rows:
            vec = r["v"]
            nrm = sum(x * x for x in vec) ** 0.5 or 1.0
            unit_cents.append([x / nrm for x in vec])
    # one parsed expression — see _double_array_literal (this was
    # 16×64 individual lit round-trips)
    cents = _book_literal(unit_cents)

    def scores(vec):
        return F.transform(cents, lambda c: dot(c, vec))

    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
        )
        .withColumn("cnorm", norm(F.col("cv")))
        .withColumn("_s", scores(F.col("cv")))
        .withColumn("bucket", nearest_cell(F.col("_s")))
        .drop("_s")
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
        )
        .withColumn("qnorm", norm(F.col("qv")))
        .select("*", F.posexplode(scores(F.col("qv"))).alias("bucket0", "cscore"))
        .withColumn("bucket", F.col("bucket0") + 1)
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cscore").desc(), F.col("bucket").asc())
    q = F.broadcast(
        q.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qv", "qnorm", "bucket")
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                guarded_cosine(
                    dot(F.col("qv"), F.col("cv")), F.col("qnorm"), F.col("cnorm")
                ),
                4,
            ).alias("cosine"),
        )
    )
    return _rank_per_query(scored, k)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing a bucket in ANY
    of ``n_tables`` independent hyperplane tables (OR-amplification —
    one table's recall decays as (1−θ/π)^planes, L tables recover it).

    Plan shape: the corpus side is map-only (bucket arrays computed and
    exploded in place, broadcast-joined against the query buckets, pair
    scored immediately); only the scored candidate pairs shuffle — for
    the dedup across tables and the final per-query top-k window.
    At scale the scored-pair volume is O(n·q·L/2^planes), the knobs
    trading recall for scan fraction.
    """
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(corpus.sparkSession)
    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
        )
        .withColumn("cnorm", norm(F.col("cv")))
        .withColumn("_b", _multi_buckets(F.col("cv"), n_planes, n_tables, dim))
        .select("*", F.posexplode(F.col("_b")).alias("tbl", "bucket"))
        .drop("_b")
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
        )
        .withColumn("qnorm", norm(F.col("qv")))
        .withColumn("_b", _multi_buckets(F.col("qv"), n_planes, n_tables, dim))
        .select("*", F.posexplode(F.col("_b")).alias("tbl", "bucket"))
        .drop("_b")
    )
    scored = (
        c.join(q, ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                guarded_cosine(
                    dot(F.col("qv"), F.col("cv")), F.col("qnorm"), F.col("cnorm")
                ),
                4,
            ).alias("cosine"),
        )
        .distinct()  # a pair found in several tables scores identically
    )
    return _rank_per_query(scored, k)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    extra_block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs within Levenshtein distance ``k`` — self-join with
    sound length-band blocking.

    ``lev(a, b) <= k`` implies ``|len(a) - len(b)| <= k``, so strings
    are bucketed by ``length // (k+1)`` and any qualifying pair sits in
    the same or adjacent buckets.  The left side keeps its own bucket
    (single key); the right side replicates into {b-1, b, b+1}; each
    ordered pair then matches exactly once, and ``id_a < id_b`` keeps
    one orientation — no post-join distinct.  Replication factor is a
    constant 3, and the equi-join shuffles on the bucket key instead of
    exploding a cross join.

    At corpus scale a single length band can still be hot (most web
    text clusters in a narrow length range) — pass ``extra_block_cols``
    (e.g. a language or first-character column) to refine the band into
    an exact composite key; candidates must then agree on those columns
    too, which is only sound if the caller knows near-duplicates never
    differ there.

    Output: (id_a, id_b, dist) with ``dist = levenshtein(text_a,
    text_b) <= k``.  The distance filter itself is JVM codegen
    (``F.levenshtein``), O(len^2) per candidate — keep ``text_col``
    short (a normalized prefix) for corpus-scale runs.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    width = k + 1
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        *[F.col(c).alias(f"_blk_{c}") for c in extra_block_cols],
    ).withColumn("_bucket", (F.length("_txt") / width).cast("long"))
    left = base.select(
        F.col("_id").alias("id_a"),
        F.col("_txt").alias("_txt_a"),
        F.col("_bucket").alias("_key"),
        *[F.col(f"_blk_{c}").alias(f"_blka_{c}") for c in extra_block_cols],
    )
    right = base.select(
        F.col("_id").alias("id_b"),
        F.col("_txt").alias("_txt_b"),
        F.explode(
            F.array(F.col("_bucket") - 1, F.col("_bucket"), F.col("_bucket") + 1)
        ).alias("_key"),
        *[F.col(f"_blk_{c}").alias(f"_blkb_{c}") for c in extra_block_cols],
    )
    cond = [left["_key"] == right["_key"]]
    cond += [
        left[f"_blka_{c}"] == right[f"_blkb_{c}"] for c in extra_block_cols
    ]
    pairs = (
        left.join(right, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("_txt_a") - F.length("_txt_b")) <= k
        )
        .withColumn("dist", F.levenshtein("_txt_a", "_txt_b").cast("long"))
        .filter(F.col("dist") <= k)
    )
    return pairs.select("id_a", "id_b", "dist")


def kmeans_train(
    vectors: DataFrame,
    k: int = 16,
    max_iter: int = 8,
    tol: float = 1e-4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    persist: bool = True,
):
    """Spherical Lloyd k-means over an embedding column — the trained
    codebook for :func:`ann_topk_ivf` (IVF with a *fitted* coarse
    quantizer instead of the sampled one).

    Each iteration is one Spark job: centroids ship in the task closure
    (driver-small, ``k x dim`` doubles) and every partition computes its
    cluster partials — counts, best-dot objective, element-wise vector
    sums — in a single Arrow-batched numpy matmul (``mapInPandas``).
    Only ``k x (dim + 2)`` numbers leave each partition; the driver
    sums the partials, so there is **no shuffle at all** in the loop.
    This is the deliberate vectorized-Python path: scoring every row
    against every centroid is a dense ``V @ C.T`` that numpy does ~20x
    faster than interpreted higher-order-function lambdas.  New means
    are renormalized to the sphere (assignment is by dot product,
    matching cosine retrieval).

    Empty clusters keep their previous centroid (deterministic; no
    RNG reseeding, so retries and speculative tasks agree).

    Returns ``(centroids, objective_history)`` where ``centroids`` is a
    ``k``-list of unit ``dim``-lists and the history is the summed
    best-dot objective per iteration (monotone non-decreasing for
    spherical Lloyd — pinned by tests).

    ``persist`` caches the projected corpus across iterations: unlike
    the single-recompute cases measured at test scale, Lloyd re-reads
    the corpus ``max_iter`` times, so materializing once wins whenever
    the scan is not free; at 100 TB prefer a staging-table write, which
    also survives executor loss.
    """

    def _unit(vec):
        nrm = sum(x * x for x in vec) ** 0.5 or 1.0
        return [x / nrm for x in vec]

    df = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("v")
    )
    if persist:
        df = df.persist()
    try:
        cents = [
            _unit(r["v"])
            for r in df.orderBy(F.xxhash64(F.col("_id"))).limit(k).collect()
        ]
        dim = len(cents[0])
        vec_only = df.select("v")
        history: list[float] = []
        for _ in range(max_iter):
            cent_rows = [list(c) for c in cents]

            def _partials(batches):
                import numpy as np

                C = np.array(cent_rows).T  # dim x k
                kk = C.shape[1]
                sums = np.zeros((kk, C.shape[0]))
                cnt = np.zeros(kk, dtype="int64")
                obj = np.zeros(kk)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    V = np.array(pdf["v"].tolist())  # batch x dim
                    S = V @ C  # batch x k
                    cl = S.argmax(axis=1)
                    best = S[np.arange(len(S)), cl]
                    for j in np.unique(cl):
                        m = cl == j
                        sums[j] += V[m].sum(axis=0)
                        cnt[j] += int(m.sum())
                        obj[j] += float(best[m].sum())
                yield pd.DataFrame(
                    {
                        "cl": np.arange(1, kk + 1),
                        "n": cnt,
                        "obj": obj,
                        "s": list(sums),
                    }
                )

            stats = vec_only.mapInPandas(
                _partials, "cl int, n long, obj double, s array<double>"
            ).collect()
            counts = [0] * len(cents)
            objs = 0.0
            vec_sums = [[0.0] * dim for _ in cents]
            for r in stats:
                j = r["cl"] - 1
                counts[j] += r["n"]
                objs += r["obj"]
                vec_sums[j] = [a + b for a, b in zip(vec_sums[j], r["s"])]
            history.append(objs)
            new_cents = list(cents)
            shift = 0.0
            for j, n_j in enumerate(counts):
                if n_j == 0:
                    continue  # empty cluster keeps its centroid
                cand = _unit([s / n_j for s in vec_sums[j]])
                shift = max(
                    shift, max(abs(a - b) for a, b in zip(cand, cents[j]))
                )
                new_cents[j] = cand
            cents = new_cents
            if shift < tol:
                break
        return cents, history
    finally:
        if persist:
            df.unpersist()


def centroid_scores(v: Column, centroids) -> Column:
    """Dot products of ``v`` against every centroid of a driver-side
    codebook (shipped as a literal array<array<double>>): one
    array<double> of length k per row, all JVM-side."""
    # one parsed expression (single py4j call) — see
    # _double_array_literal for why this beats per-element lit calls
    carr = _book_literal(centroids)
    return F.transform(carr, lambda c: dot(c, v))


def nearest_cell(scores: Column) -> Column:
    """1-based max-dot cell from :func:`centroid_scores` output
    (``array_position`` takes the FIRST max — deterministic ties).
    Shared by every cell-assignment consumer (IVF profile, SemDeDup) so
    assignment semantics cannot silently diverge between them."""
    return F.array_position(scores, F.array_max(scores))


def ivf_cluster_profile(
    vectors: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest (max-dot) trained centroid
    and profile the clusters: size and mean cosine to the centroid.
    A pure map stage + one k-row aggregate — the IVF partition-balance
    report you run before committing to a codebook."""
    assigned = (
        vectors.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("_s", centroid_scores(F.col("v"), centroids))
        .select(
            "vec_id",
            nearest_cell(F.col("_s")).alias("cluster_id"),
            guarded_cosine(
                F.array_max(F.col("_s")), norm(F.col("v")), F.lit(1.0)
            ).alias("cos_to_centroid"),
        )
    )
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("cos_to_centroid"), 4).alias("avg_cos_to_centroid"),
    )


def semantic_decontaminate(
    corpus_vectors: DataFrame,
    eval_vectors: DataFrame,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-level eval-set decontamination — the rung of the
    decontamination ladder ABOVE text overlap: n-gram/span/fuzzy/
    containment catch verbatim and near-verbatim leakage, but a
    PARAPHRASED eval item shares no shingles with its source; its
    embedding still sits next to the eval embedding.  Flag every
    corpus document whose max cosine against ANY eval embedding
    reaches ``threshold`` (frozen-anchor scoring — the eval set is a
    fixed benchmark, there is nothing to train, so the decision is
    hash-checkable under the repo-wide 4-dp cosine + lowest-id
    tie-break rule).

    Scale shape: the eval side is collected and shipped as literal
    vectors (an eval benchmark is thousands of items — the broadcast
    codebook class; at 100 TB the corpus is the big side and it NEVER
    shuffles: one map-only scan computes all |eval| dots per row,
    exactly the SemDeDup assignment stage's cost profile).  Corpus
    vectors unit-normalize in-engine; eval norms are in-engine folds
    over the literals, so every arithmetic step replays in SQL.

    Returns one row per corpus vector: ``(doc_id, max_eval_cosine,
    matched_eval_id, drop_doc)`` — the graded report plus the binary
    gate, mirroring the text ladder's ``contamination_profile`` /
    ``decontaminate`` pair in one pass.
    """
    rows = (
        eval_vectors.select(
            F.col(id_col).alias("eid"), _as_double(F.col(vec_col)).alias("e")
        )
        .orderBy(F.asc("eid"))
        .collect()
    )
    if not rows:
        raise ValueError("semantic_decontaminate: empty eval set")
    eids: list[int] = []
    evecs: list[list[float]] = []
    for r in rows:
        vec = [float(x) for x in r["e"]]
        if not any(x != 0.0 for x in vec):
            raise ValueError(
                f"semantic_decontaminate: eval vector {r['eid']} is all-zero"
            )
        eids.append(int(r["eid"]))
        evecs.append(vec)
    base = corpus_vectors.select(
        F.col(id_col).alias("doc_id"),
        unit_vector(_as_double(F.col(vec_col))).alias("u"),
    )
    # one rounded cosine per eval vector, eval order = eid ASC so the
    # first-max position IS the lowest matching eval id; the eval norm
    # is an in-engine fold over the literal (the SQL twin's tree)
    cos_arr = F.array(
        *[
            F.round(
                dot(F.col("u"), _double_array_literal(e))
                / norm(_double_array_literal(e)),
                4,
            )
            for e in evecs
        ]
    )
    eid_arr = F.array(*[F.lit(int(i)).cast("long") for i in eids])
    # the cosine array lands in ONE named column so codegen's common-
    # subexpression elimination sees a single fold per eval vector
    scored = base.select("doc_id", cos_arr.alias("_c"))
    mx = F.array_max(F.col("_c"))
    return scored.select(
        "doc_id",
        mx.alias("max_eval_cosine"),
        F.element_at(
            eid_arr, F.array_position(F.col("_c"), mx).cast("int")
        ).alias("matched_eval_id"),
        (mx >= F.lit(float(threshold))).alias("drop_doc"),
    )


def mmr_select(
    vectors: DataFrame,
    query_id: int = 0,
    k: int = 8,
    lam: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick ``k`` vectors maximizing ``lam * rel(d) -
    (1-lam) * max_{s in S} sim(d, s)`` — relevance to the query minus
    redundancy against what is already selected.  The
    diversity-aware companion to :func:`cosine_topk`: plain top-k
    returns near-duplicate neighbors; MMR spends each slot on new
    information (retrieval-augmented sampling, eval-set selection,
    context packing).

    The query is a corpus member (``query_id``); relevance and
    redundancy are unit-vector dots, so every score replays exactly in
    SQL (the left-fold IEEE discipline) and the k-step greedy unrolls
    to a hash-checkable CTE chain.  Ties break to the lowest id.

    Scale shape: the unit+relevance pass is staged ONCE
    (tracked_local_checkpoint); each of the ``k`` iterations is one
    map-side rescoring against ≤k broadcast literal vectors plus a
    distributed TakeOrdered(1) — k bounded corpus scans, no shuffle,
    no growing exchange.  The selected set (id, vector) lives on the
    driver — k·dim doubles, the audited codebook class.  Returns
    ``(vec_id, mmr_rank)`` built from that bounded set.
    """
    from .checkpoints import tracked_local_checkpoint

    spark = vectors.sparkSession
    base = vectors.select(
        F.col(id_col).alias("vec_id"),
        unit_vector(_as_double(F.col(vec_col))).alias("u"),
    )
    base, _ = tracked_local_checkpoint(base)
    q_rows = base.filter(F.col("vec_id") == query_id).limit(1).collect()
    if not q_rows:
        raise ValueError(f"query_id {query_id} not in vectors")
    q_u = [float(x) for x in q_rows[0]["u"]]
    # the query is not a candidate (retrieving the query itself is a
    # wasted slot, and with rel == self-sim every later score collapses
    # to a 0 tie — the degenerate trajectory the filter prevents)
    scored = base.filter(F.col("vec_id") != query_id).select(
        "vec_id", "u", dot(F.col("u"), _double_array_literal(q_u)).alias("rel")
    )
    selected: list[tuple[int, list[float]]] = []
    avail = scored
    for _ in range(k):
        if selected:
            pen = F.array_max(
                F.array(
                    *[
                        dot(F.col("u"), _double_array_literal(u))
                        for (_sid, u) in selected
                    ]
                )
            )
            score = F.lit(float(lam)) * F.col("rel") - F.lit(
                1.0 - float(lam)
            ) * pen
        else:
            score = F.col("rel")
        pick = (
            avail.select("vec_id", "u", score.alias("_s"))
            .orderBy(F.desc("_s"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not pick:
            break
        row = pick[0]
        selected.append((row["vec_id"], [float(x) for x in row["u"]]))
        avail = avail.filter(
            ~F.col("vec_id").isin([sid for sid, _u in selected])
        )
    return spark.createDataFrame(
        [(sid, i + 1) for i, (sid, _u) in enumerate(selected)],
        "vec_id long, mmr_rank int",
    )


def prototype_prune(
    vectors: DataFrame,
    centroids,
    prune_frac: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototype-based dataset pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws: beating power law scaling via data pruning",
    NeurIPS 2022): rank every example by how PROTOTYPICAL it is —
    cosine to its nearest codebook centroid — and drop the most
    prototypical ``prune_frac`` of each cluster.  In the paper's
    abundant-data regime, keeping the HARD (boundary) examples and
    discarding easy/redundant ones beats random subsetting; this is
    the embedding-space companion to SemDeDup (which removes
    near-copies, while pruning removes the over-represented core).

    Mechanics: unit-normalize, assign each vector to its max-dot
    centroid (``array_position`` first-max — deterministic ties, the
    :func:`nearest_cell` contract), rank within the cell by that max
    dot DESC (ties → lowest id), and drop ranks ≤
    ``floor(n_cell · prune_frac)``.  Ranking by the raw-centroid dot
    equals ranking by cosine within a fixed cell (the centroid's norm
    is a per-cell constant), so no second normalization pass runs.

    Returns one row per vector:
    ``(id, cell_id, n_cell, proto_rank, keep)`` — integers and a
    boolean only, so the decision replays exactly in ANSI SQL (the
    dots reuse the left-fold IEEE trees every hash-green cosine oracle
    relies on; they are never emitted).

    Scale shape (100 TB): the codebook ships as ONE parsed literal
    (`k × dim` doubles) into a map-only score/assign stage; the only
    exchange is the per-cell rank — one hash partition on ``cell_id``
    (k partitions at n/k expected rows each) carrying ``(id, cell,
    score)`` — 16 bytes + the score per vector, never the embedding
    itself.  A pathological hot cell is a data signal (an
    over-represented core is what the operator removes) and bounds at
    the same Σc² discipline as SemDeDup cells; the rank itself stays a
    sort within one partition.  Per-cell quotas (floor(n·frac)) need
    the full per-cell order, so the window is inherent to the
    semantics — not a removable shuffle.
    """
    scored = vectors.select(
        F.col(id_col).alias("vec_id"),
        centroid_scores(unit_vector(F.col(vec_col)), centroids).alias("_s"),
    ).select(
        "vec_id",
        nearest_cell(F.col("_s")).cast("int").alias("cell_id"),
        F.array_max(F.col("_s")).alias("_proto"),
    )
    return _proto_rank_tail(scored, prune_frac)


def _proto_rank_tail(scored: DataFrame, prune_frac: float) -> DataFrame:
    """Shared prune tail: per-cell rank by prototypicality DESC (ties →
    lowest id), quota ``floor(n_cell · prune_frac)``, keep above it.
    One definition so the frozen-anchor and refined-codebook forms
    cannot diverge on the decision rule."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("cell_id")
    ranked = scored.select(
        "vec_id",
        "cell_id",
        F.row_number()
        .over(w.orderBy(F.desc("_proto"), F.asc("vec_id")))
        .alias("proto_rank"),
        F.count("*").over(w).cast("long").alias("n_cell"),
    )
    return ranked.select(
        "vec_id",
        "cell_id",
        "n_cell",
        "proto_rank",
        (
            F.col("proto_rank")
            > F.floor(F.col("n_cell") * F.lit(float(prune_frac)))
        ).alias("keep"),
    )


def prototype_prune_refined(
    vectors: DataFrame,
    anchors,
    prune_frac: float = 0.5,
    scale_bits: int = 24,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototype pruning over a ONE-STEP QUANTIZED-LLOYD codebook —
    the hash-checkable trained form sitting between the frozen-anchor
    :func:`prototype_prune` (no training) and the float-Lloyd
    ``kmeans_train`` twin (quality path, unhashable).

    Float Lloyd training is rows-only by nature: the per-cell MEAN sums
    doubles in partition order, so no two engines (or two runs) agree
    bit-for-bit.  This form makes one Lloyd update deterministic by
    quantizing each unit-vector coordinate to ``round(x · 2^scale_bits)``
    (spelled ``floor(x·2^b + 0.5)`` — both engines floor identically)
    and INTEGER-summing per (cell, coordinate): integer addition is
    exact and order-independent, so the refined centroid ``s / (n ·
    2^b)`` is ONE IEEE division of exact integers — bit-identical in
    Spark, Python, and DuckDB.  Assignment → quantized mean → reassign
    → rank is a faithful Lloyd step (quantization error 2^-24 per
    coordinate), and the keep/prune decision of the TRAINED codebook
    becomes replayable in ANSI SQL — the promotion pattern established
    by the frozen SemDeDup twin.

    Exactness bound: a cell's integer sum stays a faithful double
    through the division while ``n_cell · 2^scale_bits < 2^53`` —
    ~5·10⁸ members per cell at the default 24 bits (drop ``scale_bits``
    for pathologically hot cells; the BIGINT sum itself holds to 2^63).

    Scale shape (100 TB): two corpus passes, same as any Lloyd step —
    (1) assign + quantize + posexplode to (cell, pos, q) with map-side
    partial integer sums (shuffle carries k·dim groups, bytes
    independent of corpus size), collect the k·dim refined codebook to
    the driver (bounded, the audited codebook pattern); (2) map-only
    rescore against the broadcast refined book + the per-cell rank
    exchange inherited from :func:`prototype_prune`.  Returns the same
    ``(vec_id, cell_id, n_cell, proto_rank, keep)`` contract.
    """
    assigned, cells, book = quantized_lloyd_step(
        vectors, anchors, scale_bits=scale_bits, vec_col=vec_col, id_col=id_col
    )
    cell_ids = F.array(*[F.lit(int(c)).cast("int") for c in cells])
    scored = assigned.select(
        "vec_id", centroid_scores(F.col("u"), book).alias("_s")
    ).select(
        "vec_id",
        F.element_at(cell_ids, nearest_cell(F.col("_s")).cast("int")).alias(
            "cell_id"
        ),
        F.array_max(F.col("_s")).alias("_proto"),
    )
    return _proto_rank_tail(scored, prune_frac)


def quantized_lloyd_step(
    vectors: DataFrame,
    anchors,
    scale_bits: int = 24,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """ONE deterministic Lloyd update — the shared training core of the
    hash-checkable "refined" family (:func:`prototype_prune_refined`,
    :func:`ivf_cluster_profile_quantized` and the topic-cluster twin).

    Assign each unit vector to its nearest anchor (max dot, first-max
    tie), then rebuild every cell's centroid as the INTEGER-quantized
    mean ``s / (n · 2^scale_bits)`` with ``s = Σ floor(u·2^b + 0.5)``
    per coordinate: integer addition is exact and order-independent,
    so the refined codebook — and any decision derived from it — is
    bit-identical in Spark, Python, and DuckDB (float Lloyd's
    partition-order double means are not; see docs/BENCH_NOTES.md).

    Returns ``(assigned, cells, book)``: the STAGED assignment frame
    ``(vec_id, u, cell0)`` (local-checkpointed once — the normalize +
    k-dot chain feeds both the training sum and whatever rescore pass
    the caller runs; measured 58× at the ×100 probe without the
    stage), the sorted original cell ids that survived (empty cells
    vanish), and the refined centroid list in ``cells`` order.

    Scale shape: one corpus pass for the sums — posexplode to (cell,
    pos, q) with map-side partial integer aggregation, shuffle bytes
    k·dim regardless of corpus size — and a k·dim driver collect (the
    audited bounded-codebook pattern).
    """
    from .checkpoints import tracked_local_checkpoint

    scale = 1 << scale_bits
    assigned = vectors.select(
        F.col(id_col).alias("vec_id"),
        unit_vector(_as_double(F.col(vec_col))).alias("u"),
    ).select(
        "vec_id",
        "u",
        nearest_cell(centroid_scores(F.col("u"), anchors))
        .cast("int")
        .alias("cell0"),
    )
    assigned, _ = tracked_local_checkpoint(assigned)
    rows = (
        assigned.select(
            "cell0",
            F.posexplode(
                F.transform(
                    "u",
                    lambda x: F.floor(
                        x * F.lit(float(scale)) + F.lit(0.5)
                    ).cast("long"),
                )
            ).alias("pos", "q"),
        )
        .groupBy("cell0", "pos")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        .collect()  # k·dim rows — the bounded-codebook pattern
    )
    sums: dict[int, dict[int, int]] = {}
    counts: dict[int, int] = {}
    for r in rows:
        sums.setdefault(r["cell0"], {})[r["pos"]] = r["s"]
        counts[r["cell0"]] = r["n"]
    cells = sorted(sums)  # ascending original cell id: first-max tie
    # order in the compacted book == smallest cell id, the SQL j ASC
    book = [
        [sums[c][p] / float(counts[c] * scale) for p in sorted(sums[c])]
        for c in cells
    ]
    return assigned, cells, book


def ivf_cluster_profile_quantized(
    vectors: DataFrame,
    anchors,
    scale_bits: int = 24,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balance profile of a ONE-STEP QUANTIZED-LLOYD codebook —
    the hash-checkable trained twin of :func:`ivf_cluster_profile`
    (whose float ``avg(cos)`` is a partition-order double sum and so
    rows-only by nature).  Two substitutions make the whole report
    replayable: the codebook comes from :func:`quantized_lloyd_step`
    (exact integer means), and per-cluster coherence is reported as
    ``avg_dot_q = Σ floor(dot·2^b + 0.5) / (n · 2^b)`` — the mean dot
    of each member's unit vector against its refined centroid, with
    the SUM carried as exact integers so the mean is ONE IEEE division
    (the same trick that made the codebook hashable, applied to the
    profile statistic; exact while ``n_cell · 2^b < 2^53``).

    The dot is against the raw refined centroid (norm ≤ 1), not a
    re-normalized one — re-normalizing would put a driver-computed
    ``sqrt``-fold inside the hashed value whose summation order the
    SQL twin cannot replicate; the un-normalized dot ranks cluster
    coherence identically per cluster.

    Scale shape: the assign pass is staged by the Lloyd step; the
    profile itself is a map-only rescore + one k-row aggregate.
    Returns ``(cluster_id, n_members, avg_dot_q)`` keyed by ORIGINAL
    anchor index (1-based, matching :func:`ivf_cluster_profile`'s
    nearest_cell convention).
    """
    assigned, cells, book = quantized_lloyd_step(
        vectors, anchors, scale_bits=scale_bits, vec_col=vec_col, id_col=id_col
    )
    scale = 1 << scale_bits
    cell_ids = F.array(*[F.lit(int(c)).cast("int") for c in cells])
    scored = assigned.select(
        "vec_id", centroid_scores(F.col("u"), book).alias("_s")
    ).select(
        F.element_at(cell_ids, nearest_cell(F.col("_s")).cast("int")).alias(
            "cluster_id"
        ),
        F.floor(F.array_max(F.col("_s")) * F.lit(float(scale)) + F.lit(0.5))
        .cast("long")
        .alias("_qdot"),
    )
    return scored.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members"),
        (
            F.sum("_qdot").cast("double")
            / (F.count("*") * F.lit(scale)).cast("double")
        ).alias("avg_dot_q"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the compressed-domain ANN
# path: at 100 TB of float32 embeddings, PQ codes are the difference
# between scanning 25 TB and scanning ~0.8 TB per query batch.
# ---------------------------------------------------------------------------


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    ks: int = 16,
    max_iter: int = 6,
    tol: float = 1e-4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    persist: bool = True,
):
    """Train product-quantization codebooks: the ``dim`` axis splits
    into ``m`` contiguous subspaces and each gets an independent
    ``ks``-centroid L2 Lloyd codebook over the unit-normalized corpus
    (normalized because retrieval is cosine; on the unit sphere the
    ADC dot-product sum approximates cosine directly).

    Same distributed shape as :func:`kmeans_train`, but ALL ``m``
    sub-quantizers advance in each single ``mapInPandas`` pass: every
    partition emits per-(subspace, centroid) partials — count and
    sub-vector sum, ``m·ks·(dim/m + 1)`` numbers total — and the
    driver reduces them; **no shuffle in the loop**.  Seeds are the
    first ``ks`` vectors in ``xxhash64(id)`` order (deterministic
    across retries); empty cells keep their previous centroid.

    Returns ``m × ks × (dim/m)`` nested lists (driver-small: e.g.
    8×16×8 doubles for dim=64).
    """

    df = vectors.select(
        F.col(id_col).alias("_id"), unit_vector(F.col(vec_col)).alias("v")
    )
    if persist:
        df = df.persist()
    try:
        seeds = [
            r["v"] for r in df.orderBy(F.xxhash64(F.col("_id"))).limit(ks).collect()
        ]
        if len(seeds) < ks:
            raise ValueError(
                f"pq_train needs at least ks={ks} vectors to seed the "
                f"codebooks, got {len(seeds)} — lower ks or grow the corpus"
            )
        dim = len(seeds[0])
        if dim % m != 0:
            # ValueError, not assert: under ``python -O`` an assert is
            # stripped and the numpy sub-slices would silently shorten,
            # producing truncated codebooks instead of failing.
            raise ValueError(f"dim {dim} not divisible by m {m}")
        dsub = dim // m
        books = [
            [list(s[j * dsub : (j + 1) * dsub]) for s in seeds] for j in range(m)
        ]
        vec_only = df.select("v")
        for _ in range(max_iter):
            encode = _pq_encoder(books)

            def _partials(batches):
                import numpy as np

                sums = np.zeros((m, ks, dsub))
                cnt = np.zeros((m, ks), dtype="int64")
                for pdf in batches:
                    if not len(pdf):
                        continue
                    V = np.array(pdf["v"].tolist())  # batch x dim
                    codes = encode(V)
                    for s in range(m):
                        Vs = V[:, s * dsub : (s + 1) * dsub]  # batch x dsub
                        cl = codes[:, s]
                        for j in np.unique(cl):
                            mask = cl == j
                            sums[s, j] += Vs[mask].sum(axis=0)
                            cnt[s, j] += int(mask.sum())
                out = {
                    "s": np.repeat(np.arange(m), ks),
                    "j": np.tile(np.arange(ks), m),
                    "n": cnt.reshape(-1),
                    "vsum": list(sums.reshape(m * ks, dsub)),
                }
                yield pd.DataFrame(out)

            stats = vec_only.mapInPandas(
                _partials, "s int, j int, n long, vsum array<double>"
            ).collect()
            counts = [[0] * ks for _ in range(m)]
            vec_sums = [[[0.0] * dsub for _ in range(ks)] for _ in range(m)]
            for r in stats:
                s, j = r["s"], r["j"]
                counts[s][j] += r["n"]
                vec_sums[s][j] = [a + b for a, b in zip(vec_sums[s][j], r["vsum"])]
            shift = 0.0
            for s in range(m):
                for j in range(ks):
                    n_j = counts[s][j]
                    if n_j == 0:
                        continue  # empty cell keeps its centroid
                    cand = [x / n_j for x in vec_sums[s][j]]
                    shift = max(
                        shift,
                        max(abs(a - b) for a, b in zip(cand, books[s][j])),
                    )
                    books[s][j] = cand
            if shift < tol:
                break
        return books
    finally:
        if persist:
            df.unpersist()


def unit_vector(vec: Column) -> Column:
    """Unit-normalize an array column (zero vectors pass through
    unchanged rather than dividing by zero).

    The norm is broadcast into a peer array via ``array_repeat`` and
    divided element-wise with ``zip_with`` instead of captured inside
    a ``transform`` lambda: interpreted higher-order functions
    re-evaluate captured subexpressions PER ELEMENT, so the old
    ``transform(v, x -> x / n)`` form re-ran the 64-element norm fold
    64 times per call — O(dim²) per evaluation, measured as the
    dominant cost of every expression that embeds a unit vector
    (``zip_with`` arguments, by contrast, are evaluated once).  The
    arithmetic — one x/n IEEE division per element on the same n —
    is unchanged, so oracle hashes are unaffected."""
    v = _as_double(vec)
    n = norm(v)
    return F.when(
        n > 0,
        F.zip_with(v, F.array_repeat(n, F.size(v)), lambda x, d: x / d),
    ).otherwise(v)


def _pq_encoder(codebooks):
    """The numpy PQ encode kernel shared by :func:`pq_train`,
    :func:`pq_encode` and :func:`pq_encode_ivf`: ``V`` (batch × dim)
    → 0-based nearest-sub-centroid codes (batch × m, int32).  L2
    argmin via the expanded form; ``||Vs||²`` is constant per row, so
    the argmin needs only ``-2·Vs·C + ||C||²``.  Returned as a closure
    so it pickles by value into the map tasks together with the
    m × ks × dsub codebook array."""
    import numpy as np

    B = np.array([[list(c) for c in b] for b in codebooks])
    mm, _kk, dd = B.shape

    def encode(V):
        codes = np.empty((len(V), mm), dtype="int32")
        for s in range(mm):
            Vs = V[:, s * dd : (s + 1) * dd]
            codes[:, s] = (-2.0 * (Vs @ B[s].T) + (B[s] ** 2).sum(axis=1)).argmin(axis=1)
        return codes

    return encode


def pq_encode(
    vectors: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-sub-centroid codes:
    ``(id, codes array<int>)`` — 100 TB of float32 becomes ~m bytes
    per row.  One vectorized map stage (codebooks ship in the task
    closure), no shuffle."""
    encode = _pq_encoder(codebooks)

    def _enc(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf):
                codes = encode(np.array(pdf["v"].tolist()))
                yield pd.DataFrame({"vec_id": pdf["_id"], "codes": list(codes)})

    return (
        vectors.select(
            F.col(id_col).alias("_id"), unit_vector(F.col(vec_col)).alias("v")
        )
        .mapInPandas(_enc, "vec_id long, codes array<int>")
    )


def _query_luts(
    queries: DataFrame,
    codebooks,
    coarse_centroids=None,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed per-query ADC lookup-table construction: the tiny
    codebooks (m·ks·dsub floats — plus the k_coarse·dim coarse
    centroids when gating) ship in the task closure, and each query
    row builds its own m×ks LUT inside ONE ``mapInPandas`` stage over
    the queries DataFrame — the query axis scales exactly like the
    corpus axis (a 10⁵–10⁶-query production batch is a partitioned map
    job, not a driver ``collect()`` loop serializing through one
    process).

    Float parity with the old driver-side build is exact: each LUT row
    is the same ``B[s] @ q_slice`` gemv on the same Spark-side
    unit-normalized vector (no reassociation — the per-query Python
    loop is kept INSIDE the batch so the matmul shape, and therefore
    the BLAS summation order, is unchanged), and cell probing is the
    same stable argsort — pinned bit-identical by the parity tests.

    Returns ``(query_id, lut)``, or ``(query_id, cell, lut)`` with one
    row per probed cell when ``coarse_centroids``/``n_probe`` are
    given.
    """
    book_rows = [[list(c) for c in b] for b in codebooks]
    cent_rows = (
        [list(c) for c in coarse_centroids]
        if coarse_centroids is not None
        else None
    )
    gated = cent_rows is not None

    def _lut(batches):
        import numpy as np

        B = np.array(book_rows)  # m x ks x dsub
        mm, kk, dd = B.shape
        C = np.array(cent_rows) if gated else None
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"query_id": [], "lut": []}
            if gated:
                out["cell"] = []
            for qid, vec in zip(pdf["_id"], pdf["v"]):
                q = np.asarray(vec, dtype="float64")
                lut = [
                    [float(x) for x in (B[s] @ q[s * dd : (s + 1) * dd])]
                    for s in range(mm)
                ]
                if gated:
                    # 1-based cells, ties → first max (stable argsort)
                    for cell in np.argsort(-(C @ q), kind="stable")[:n_probe] + 1:
                        out["query_id"].append(qid)
                        out["cell"].append(int(cell))
                        out["lut"].append(lut)
                else:
                    out["query_id"].append(qid)
                    out["lut"].append(lut)
            yield pd.DataFrame(out)

    schema = (
        "query_id long, cell int, lut array<array<double>>"
        if gated
        else "query_id long, lut array<array<double>>"
    )
    return queries.select(
        F.col(id_col).alias("_id"), unit_vector(F.col(vec_col)).alias("v")
    ).mapInPandas(_lut, schema)


def pq_topk(
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query's per-
    (subspace, code) dot-product lookup table is built in a
    distributed map stage over the queries DataFrame
    (:func:`_query_luts` — the query axis partitions like the corpus
    axis) and the resulting |queries| × m·ks LUT table is broadcast;
    scoring is then pure JVM column algebra — ``zip_with`` the corpus
    row's code array against the query's LUT rows and sum — so the
    code table never leaves the JVM and never shuffles.  Per-query
    top-k via window rank, ties broken by neighbor id.  ``adc_score``
    ≈ cosine for unit-normalized training/query vectors."""
    luts = _query_luts(queries, codebooks, vec_col=vec_col, id_col=id_col)
    codes = codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
    return _top_per_query(
        _adc_scored(codes, luts, round_digits), F.col("adc_score").desc(), k
    )


def _adc_scored(
    codes: DataFrame, luts: DataFrame, round_digits: int, code_base: int = 0
) -> DataFrame:
    """``(query_id, neighbor_id, adc_score)`` over the :func:`_scan` of
    a PQ code table (``neighbor_id, [cell,] codes``) against per-query
    LUTs (``query_id, [cell,] lut``): ``Σ_s lut[s][code_s]`` as a
    left fold of JVM ``zip_with``/``aggregate``, rounded before any
    ranking.  ``code_base`` is the first code value — 0 for the numpy
    encoders, 1 for the portable JVM encode — so every ADC scan, flat
    or gated, trained or frozen, scores through this one chain."""
    score = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda c, row: F.element_at(row, c + F.lit(1 - code_base)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return _scan(codes, luts).select(
        "query_id", "neighbor_id", F.round(score, round_digits).alias("adc_score")
    )


def pq_topk_rerank(
    codes: DataFrame,
    codebooks,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Two-stage PQ retrieval, the production shape (Jégou et al. §V):
    the compressed ADC scan (:func:`pq_topk`) prunes the corpus to a
    per-query ``shortlist``, then ONLY those candidates' full vectors
    are fetched (equality join on the id — at 100 TB the float corpus
    is touched for |queries|·shortlist rows, not scanned) and exact
    cosine re-ranks the top ``k``.  Recall equals the shortlist's
    capture rate; the compressed scan does the heavy lifting over
    m-byte codes instead of 4·dim-byte floats."""
    luts = _query_luts(queries, codebooks, vec_col=vec_col, id_col=id_col)
    codes = codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
    return _shortlist_rerank(
        _adc_scored(codes, luts, 9), F.col("adc_score").desc(), (),
        vectors, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def pq_encode_ivf(
    vectors: DataFrame,
    codebooks,
    coarse_centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-partitioned PQ encoding: ``(id, cell, codes)`` — every
    vector's coarse cell (max-dot against the :func:`kmeans_train`
    codebook) plus its PQ codes, in ONE vectorized map stage (both the
    coarse centroids and the sub-codebooks ship in the task closure;
    no shuffle).  The cell column is what lets :func:`pq_ivf_topk`
    prune the ADC scan to probed cells instead of touching every code.
    """
    encode = _pq_encoder(codebooks)
    cent_rows = [list(c) for c in coarse_centroids]

    def _enc(batches):
        import numpy as np

        C = np.array(cent_rows)  # k x dim
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].tolist())
            cells = (V @ C.T).argmax(axis=1) + 1  # 1-based, ties → first max
            yield pd.DataFrame(
                {
                    "vec_id": pdf["_id"],
                    "cell": cells.astype("int32"),
                    "codes": list(encode(V)),
                }
            )

    return vectors.select(
        F.col(id_col).alias("_id"), unit_vector(F.col(vec_col)).alias("v")
    ).mapInPandas(_enc, "vec_id long, cell int, codes array<int>")


def pq_ivf_topk(
    codes: DataFrame,
    codebooks,
    coarse_centroids,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """IVFADC-style gated ADC top-k (Jégou et al. 2011, §V.A shape):
    instead of ADC-scanning ALL codes per query batch
    (:func:`pq_topk`), each query probes only its ``n_probe``
    highest-dot coarse cells, and scoring happens through an EQUALITY
    join on the cell id — the scan fraction drops to roughly
    ``n_probe / k_coarse`` of the corpus.

    Plan shape: the per-(query, probed-cell) LUT table is built in a
    distributed map stage over the queries DataFrame
    (:func:`_query_luts` — |queries| · n_probe rows of m·ks doubles,
    partitioned like any other table, so a 10⁶-query batch never
    serializes through the driver) and broadcast; the codes table
    joins it on ``cell``, so Catalyst prunes every non-probed cell's
    rows at the join instead of cross-joining the corpus.  Scoring is
    the same JVM ``zip_with``/``aggregate`` LUT sum as :func:`pq_topk`
    (codes never shuffle; the only exchange is the per-query top-k
    window on the joined — already pruned — candidate set).

    This composition quantizes the ORIGINAL vector (IVF prunes, PQ
    compresses); classic IVFADC encodes the residual v − centroid for
    tighter codes.  Recall at n_probe=4 over 16 cells is pinned ≥ 0.9
    against the full ADC scan by tests.

    ``codes`` must come from :func:`pq_encode_ivf` with the SAME
    ``coarse_centroids``.  Returns ``(query_id, neighbor_id,
    adc_score, rank)``.
    """
    luts = _query_luts(
        queries, codebooks, coarse_centroids, n_probe, vec_col, id_col
    )
    codes = codes.select(F.col("vec_id").alias("neighbor_id"), "cell", "codes")
    return _top_per_query(
        _adc_scored(codes, luts, round_digits), F.col("adc_score").desc(), k
    )


def _cap_cells(
    assigned: DataFrame,
    cap: int,
    split_k: int,
    max_depth: int,
) -> DataFrame:
    """Recursively split oversized SemDeDup cells: any cell whose
    representative count exceeds ``cap`` is re-clustered with a fresh
    ``split_k`` spherical k-means codebook trained on ITS members only,
    and the members move to new sub-cell ids; up to ``max_depth``
    rounds.  Pair work inside :func:`semantic_dedup` is Σ c_i² over
    cell sizes, so capping the max cell bounds the quadratic term.

    The loop state is driver-bounded: one (cell → size) aggregate per
    round (≤ #cells rows, only the > cap slice collected) and one
    k-means fit per hot cell.  A cell of genuinely inseparable
    near-identical vectors cannot be split (k-means re-groups them) —
    ``max_depth`` bounds the retries and the cell is then accepted as
    a data signal, which is the paper's reading of such a cluster.
    """
    from .checkpoints import tracked_local_checkpoint

    for _ in range(max_depth):
        hot = [
            r["cell_id"]
            for r in assigned.groupBy("cell_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > cap)
            .collect()
        ]
        if not hot:
            break
        next_id = assigned.agg(F.max("cell_id")).first()[0] + 1
        cold = assigned.filter(~F.col("cell_id").isin(hot)).withColumn(
            "_src", F.lit(None).cast("int")
        )
        # ALL hot cells' codebooks train together: grouped Lloyd costs
        # O(iterations) driver round trips however many cells went hot
        # (the sequential per-cell form cost O(hot_cells · iterations)
        # — the many-boilerplate-families case this cap exists for is
        # exactly the case that made it slow).
        hot_members = assigned.filter(F.col("cell_id").isin(hot))
        sub_cents = kmeans_train_grouped(
            hot_members, "cell_id", k=split_k, max_iter=4
        )
        rebuilt = [cold]
        for c in hot:
            members = assigned.filter(F.col("cell_id") == c)
            rebuilt.append(
                members.select(
                    "rid",
                    "v",
                    (
                        nearest_cell(
                            centroid_scores(F.col("v"), sub_cents[c])
                        ).cast("int")
                        + F.lit(next_id - 1)
                    ).alias("cell_id"),
                    F.lit(c).alias("_src"),
                )
            )
            next_id += split_k
        out = rebuilt[0]
        for part in rebuilt[1:]:
            out = out.unionByName(part)
        out, _ = tracked_local_checkpoint(out)
        # ONE progressed-aggregate per round (was one distinct-count
        # job per hot cell): a hot cell progressed iff its members now
        # span more than one sub-cell.
        progressed = (
            out.filter(F.col("_src").isNotNull())
            .groupBy("_src")
            .agg(F.count_distinct("cell_id").alias("nd"))
            .filter(F.col("nd") > 1)
            .limit(1)
            .count()
            > 0
        )
        assigned = out.drop("_src")
        if not progressed:
            break  # inseparable cells: retrying cannot improve
    return assigned


def semantic_dedup(
    vectors: DataFrame,
    centroids,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_size: int | None = None,
    split_k: int = 8,
    max_split_depth: int = 2,
    hamming_gate: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop documents
    whose *embeddings* are near-identical — the semantic layer above
    exact/MinHash text dedup, catching paraphrases and re-renders that
    share no shingles.

    The O(n²) cosine comparison is confined to k-means cells: assign
    every vector to its max-dot centroid (one JVM map stage over the
    broadcast ``k × dim`` codebook — train with :func:`kmeans_train`),
    emit within-cell pairs ≥ ``threshold`` via an equality-keyed
    self-join on the cell id, union the pairs into clusters with
    :func:`..operators.dedup.connected_components` (min-label
    propagation), and keep the minimum id per cluster.  Exactly the
    paper's trade: pair work is Σ c_i² over cell sizes, not n² — pick
    ``k`` so cells stay small (they use k≈11k for 100M embeddings),
    and a hot cell is a *data* signal (a boilerplate cluster), the
    thing the operator exists to find.

    Duplication-safety (the ×10 probe caught the first version at
    ratio 16.3 — identical vectors put d copies in a cell and the
    pairwise join grew O(d²) in the duplication factor): byte-identical
    vectors exact-collapse to their min-id representative BEFORE the
    cell assignment, the pairwise pass and connected components run at
    the representative level (duplication-invariant), and group members
    map back through the rep at the end — a copy is definitionally a
    semantic dup (cosine 1.0), so every non-rep copy reports
    ``dup_of`` its component minimum without ever entering a join.

    Hot-cell cap: a cell concentrating many near-but-DISTINCT vectors
    (boilerplate families) still makes Σ c_i² quadratic in that cell —
    at 100 TB an unbounded cell is an OOM, not a signal.
    ``max_cell_size`` bounds it: oversized cells are recursively
    re-clustered with fresh per-cell codebooks (:func:`_cap_cells`,
    ``split_k`` sub-cells, ``max_split_depth`` rounds) before the
    pairwise join.  Splitting can separate vectors that straddle a
    sub-cell boundary (recall trade the paper makes cell-wise anyway);
    inseparable near-identical cells stop early and are accepted.

    ``hamming_gate`` puts the 1-bit binary-quantization signature
    (:func:`bq_signature`) in front of the within-cell scoring as a
    cheap first gate: candidate pairs whose packed sign signatures
    differ in more than ``hamming_gate`` bits are rejected by integer
    XOR + popcount before any float dot product runs — the same
    first-gate role LSH banding plays for the text leg.  A true pair
    with more sign flips than the gate is missed; that recall trade is
    declared and pytest-pinned (gated == ungated on the near-identical
    regime the operator exists for), mirroring the LSH gates'
    contract.

    Returns one row per vector: ``(id, cell_id, keep, dup_of)`` with
    ``dup_of`` = the kept representative's id (NULL when kept).
    """
    from pyspark.sql.window import Window

    from .checkpoints import tracked_local_checkpoint
    from .dedup import connected_components

    # g (full-corpus normalize + md5 signature + a window shuffle) is
    # consumed by the rep filter (→ the a/b self-join AND rep_clusters)
    # and again by the final member join; connected_components inside is
    # eager anyway, so stage it once instead of re-running the corpus
    # subtree per consumer (the build_corpus/bpe_train discipline).
    g, _ = tracked_local_checkpoint(
        vectors.select(
            F.col(id_col).alias("vec_id"), unit_vector(F.col(vec_col)).alias("v")
        )
        .withColumn("_sig", F.md5(F.to_json(F.col("v"))))
        .withColumn("rep_id", F.min("vec_id").over(Window.partitionBy("_sig")))
    )
    assigned = g.filter(F.col("vec_id") == F.col("rep_id")).select(
        F.col("vec_id").alias("rid"), "v"
    ).withColumn(
        "cell_id", nearest_cell(centroid_scores(F.col("v"), centroids)).cast("int")
    )
    if max_cell_size is not None:
        assigned = _cap_cells(assigned, max_cell_size, split_k, max_split_depth)
    if hamming_gate is not None:
        # BQ cheap gate: 1-bit sign signature of the unit vector (signs
        # are scale-invariant, so this IS the raw vector's bq_signature)
        # — two packed BIGINT words per rep.  Within-cell pairs whose
        # sign-Hamming exceeds the gate are rejected by an integer
        # XOR+popcount BEFORE the 64-term float dot runs, so at 100 TB
        # the expensive scoring touches only sign-compatible pairs.
        # Radius intuition: cos θ ≥ 0.95 ⇒ θ ≤ 18.2° ⇒ E[flips] ≈
        # 64·θ/π ≈ 6.5 — a gate of 16 keeps ~3σ of headroom; the gate
        # is a declared recall trade (same contract as the LSH gates),
        # pinned by the parity pytest, not assumed.
        assigned = assigned.withColumn("_bsig", _bq_sig_expr(F.col("v")))
    a, b = assigned.alias("a"), assigned.alias("b")
    joined = a.join(b, (F.col("a.cell_id") == F.col("b.cell_id"))
                    & (F.col("a.rid") < F.col("b.rid")))
    if hamming_gate is not None:
        joined = joined.filter(
            hamming(F.col("a._bsig"), F.col("b._bsig")) <= F.lit(hamming_gate)
        )
    pairs = (
        joined
        .select(
            F.col("a.rid").alias("id_a"),
            F.col("b.rid").alias("id_b"),
            dot(F.col("a.v"), F.col("b.v")).alias("_cos"),  # unit vectors: dot = cosine
        )
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b")
    )
    labels = connected_components(pairs, left="id_a", right="id_b")
    rep_clusters = (
        assigned.join(labels, assigned["rid"] == labels["node"], "left")
        .select(
            "rid",
            "cell_id",
            F.coalesce(F.col("cluster_id"), F.col("rid")).alias("_cluster"),
        )
    )
    return (
        g.join(rep_clusters, g["rep_id"] == rep_clusters["rid"])
        .select(
            "vec_id",
            "cell_id",
            (F.col("_cluster") == F.col("vec_id")).alias("keep"),
            F.when(F.col("_cluster") != F.col("vec_id"), F.col("_cluster")).alias(
                "dup_of"
            ),
        )
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    independently-ranked candidate lists — the standard hybrid-search
    combiner for lexical (BM25) + semantic (embedding ANN) retrieval:

    ``rrf(d) = Σ_lists 1 / (k + rank_list(d))``, absent-from-list = 0.

    Engine-portability: each term is ONE IEEE division of exact
    integers and the terms add in the FIXED order of ``ranked`` as an
    explicit expression chain (the ``bm25_topk`` trick — never a float
    SUM aggregate whose combine order floats), so the fused score is
    bit-identical in any engine and the query is hash-oracle-checkable.

    Scale shape: candidate lists are top-k results — tiny by
    construction — so the N-way full-outer join is a few broadcast
    hash joins over ≤ N·k rows no matter how large the corpus the
    rankers scanned.  All the heavy lifting stays in the upstream
    rankers, which is the point of fusing ranks instead of raw scores
    (no cross-ranker score calibration, no rescanning).

    Duplicate ids within one input list would otherwise fan out
    multiplicatively through the chained full-outer joins (duplicate
    fused rows, skewed top-N), so each list is collapsed to its BEST
    (minimum) rank per id first — the standard RRF reading of a
    repeated candidate, and a no-op shuffle on already-unique top-k
    lists of ≤ k rows.
    """
    from functools import reduce

    renamed = [
        df.groupBy(id_col).agg(F.min(rank_col).alias(f"rank_{i}"))
        for i, df in enumerate(ranked)
    ]
    joined = reduce(lambda a, b: a.join(b, id_col, "full_outer"), renamed)
    terms = [
        F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"rank_{i}")).cast("double"),
            F.lit(0.0),
        )
        for i in range(len(renamed))
    ]
    score = reduce(lambda a, c: a + c, terms)
    return (
        joined.select(
            id_col,
            *[f"rank_{i}" for i in range(len(renamed))],
            score.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(top)
    )


def kmeans_train_grouped(
    vectors: DataFrame,
    group_col: str,
    k: int = 4,
    max_iter: int = 8,
    tol: float = 1e-4,
    vec_col: str = "v",
    id_col: str = "rid",
) -> dict:
    """Spherical Lloyd over MANY disjoint groups at once: one codebook
    per distinct ``group_col`` value, all trained in the SAME jobs.

    This exists for :func:`_cap_cells`: re-clustering each oversized
    SemDeDup cell with its own :func:`kmeans_train` costs
    O(hot_cells · max_iter) sequential driver round trips; grouped
    Lloyd folds every group's partials into ONE ``mapInPandas`` pass
    per iteration (each Arrow batch matmuls per-group slices against
    that group's codebook), so the driver cost is O(max_iter)
    regardless of how many cells went hot.  Per-iteration driver state
    is ``groups · k · (dim + 2)`` numbers — bounded by the hot-cell
    count, not the corpus.

    Same semantics as :func:`kmeans_train` per group: deterministic
    xxhash64 seeding, dot-product assignment, sphere-renormalized
    means, empty clusters keep their centroid; a group whose max
    centroid shift drops under ``tol`` freezes (its rows still flow
    through the pass — cheaper than re-filtering the frame).
    Returns ``{group: centroids}``.
    """
    from pyspark.sql.window import Window

    df = vectors.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    # the partials schema declares the group as LONG; a string group
    # would fail Arrow conversion deep in the pass, and a NULL group
    # would seed a codebook that pandas groupby then silently skips
    # every iteration (never converges) — reject both up front.
    if dict(df.dtypes)["_g"] not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(f"group_col must be integral, got {dict(df.dtypes)['_g']}")
    df = df.filter(F.col("_g").isNotNull())

    def _unit(vec):
        nrm = sum(x * x for x in vec) ** 0.5 or 1.0
        return [x / nrm for x in vec]

    w = Window.partitionBy("_g").orderBy(F.xxhash64(F.col("_id")))
    seed_rows = (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("_g", "v")
        .collect()
    )
    cents: dict = {}
    for r in seed_rows:
        cents.setdefault(r["_g"], []).append(_unit(r["v"]))
    if not cents:
        return {}
    dim = len(next(iter(cents.values()))[0])
    live = set(cents)
    gv = df.select("_g", "v")
    for _ in range(max_iter):
        if not live:
            break
        cent_map = {g: [list(c) for c in cs] for g, cs in cents.items()}

        def _partials(batches):
            import numpy as np

            acc: dict = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                for g, sub in pdf.groupby("_g"):
                    C = np.array(cent_map[g]).T  # dim x k_g
                    V = np.array(sub["v"].tolist())
                    S = V @ C
                    cl = S.argmax(axis=1)
                    a = acc.setdefault(
                        g,
                        [
                            np.zeros((C.shape[1], C.shape[0])),
                            np.zeros(C.shape[1], dtype="int64"),
                        ],
                    )
                    for j in np.unique(cl):
                        m = cl == j
                        a[0][j] += V[m].sum(axis=0)
                        a[1][j] += int(m.sum())
            rows = {"g": [], "cl": [], "n": [], "s": []}
            for g, (sums, cnt) in acc.items():
                for j in range(len(cnt)):
                    rows["g"].append(g)
                    rows["cl"].append(j + 1)
                    rows["n"].append(int(cnt[j]))
                    rows["s"].append(list(sums[j]))
            yield pd.DataFrame(rows)

        stats = gv.mapInPandas(
            _partials, "g long, cl int, n long, s array<double>"
        ).collect()
        agg: dict = {}
        for r in stats:
            key = (r["g"], r["cl"] - 1)
            cur = agg.setdefault(key, [0, [0.0] * dim])
            cur[0] += r["n"]
            cur[1] = [a + b for a, b in zip(cur[1], r["s"])]
        next_live = set()
        for g in live:
            shift = 0.0
            new_cs = list(cents[g])
            for j in range(len(new_cs)):
                n_j, s_j = agg.get((g, j), (0, None))
                if not n_j:
                    continue
                cand = _unit([x / n_j for x in s_j])
                shift = max(
                    shift, max(abs(a - b) for a, b in zip(cand, new_cs[j]))
                )
                new_cs[j] = cand
            cents[g] = new_cs
            if shift >= tol:
                next_live.add(g)
        live = next_live
    return cents


def sq_train(
    vectors: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) bounds for int8 scalar quantization
    (SQ8 — the faiss ``ScalarQuantizer`` recipe): one pass of
    ``posexplode → groupBy(dim) → MIN/MAX``.  The aggregation is
    map-side combinable and reduces to ``dim`` groups, so at 100 TB the
    shuffle moves ~``partitions · dim`` partial rows; the driver holds
    exactly ``2 · dim`` doubles.  MIN/MAX of doubles is order-exact
    (unlike float SUM), so the trained bounds are engine-portable
    bit-for-bit.
    """
    rows = (
        vectors.select(F.posexplode(_as_double(F.col(vec_col))).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    by_d = {r["d"]: (r["mn"], r["mx"]) for r in rows}
    mins = [by_d[i][0] for i in range(len(by_d))]
    maxs = [by_d[i][1] for i in range(len(by_d))]
    return mins, maxs


def sq_encode(
    vectors: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantize each vector to uint8 codes:
    ``code[d] = clamp(floor(((x - mn) * 255.0) / (mx - mn)), 0, 255)``
    (0 for a constant dimension).  Per element that is three IEEE
    double ops and a ``floor`` — no summation anywhere — so identical
    inputs produce identical codes in every engine; the bounds ship as
    column literals and the encode is a map-only JVM stage (float32
    corpus → 4x smaller code table, nothing shuffles).
    """
    code = _sq_code_column(F.col(vec_col), mins, maxs)
    return vectors.select(F.col(id_col).alias("vec_id"), code.alias("codes"))


def _sq_code_column(vec: Column, mins: Sequence[float], maxs: Sequence[float]) -> Column:
    """The SQ8 encode expression of :func:`sq_encode`, exposed so
    cell-tagged variants (:func:`sq_encode_ivf`) can emit codes and
    cell in ONE map stage instead of joining two encodes."""
    if len(mins) != len(maxs):
        raise ValueError(f"mins/maxs length mismatch: {len(mins)} vs {len(maxs)}")
    # single parsed-expression arrays: one py4j call each
    mn_arr = _double_array_literal(mins)
    rng_arr = _double_array_literal(hi - lo for lo, hi in zip(mins, maxs))
    shifted = F.zip_with(_as_double(vec), mn_arr, lambda x, mn: x - mn)
    return F.zip_with(
        shifted,
        rng_arr,
        lambda s, r: F.when(
            r > 0,
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.floor(s * F.lit(255.0) / r).cast("int")),
            ),
        ).otherwise(F.lit(0)),
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int-code arrays (left fold of
    ``long`` products — associative, so bit-identical in any engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    mins: Sequence[float] | None = None,
    maxs: Sequence[float] | None = None,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Two-stage SQ8 ANN: code-space-cosine shortlist over uint8 codes,
    exact cosine rerank of the shortlist only.

    Stage 1 ranks by ``sum(q·c) / (sqrt(sum(c·c)) · sqrt(sum(q·q)))``
    over the INTEGER codes.  Every sum is associative integer math
    (engine-exact); the final sqrt/divide chain consumes those exact
    integers, and a chain of individual IEEE ops on identical inputs
    is bit-identical in every engine — so shortlist membership (the
    part a hash oracle can check) is engine-exact, unlike PQ's float
    ADC.  Normalizing by the CODE norms is what makes integer scores
    track cosine on un-normalized corpora (measured shortlist capture
    on the fixture: 0.97 at depth 20, 1.0 at 50 — vs 0.25 for the raw
    integer dot, which high-norm rows dominate).  The query codes
    broadcast; the corpus code table streams through one map stage and
    never shuffles.  Stage 2 joins float vectors back for only
    ``|queries| · shortlist`` rows and restores exact cosine (4 dp +
    neighbor-id tie-break, the repo-wide ranking rule).

    At 100 TB: the full-precision corpus is touched once to encode
    (map-only) and once more for the tiny shortlist join; every scan
    over the whole collection reads 1 byte/dim.
    """
    if mins is None or maxs is None:
        mins, maxs = sq_train(corpus, vec_col)
    scored = _sq_scored(
        sq_encode(corpus, mins, maxs, vec_col, id_col),
        _sq_query_codes(queries, mins, maxs, vec_col, id_col),
    )
    return _shortlist_rerank(
        scored, F.col("code_cosine").desc(), ("score_sq",),
        corpus, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def _sq_query_codes(
    queries: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """``(query_id, q_codes)`` — the query side of every SQ8 scan."""
    return sq_encode(queries, mins, maxs, vec_col, id_col).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
    )


def _sq_scored(codes: DataFrame, q_codes: DataFrame) -> DataFrame:
    """Stage 1 of every SQ8 scan: the :func:`_scan` of an int8 code
    table (``vec_id, [cell,] codes``) against query codes (``query_id,
    [cell,] q_codes``), scored by the exact integer dot ``score_sq``
    and the code-space cosine ``code_cosine`` (see :func:`sq_topk`).
    Code norms are per row, so both are computed before the join, not
    per scanned pair."""
    c = codes.withColumnRenamed("vec_id", "neighbor_id").withColumn(
        "cn", int_dot(F.col("codes"), F.col("codes"))
    )
    q = q_codes.withColumn("qn", int_dot(F.col("q_codes"), F.col("q_codes")))
    iscore = int_dot(F.col("codes"), F.col("q_codes"))
    return _scan(c, q).select(
        "query_id",
        "neighbor_id",
        iscore.alias("score_sq"),
        F.when(
            (F.col("cn") > 0) & (F.col("qn") > 0),
            iscore / (F.sqrt(F.col("cn")) * F.sqrt(F.col("qn"))),
        ).alias("code_cosine"),
    )


def sq_encode_ivf(
    vectors: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    coarse_centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-partitioned SQ8 encoding: ``(vec_id, cell, codes)`` — every
    vector's coarse cell (the SHARED :func:`nearest_cell` max-dot
    semantics against a :func:`kmeans_train` codebook, same as
    :func:`pq_encode_ivf`) plus its int8 codes, in ONE map-only select
    (centroids and bounds ship as literals; nothing shuffles).  The
    cell column is what lets :func:`sq_ivf_topk` prune the compressed
    scan to probed cells instead of ADC-scanning every code —
    the gap the round-5 verdict flagged in ``sq_topk``.
    """
    # argmax_j dot(v, c_j) == argmax_j dot(unit(v), c_j): the positive
    # 1/||v|| scale can't change which centroid wins, so the per-row
    # normalization is skipped in the assignment hot path (zero
    # vectors score 0 against every centroid either way → cell 1).
    cell = nearest_cell(
        centroid_scores(_as_double(F.col(vec_col)), coarse_centroids)
    ).cast("int")
    encoded = vectors.select(
        F.col(id_col).alias("vec_id"),
        cell.alias("cell"),
        _sq_code_column(F.col(vec_col), mins, maxs).alias("codes"),
    )
    # Repartition on the cell id: (a) it IS the IVF index layout —
    # posting lists co-located by coarse cell, the thing a 100 TB
    # deployment materializes once and scans many times; (b) the
    # exchange is a projection barrier, without which Catalyst's
    # CollapseProject inlines the 64-dim encode chain into EVERY
    # downstream reference (measured: the gated scan re-evaluated the
    # interpreted encode ~5× per candidate row — 18 s instead of
    # 0.8 s at sf0.1).
    return encoded.repartition("cell")


def _probe_cells(
    queries: DataFrame,
    scores: Column,
    n_probe: int,
    id_col: str,
) -> DataFrame:
    """``(query_id, cell)`` — each query's ``n_probe`` best cells by a
    per-cell score array (ties → lower cell id).  The window runs over
    ``|queries| · k_coarse`` rows — top-k requests are inherently tiny,
    so this never touches the corpus."""
    from pyspark.sql.window import Window

    exploded = queries.select(
        F.col(id_col).alias("query_id"), F.posexplode(scores).alias("_j", "_s")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc("_j"))
    return (
        exploded.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_probe)
        .select("query_id", (F.col("_j") + 1).cast("int").alias("cell"))
    )


def _sq_gated_scan(
    codes: DataFrame,
    probe: DataFrame,
    q_codes: DataFrame,
) -> DataFrame:
    """The cell-gated SQ8 stage 1 of both IVF-SQ variants: the
    cell-tagged code table scanned against each query's probed cells
    (:func:`_sq_scored` over the (query, probed cell, query codes)
    table, so the gate is the :func:`_scan` cell join)."""
    return _sq_scored(codes, probe.join(q_codes, "query_id"))


def sq_ivf_topk(
    codes: DataFrame,
    coarse_centroids,
    corpus: DataFrame,
    queries: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """IVF-gated SQ8 ANN — :func:`sq_topk` with the full-corpus
    code scan replaced by an equality join on the coarse cell id
    (the :func:`pq_ivf_topk` composition applied to SQ): each query
    probes its ``n_probe`` highest-dot cells, the int8 code-cosine
    shortlist runs over probed-cell members only (≈ n_probe/k_coarse
    of the corpus), and the exact rerank stage is literally the same
    function the full scan uses.  ``codes`` must come from
    :func:`sq_encode_ivf` with the SAME ``coarse_centroids`` and
    bounds.  Recall ≥ 0.9 vs the full ``sq_topk`` at n_probe=4 and
    the pruned scan fraction are pinned by pytest."""
    probe = _probe_cells(
        queries,
        # raw-vector scores: per-query cell RANKING is also invariant
        # under the positive 1/||q|| scale (same argument as encode)
        centroid_scores(_as_double(F.col(vec_col)), coarse_centroids),
        n_probe,
        id_col,
    )
    q_codes = _sq_query_codes(queries, mins, maxs, vec_col, id_col)
    return _shortlist_rerank(
        _sq_gated_scan(codes, probe, q_codes), F.col("code_cosine").desc(),
        ("score_sq",), corpus, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def pq_anchor_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    seed: str = "pqcb|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Frozen PQ codebooks an oracle can regenerate: sub-codebook ``s``
    is the ``s``-th unit-subvector slice of the ``ks`` corpus vectors
    with the smallest ``md5(seed || s || '|' || id)`` buckets — a
    deterministic per-subspace sample (k-means-free, so no iterative
    float state anywhere).  ``m`` distributed top-``ks`` selections
    (``orderBy().limit()`` — never a full sort), each collecting
    exactly ``ks`` rows; the returned nested list is ``m × ks × dsub``
    doubles ready to ship as literals.  Lloyd-trained codebooks
    (:func:`pq_train`) remain the quality path; this is the
    bit-replayable one."""
    from functools import reduce

    u = corpus.select(
        F.col(id_col).alias("vec_id"), unit_vector(F.col(vec_col)).alias("ue")
    )
    # one ACTION for all m selections: each branch is a distributed
    # partial top-ks (no shuffle of vectors), unioned so the job
    # overhead is paid once; the union loses per-branch order, so the
    # ≤ m·ks collected rows re-sort driver-side on their exact integer
    # buckets.
    branches = [
        _md5_sample(u, f"{seed}{s}|", ks).select(F.lit(s).alias("s"), "_b", "vec_id", "ue")
        for s in range(m)
    ]
    rows = sorted(
        reduce(lambda a, b: a.unionByName(b), branches).collect(),
        key=lambda r: (r["s"], r["_b"], r["vec_id"]),
    )
    books: list[list[list[float]]] = []
    dim = None
    for s in range(m):
        mine = [r for r in rows if r["s"] == s]
        if len(mine) < ks:
            raise ValueError(f"corpus smaller than ks={ks}")
        if dim is None:
            dim = len(mine[0]["ue"])
            if dim % m:
                raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        books.append([list(r["ue"][s * dsub : (s + 1) * dsub]) for r in mine])
    return books


def _md5_sample(df: DataFrame, seed: str, n: int) -> DataFrame:
    """The ``n`` rows of ``df`` with the smallest ``md5_long(seed ||
    vec_id)`` bucket ``_b`` (ties → lower ``vec_id``) — the frozen
    anchor sample every portable quantizer draws and every oracle
    replays.  A distributed top-n (``orderBy().limit()`` — never a full
    sort); callers collect exactly ``n`` rows."""
    from .dedup import md5_long

    return (
        df.withColumn("_b", md5_long(F.col("vec_id").cast("string"), seed))
        .orderBy(F.asc("_b"), F.asc("vec_id"))
        .limit(n)
    )


def _pq_subvectors(
    df: DataFrame, id_alias: str, m: int, dsub: int, vec_col: str, id_col: str
) -> DataFrame:
    """``(id, us0..us{m-1})`` — unit vector materialized ONCE and
    sliced per subspace in a second projection.  Without this staging
    the 128-branch encode expression tree would re-embed the 64-dim
    norm fold in every branch (measured: 38 s → ~2 s at sf0.01 —
    Catalyst does not CSE across lambda-function branches)."""
    return df.select(
        F.col(id_col).alias(id_alias), unit_vector(F.col(vec_col)).alias("_ue")
    ).select(
        id_alias,
        *[
            F.slice(F.col("_ue"), s * dsub + 1, dsub).alias(f"us{s}")
            for s in range(m)
        ],
    )


def _pq_portable_codes(df: DataFrame, books, vec_col: str, id_col: str) -> DataFrame:
    """``(neighbor_id, codes)`` — 1-based PQ codes via JVM-only
    argmin: per subspace, the L2 distance to each frozen codebook
    entry is a LEFT-FOLD chain of IEEE ops (never numpy — pairwise
    summation would break bit parity), and
    ``array_position(d2, array_min(d2))`` takes the first minimum
    (ties → lowest code, the oracle's ROW_NUMBER rule)."""
    m, dsub = len(books), len(books[0][0])
    staged = _pq_subvectors(df, "neighbor_id", m, dsub, vec_col, id_col)
    cols = _pq_code_cols(books, lambda s: F.col(f"us{s}"))
    return staged.select("neighbor_id", F.array(*cols).alias("codes"))


def _pq_code_cols(books, sub) -> list:
    """Per-subspace 1-based argmin code columns — THE single definition
    of the portable PQ encode arithmetic (``sub(s)`` yields the s-th
    unit subvector column; staged ``us{s}`` columns or post-barrier
    slices of a materialized unit vector both route here, so the full
    and the cell-tagged encode paths cannot drift).  ONE transform over
    the literal codebook instead of ks copies of the aggregate body —
    ~10× smaller expression tree, same left-fold arithmetic (transform
    preserves element order)."""
    cols = []
    for s, book in enumerate(books):
        us = sub(s)
        d2s = F.transform(
            _book_literal(book),
            lambda c: F.aggregate(
                F.zip_with(us, c, lambda x, w: (x - w) * (x - w)),
                F.lit(0.0),
                lambda a, t: a + t,
            ),
        )
        cols.append(F.array_position(d2s, F.array_min(d2s)).cast("int"))
    return cols


def _pq_adc_rank(codes: DataFrame, luts: DataFrame, k: int, round_digits: int) -> DataFrame:
    """The portable ADC top-k ``(query_id, neighbor_id, rank BIGINT,
    adc_score)`` of the full and the IVF-gated frozen scans: 1-based
    portable codes through the shared :func:`_adc_scored` chain and
    :func:`_top_per_query` window."""
    ranked = _top_per_query(
        _adc_scored(codes, luts, round_digits, code_base=1), F.col("adc_score").desc(), k
    )
    return ranked.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "adc_score"
    )


def _double_array_sql(values) -> str:
    """A float sequence as the SQL text of a DOUBLE array literal; see
    :func:`_double_array_literal`."""
    vals = [float(v) for v in values]
    bad = [v for v in vals if v != v or v in (float("inf"), float("-inf"))]
    if bad:
        raise ValueError(
            f"non-finite value(s) {bad[:3]} in a literal float array — "
            "NaN/Inf in a codebook/centroid/bound artifact is an "
            "upstream data bug; filter or repair before freezing"
        )
    return "array(" + ",".join(repr(v) + "D" for v in vals) + ")"


def _double_array_literal(values) -> Column:
    """A driver-side float sequence as ONE parsed ``array(…D, …)``
    expression — a single py4j round-trip instead of one per element.

    ``repr(float)`` emits the shortest round-trip decimal, which every
    IEEE-754 parser (Java's ``Double.parseDouble`` included) maps back
    to the identical bits — verified bit-exact for -0.0, denormals,
    and DBL_MAX — and the ``D`` suffix makes the Spark SQL literal a
    DOUBLE (unsuffixed decimals are DECIMAL).  Values, schema, and
    every oracle hash are unchanged vs the old per-element
    ``F.array(*[F.lit(x) …])`` spelling; what changes is query
    CONSTRUCTION cost: the per-element form cost ~3 py4j round-trips
    per float, and that driver-side single-thread burn (24k round
    trips ≈ 7 s of the 9 s construction of the portable IVFADC scan,
    cProfile-measured) is what made ``embedding_pq_ivf_portable``
    uniquely host-load-sensitive in the r7/r8 driver records — socket
    round-trips get no executor-parallel slack under contention.

    Non-finite values raise here, LOUDLY: ``repr(nan)+'D'`` would hit
    the SQL parser as an unresolvable identifier (where the old
    per-element ``F.lit`` built a quiet NaN literal whose downstream
    dots/argmaxes were garbage anyway) — a NaN/Inf in a centroid,
    codebook, or SQ bound is an upstream data bug worth naming at the
    point it enters a frozen artifact."""
    return F.expr(_double_array_sql(values))


def _book_literal(book) -> Column:
    """A sub-codebook as an ``array<array<double>>`` literal column —
    one parsed expression per book (see :func:`_double_array_literal`
    for the construction-cost rationale and the non-finite guard)."""
    return F.expr("array(" + ",".join(_double_array_sql(c) for c in book) + ")")


def _pq_portable_luts(df: DataFrame, books, vec_col: str, id_col: str) -> DataFrame:
    """``(query_id, lut)`` — per-query ADC lookup table as a JVM
    expression over the frozen codebook literals:
    ``lut[s][j] = Σ_d q_s[d] · c_j[d]`` (left-fold order, same chain
    the oracle replays)."""
    m, dsub = len(books), len(books[0][0])
    staged = _pq_subvectors(df, "query_id", m, dsub, vec_col, id_col)
    rows = []
    for s, book in enumerate(books):
        qs = F.col(f"us{s}")
        rows.append(
            F.transform(
                _book_literal(book),
                lambda c: F.aggregate(
                    F.zip_with(qs, c, lambda x, w: x * w),
                    F.lit(0.0),
                    lambda a, t: a + t,
                ),
            )
        )
    return staged.select("query_id", F.array(*rows).alias("lut"))


def pq_adc_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    seed: str = "pqcb|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Hash-checkable PQ asymmetric-distance top-k: frozen
    :func:`pq_anchor_codebooks`, JVM-expression encode
    (:func:`_pq_portable_codes`), JVM-expression LUTs, and the
    ``zip_with``/``aggregate`` ADC sum of :func:`pq_topk` — every
    float op a fixed-order IEEE chain on exact inputs, so a DuckDB
    oracle replays codebooks, code assignment, LUTs, scores, and the
    final ranking bit-for-bit (directive: promote PQ ADC from
    rows-only to a hash oracle).  Same scan shape as :func:`pq_topk`:
    LUTs broadcast, the code table never shuffles, one window for the
    per-query top-k."""
    books = pq_anchor_codebooks(corpus, m, ks, seed, vec_col, id_col)
    codes = _pq_portable_codes(corpus, books, vec_col, id_col)
    luts = _pq_portable_luts(queries, books, vec_col, id_col)
    return _pq_adc_rank(codes, luts, k, round_digits)


def pq_adc_ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    n_probe: int = 4,
    k_coarse: int = 16,
    seed: str = "pqcb|",
    cell_seed: str = "pqivf|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """The fully hash-checkable IVFADC composition (Jégou et al. 2011
    shape, frozen end to end): md5-sampled unit ANCHOR vectors form
    the coarse quantizer — cell = argmax of a left-fold dot chain,
    bit-portable by the same argument as the ADC chain itself — and
    the frozen :func:`pq_anchor_codebooks` ADC scan runs ONLY inside
    each query's ``n_probe`` best cells via a cell-id equality join.
    Every stage (cells, probe lists, codes, LUTs, gated candidates,
    scores, ranks) replays in DuckDB, so the oracle checks what the
    scan was ALLOWED to touch, not just what it returned.  The
    Lloyd-trained composition (:func:`pq_ivf_topk`) stays the quality
    path; recall of this frozen variant is pinned by pytest."""
    # coarse anchors: the k_coarse smallest md5(cell_seed || id) unit
    # vectors.  Cell scores are centroid_scores (the shared left-fold
    # dot chain), portable by the same argument as the ADC chain itself.
    units = corpus.select(
        F.col(id_col).alias("vec_id"), unit_vector(F.col(vec_col)).alias("ue")
    )
    anchors = [list(r["ue"]) for r in _md5_sample(units, cell_seed, k_coarse).collect()]
    if not anchors:
        raise ValueError("empty corpus")

    books = pq_anchor_codebooks(corpus, m, ks, seed, vec_col, id_col)
    dsub = len(books[0][0])
    # Stage order matters for interpreted-HOF cost: compute (id, cell,
    # ue) FIRST (≈17 unit-vector evaluations per row — the 16 anchor
    # lambdas plus the carried column), shuffle on the cell id (the
    # IVF posting-list layout — this is the index-build exchange), and
    # only THEN derive the 128-branch PQ codes from the MATERIALIZED
    # unit vector.  Deriving codes pre-barrier re-inlines the norm
    # fold ~256× per row (the sq_ivf lesson).
    pre = corpus.select(
        F.col(id_col).alias("neighbor_id"), unit_vector(F.col(vec_col)).alias("ue")
    )
    cs = centroid_scores(F.col("ue"), anchors)
    staged = pre.select(
        "neighbor_id",
        nearest_cell(cs).cast("int").alias("cell"),
        "ue",
    ).repartition("cell")
    cols = _pq_code_cols(books, lambda s: F.slice(F.col("ue"), s * dsub + 1, dsub))
    codes = staged.select("neighbor_id", "cell", F.array(*cols).alias("codes"))

    q_pre = queries.select(
        F.col(id_col).alias("vec_id"), unit_vector(F.col(vec_col)).alias("ue")
    )
    probe = _probe_cells(
        q_pre, centroid_scores(F.col("ue"), anchors), n_probe, "vec_id"
    )
    luts = _pq_portable_luts(queries, books, vec_col, id_col)
    return _pq_adc_rank(codes, probe.join(luts, "query_id"), k, round_digits)


def sq_anchor_codes(
    corpus: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    k_coarse: int = 16,
    seed: str = "sqivf|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Engine-portable coarse quantizer for SQ-IVF: the ``k_coarse``
    corpus vectors with the smallest ``md5(seed || id)`` buckets, SQ8-
    encoded — a deterministic sample codebook an oracle can regenerate
    bit-for-bit (no iterative float training anywhere).  Selection is
    a distributed top-k (``orderBy().limit()`` — no full sort) and the
    collect is exactly ``k_coarse`` rows.  Anchor cell SCORES then
    live in the same exact-integer code space as the scan itself:
    ``idot(codes, anchor_codes) / sqrt(idot(anchor, anchor))`` — every
    input an exact integer, so the argmax is bit-stable in any engine
    (the ``embedding_sq_topk`` portability argument, reused for the
    cell gate).
    """
    codes = sq_encode(corpus, mins, maxs, vec_col, id_col)
    rows = _md5_sample(codes, seed, k_coarse).select("codes").collect()
    anchors = [list(r["codes"]) for r in rows]
    for j, a in enumerate(anchors):
        if not any(a):
            raise ValueError(f"anchor {j} has all-zero codes — degenerate corpus")
    return anchors


def _anchor_cell_scores(codes_col: Column, anchors: Sequence[Sequence[int]]) -> Column:
    """Array of per-anchor cell scores ``idot(codes, a_j)/sqrt(an_j)``
    (exact-integer inputs → bit-portable IEEE chain)."""
    import math

    scores = []
    for a in anchors:
        an = sum(x * x for x in a)
        lit_a = F.array(*[F.lit(int(x)) for x in a])
        scores.append(int_dot(codes_col, lit_a) / F.lit(math.sqrt(an)))
    return F.array(*scores)


def sq_ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    mins: Sequence[float] | None = None,
    maxs: Sequence[float] | None = None,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    k_coarse: int = 16,
    seed: str = "sqivf|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """The hash-oracle-checkable IVF-SQ composition: coarse cells come
    from :func:`sq_anchor_codes` (md5-sampled, integer-code-space
    argmax) instead of float k-means, so EVERY stage — bounds, codes,
    cell assignment, probe list, gated integer-dot shortlist, exact
    rerank — is engine-exact and a DuckDB oracle can replay the whole
    gated scan.  Same scan shape as :func:`sq_ivf_topk` (cell equality
    join; ≈ n_probe/k_coarse of the codes scored per query); quality
    is the sample-codebook trade (recall vs the full scan pinned by
    pytest on the fixture corpora)."""
    if mins is None or maxs is None:
        mins, maxs = sq_train(corpus, vec_col)
    anchors = sq_anchor_codes(corpus, mins, maxs, k_coarse, seed, vec_col, id_col)
    enc = sq_encode(corpus, mins, maxs, vec_col, id_col)
    codes = enc.select(
        "vec_id", _cell_from_codes(anchors).alias("cell"), "codes"
    ).repartition("cell")  # IVF index layout + projection barrier (see sq_encode_ivf)
    q_enc = sq_encode(queries, mins, maxs, vec_col, id_col)
    probe = _probe_cells(
        q_enc, _anchor_cell_scores(F.col("codes"), anchors), n_probe, "vec_id"
    )
    q_codes = q_enc.select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
    )
    return _shortlist_rerank(
        _sq_gated_scan(codes, probe, q_codes), F.col("code_cosine").desc(),
        ("score_sq",), corpus, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def ivf_ingest_delta(
    existing: DataFrame,
    batch: DataFrame,
    k_coarse: int = 16,
    seed: str = "sqivf|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF index MAINTENANCE: assign an ingest batch to the cells of an
    index built on the EXISTING corpus (bounds + anchors frozen from
    the existing side only — new data must not silently re-train the
    quantizer) and report per-cell growth: ``(cell, n_before, n_added,
    growth, hot)``.  ``hot`` flags cells absorbing more than 2× their
    fair share of the batch (``n_added · k_coarse > 2 · total_added``,
    pure integer arithmetic) — the signal that a cell needs splitting
    (the SemDeDup hot-cell treatment) before the next rebuild.

    The whole chain is the :func:`sq_ivf_topk_portable` portability
    argument applied to index maintenance: SQ8 bounds/codes and
    anchor-cell argmax are exact-integer chains, so a DuckDB oracle
    replays the split, the assignment, and the growth report.  Scale
    shape: two scans + two k_coarse-row aggregates; the batch never
    joins the corpus row-wise (cell ids only).  ``growth`` is one IEEE
    division of exact integers (n_before floored at 1)."""
    mins, maxs = sq_train(existing, vec_col)
    anchors = sq_anchor_codes(existing, mins, maxs, k_coarse, seed, vec_col, id_col)
    before = (
        sq_assign_cells(existing, mins, maxs, anchors, vec_col, id_col)
        .groupBy("cell")
        .agg(F.count("*").alias("n_before"))
    )
    added = (
        sq_assign_cells(batch, mins, maxs, anchors, vec_col, id_col)
        .groupBy("cell")
        .agg(F.count("*").alias("n_added"))
    )
    return ivf_growth_report(before, added, k_coarse)


def _cell_from_codes(anchors: Sequence[Sequence[int]]) -> Column:
    """The frozen-quantizer cell column over a ``codes`` array —
    first-max integer-dot anchor argmax.  THE single definition of
    assignment shared by :func:`sq_assign_cells` and the hot-cell
    split maintenance, so the paths cannot drift."""
    sc = _anchor_cell_scores(F.col("codes"), anchors)
    return F.array_position(sc, F.array_max(sc)).cast("int")


def sq_assign_cells(
    df: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    anchors: Sequence[Sequence[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(vec_id, cell)`` — frozen-quantizer cell assignment (SQ8
    encode with the given bounds, first-max integer-dot anchor argmax
    via :func:`_cell_from_codes`) for the batch delta and its
    streaming replay twin."""
    enc = sq_encode(df, mins, maxs, vec_col, id_col)
    return enc.select("vec_id", _cell_from_codes(anchors).alias("cell"))


def ivf_growth_report(
    before: DataFrame, added: DataFrame, k_coarse: int
) -> DataFrame:
    """The per-cell growth report over ``(cell, n_before)`` ×
    ``(cell, n_added)`` — shared tail of :func:`ivf_ingest_delta` and
    the streaming replay."""
    from pyspark.sql.window import Window

    cells = before.join(added, "cell", "full_outer").select(
        "cell",
        F.coalesce("n_before", F.lit(0)).alias("n_before"),
        F.coalesce("n_added", F.lit(0)).alias("n_added"),
    )
    # ≤ k_coarse rows from here on: the unpartitioned window is bounded
    total = F.sum("n_added").over(Window.partitionBy())
    return cells.withColumn("_tot", total).select(
        "cell",
        "n_before",
        "n_added",
        (
            F.col("n_added").cast("double")
            / F.greatest(F.col("n_before"), F.lit(1)).cast("double")
        ).alias("growth"),
        (F.col("n_added") * F.lit(k_coarse) > F.lit(2) * F.col("_tot")).alias("hot"),
    )


def ivf_hot_cell_split(
    existing: DataFrame,
    batch: DataFrame,
    k_coarse: int = 16,
    k_split: int = 4,
    seed: str = "sqivf|",
    split_seed: str = "sqsplit|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine: bool = False,
) -> DataFrame:
    """IVF maintenance ACTION (not just the report): ingest a batch
    against the frozen quantizer, detect hot cells with the
    :func:`ivf_growth_report` integer rule (``n_added · k_coarse >
    2 · total_added``), and SPLIT each hot cell — its post-ingest
    members re-assign among ``k_split`` sub-anchors chosen from the
    members themselves (smallest ``md5(split_seed || id)``, the
    :func:`sq_anchor_codes` convention applied per cell) via the same
    exact-integer code-space argmax every gated scan uses.

    Returns the complete post-maintenance index layout, one row per
    posting list: ``(cell, sub_cell, n_members, sum_vec_id)`` —
    ``sub_cell = 0`` for untouched cells, ``1..k_split`` inside split
    cells; ``sum_vec_id`` is an exact integer membership checksum, so
    a hash match pins WHICH vectors landed in each list, not just how
    many.

    The incremental-equals-rebuild invariant is the oracle itself: the
    Spark side maintains state (frozen bounds/anchors, per-cell
    deltas, split only the hot cells' members), while the DuckDB twin
    REBUILDS the post-split index from scratch from the raw vectors —
    a hash match proves the index you maintain online is the index
    you'd rebuild offline.  The md5-anchor scheme is what makes that
    checkable; the Lloyd-trained analogue (split via
    :func:`kmeans_train_grouped`) cannot hash-replay float training —
    the established kmeans↔anchor duality of this module.

    Scale shape: two encode scans (map-only), one cell argmax per row,
    one ≤ k_coarse-row count aggregate, and the split work is confined
    to hot-cell members × k_split (an equality join on the cell id
    with bounded fan-out, then a per-member top-1 window).  Nothing
    quadratic, nothing driver-side beyond the k_coarse anchor rows.
    The assigned code table is STAGED (localCheckpoint) before the
    downstream references — counts, cold lists, sub-anchor ranking,
    and sub-scoring each consume it, and without the boundary Catalyst
    re-expands the encode+argmax subtree per reference (~5 corpus
    re-encodes; the build_corpus staging argument).  A real deployment
    materializes exactly this table as the posting-list layout.

    ``refine=True`` adds ONE quantized Lloyd step to each hot cell's
    sub-codebook — the hash-checkable TRAINED split sitting between
    this frozen form and the float :func:`ivf_hot_cell_split_kmeans`:
    after the frozen sub-assignment, every sub-centroid becomes the
    integer-ROUNDED mean of its members' codes (``(2·s + n) // (2·n)``
    per coordinate — pure integer arithmetic, order-independent, and
    the result lives back on the 0..255 code grid), and members
    re-assign through the IDENTICAL exact-integer ``ad/sqrt(an)``
    scoring.  Cost: one extra bounded integer aggregate (≤ hot_cells ·
    k_split · dim groups) + one more scan of the hot members only.
    """
    from pyspark.sql.window import Window

    from .checkpoints import tracked_local_checkpoint
    from .dedup import md5_long

    mins, maxs = sq_train(existing, vec_col)
    anchors = sq_anchor_codes(existing, mins, maxs, k_coarse, seed, vec_col, id_col)
    enc = (
        sq_encode(existing, mins, maxs, vec_col, id_col)
        .withColumn("is_new", F.lit(False))
        .unionByName(
            sq_encode(batch, mins, maxs, vec_col, id_col).withColumn(
                "is_new", F.lit(True)
            )
        )
    )
    assigned = enc.withColumn("cell", _cell_from_codes(anchors))
    # checkpoint blocks release with the frame (ContextCleaner), the
    # build_corpus convention for staged tables a caller keeps reading
    assigned, _ = tracked_local_checkpoint(assigned)
    # hot detection: the ivf_growth_report integer rule over the same
    # counts (≤ k_coarse rows; the unpartitioned window is bounded)
    counts = assigned.groupBy("cell").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("n_added")
    )
    total = F.sum("n_added").over(Window.partitionBy())
    hot = counts.withColumn("_tot", total).select(
        "cell",
        (F.col("n_added") * F.lit(k_coarse) > F.lit(2) * F.col("_tot")).alias(
            "hot"
        ),
    )
    members = assigned.join(F.broadcast(hot), "cell")

    hot_m = members.filter(F.col("hot")).select("cell", "vec_id", "codes")
    w_cell = Window.partitionBy("cell").orderBy(F.asc("_b"), F.asc("vec_id"))
    subanch = (
        hot_m.withColumn(
            "_b", md5_long(F.col("vec_id").cast("string"), split_seed)
        )
        .withColumn("j", F.row_number().over(w_cell))
        .filter(F.col("j") <= k_split)
        .select("cell", "j", F.col("codes").alias("acodes"))
    )
    ad = int_dot(F.col("codes"), F.col("acodes"))
    an = int_dot(F.col("acodes"), F.col("acodes"))
    scored = hot_m.join(subanch, "cell").select(
        "cell",
        "vec_id",
        "j",
        (ad.cast("double") / F.sqrt(an.cast("double"))).alias("score"),
    )
    w_m = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("j"))
    sub = (
        scored.withColumn("_rk", F.row_number().over(w_m))
        .filter(F.col("_rk") == 1)
        .select("cell", "vec_id", F.col("j").alias("sub_cell"))
    )
    if refine:
        # one quantized Lloyd step in code space: per-(cell, j, coord)
        # exact integer sums over the frozen assignment, rounded back
        # to the code grid, then the same ad/sqrt(an) re-assignment
        sums = (
            sub.join(hot_m.select("vec_id", "codes"), "vec_id")
            .select(
                "cell",
                F.col("sub_cell").alias("j"),
                F.posexplode("codes").alias("i", "c"),
            )
            .groupBy("cell", "j", "i")
            .agg(F.sum("c").alias("s"), F.count("*").alias("n"))
            .collect()  # ≤ hot_cells · k_split · dim — bounded
        )
        books: dict[tuple[int, int], dict[int, int]] = {}
        for r in sums:
            books.setdefault((int(r["cell"]), int(r["j"])), {})[int(r["i"])] = (
                2 * int(r["s"]) + int(r["n"])
            ) // (2 * int(r["n"]))
        ref_rows = [
            (cell, j, [codes[i] for i in sorted(codes)])
            for (cell, j), codes in sorted(books.items())
        ]
        ref = F.broadcast(
            existing.sparkSession.createDataFrame(
                ref_rows, "cell int, j int, acodes array<bigint>"
            )
        )
        rad = int_dot(F.col("codes"), F.col("acodes"))
        ran = int_dot(F.col("acodes"), F.col("acodes"))
        rescored = hot_m.join(ref, "cell").select(
            "cell",
            "vec_id",
            "j",
            (rad.cast("double") / F.sqrt(ran.cast("double"))).alias("score"),
        )
        sub = (
            rescored.withColumn("_rk", F.row_number().over(w_m))
            .filter(F.col("_rk") == 1)
            .select("cell", "vec_id", F.col("j").alias("sub_cell"))
        )
    hot_rows = sub.groupBy("cell", "sub_cell").agg(
        F.count("*").alias("n_members"), F.sum("vec_id").alias("sum_vec_id")
    )
    cold_rows = (
        members.filter(~F.col("hot"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .withColumn("sub_cell", F.lit(0))
    )
    cols = [
        F.col("cell").cast("int").alias("cell"),
        F.col("sub_cell").cast("int").alias("sub_cell"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("sum_vec_id").cast("long").alias("sum_vec_id"),
    ]
    return cold_rows.select(*cols).unionByName(hot_rows.select(*cols))


def ivf_hot_cell_split_kmeans(
    existing: DataFrame,
    batch: DataFrame,
    k_coarse: int = 16,
    k_split: int = 4,
    max_iter: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The Lloyd-trained QUALITY-PATH twin of :func:`ivf_hot_cell_split`
    (kmeans↔anchor duality): frozen :func:`kmeans_train` coarse
    codebook from the existing side, the same integer hot rule, and a
    per-hot-cell :func:`kmeans_train_grouped` sub-codebook — ALL hot
    cells' sub-quantizers train together in one grouped Lloyd pass
    (O(max_iter) driver round trips however many cells went hot) —
    re-assigning only those cells' members via the shared
    :func:`nearest_cell` semantics.

    Same ``(cell, sub_cell, n_members, sum_vec_id)`` posting layout as
    the hash-checked anchor variant.  Rows-only by nature (iterative
    float training cannot hash-replay in SQL); the maintenance
    invariants — membership conservation, untouched cold lists,
    sub-assignment equal to a from-scratch grouped re-clustering of
    the same members at the same k — are pinned by pytest instead.
    The assigned table is STAGED before its many consumers (counts,
    cold lists, grouped Lloyd's per-iteration passes) — the anchor
    twin's staging argument, doubly important here because the
    sub-codebook training rescans its input ``max_iter`` times.
    """
    from pyspark.sql.window import Window

    from .checkpoints import tracked_local_checkpoint

    cents, _ = kmeans_train(
        existing, k=k_coarse, max_iter=max_iter, vec_col=vec_col, id_col=id_col
    )
    assigned = (
        existing.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("is_new", F.lit(False))
        .unionByName(
            batch.select(
                F.col(id_col).alias("vec_id"),
                _as_double(F.col(vec_col)).alias("v"),
            ).withColumn("is_new", F.lit(True))
        )
        .withColumn(
            "cell", nearest_cell(centroid_scores(F.col("v"), cents)).cast("int")
        )
    )
    assigned, _ = tracked_local_checkpoint(assigned)
    counts = assigned.groupBy("cell").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("n_added")
    )
    total = F.sum("n_added").over(Window.partitionBy())
    hot = counts.withColumn("_tot", total).select(
        "cell",
        (F.col("n_added") * F.lit(k_coarse) > F.lit(2) * F.col("_tot")).alias(
            "hot"
        ),
    )
    members = assigned.join(F.broadcast(hot), "cell")
    hot_m = members.filter(F.col("hot")).select("cell", "vec_id", "v")
    sub_books = kmeans_train_grouped(
        hot_m, "cell", k=k_split, max_iter=max_iter, vec_col="v", id_col="vec_id"
    )
    parts = [
        members.filter(~F.col("hot"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .withColumn("sub_cell", F.lit(0))
    ]
    for cell, book in sorted(sub_books.items()):
        parts.append(
            hot_m.filter(F.col("cell") == cell)
            .withColumn(
                "sub_cell",
                nearest_cell(centroid_scores(F.col("v"), book)).cast("int"),
            )
            .groupBy("cell", "sub_cell")
            .agg(
                F.count("*").alias("n_members"),
                F.sum("vec_id").alias("sum_vec_id"),
            )
        )
    cols = [
        F.col("cell").cast("int").alias("cell"),
        F.col("sub_cell").cast("int").alias("sub_cell"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("sum_vec_id").cast("long").alias("sum_vec_id"),
    ]
    from functools import reduce

    return reduce(
        lambda a, b: a.unionByName(b), (p.select(*cols) for p in parts)
    )


# =========================================================================
# Binary quantization (1-bit sign) ANN — Hamming scan + exact rerank
# =========================================================================


def bq_signature(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """1-bit binary quantization: each dimension's SIGN (``x >= 0``)
    packed 32 bits per BIGINT word — ``(vec_id, sig array<bigint>)``,
    so a 64-dim float32 vector compresses 32:1 into two integer words.

    Sign extraction is exact (no arithmetic touches the float beyond a
    comparison against zero, and ``sign(float x) == sign(double x)``),
    and the packing is pure integer addition of distinct powers of two
    — every engine produces bit-identical words, which is what lets
    the Hamming scan be hash-oracle-checked unlike float-score ANN.
    32 bits per word, not 64: bit 63 would flip the BIGINT sign and
    portable engines differ on ``1 << 63`` overflow; two positive
    words sidestep the question entirely.

    One map-only select — the corpus never shuffles to encode, same
    contract as :func:`sq_encode`.  At 100 TB the signature table is
    the thing you materialize: 16 bytes/row instead of 256.
    """
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        _bq_sig_expr(_as_double(F.col(vec_col))).alias("sig"),
    )


def _bq_sig_expr(vec: Column) -> Column:
    """The packed-signature Column for a ``array<double>`` vector —
    shared by :func:`bq_signature` and the asymmetric scan's
    corpus-side projection (which packs and unpacks in ONE select so
    the ±1 array materializes once per corpus row)."""
    weights = F.array(*[F.lit(1 << j).cast("bigint") for j in range(32)])
    n_words = F.ceil(F.size(vec) / F.lit(32)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_words - 1),
        # zip_with pads the short final slice with NULLs; NULL >= 0 is
        # NULL, so tail bits fall through to the 0 branch — ragged
        # dimensions never set phantom bits.
        lambda w: F.aggregate(
            F.zip_with(
                F.slice(vec, w * 32 + 1, F.lit(32)),
                weights,
                lambda x, wt: F.when(x >= 0, wt).otherwise(
                    F.lit(0).cast("bigint")
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc + b,
        ),
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two packed signatures: popcount of the
    per-word XOR, folded left — all JVM integer ops inside codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sig_chunk_bands(
    sig: DataFrame, chunk_bits: int, id_col: str = "vec_id"
) -> DataFrame:
    """Pigeonhole banding over a packed 32-bit-word signature column:
    one ``(id, band, chunk)`` row per ``chunk_bits``-wide slice of the
    ``sig`` array — the shared candidate-key machinery behind
    :func:`bq_banded_pairs` (embedding sign bits) and the perceptual
    dHash near-dup gate (:func:`..operators.multimodal.dhash_pairs`).

    ``chunk_bits`` must divide 32 so a chunk never straddles a packed
    word; the chunk count derives per row from the word count, so
    ragged signature lengths stay correct.  Chunk extraction is
    integer div/mod — exact, replayed verbatim in ANSI SQL by every
    oracle that composes this."""
    if 32 % chunk_bits != 0:
        # caller contract — ValueError (not assert: stripped under -O)
        # because a straddling chunk silently breaks the pigeonhole
        # capture guarantee with no error at all.
        raise ValueError(
            f"chunk_bits={chunk_bits} must divide the 32-bit packed word"
        )
    cpw = 32 // chunk_bits  # chunks per word
    n_chunks = F.size(F.col("sig")) * cpw
    return sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda b: F.struct(
                    b.alias("band"),
                    # integer div/mod — exact, replayed verbatim in SQL
                    (
                        F.floor(
                            F.col("sig")[(b / cpw).cast("int")]
                            / F.pow(
                                F.lit(2.0), (b % cpw) * chunk_bits
                            ).cast("bigint")
                        )
                        % F.lit(1 << chunk_bits).cast("bigint")
                    ).alias("chunk"),
                ),
            )
        ).alias("bc"),
    ).select(id_col, F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))


def _bq_scored(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """All (query, neighbor, hamming) pairs over packed signatures —
    the shared scan of :func:`bq_hamming_topk` and :func:`bq_topk`.
    Query signatures broadcast; the corpus side is repartitioned once
    — a cheap shuffle that moves only the 16-byte signature rows (at
    64 dims) to spread the broadcast-join scan across all cores —
    then streams through the scan; self-matches excluded."""
    c_sig = bq_signature(corpus, vec_col, id_col).repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    q_sig = bq_signature(queries, vec_col, id_col).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("q_sig")
    )
    return _hamming_scored(c_sig, q_sig)


def _hamming_scored(c_sig: DataFrame, q_sig: DataFrame) -> DataFrame:
    """``(query_id, neighbor_id, hamming)`` over the :func:`_scan` of a
    signature table (``vec_id, [cell,] sig``) against query signatures
    (``query_id, [cell,] q_sig``) — the flat and the gated BQ scan."""
    return _scan(c_sig.withColumnRenamed("vec_id", "neighbor_id"), q_sig).select(
        "query_id", "neighbor_id", hamming(F.col("sig"), F.col("q_sig")).alias("hamming")
    )


def bq_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pure-Hamming top-k over binary signatures — the fully
    hash-checkable BQ primitive: every score is an integer, so rank
    membership AND the score itself replay exactly in any engine
    (ties → lower neighbor id, the repo-wide rule).  The quality
    trade (1 bit/dim vs 8 for SQ8) is measured by the recall pytest,
    not trusted."""
    ranked = _top_per_query(
        _bq_scored(corpus, queries, vec_col, id_col), F.col("hamming").asc(), k
    )
    return ranked.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "hamming"
    )


def bq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Two-stage BQ ANN, the product shape: Hamming shortlist over the
    32:1-compressed signature table, exact-cosine rerank of the
    ``|queries| · shortlist`` survivors only (same 4-dp + neighbor-id
    ranking rule as the SQ/PQ families).  Both stages are engine-exact
    — integer Hamming decides shortlist membership, rounded cosine
    decides final rank — so unlike PQ's float ADC the WHOLE two-stage
    pipeline hash-checks against DuckDB.

    At 100 TB: the full-precision corpus is read once to encode
    (map-only) and once more for the tiny shortlist join; every
    whole-collection scan touches 2 BIGINTs per row.  For the scan
    itself to prune too, compose the IVF gate: :func:`bq_ivf_topk`."""
    return _shortlist_rerank(
        _bq_scored(corpus, queries, vec_col, id_col), F.col("hamming").asc(),
        ("hamming",), corpus, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def bq_anchor_signatures(
    corpus: DataFrame,
    k_coarse: int = 16,
    seed: str = "bqivf|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Engine-portable coarse quantizer for BQ-IVF: the ``k_coarse``
    corpus vectors with the smallest ``md5(seed || id)`` buckets, as
    packed binary signatures — the :func:`sq_anchor_codes` sampling
    rule applied in HAMMING space, so cell assignment needs no float
    at all (argmin of integer popcount distances, ties → lower anchor
    index).  Selection is a distributed top-k (``orderBy().limit()``)
    and the collect is exactly ``k_coarse`` tiny rows."""
    sigs = bq_signature(corpus, vec_col, id_col)
    return [list(r["sig"]) for r in _md5_sample(sigs, seed, k_coarse).select("sig").collect()]


def _anchor_hamming_array(
    sig_col: Column, anchors: Sequence[Sequence[int]]
) -> Column:
    """Array of per-anchor Hamming distances (anchor signatures ship
    as literals — k_coarse · words BIGINTs in the task closure)."""
    return F.array(
        *[
            hamming(sig_col, F.array(*[F.lit(w).cast("bigint") for w in a]))
            for a in anchors
        ]
    )


def bq_encode_ivf(
    vectors: DataFrame,
    anchors: Sequence[Sequence[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cell-tagged binary signatures ``(vec_id, cell, sig)``: each
    vector's nearest anchor by integer Hamming (1-based, ties → lower
    anchor index — ``array_position`` returns the FIRST minimum, the
    exact twin of the oracle's ``ROW_NUMBER ... d ASC, j ASC``).  One
    map-only select, then ``repartition("cell")`` — the IVF posting-
    list layout, and the projection barrier that keeps the packing
    chain from being re-inlined into every downstream reference (the
    :func:`sq_encode_ivf` lesson)."""
    d = _anchor_hamming_array(F.col("sig"), anchors)
    cell = F.array_position(d, F.array_min(d)).cast("int")
    return (
        bq_signature(vectors, vec_col, id_col)
        .select("vec_id", cell.alias("cell"), "sig")
        .repartition("cell")
    )


def bq_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    k_coarse: int = 16,
    seed: str = "bqivf|",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """IVF-gated BQ ANN — the fully hash-checkable gated compressed
    scan with ZERO floats before the rerank: md5-sampled anchor
    signatures are the coarse quantizer, cell assignment and query
    probing are integer-Hamming argmins, and the gated scan joins the
    cell-tagged signature table to the broadcast (query, probed cell)
    table ON THE CELL ID — Catalyst prunes every non-probed cell at
    the join, so ≈ n_probe/k_coarse of the 2-BIGINT rows are scored
    instead of all of them (the gap :func:`bq_topk` leaves open).
    Stage 2 is the shared exact-cosine rerank.  Every stage-1 quantity
    is an exact integer — no IEEE chain at all, which makes this the
    most portable gated scan in the compressed-ANN family (SQ's cell
    scores still divide through a sqrt)."""
    anchors = bq_anchor_signatures(corpus, k_coarse, seed, vec_col, id_col)
    codes = bq_encode_ivf(corpus, anchors, vec_col, id_col)
    q_sig = bq_signature(queries, vec_col, id_col)
    # _probe_cells ranks score DESC; negated Hamming makes that
    # (distance ASC, cell index ASC) — the oracle's probe order.
    probe = _probe_cells(
        q_sig,
        F.transform(_anchor_hamming_array(F.col("sig"), anchors), lambda d: -d),
        n_probe,
        "vec_id",
    )
    q = probe.join(
        q_sig.select(
            F.col("vec_id").alias("query_id"), F.col("sig").alias("q_sig")
        ),
        "query_id",
    )
    return _shortlist_rerank(
        _hamming_scored(codes, q), F.col("hamming").asc(), ("hamming",),
        corpus, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def ann_eval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Measured ANN quality report — the retrieval twin of the dedup
    stack's ``lsh_eval_report``: run the compressed-ANN family (SQ8
    full scan, BQ full scan, IVF-gated BQ) beside the EXACT
    brute-force cosine top-k and score each against it, so the
    recall/rank trade of every quantizer is a number in a table, not a
    docstring claim.  One row per method:

    - ``hits_at_5``: how many of the method's returned pairs are in
      the exact top-k (integer set intersection);
    - ``rr60_sum``: Σ per query of ``60 div rank-of-the-true-top-1``
      (0 when absent) — 60 is lcm(1..5), so every reciprocal rank is
      an exact INTEGER and the sum hash-checks;
    - ``mrr``: ``rr60_sum / (60·n_queries)``, the one IEEE division.

    The exact method scores itself (recall 1, mrr 1) as the sanity
    row.  All four rankings are already oracle-replayable, so the
    whole report is hash-checked — a quality measurement you can trust
    across engines.  Run-on-a-sample diagnostic by contract: the
    query set bounds every method's cost, and the exact leg is the
    same broadcast scan ``cosine_topk`` always does."""
    exact = cosine_topk(corpus, queries, k=k).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )
    # Stage the exact ranking ONCE (guide §2.4; the build_corpus staging
    # rule): `exact` is referenced by its own method row AND by truth /
    # top1 / nq inside every one of the five method legs — composed
    # lazily, Catalyst re-expanded the brute-force cosine subtree ~16×
    # across the union.  The frame is k·|queries| rows, so it is
    # collected into a driver-side local relation: one eager job, like
    # a checkpoint, but no persisted blocks left behind to release.  The
    # rows go back through Arrow, not as pickled Rows: a Row list
    # becomes a Python RDD that every one of those references re-reads
    # through a Python worker (measured +0.9 s at sf0.1).
    exact = corpus.sparkSession.createDataFrame(exact.toPandas(), exact.schema)
    methods = {
        "exact": exact,
        "sq8": sq_topk(corpus, queries, k=k, shortlist=50),
        "bq": bq_topk(corpus, queries, k=k, shortlist=50),
        "bq_ivf": bq_ivf_topk(corpus, queries, k=k, n_probe=4, shortlist=50),
        "bq_asym": bq_asym_topk(corpus, queries, k=k, shortlist=50),
    }
    truth = exact.select("query_id", "neighbor_id").withColumn("_t", F.lit(1))
    top1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("_top1")
    )
    nq = exact.agg(F.count_distinct("query_id").alias("n_queries"))
    rows = []
    for name, m in methods.items():
        pairs = m.select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        )
        agg = (
            pairs.join(truth, ["query_id", "neighbor_id"], "left")
            .join(F.broadcast(top1), "query_id", "left")
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("_t") == 1, 1).otherwise(0)), F.lit(0)
                ).cast("long").alias("hits_at_5"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("neighbor_id") == F.col("_top1"),
                            F.expr("60 div rank"),
                        ).otherwise(F.lit(0).cast("long"))
                    ),
                    F.lit(0).cast("long"),
                ).alias("rr60_sum"),
            )
        )
        rows.append(
            agg.crossJoin(F.broadcast(nq)).select(
                F.lit(name).alias("method"),
                F.col("n_queries").cast("long").alias("n_queries"),
                "hits_at_5",
                "rr60_sum",
                F.round(
                    F.col("rr60_sum").cast("double")
                    / (F.lit(60.0) * F.col("n_queries")),
                    4,
                ).alias("mrr"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), rows)


def bq_unpack_pm1(sig_col: Column, n_dims: Column) -> Column:
    """Unpack a packed signature back to a ±1.0 ``array<double>`` (bit
    set → +1, clear → −1) — the corpus side of asymmetric BQ scoring.
    The bit test is ``floor(word / 2ʲ) % 2``: dividing a < 2³² integer
    by a power of two only shifts the double's exponent, so the chain
    is exact and equals the oracle's ``(word >> j) & 1``.  Sliced to
    the true dimension count so padded high bits of a ragged final
    word never contribute phantom −1 terms."""
    powers = F.array(*[F.lit(float(1 << j)) for j in range(32)])
    bits = F.flatten(
        F.transform(
            sig_col,
            lambda w: F.transform(
                powers,
                lambda p: F.when(F.floor(w / p) % 2 == 1, F.lit(1.0)).otherwise(
                    F.lit(-1.0)
                ),
            ),
        )
    )
    return F.slice(bits, 1, n_dims)


def bq_asym_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """ASYMMETRIC binary quantization ANN: the corpus stays 1-bit
    compressed, but each query keeps its full float vector and scores
    ``dot(q, ±1-unpacked signature)`` — strictly more information per
    scanned row than symmetric Hamming at the identical 2-BIGINT/row
    storage cost (the query-side float is free: there are only
    |queries| of them).  Stage 1 shortlists by the rounded asymmetric
    dot (fixed-order left fold + 4-dp round BEFORE ranking, the PQ-ADC
    portability recipe, so the scan hash-checks); stage 2 is the
    shared exact-cosine rerank.  How much the asymmetry buys is not
    claimed but measured: ``embedding_ann_eval`` scores this method
    beside symmetric BQ against the exact scan."""
    # Pack AND unpack in one corpus-side projection: the ±1 array (32
    # nested-transform terms per word) materializes once per corpus
    # row on the streamed side of the nested-loop join, instead of
    # once per (corpus row × query) pair in the post-join projection.
    # n_dims comes from the corpus row's own vector (dims uniform).
    cvec_expr = _as_double(F.col(vec_col))
    c_pm1 = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        bq_unpack_pm1(_bq_sig_expr(cvec_expr), F.size(cvec_expr)).alias("pm1"),
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    q_f = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    adot = F.round(dot(F.col("qv"), F.col("pm1")), round_digits)
    scored = _scan(c_pm1, q_f).select("query_id", "neighbor_id", adot.alias("adot"))
    return _shortlist_rerank(
        scored, F.col("adot").desc(), ("adot",),
        corpus, queries, k, shortlist, vec_col, id_col, round_digits,
    )


def bq_banded_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    chunk_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """BQ-GATED near-dup pairs: the 1-bit sign signature
    (:func:`bq_signature`) pigeonhole-banded into ``chunk_bits``-bit
    chunks (``dims / chunk_bits`` of them; ``chunk_bits`` must divide
    32 so a chunk never straddles a packed word), candidates from an
    equality self-join on ``(band, chunk_value)``, then ONE exact
    rounded-cosine verify per candidate — the integer-Hamming first gate in front of the
    embedding near-dup product, exactly how LSH banding gates the text
    leg (``near_dup_clusters``) and hyperplane buckets gate
    :func:`near_dup_pairs_lsh`.

    Capture guarantee (pigeonhole): any pair with sign-Hamming
    distance below the chunk count (64 dims / 8 bits = radius 8)
    agrees on at least one full chunk and is therefore a candidate.  The production near-dup regime is tiny
    perturbations of the same content — re-encodes, paraphrase
    embeddings at cosine ≥ 0.95 — whose sign vectors differ in at most
    a handful of coordinates, comfortably inside the default radius 8.
    A pair with one flip in every chunk CAN be missed — that is the
    gate's declared trade (same contract as LSH recall), and
    ``embedding_ann_eval`` is the measuring instrument for this
    family, not a promise in this docstring.

    Why this beats the hyperplane gate at 100 TB storage economics:
    the banding key derives from the SAME 16-byte packed signature the
    ANN scan already materializes (32:1 compression), the chunk
    arithmetic is integer div/mod (hash-checkable end to end, unlike
    float hyperplane projections), and the verify stage touches float
    vectors only for candidates.

    Duplication-safety (the minhash-pairs lesson): byte-identical
    vectors exact-collapse to their min-id representative BEFORE
    banding, pairs are generated and verified at the rep level, then
    expanded through group membership — every shuffle before the final
    expansion is linear in DISTINCT vectors.

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b``, cosine
    rounded to ``round_digits`` — the :func:`near_dup_pairs` contract.
    """
    from pyspark.sql.window import Window

    g = (
        vectors.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("_sig", F.md5(F.to_json(F.col("v"))))
        .withColumn("rep_id", F.min("vec_id").over(Window.partitionBy("_sig")))
    )
    members = g.select("rep_id", "vec_id")
    reps = g.filter(F.col("vec_id") == F.col("rep_id")).select("vec_id", "v")

    sig = bq_signature(
        reps.select(F.col("vec_id"), F.col("v").alias(vec_col)),
        vec_col=vec_col,
        id_col="vec_id",
    )
    banded = sig_chunk_bands(sig, chunk_bits, id_col="vec_id")
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("ra"), F.col("y.vec_id").alias("rb"))
        .distinct()
    )
    rv = reps.withColumn("n", norm(F.col("v")))
    score = F.round(
        guarded_cosine(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")),
        round_digits,
    )
    rep_pairs = (
        cand.join(
            rv.select(
                F.col("vec_id").alias("ra"),
                F.col("v").alias("va"),
                F.col("n").alias("na"),
            ),
            "ra",
        )
        .join(
            rv.select(
                F.col("vec_id").alias("rb"),
                F.col("v").alias("vb"),
                F.col("n").alias("nb"),
            ),
            "rb",
        )
        .select("ra", "rb", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    # expand rep-level pairs through exact-duplicate group membership
    # (identical vectors: cosine exactly 1.0 by definition) — the
    # near_dup_pairs_lsh recipe
    ma = members.select(F.col("rep_id").alias("ra"), F.col("vec_id").alias("id_a"))
    mb = members.select(F.col("rep_id").alias("rb"), F.col("vec_id").alias("id_b"))
    cross_groups = (
        rep_pairs.join(ma, "ra")
        .join(mb, "rb")
        .select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
            "cosine",
        )
    )
    within = (
        members.alias("p")
        .join(
            members.alias("q"),
            (F.col("p.rep_id") == F.col("q.rep_id"))
            & (F.col("p.vec_id") < F.col("q.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("id_a"),
            F.col("q.vec_id").alias("id_b"),
            F.lit(1.0).alias("cosine"),
        )
    )
    return cross_groups.unionByName(within)

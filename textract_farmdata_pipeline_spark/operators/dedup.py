"""Deduplication operators (north-star surface).

Exact dedup is a hash groupBy (map-side combinable, one shuffle on the
key — scales to any size).  Near-dup families (MinHash+LSH, SimHash,
n-gram Jaccard) build on deterministic xxhash64-derived hash families
(md5 only where an engine-portable oracle needs it) so results are
reproducible across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_dedup(
    docs: DataFrame, key: Column | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Representative-per-group exact dedup.

    Returns one row per distinct key with the smallest id as the
    retained representative and the group size — deterministic, unlike
    ``dropDuplicates`` (which keeps an arbitrary row).  One shuffle,
    partial aggregation map-side.
    """
    key = key if key is not None else F.col("text")
    return (
        docs.groupBy(key.alias("dedup_key"))
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("group_size"))
        .drop("dedup_key")
        .select("keep_doc_id", "group_size")
    )


def exact_dedup_by_hash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on md5(text) — at 100 TB you shuffle 16-byte digests,
    not document bodies."""
    return exact_dedup(docs, F.md5(F.col(text_col)), id_col=id_col)


def soft_dedup_weights(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Soft dedup: downweight duplicates instead of removing them.

    Every copy of a text repeated ``n`` times gets sampling weight
    ``1/n``, so each DISTINCT text contributes unit mass to training
    regardless of how often the crawl re-collected it — the
    downweight-instead-of-drop alternative to :func:`exact_dedup`
    (cf. SoftDeDup, He et al. 2024: reweighting preserves the corpus
    while neutralizing duplication bias; this is its exact-duplicate
    form — compose with :func:`near_dup_clusters` and weight by
    cluster size for the fuzzy form).

    Returns ``(id, n_copies, weight)`` for every input document.
    Scale shape: one md5-digest groupBy (16-byte keys, map-side
    combined — the :func:`exact_dedup_by_hash` shuffle) and one join
    back on the digest; document bodies never shuffle.  ``weight`` is
    a single IEEE division, identical in any engine.
    """
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    counts = (
        docs.select(h.alias("_h"))
        .groupBy("_h")
        .agg(F.count("*").alias("n_copies"))
    )
    return (
        docs.select(id_col, h.alias("_h"))
        .join(counts, "_h")
        .select(
            id_col,
            "n_copies",
            (F.lit(1.0) / F.col("n_copies")).alias("weight"),
        )
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    quality: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: keep the BEST document of
    each near-dup cluster, not the first.

    Keep-first (min id) is an accident of crawl order; production
    dedup (FineWeb, RefinedWeb) retains the highest-quality member —
    longest text, best quality score — so dedup never trades a clean
    page for its boilerplate-mangled recrawl.  ``clusters`` is any
    ``(doc_id, cluster_id)`` labeling (e.g. :func:`near_dup_clusters`);
    ``quality`` is a column over ``docs`` (default: text length, the
    "keep longest" recipe).  Winner = max quality, ties to min id.

    Returns the full decision table — ``(doc_id, cluster_id,
    cluster_size, quality, kept)`` for every document — so the
    keep/drop decision itself is checkable, not just the survivor set.

    Scale shape: the winner is computed with a map-side-combinable
    groupBy ``max(struct(quality, -id))`` — NOT a per-cluster window
    sort, which would plan each cluster into one task's sort buffer
    and die on the mega-cluster a boilerplate text produces — then one
    hash join back on ``cluster_id``.  Quality travels as a long;
    document bodies never shuffle.
    """
    q = (quality if quality is not None else F.length(F.col("text"))).cast("long")
    members = clusters.join(docs.select(id_col, q.alias("quality")), id_col)
    best = members.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.max(
            F.struct(F.col("quality"), (-F.col(id_col)).alias("neg_id"))
        ).alias("_b"),
    )
    return members.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        "quality",
        (
            (F.col("quality") == F.col("_b.quality"))
            & (F.col(id_col) == -F.col("_b.neg_id"))
        ).alias("kept"),
    )


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL column for source-level dedup (the
    CCNet/RefinedWeb pre-content rung: recrawls of one page differ in
    scheme case, ``www.``, default ports, trailing slashes, query
    order, and fragments long before their text differs).

    Normalizations, all pure column expressions (codegen, no UDF) with
    engine-portable semantics (split/sort/regexp twins exist in ANSI
    dialects):

    * drop the ``#fragment``;
    * lowercase scheme and authority (path/query case is significant);
    * strip a leading ``www.`` and the scheme's default port
      (``:80`` for http, ``:443`` for https);
    * strip trailing ``/`` runs from the path (root == root-slash);
    * sort query parameters byte-wise (``?b=2&a=1`` == ``?a=1&b=2``).
    """
    u0 = F.substring_index(url, "#", 1)
    pre = F.substring_index(u0, "?", 1)
    q = F.when(
        F.length(u0) > F.length(pre),
        F.substring(u0, F.length(pre) + F.lit(2), F.length(u0)),
    ).otherwise(F.lit(""))
    scheme = F.lower(
        F.regexp_extract(pre, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    auth = F.lower(
        F.regexp_extract(pre, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)
    )
    auth = F.regexp_replace(auth, r"^www\.", "")
    auth = F.when(
        scheme == "http", F.regexp_replace(auth, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(auth, ":443$", "")
    ).otherwise(auth)
    path = F.regexp_replace(
        pre, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""
    )
    path = F.regexp_replace(path, "/+$", "")
    qsorted = F.when(
        q == "", F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.concat_ws("&", F.array_sort(F.split(q, "&")))))
    # Non-absolute inputs (no scheme://) pass through verbatim: without
    # this gate the scheme/authority extracts degrade to '' and the
    # path regex leaves the raw string, producing a surprising
    # '://'-prefixed non-URL key that still fails to collapse host-case
    # variants — pass-through is honest (no collapse claimed) and keeps
    # the column total.
    return F.when(scheme == "", url).otherwise(
        F.concat(scheme, F.lit("://"), auth, path, qsorted)
    )


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep-first dedup by CANONICAL URL (:func:`canonical_url`) — the
    cheapest rung of the dedup ladder, run BEFORE any content pass
    (CCNet §3.1 / RefinedWeb §3: dropping same-page recrawls by URL
    costs a string normalization, vs hashing or shingling megabytes of
    body text; content dedup then only pays for genuinely distinct
    pages).

    Returns a decision row per document: ``(id, canonical_url,
    n_copies, keep)`` with ``keep`` = lowest id among the canonical
    group (deterministic, the :func:`exact_dedup` representative
    rule).  Scale shape: canonicalization is map-side codegen; the
    only exchange is ONE hash partition on the canonical string
    (~tens of bytes/row — the cheapest possible key this side of a
    digest), carrying id + url; body text never shuffles.  Group
    cardinality is bounded by recrawl count per page, so no salting is
    needed — a pathologically re-crawled page is exactly what the
    operator exists to collapse.
    """
    w = Window.partitionBy("canonical_url")
    return (
        docs.select(
            F.col(id_col),
            canonical_url(F.col(url_col)).alias("canonical_url"),
        )
        .withColumn("n_copies", F.count("*").over(w).cast("long"))
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
    )


def count_distinct_two_phase(
    df: DataFrame, key: str, value_cols: dict[str, str]
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT value) that survives key skew.

    Phase 1 shuffles on (key, value) — a hot key's rows spread across
    all partitions instead of piling onto one reducer (the failure mode
    of the naive plan's Expand + single-key shuffle).  Phase 2 counts
    the now-distinct pairs per key: tiny, since phase 1 already
    collapsed duplicates map-side via partial aggregation.

    ``value_cols`` maps value column → output alias; multiple distinct
    counts run as parallel two-phase branches joined on the key.
    """
    out: DataFrame | None = None
    for col, alias in value_cols.items():
        branch = (
            # Phase 2 uses count(col), not count(*): the NULL-value
            # group survives phase 1 (keeping every key present, even
            # all-NULL ones, at count 0) but must not count as a
            # distinct value — SQL COUNT(DISTINCT x) excludes NULLs.
            df.select(key, col)
            .groupBy(key, col)
            .agg(F.lit(1))
            .groupBy(key)
            .agg(F.count(col).alias(alias))
        )
        out = branch if out is None else out.join(branch, key)
    return out


def md5_long(key: Column, seed: str = "") -> Column:
    """Engine-portable 60-bit hash: first 15 hex digits of
    ``md5(seed || key)`` as a BIGINT.

    15 hex digits = 60 bits, always below 2**63, so the value is exact
    in any engine's signed 64-bit integer — DuckDB computes the
    identical number via ``CAST(('0x' || substr(md5(seed || s), 1, 15))
    AS BIGINT)``, which is what lets the minhash / simhash family below
    be hash-oracle-checked.  ~50× more expensive than ``xxhash64``
    (crypto hash + base-16 conv), so this family is the oracle anchor,
    not the product default.
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), key)), 1, 15), 16, 10).cast(
        "long"
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from a single-spaced text."""
    toks = F.split(text, " ")
    if n == 1:  # fast path: no per-token slice/join allocations
        return F.array_distinct(toks)
    count = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(count - 1, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.12,
    block_col: str = "source",
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity within a blocking key.

    Blocking (here: same ``source``) keeps the self-join from being a
    full cross product; the join is shuffle-hash on the block key.  For
    unblocked 100 TB near-dup use minhash_lsh_pairs instead.
    """
    with_sh = docs.select(
        F.col("doc_id"), F.col(block_col).alias("block"), shingles(F.col("text"), n).alias("sh")
    )
    a = with_sh.alias("a")
    b = with_sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh"))).cast("double")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 32,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures from a deterministic shingle-hash family.

    Default hash family: ``h_i(s) = xxhash64(i, xxhash64(s))`` — fully
    deterministic, no fitted model state, and pure JVM integer hashing
    (~50× cheaper than a crypto hash + base-16 string conversion).
    ``hash_family="md5"`` switches to the engine-portable family
    ``h_i(s) = int(md5("mh{i//4}|" || s).hex[(i%4)*8 : (i%4)*8+8], 16)``
    — four independent 32-bit hashes per digest — whose values DuckDB
    reproduces bit-for-bit; the variant the hash-checked oracles run on
    (same plan shape, only the hash expression differs).

    Physical shape: explode shingles → ``n_hashes`` MIN aggregates →
    pack into an array.  Everything stays inside whole-stage codegen
    (higher-order-function lambdas are interpreted row-at-a-time and
    were ~20× slower here); the only shuffle is the doc_id hash
    aggregate, and MIN combines map-side, so at 100 TB each executor
    ships one 8·n_hashes-byte partial per document, not its shingles.

    Documents with no shingles (empty text) produce no signature row.

    ``shingle_sets`` — an optional precomputed ``(doc_id, s)`` shingle
    table (the :func:`_shingle_sets` shape) — lets a caller that needs
    the same shingles for several legs (:func:`lsh_eval_report`) build
    and persist the scaffold ONCE instead of re-tokenizing the raw
    text per leg.
    """
    if shingle_sets is not None:
        exploded = shingle_sets.select("doc_id", F.explode("s").alias("sh"))
    else:
        exploded = docs.select(
            "doc_id", F.explode(shingles(F.col("text"), shingle_n)).alias("sh")
        )
    if hash_family == "md5":
        # One md5 digest yields FOUR independent 32-bit hashes (8-hex
        # slices of the 32-hex digest): h_i(s) = slice i%4 of
        # md5("mh{i//4}|" || s).  Crypto-hash cost drops 4× vs one
        # digest per hash; 32-bit min values keep spurious-collision
        # probability ~|union|²/2³² (negligible at any real shingle
        # count), and DuckDB slices the identical digest hex.  Digests
        # are projected ONCE per shingle so the per-index work inside
        # the aggregates is a substring + conv.
        n_groups = (n_hashes + 3) // 4
        exploded = exploded.select(
            "doc_id",
            *[
                F.md5(F.concat(F.lit(f"mh{g}|"), F.col("sh"))).alias(f"_d{g}")
                for g in range(n_groups)
            ],
        )
        mins = [
            F.min(
                F.conv(
                    F.substring(F.col(f"_d{i // 4}"), (i % 4) * 8 + 1, 8), 16, 10
                ).cast("long")
            ).alias(f"_m{i}")
            for i in range(n_hashes)
        ]
    elif hash_family == "xxhash64":
        # base string hash projected ONCE per shingle; the i-indexed
        # rehash inside the aggregates then touches only the 8-byte long
        exploded = exploded.select("doc_id", F.xxhash64(F.col("sh")).alias("h"))
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"_m{i}")
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return (
        exploded.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"_m{i}" for i in range(n_hashes)]).alias("signature"))
    )


def band_buckets(
    sigs: DataFrame, n_hashes: int, bands: int, portable: bool = False
) -> DataFrame:
    """(doc_id, band, bucket) rows from signature arrays: the LSH index
    shape both the self-join and the incremental corpus join key on.

    Default bucket key is ``F.hash`` of the band's signature slice
    (cheap 4-byte join key).  ``portable=True`` instead joins on the
    comma-joined decimal string of the slice — byte-identical to
    DuckDB's ``string_agg(CAST(m AS VARCHAR), ',' ORDER BY k)``, so an
    oracle can reproduce the exact candidate set.  Both keys are
    equality-only: collision behavior differs (F.hash can alias two
    distinct slices into one bucket — harmless, it only adds candidates
    that Jaccard verification then re-checks).
    """
    rows_per_band = n_hashes // bands
    if portable:
        key = lambda b: F.array_join(  # noqa: E731
            F.transform(
                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
            ",",
        )
    else:
        key = lambda b: F.hash(  # noqa: E731
            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
        )
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), key)
        ).alias("band", "bucket"),
    )


def lsh_candidates(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Band-bucket LSH candidate pairs (pre-verification) — the shared
    candidate stage of :func:`minhash_lsh_pairs` and the evaluation
    harness :func:`lsh_eval_report`, factored so the candidate set the
    report counts is exactly the one the product verifies."""
    portable = hash_family == "md5"
    sigs = minhash_signatures(
        docs, n_hashes, shingle_n, hash_family=hash_family,
        shingle_sets=shingle_sets,
    )
    banded = band_buckets(sigs, n_hashes, bands, portable=portable)
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs + exact Jaccard verification.

    Band the signature (rows = n_hashes/bands), explode one row per
    band bucket, self-join on (band, bucket) — the classic
    shuffle-friendly LSH plan: candidate generation touches only
    signature bytes, the verify step re-checks true shingle Jaccard on
    the candidates only.

    ``hash_family="md5"`` runs the engine-portable variant end to end:
    md5-derived signatures, string band keys, and Jaccard verified on
    raw shingle strings instead of xxhash64-compressed sets — every
    intermediate is reproducible in ANSI SQL, so the output is
    hash-oracle-checkable (the xxhash64 default stays the fast product
    path).
    """
    cand = lsh_candidates(docs, n_hashes, bands, shingle_n, hash_family)
    return _verify_jaccard(
        cand, docs, threshold, shingle_n, portable=hash_family == "md5"
    )


def _verify_jaccard(
    cand: DataFrame,
    docs: DataFrame,
    threshold: float,
    shingle_n: int,
    portable: bool,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of a ``(doc_a, doc_b)`` candidate
    stream — the shared verify stage of :func:`minhash_lsh_pairs` and
    :func:`lsh_eval_report` (so the eval verifies the SAME candidate
    DataFrame it counts, instead of rebuilding the signature pipeline).

    Equi-joins the candidates against the doc→shingle sets; when that
    side fits the broadcast threshold AQE picks a broadcast join and
    the candidates never shuffle, and at corpus sizes beyond it the
    same plan degrades to sort-merge.  Shingle sets are
    xxhash64-hashed to array<long> first — set intersection over
    fixed-width longs instead of strings — and |A∪B| = |A|+|B|−|A∩B|
    halves the per-pair set work vs materializing the union array.
    (Jaccard over 64-bit-hashed shingles equals exact Jaccard up to a
    ~2⁻⁶⁴ collision rate.)  The portable family verifies on the raw
    strings so the oracle's string-equality join counts the identical
    intersection.  ``shingle_sets`` (portable family only) reuses a
    precomputed ``(doc_id, s)`` scaffold instead of re-shingling."""
    if shingle_sets is not None:
        if not portable:
            # raw-string sets intersected against xxhash64-compressed
            # expectations would silently deflate every jaccard — fail
            # loud (a bare assert vanishes under python -O)
            raise ValueError(
                "shingle_sets carries raw shingle strings and is only "
                "valid for the portable (md5) verify path"
            )
        with_sh = shingle_sets.select(
            "doc_id", F.col("s").alias("sh")
        ).withColumn("sz", F.size("sh"))
    else:
        if portable:
            hashed_sh = shingles(F.col("text"), shingle_n)
        else:
            hashed_sh = F.array_distinct(
                F.transform(
                    shingles(F.col("text"), shingle_n), lambda s: F.xxhash64(s)
                )
            )
        with_sh = docs.select("doc_id", hashed_sh.alias("sh")).withColumn(
            "sz", F.size("sh")
        )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jaccard = inter.cast("double") / (F.col("sza") + F.col("szb") - inter).cast("double")
    return (
        cand.join(
            with_sh.select(
                F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"), F.col("sz").alias("sza")
            ),
            "doc_a",
        )
        .join(
            with_sh.select(
                F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"), F.col("sz").alias("szb")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 48-bit fingerprint into ``n_bands``
    chunks; two fingerprints within ``max_hamming`` bit flips MUST agree
    on at least one chunk whenever ``max_hamming < n_bands``, so the
    candidate join is an equi-join on (band, chunk) — never an all-pairs
    XOR scan.  Candidates then verify with one popcount each.
    """
    if not max_hamming < n_bands:
        raise ValueError("pigeonhole guarantee needs max_hamming < n_bands")
    bits_per = SIMHASH_BITS // n_bands
    mask = (1 << bits_per) - 1
    sh = simhash(docs, hash_family=hash_family)
    # Exact-collapse identical fingerprints before banding: d copies of
    # a boilerplate doc put d ids in every one of its chunk buckets and
    # the candidate JOIN grows O(d²) in the duplication factor (the ×10
    # probe measured 23× for 10× data on the uncollapsed form — the
    # same disease minhash LSH and the embedding pair path already
    # cured).  The join now runs over DISTINCT fingerprints; member
    # pairs are expanded LAST, so only the contractually-quadratic
    # OUTPUT is quadratic, never an intermediate.
    groups = sh.groupBy("simhash").agg(F.min("doc_id").alias("rep_id"))
    banded = groups.select(
        F.col("rep_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * bits_per).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    rep_pairs = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.rep_id") < F.col("y.rep_id")),
        )
        .select(
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
        .select("ha", "hb", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    # cross-group member pairs: order each (a, b) so doc_a < doc_b
    members = sh.select("simhash", "doc_id")
    cross = (
        rep_pairs.join(
            members.select(F.col("simhash").alias("ha"), F.col("doc_id").alias("ia")),
            "ha",
        )
        .join(
            members.select(F.col("simhash").alias("hb"), F.col("doc_id").alias("ib")),
            "hb",
        )
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "hamming",
        )
    )
    # within-group pairs (identical fingerprints, hamming 0)
    within = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(within)


SIMHASH_BITS = 48  # xxhash64 masked to its low 48 bits, positive in BIGINT


def simhash(
    docs: DataFrame, text_col: str = "text", hash_family: str = "xxhash64"
) -> DataFrame:
    """SimHash fingerprint from deterministic token hashes (48 bits).

    Per document: for each bit position, sum +1/-1 over tokens
    according to that bit of the token hash; positive sums set the bit
    in the packed BIGINT.  Explode + groupBy keeps it a single shuffle
    with map-side partial aggregation; integer arithmetic makes the
    result exact under any execution order.

    ``hash_family="md5"`` masks :func:`md5_long` to its low 48 bits —
    reproducible in SQL (``CAST('0x' || substr(md5(...), 1, 15) AS
    BIGINT) & (2**48 - 1)``), so the packed fingerprint is
    hash-oracle-checkable.
    """
    tok = F.explode(F.split(F.col(text_col), " "))
    exploded = docs.select("doc_id", tok.alias("token"))
    if hash_family == "md5":
        base = md5_long(F.col("token"), "sh|")
    elif hash_family == "xxhash64":
        base = F.xxhash64(F.col("token"))
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    h = base.bitwiseAND(F.lit((1 << SIMHASH_BITS) - 1))
    bit_cols = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
            f"b{i}"
        )
        for i in range(SIMHASH_BITS)
    ]
    agg = exploded.groupBy("doc_id").agg(*bit_cols)
    packed = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Union near-dup pairs into clusters: ``(node, cluster_id)`` with
    ``cluster_id`` = the minimum node id in the component.

    The keep-one-per-cluster step every pair-generating dedup needs
    (MinHash/SimHash/embedding pairs only say *who* matches, not *which
    group* a document belongs to).

    Distributed min-label propagation: each round joins current labels
    onto the edge list and takes the per-node min over self + neighbor
    labels; converges in O(component diameter) rounds, which for
    near-dup graphs (dense clique-ish clusters) is small.  Each round
    is `localCheckpoint`-ed: lineage stays O(1) so round N's plan does
    not replay rounds 1..N-1 — the difference between O(iter) and
    O(iter²) work.  Convergence is detected by a changed-label count
    (one tiny action per round).  For graphs with giant-diameter
    components switch to the large-star/small-star formulation
    (Kiveris et al., "Connected Components in MapReduce"), which this
    implementation's per-round shape extends to.
    """
    from pyspark.sql import functions as F

    from .checkpoints import release, tracked_local_checkpoint

    spark = pairs.sparkSession
    e = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    edges, edges_ck = tracked_local_checkpoint(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    labels, prev_ids = tracked_local_checkpoint(
        edges.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").alias("label")
        )
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        updated, ck_ids = tracked_local_checkpoint(
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("_changed"),
            )
        )
        # free the superseded round's checkpoint blocks now instead of
        # waiting for the context cleaner — across a many-query session
        # leaked checkpoint RDDs accumulate into real memory pressure
        release(spark, prev_ids)
        prev_ids = ck_ids
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    # the returned frame is backed by the final round's checkpoint; the
    # edge blocks are only needed while iterating
    release(spark, edges_ck)
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def sorted_shingle_key(
    text: Column, shingle_n: int = 3, hash_family: str = "xxhash64"
) -> Column:
    """The sorted shingle-set key the exact-set (``threshold == 1.0``)
    fast path groups on — ONE definition, exposed so the streaming
    ingest state tables can STORE it per admitted row and the per-batch
    match can read stored keys instead of re-tokenizing the accumulated
    corpus every micro-batch (guide §2.4; the state table is what the
    incremental contract calls "incrementally maintainable").  Exact by
    construction: the md5/portable family keys on the raw distinct
    shingle strings (no hash, no collisions), the default family on the
    distinct ``xxhash64`` shingle hashes — in both cases precisely the
    array the fast path would compute from the text."""
    if hash_family == "md5":
        return F.sort_array(shingles(text, shingle_n))
    return F.sort_array(
        F.array_distinct(
            F.transform(shingles(text, shingle_n), lambda s: F.xxhash64(s))
        )
    )


def _exact_set_links(
    new_reps: DataFrame,
    corp_reps: DataFrame,
    hashed_sh: Column,
    corp_keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact-set fast path shared by the incremental dedup/split cores
    at ``threshold >= 1.0`` (guide §2.4 — remove shuffles the semantics
    don't need).

    Jaccard ≥ 1.0 holds iff the two (non-empty) shingle SETS are equal:
    banding capture is exact there (equal sets ⇒ identical MinHash
    signatures ⇒ every band matches), verification admits exactly
    set-equality, and both-empty pairs never link (0/0 Jaccard is NULL,
    matching the general path's NULL-fails-the-filter behavior).  So
    the per-batch signature bank, the band joins, the per-pair
    ``array_intersect`` verify and the batch connected components all
    collapse to grouping on the SORTED shingle set — set equality is
    transitive, so an equality class IS its connected component and the
    class minimum is the minimum over every match, which is all the
    downstream min-folds consume.

    Returns ``(corp_verified, batch_verified)`` in the same shapes the
    general banding path produces: ``(rep_id, corp_min)`` — the minimum
    corpus rep with an equal set, one row per linked new rep — and
    ``(rep_id, cand)`` — the minimum batch rep of the rep's equality
    class, one row per non-empty new rep (the class-min collapse of the
    general path's all-pairs rows; every downstream consumer takes
    ``min(cand)`` under a ``cand < doc_id`` guard, for which the class
    min is equivalent to the full pair list).

    ``corp_keys`` — a stored ``(doc_id, k)`` table of PRE-COMPUTED
    sorted shingle keys for the corpus side (written by the streaming
    ingest handlers via :func:`sorted_shingle_key`) — replaces the
    tokenize-and-collapse of the corpus frame outright: ``min(doc_id)``
    per key class over ALL corpus docs equals the min over text-
    collapsed reps (a rep IS its text group's min id, and a key class
    is a union of whole text groups), so the per-batch match reads
    keys instead of re-shingling the accumulated corpus.
    """
    nk = new_reps.select("doc_id", F.sort_array(hashed_sh).alias("k"))
    if corp_keys is not None:
        ck = corp_keys.select("doc_id", "k")
    else:
        ck = corp_reps.select("doc_id", F.sort_array(hashed_sh).alias("k"))
    nonempty = F.size(F.col("k")) > 0
    corp_verified = (
        nk.join(
            ck.filter(nonempty).groupBy("k").agg(F.min("doc_id").alias("corp_min")),
            "k",
        )
        .select(F.col("doc_id").alias("rep_id"), "corp_min")
    )
    batch_verified = nk.filter(nonempty).select(
        F.col("doc_id").alias("rep_id"),
        F.min("doc_id").over(Window.partitionBy("k")).alias("cand"),
    )
    return corp_verified, batch_verified


def incremental_minhash_dedup(
    corpus: DataFrame,
    new_docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """Dedup an incoming batch against an existing corpus — the daily
    shape of a crawl pipeline: the corpus NEVER self-joins.

    ``corpus_keys`` — optional stored ``(doc_id, k)`` sorted-shingle-key
    table for the corpus side (see :func:`sorted_shingle_key`); only
    meaningful on the ``threshold == 1.0`` exact-set path, where it
    replaces per-call re-tokenization of the corpus with a read of the
    stored keys.  The streaming ingest handler maintains it alongside
    the corpus text.

    Candidate generation is (new × corpus) ∪ (new × new) on LSH band
    buckets; corpus-side work is linear (signatures + bucket index,
    both incrementally maintainable as a stored table).  Verification
    re-checks true hashed-shingle Jaccard on candidates only.

    Returns every new doc annotated: ``doc_id, dup_of`` — the smallest
    matching corpus doc_id, else the smallest matching *earlier* new
    doc_id (so within-batch groups keep their first member), else NULL
    (the doc is novel).  ``dup_of IS NULL`` is the admission filter.

    Duplication-safety: both sides exact-collapse to one representative
    per distinct text before MinHash (the ×10 probe measured the
    uncollapsed form at ratio 16.7 — d copies in every band bucket on
    both sides make candidates grow d²).  Jaccard only depends on the
    text, so rep-level matching is exact, and the member mapping
    preserves the min-id contract: a group's rep IS its minimum doc_id,
    so ``min matching corpus doc`` = min over matching corpus reps, and
    ``min matching earlier new doc`` = min over {own rep} ∪ {matching
    new reps} below the member's id.
    """
    portable = hash_family == "md5"
    if corpus_keys is not None and threshold != 1.0:
        raise ValueError(
            "corpus_keys only applies to the threshold == 1.0 exact-set path"
        )
    newg = new_docs.select("doc_id", "text").withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy("text"))
    )
    new_reps = newg.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")
    corpg = corpus.select("doc_id", "text").withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy("text"))
    )
    corp_reps = corpg.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")

    if portable:
        hashed_sh = shingles(F.col("text"), shingle_n)
    else:
        hashed_sh = F.array_distinct(
            F.transform(shingles(F.col("text"), shingle_n), lambda s: F.xxhash64(s))
        )

    # == not >=: for a (degenerate) threshold > 1.0 the general banding
    # path links nothing (Jaccard never exceeds 1.0) while the exact-set
    # path would still link equal sets — gate on exactly 1.0 so both
    # paths agree on every threshold (r13 ADVICE).
    if threshold == 1.0:
        corp_verified, batch_verified = _exact_set_links(
            new_reps, corp_reps, hashed_sh, corp_keys=corpus_keys
        )
    else:
        new_sigs = band_buckets(
            minhash_signatures(new_reps, n_hashes, shingle_n, hash_family=hash_family),
            n_hashes,
            bands,
            portable=portable,
        )
        corp_sigs = band_buckets(
            minhash_signatures(corp_reps, n_hashes, shingle_n, hash_family=hash_family),
            n_hashes,
            bands,
            portable=portable,
        )

        vs_corpus = (
            new_sigs.alias("x")
            .join(
                corp_sigs.alias("y"),
                (F.col("x.band") == F.col("y.band")) & (F.col("x.bucket") == F.col("y.bucket")),
            )
            .select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("cand"))
        )
        # rep-level batch matches, BOTH directions: a member of the earlier
        # group can still point at a later group's rep if that rep id is
        # below the member's own id
        vs_batch = (
            new_sigs.alias("x")
            .join(
                new_sigs.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.doc_id") != F.col("y.doc_id")),
            )
            .select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("cand"))
        )

        new_sh = new_reps.select("doc_id", hashed_sh.alias("sa")).withColumn("sza", F.size("sa"))
        # candidate side may come from either rep table; union their shingle sets
        cand_sh = (
            corp_reps.select("doc_id", hashed_sh.alias("sb"))
            .unionByName(new_reps.select("doc_id", hashed_sh.alias("sb")))
            .withColumn("szb", F.size("sb"))
            .withColumnRenamed("doc_id", "cand")
        )
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        jaccard = inter.cast("double") / (F.col("sza") + F.col("szb") - inter).cast("double")
        corp_verified = (
            vs_corpus.distinct()
            .join(new_sh, "doc_id")
            .join(cand_sh, "cand")
            .filter(jaccard >= threshold)
            .groupBy("doc_id")
            .agg(F.min("cand").alias("corp_min"))
            .withColumnRenamed("doc_id", "rep_id")
        )
        batch_verified = (
            vs_batch.distinct()
            .join(new_sh, "doc_id")
            .join(cand_sh, "cand")
            .filter(jaccard >= threshold)
            .select(F.col("doc_id").alias("rep_id"), "cand")
        )
    members = newg.select("doc_id", "rep_id")
    # candidate earlier-new reps per member: matching other groups' reps
    # plus the member's own rep; only ids strictly below the member count
    new_rep_cands = batch_verified.unionByName(
        members.select("rep_id").distinct().select("rep_id", F.col("rep_id").alias("cand"))
    )
    new_min = (
        members.join(new_rep_cands, "rep_id")
        .filter(F.col("cand") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("cand").alias("new_min"))
    )
    out = (
        members.join(corp_verified, "rep_id", "left")
        .join(new_min, "doc_id", "left")
        .select(
            "doc_id", F.least(F.col("corp_min"), F.col("new_min")).alias("dup_of")
        )
    )
    return new_docs.select("doc_id").join(out, "doc_id", "left")


def near_dup_clusters(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full near-dup clustering with LINEAR output: ``(doc_id,
    cluster_id)`` for every document.

    The 10× scale probe exposed why raw ``minhash_lsh_pairs`` cannot be
    the at-scale product: identical boilerplate repeated d times puts d
    members in every one of its LSH buckets — candidate PAIRS (and the
    true ≥-threshold pair set itself) grow O(d²).  This operator keeps
    everything linear:

    1. exact-collapse — md5 groupBy maps each distinct text to its min
       doc_id representative (identical docs never reach LSH);
    2. LSH pair generation over REPRESENTATIVES only, with an optional
       ``max_bucket_size`` backstop that drops degenerate buckets (a
       bucket that large means near-identical boilerplate, which step 1
       already clustered — and any true near-dup pair in it still
       shares the other ``bands-1`` healthier buckets);
    3. min-label connected components over the near-dup edges;
    4. map every doc back through its representative.

    Output rows = input docs; no stage materializes a quadratic
    intermediate.

    ``hash_family="md5"`` uses the engine-portable signature/band/verify
    path (see :func:`minhash_lsh_pairs`) so the whole clustering —
    including the connected-components fixpoint — can be hash-checked
    against an unrolled min-label-propagation SQL oracle.
    """
    portable = hash_family == "md5"
    rep = docs.select(
        "doc_id", F.md5(F.col("text")).alias("_h"), F.col("text")
    ).withColumn("rep_id", F.min("doc_id").over(Window.partitionBy("_h")))

    reps = rep.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")

    sigs = minhash_signatures(reps, n_hashes, shingle_n, hash_family=hash_family)
    banded = band_buckets(sigs, n_hashes, bands, portable=portable)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
        banded = banded.join(
            sizes.filter(F.col("_n") <= max_bucket_size), ["band", "bucket"]
        ).drop("_n")
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    if portable:
        hashed_sh = shingles(F.col("text"), shingle_n)
    else:
        hashed_sh = F.array_distinct(
            F.transform(shingles(F.col("text"), shingle_n), lambda s: F.xxhash64(s))
        )
    with_sh = reps.select("doc_id", hashed_sh.alias("sh")).withColumn("sz", F.size("sh"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jaccard = inter.cast("double") / (F.col("sza") + F.col("szb") - inter).cast("double")
    edges = (
        cand.join(
            with_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"), F.col("sz").alias("sza")),
            "doc_a",
        )
        .join(
            with_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"), F.col("sz").alias("szb")),
            "doc_b",
        )
        .filter(jaccard >= threshold)
        .select("doc_a", "doc_b")
    )
    rep_clusters = connected_components(edges)  # (node, cluster_id), reps w/ edges only
    return (
        rep.select("doc_id", "rep_id")
        .join(
            rep_clusters.withColumnRenamed("node", "rep_id"), "rep_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("rep_id")).alias("cluster_id"),
        )
    )


def jaccard_prefix_join(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ ``threshold`` self-join without the
    cross product: prefix filtering (AllPairs, Bayardo et al. WWW'07;
    the PPJoin family) — the scalable exact counterpart to the
    MinHash/SimHash *approximations* in this module.

    Why it's exact: order every document's token set by a global total
    order (rarest token first) and keep only the first
    ``|s| - ceil(t·|s|) + 1`` tokens as its *prefix*.  Two sets with
    Jaccard ≥ t overlap in ≥ ceil(t·|s|) tokens, so skipping the prefix
    of either set cannot skip ALL shared tokens — every qualifying pair
    must collide on at least one prefix token.  Candidates are then
    length-filtered (J ≥ t forces ``t·|a| ≤ |b| ≤ |a|/t``) and verified
    with the true intersection/union, so output = brute force, always.

    The ceil and the length filter run on ``t·sz - 1e-9``: double
    multiplication can round ``t·sz`` UP past an exact integer (e.g.
    fl(0.07·100) = 7.000000000000001), which would shorten the prefix /
    tighten the filter enough to drop a pair sitting exactly at J = t.
    The epsilon only ever ADMITS borderline candidates — the exact
    verification then decides — so completeness is preserved for any
    threshold, not just ones that happen to multiply cleanly.

    Scale shape (the reason this beats the blocked brute-force
    ``ngram_jaccard_pairs``): every stage is an equality-key shuffle —
    token doc-frequency count, a token→df join, one per-doc sort, and a
    candidate join keyed on PREFIX tokens, which are the globally
    rarest by construction (the frequency order exists to keep that
    join's key cardinality high and its skew low).  No global rank is
    materialized: the total order is realized per-document by sorting
    ``struct(df, token)`` arrays locally, so there is no single-
    partition window anywhere.  The full token arrays travel only for
    verified candidates.
    """
    toks, ex, pa = _prefix_scaffold(
        docs, threshold, shingle_n, id_col, text_col, shingle_sets
    )
    t = float(threshold)
    cands = (
        pa.alias("a")
        .join(
            pa.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t bounds both sizes relative to the
            # other (epsilon-slack: see docstring — admit, then verify)
            & (F.col("b.sz") >= F.lit(t) * F.col("a.sz") - F.lit(1e-9))
            & (F.col("a.sz") >= F.lit(t) * F.col("b.sz") - F.lit(1e-9)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = toks.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = toks.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b"))).cast("double")
    union = F.size(F.array_union(F.col("s_a"), F.col("s_b"))).cast("double")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(t))
    )


def _prefix_scaffold(
    docs: DataFrame,
    threshold: float,
    shingle_n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_sets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(toks, ex, pa)`` — THE single definition of the rarest-first
    prefix machinery shared by the symmetric Jaccard join and the
    directional containment join: shingle sets, the exploded
    ``(doc_id, sz, tok)`` posting table, and the df-ordered prefix
    postings of length ``|s| - ceil(t·|s| - 1e-9) + 1`` (the epsilon
    only ever ADMITS boundary candidates; exact verification decides).
    A future fix to the slack or the tie order lands in both joins or
    neither — the same drift argument as ``lsh_candidates``.
    ``shingle_sets`` substitutes a precomputed ``(doc_id, s)`` table
    for the shingle scan."""
    if shingle_sets is not None:
        toks = shingle_sets.filter(F.size("s") > 0)
    else:
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), shingle_n).alias("s"),
        ).filter(F.size("s") > 0)
    ex = toks.select(
        "doc_id", F.size("s").alias("sz"), F.explode("s").alias("tok")
    )
    dfreq = ex.groupBy("tok").agg(F.count("*").alias("df"))
    pre_len = (
        F.col("sz")
        - F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9))
        + 1
    ).cast("int")
    prefix = (
        ex.join(dfreq, "tok")
        .groupBy("doc_id", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("ordered"))
        .select(
            "doc_id",
            "sz",
            F.transform(
                F.slice(F.col("ordered"), F.lit(1), pre_len), lambda s: s["tok"]
            ).alias("pref"),
        )
    )
    pa = prefix.select("doc_id", "sz", F.explode("pref").alias("tok"))
    return toks, ex, pa


def jaccard_prefix_clusters(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT near-dup clustering with LINEAR output: ``(doc_id,
    cluster_id)`` for every document, built on
    :func:`jaccard_prefix_join` instead of MinHash.

    The same product discipline as :func:`near_dup_clusters` — the
    pair operator is the primitive, this is the at-scale shape:

    1. exact-collapse (md5 groupBy → min-doc_id representative), so
       byte-identical duplication never reaches the pair join and the
       prefix join's quadratic-in-duplication output shape is confined
       to *distinct* near-dup texts;
    2. prefix-filtered exact Jaccard edges over representatives only
       (provably brute-force-equal — no LSH recall caveat anywhere in
       this pipeline);
    3. min-label connected components;
    4. members mapped back through their representative.

    The exactness is what distinguishes it from the minhash twin: the
    cluster graph is the TRUE J ≥ t graph, not an s-curve sample of it,
    at the cost of the prefix join's heavier candidate verification.
    """
    rep = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("_h"),
        F.col(text_col).alias("text"),
    ).withColumn("rep_id", F.min("doc_id").over(Window.partitionBy("_h")))
    reps = rep.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")
    edges = jaccard_prefix_join(
        reps, threshold=threshold, shingle_n=shingle_n
    ).select("doc_a", "doc_b")
    rep_clusters = connected_components(edges)
    return (
        rep.select("doc_id", "rep_id")
        .join(rep_clusters.withColumnRenamed("node", "rep_id"), "rep_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("rep_id")).alias("cluster_id"),
        )
    )


def containment_prefix_join(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs set-CONTAINMENT self-join: every directional
    pair ``(doc_a, doc_b)`` with ``|A∩B| / |A| ≥ threshold`` (A's
    shingles mostly inside B's).  Containment is the asymmetric twin
    of :func:`jaccard_prefix_join` — it catches the near-dups Jaccard
    structurally misses: excerpts, truncations, and boilerplate-wrapped
    copies, where the small document is almost entirely contained in
    the large one but the union is dominated by the large side.

    Exactness argument (probe-prefix containment join, the set-
    containment variant of AllPairs): with tokens ordered rarest-first
    globally, ``|A∩B| ≥ ceil(t·|A|)`` forces at least one shared token
    within A's first ``|A| - ceil(t·|A|) + 1`` tokens — so probing only
    A's prefix against B's FULL posting list finds every qualifying
    pair.  Unlike the symmetric join, B's side cannot be prefix-
    truncated (containment puts no lower bound on where the shared
    token falls in B's order), so B posts all tokens; the size filter
    ``|B| ≥ t·|A|`` still prunes.  Candidates are verified with the
    true intersection, so output = brute force, always.  The ceil and
    size filter run on ``t·sz - 1e-9`` (admit-then-verify float-
    boundary slack, same as the Jaccard join).

    Scale shape: token df count, df join, per-doc local sort (no
    global window), and a candidate join keyed on A's globally rarest
    tokens against B's posting list.  Pair OUTPUT is quadratic under
    duplication by declaration — :func:`containment_cover_map` is the
    linear product twin.
    """
    toks, ex, pa = _prefix_scaffold(
        docs, threshold, shingle_n, id_col, text_col, shingle_sets
    )
    t = float(threshold)
    cands = (
        pa.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # C ≥ t forces |B| ≥ |A∩B| ≥ t·|A| (epsilon-slack: admit,
            # then verify)
            & (F.col("b.sz") >= F.lit(t) * F.col("a.sz") - F.lit(1e-9)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = toks.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = toks.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b"))).cast("double")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / F.size(F.col("s_a")).cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(t))
    )


def containment_cover_map(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The LINEAR product twin of :func:`containment_prefix_join`: for
    every document with at least one cover, its BEST covering document
    — ``(doc_id, covered_by, containment)`` with max containment, ties
    broken by the smallest covering id.  One row per covered document
    at any duplication rate; equals the brute-force per-document argmax
    over ALL other documents.

    Product decomposition (duplication never reaches the pair join):

    1. exact-collapse identical texts (md5 groupBy → min-id rep);
       identical texts have identical shingle sets, so a member's
       containment against any document equals its representative's;
    2. directional prefix-join edges over REPRESENTATIVES only;
    3. rep-level covers fan back to every member of the covered
       group — for tie purposes the minimum id inside a covering group
       is its representative, so rep edges alone realize the global
       (containment DESC, id ASC) argmax for cross-group covers;
    4. own-group covers are closed-form: a non-rep member's best
       same-text cover is its rep (containment 1.0); the REP of a
       group of size ≥ 2 is covered by the group's second-smallest id;
    5. one per-doc top-1 window over the union.
    """
    t = float(threshold)
    rep = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("_h"),
        F.col(text_col).alias("text"),
    ).withColumn("rep_id", F.min("doc_id").over(Window.partitionBy("_h")))
    reps = rep.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")
    edges = containment_prefix_join(
        reps, threshold=t, shingle_n=shingle_n
    )
    member_edges = (
        rep.select("doc_id", "rep_id")
        .join(
            edges.select(
                F.col("doc_a").alias("rep_id"),
                F.col("doc_b").alias("covered_by"),
                "containment",
            ),
            "rep_id",
        )
        .select("doc_id", "covered_by", "containment")
    )
    own_member = (
        rep.filter(F.col("doc_id") != F.col("rep_id"))
        .select(
            "doc_id",
            F.col("rep_id").alias("covered_by"),
            F.lit(1.0).alias("containment"),
        )
    )
    second = (
        rep.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("_h").orderBy("doc_id"))
        )
        .filter(F.col("_rn") == 2)
        .select(
            F.col("rep_id").alias("doc_id"),
            F.col("doc_id").alias("covered_by"),
            F.lit(1.0).alias("containment"),
        )
    )
    allc = member_edges.unionByName(own_member).unionByName(second)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("containment"), F.asc("covered_by")
    )
    return (
        allc.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", "covered_by", "containment")
    )


def containment_excerpt_drop(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Excerpt-REMOVAL decision set: the ``doc_id`` of every document
    to DROP because it is covered (containment ≥ ``threshold``) by a
    document strictly ABOVE it in the ``(shingle-set size ASC, doc_id
    DESC)`` total order — i.e. by a strictly larger document, or by an
    equal-size document with a smaller id.  The removal stage a corpus
    build composes after exact dedup: excerpts, truncations, and
    boilerplate-wrapped copies vanish while their source survives.

    Why this rule and not "covered by a kept doc": kept-ness is
    recursive (whether B survives depends on what covers B), which
    makes the stage order-dependent and un-oracle-able.  The strict
    total order gives a closed form with the property that matters —
    the order-maximal document of any cover cluster can only be
    dropped by a document strictly above it, of which there is none,
    so at least one member of every cluster always survives.  Mutual
    covers (equal shingle sets under different token multiplicity /
    order) resolve to the smaller id, matching the exact-dedup
    keep-min-id convention.

    Intended to run on a post-exact-dedup corpus: byte-identical
    duplicates are already collapsed, so the directional pair join —
    quadratic under duplication by declaration — is confined to
    distinct texts (the :func:`containment_cover_map` argument).
    Returns a one-column ``(doc_id)`` DataFrame; anti-join it against
    the corpus.

    Plan: the shared :func:`_prefix_scaffold` probe-prefix machinery
    of :func:`containment_prefix_join`, but with the ORDER RULE pushed
    into the candidate join — only pairs where b sits above a can
    drop a, so roughly half the candidate volume (and its exact
    verification) never materializes.  The prefix-completeness
    argument is unchanged: the order rule only removes pairs the drop
    decision would discard anyway.
    """
    toks, ex, pa = _prefix_scaffold(docs, threshold, shingle_n, id_col, text_col)
    t = float(threshold)
    above = (F.col("b.sz") > F.col("a.sz")) | (
        (F.col("b.sz") == F.col("a.sz"))
        & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    cands = (
        pa.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # C ≥ t forces |B| ≥ t·|A| (epsilon-slack: admit, verify)
            & (F.col("b.sz") >= F.lit(t) * F.col("a.sz") - F.lit(1e-9))
            & above,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = toks.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = toks.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b"))).cast("double")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(inter / F.size(F.col("s_a")).cast("double") >= F.lit(t))
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )


def source_shingle_overlap(
    docs: DataFrame,
    shingle_n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level cross-source overlap matrix: for every ordered
    source pair that shares at least one distinct shingle,
    ``(source_a, source_b, n_shared, containment)`` where containment
    is ``|S_a ∩ S_b| / |S_a|`` over each source's DISTINCT shingle
    set — the between-source diagnostic you run before mixing crawls
    (a high row means source_a is largely redundant given source_b).

    Scale shape: one distinct on ``(source, shingle)`` (linear in
    corpus shingles, map-side combinable), a self-join keyed on the
    SHINGLE whose per-key fan-out is bounded by ``|sources|²`` — not
    document count — and a ``|sources|²``-row aggregate.  No document
    pair is ever formed, so duplication inflates nothing."""
    ss = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
        )
        .distinct()
    )
    sz = ss.groupBy("source").agg(F.count("*").alias("n"))
    shared = (
        ss.alias("a")
        .join(
            ss.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sz.withColumnRenamed("source", "source_a"), "source_a")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n").cast("double")).alias(
                "containment"
            ),
        )
    )


def lsh_eval_report(
    docs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_fraction: float | None = None,
    sample_seed: str = "lshev|",
    sample_rows: int | None = None,
) -> DataFrame:
    """Measured LSH quality, not the s-curve promise: one row —
    ``(n_exact_pairs, n_candidates, n_verified, recall,
    candidate_precision)`` — comparing the banded MinHash pipeline
    against ground truth from the EXACT prefix-filtered Jaccard join
    on the same shingles and threshold.

    ``recall = n_verified / n_exact_pairs`` is the fraction of true
    J ≥ t pairs the banding surfaced (verification is exact, so
    verified ⊆ exact and recall ≤ 1 by construction);
    ``candidate_precision = n_verified / n_candidates`` is how much of
    the candidate volume survived verification — the two knobs
    (n_hashes, bands) trade exactly these two numbers, and this report
    prices the trade on the actual corpus instead of the analytic
    curve.  Affordable because the exact side is the prefix join (no
    cross product), and honest because all three legs are declared
    pair computations — this is a diagnostic you run on a sample, not
    a per-batch product stage.  All counts are integers; the two
    ratios are guarded single divisions.

    ``sample_fraction`` is the declared run-on-a-sample knob made
    concrete: a deterministic md5 document sample (``md5_long(seed ||
    doc_id) % 10000 < fraction·10000`` — engine-portable, so the
    sampled report still hash-checks) bounds all three pair legs to
    the sample.  ``sample_rows`` is the production form of the same
    knob: an ABSOLUTE sample-size budget, converted to a cut with pure
    integer arithmetic (``cut = min(M, ceil(rows·M / N))`` via
    ``(rows·M + N - 1) // N`` — replayable in ANSI SQL, so the
    budget form hash-checks too).  A constant fraction makes the
    diagnostic's cost grow with the corpus; a constant budget makes it
    CONSTANT — at 100× the data the cut shrinks 100× and the three
    pair legs see the same ~``rows`` documents, leaving only the
    sampling scan to grow.  The budget form uses modulus ``M = 10⁸``
    (the fraction form keeps 10⁴ for oracle compatibility), so the
    cut's floor of 1 — past which the sample grows linearly again —
    is not reached until ``rows·10⁸`` documents instead of
    ``rows·10⁴``; md5_long has 60 uniform bits, far more than either
    modulus consumes.  The one extra ``docs.count()`` this needs
    is a column-pruned scan of the id column, the cheapest full pass
    there is.  Pass one of the two knobs, not both.  The shingle scaffold (doc → shingle set) is built
    ONCE, localCheckpointed, and feeds the candidate, verify, and
    exact legs — previously each leg re-tokenized the raw corpus.
    The returned frame stays LAZY (the plan-snapshot gate watches the
    three pair legs for regressions); the scaffold checkpoint releases
    with the frame via the ContextCleaner, the build_corpus convention
    for staged tables the caller keeps reading."""
    from .checkpoints import tracked_local_checkpoint

    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if sample_fraction is not None and sample_rows is not None:
        raise ValueError("pass sample_fraction or sample_rows, not both")
    mod = 10000
    cut: int | None = None
    if sample_fraction is not None:
        cut = int(round(sample_fraction * 10000))
    elif sample_rows is not None:
        mod = 100_000_000
        n = docs.count()
        cut = min(mod, (int(sample_rows) * mod + max(n, 1) - 1) // max(n, 1))
    if cut is not None:
        docs = docs.filter(
            F.pmod(md5_long(F.col("doc_id").cast("string"), sample_seed), F.lit(mod))
            < F.lit(cut)
        )
    # The shared scaffold: every leg consumes THE SAME materialized
    # (doc_id, s) shingle table — one tokenize/shingle pass instead of
    # three (candidates via minhash explode, verify via set
    # intersection, exact ground truth via the prefix machinery).
    sh_sets = docs.select(
        "doc_id", shingles(F.col("text"), shingle_n).alias("s")
    ).filter(F.size("s") > 0)
    sh_sets, _ = tracked_local_checkpoint(sh_sets)
    # ONE candidate DataFrame feeds both counts: the verified leg
    # consumes the same subtree the candidate count aggregates, so
    # the signature/banding exchange is reused instead of rebuilt.
    cand = lsh_candidates(
        docs, n_hashes, bands, shingle_n, "md5", shingle_sets=sh_sets
    )
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_ver = _verify_jaccard(
        cand, docs, threshold, shingle_n, portable=True, shingle_sets=sh_sets
    ).agg(F.count("*").alias("n_verified"))
    n_exact = jaccard_prefix_join(
        docs, threshold, shingle_n, shingle_sets=sh_sets
    ).agg(F.count("*").alias("n_exact_pairs"))
    return (
        n_exact.crossJoin(F.broadcast(n_cand))  # 1-row scalars
        .crossJoin(F.broadcast(n_ver))
        .select(
            "n_exact_pairs",
            "n_candidates",
            "n_verified",
            F.when(
                F.col("n_exact_pairs") > 0,
                F.col("n_verified").cast("double")
                / F.col("n_exact_pairs").cast("double"),
            ).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.col("n_verified").cast("double")
                / F.col("n_candidates").cast("double"),
            ).alias("candidate_precision"),
        )
    )


def incremental_leakage_split(
    corpus: DataFrame,
    batch: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "md5",
    weights: tuple[int, int, int] = (90, 5, 5),
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Leakage-safe dataset split that stays STABLE as the corpus
    grows — the production form of ``doc_split_leakage_safe``, whose
    cluster-keyed assignment can silently flip an existing doc's split
    when a new arrival merges two clusters (cluster id = min member
    id, and a bridge doc changes the min).  Here existing assignments
    are FROZEN and only the batch is decided:

    1. the corpus keeps its cluster-atomic md5-bucket split verbatim
       (``origin='existing'`` — re-running never moves an eval doc);
    2. batch docs exact-collapse and LSH-link against the corpus (the
       :func:`incremental_minhash_dedup` shape — the corpus never
       self-joins on the batch path);
    3. batch-internal verified edges cluster the batch by connected
       components, so a batch doc that near-dups ANOTHER BATCH DOC
       that links to the corpus inherits too (no within-batch
       straddle);
    4. each batch cluster with ≥1 verified corpus link inherits the
       split of its MINIMUM linked corpus doc (``origin='inherited'``);
       clusters with none get the md5-bucket split of their own
       cluster id (``origin='fresh'``).

    Scale shape: stage 1 is the proven linear near-dup chain; the
    batch path is |batch|-proportional (banded candidates + verify);
    the resolution joins are per-cluster, never per-pair.  With the
    md5 family every stage — links, components (4-round unrollable),
    bucket arithmetic — replays in ANSI SQL, so split stability is
    hash-checked, not promised.

    ``assigned`` — a stored ``(doc_id, split)`` assignment table from
    a previous invocation (the state the streaming twin
    ``split_ingest_stream`` reads every micro-batch) — skips stage 1
    entirely: the production cadence is "cluster the corpus ONCE,
    then resolve every later batch against the stored table", and
    re-deriving the corpus clustering per one-shot call would both
    waste the full near-dup chain AND break the frozen-assignment
    contract if the corpus frame drifted from the one that produced
    the assignments.  When given, ``corpus`` supplies only the texts
    batch docs link against."""
    from .preprocess import dataset_split

    if assigned is not None:
        # Loud drift guard: the frozen-assignment contract requires
        # every corpus doc to already hold a stored split.  The inner
        # join below would otherwise silently DROP drifted corpus docs
        # from the batch-linking set — a shrunken near-dup graph that
        # looks green.  One anti-join count on the pruned doc_id
        # column; corpus frames on this path are the bounded state a
        # caller already materialized, so the extra scan is cheap
        # relative to the LSH chain it protects.
        n_drift = (
            corpus.select("doc_id")
            .join(assigned.select("doc_id"), "doc_id", "left_anti")
            .count()
        )
        if n_drift:
            raise ValueError(
                f"incremental_leakage_split: {n_drift} corpus doc(s) "
                "missing from the stored assignment table — the corpus "
                "frame drifted from the one that produced `assigned`; "
                "re-derive the assignment (or pass assigned=None) "
                "instead of linking against a silently shrunken corpus"
            )
        base = assigned.select("doc_id", "split")
    else:
        base = dataset_split(
            near_dup_clusters(
                corpus,
                n_hashes=n_hashes,
                bands=bands,
                threshold=threshold,
                shingle_n=shingle_n,
                max_bucket_size=None,
                hash_family=hash_family,
            ),
            id_col="cluster_id",
            weights=weights,
        ).select("doc_id", "split")
    corpus_assigned = corpus.select("doc_id", "text").join(base, "doc_id")
    batch_rows = incremental_split_batch(
        corpus_assigned,
        batch,
        n_hashes=n_hashes,
        bands=bands,
        threshold=threshold,
        shingle_n=shingle_n,
        hash_family=hash_family,
        weights=weights,
    )
    return base.select(
        "doc_id", "split", F.lit("existing").alias("origin")
    ).unionByName(batch_rows)


def incremental_split_batch(
    corpus_assigned: DataFrame,
    batch: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "md5",
    weights: tuple[int, int, int] = (90, 5, 5),
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """The per-batch resolution core of :func:`incremental_leakage_split`,
    factored out so the STREAMING ingest path can call it against a
    stored assignment table instead of recomputing the corpus split —
    ``corpus_assigned`` is ``(doc_id, text, split)``, the frozen state;
    returns ``(doc_id, split, origin)`` for the batch only (origin in
    {inherited, fresh}).  One definition, so the streaming replay and
    the one-shot batch form can never drift on the decision rule.

    ``corpus_keys`` — optional stored ``(doc_id, k)`` sorted-shingle-key
    table (see :func:`sorted_shingle_key`), valid only at
    ``threshold == 1.0``: the exact-set match then reads stored keys
    instead of re-tokenizing the accumulated state every batch."""
    from .preprocess import dataset_split

    portable = hash_family == "md5"
    if corpus_keys is not None and threshold != 1.0:
        raise ValueError(
            "corpus_keys only applies to the threshold == 1.0 exact-set path"
        )
    corpus = corpus_assigned
    base = corpus_assigned.select("doc_id", "split")

    newg = batch.select("doc_id", "text").withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy("text"))
    )
    new_reps = newg.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )
    corpg = corpus.select("doc_id", "text").withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy("text"))
    )
    corp_reps = corpg.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )

    if portable:
        hashed_sh = shingles(F.col("text"), shingle_n)
    else:
        hashed_sh = F.array_distinct(
            F.transform(shingles(F.col("text"), shingle_n), lambda s: F.xxhash64(s))
        )

    if threshold == 1.0:  # == not >=: see incremental_minhash_dedup
        # Exact-set fast path (see _exact_set_links): the equality
        # class IS the connected component (equality is transitive and
        # connected_components converges to the component's min node),
        # so the per-batch signature bank, band joins, verify joins and
        # the iterative components loop all collapse to one grouping on
        # the sorted shingle set.  batch_verified's cand is the class
        # min, i.e. exactly the bcluster label the component fold would
        # produce; empty-set reps never link and stay singletons.
        corp_links, batch_verified = _exact_set_links(
            new_reps, corp_reps, hashed_sh, corp_keys=corpus_keys
        )
        bclust = (
            new_reps.select(F.col("doc_id").alias("rep_id"))
            .join(
                batch_verified.withColumnRenamed("cand", "bc"), "rep_id", "left"
            )
            .select(
                "rep_id",
                F.coalesce(F.col("bc"), F.col("rep_id")).alias("bcluster"),
            )
        )
    else:
        new_banded = band_buckets(
            minhash_signatures(new_reps, n_hashes, shingle_n, hash_family=hash_family),
            n_hashes,
            bands,
            portable=portable,
        )
        corp_banded = band_buckets(
            minhash_signatures(corp_reps, n_hashes, shingle_n, hash_family=hash_family),
            n_hashes,
            bands,
            portable=portable,
        )

        nsh = new_reps.select("doc_id", hashed_sh.alias("sa")).withColumn(
            "sza", F.size("sa")
        )
        csh = (
            corp_reps.select("doc_id", hashed_sh.alias("sb"))
            .withColumn("szb", F.size("sb"))
            .withColumnRenamed("doc_id", "cand")
        )
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        jaccard = inter.cast("double") / (
            F.col("sza") + F.col("szb") - inter
        ).cast("double")

        vs_corpus = (
            new_banded.alias("x")
            .join(
                corp_banded.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket")),
            )
            .select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("cand"))
            .distinct()
        )
        corp_links = (
            vs_corpus.join(nsh, "doc_id")
            .join(csh, "cand")
            .filter(jaccard >= threshold)
            .groupBy("doc_id")
            .agg(F.min("cand").alias("corp_min"))
            .withColumnRenamed("doc_id", "rep_id")
        )

        nsh_b = nsh.select(
            F.col("doc_id").alias("cand"),
            F.col("sa").alias("sb"),
            F.col("sza").alias("szb"),
        )
        vs_batch = (
            new_banded.alias("x")
            .join(
                new_banded.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("cand"))
            .distinct()
        )
        bedges = (
            vs_batch.join(nsh, "doc_id")
            .join(nsh_b, "cand")
            .filter(jaccard >= threshold)
            .select(F.col("doc_id").alias("doc_a"), F.col("cand").alias("doc_b"))
        )
        bcl = connected_components(bedges).withColumnRenamed("node", "rep_id")
        bclust = (
            new_reps.select(F.col("doc_id").alias("rep_id"))
            .join(bcl, "rep_id", "left")
            .select(
                "rep_id",
                F.coalesce(F.col("cluster_id"), F.col("rep_id")).alias("bcluster"),
            )
        )

    anchor = (
        bclust.join(corp_links, "rep_id", "left")
        .groupBy("bcluster")
        .agg(F.min("corp_min").alias("corp_anchor"))
    )
    resolved = (
        dataset_split(anchor, id_col="bcluster", weights=weights)
        .withColumnRenamed("split", "fresh_split")
        # no broadcast hint: the anchor side is |batch clusters| rows but
        # a LEFT join can only broadcast its right (corpus-sized) side —
        # let AQE pick; the join key is one bigint per corpus doc.
        .join(
            base.select(
                F.col("doc_id").alias("corp_anchor"),
                F.col("split").alias("inherit_split"),
            ),
            "corp_anchor",
            "left",
        )
        .select(
            "bcluster",
            F.when(
                F.col("corp_anchor").isNotNull(), F.col("inherit_split")
            ).otherwise(F.col("fresh_split")).alias("split"),
            F.when(F.col("corp_anchor").isNotNull(), F.lit("inherited"))
            .otherwise(F.lit("fresh"))
            .alias("origin"),
        )
    )
    return (
        newg.select("doc_id", "rep_id")
        .join(bclust, "rep_id")
        .join(F.broadcast(resolved), "bcluster")
        .select("doc_id", "split", "origin")
    )

"""Training-data preprocessing: clean, scrub, split, chunk.

The steps between "raw documents" and "training corpus" at 100 TB —
all pure Column expressions (codegen'd, shuffle-free per row) except
nothing: even chunking is a higher-order-function explode.

* :func:`clean_text` — whitespace/control normalization.
* :func:`scrub_pii` — regex redaction of emails / phone numbers / SSNs
  to typed placeholder tokens (the standard pre-training scrub).
* :func:`pii_stats` — per-document PII match counts + scrubbed text +
  a residual-count column proving the scrub left nothing behind.
* :func:`dataset_split` — deterministic hash split into train/val/test;
  md5-derived so any engine (and any future rerun) assigns every
  document identically.  No sampling state, no shuffle.
* :func:`chunk_tokens` — fixed-size token windows with optional
  overlap (sequence packing): one row per chunk via slice + explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"(\+?\d{1,2}[ .\-]?)?\(?\d{3}\)?[ .\-]?\d{3}[ .\-]\d{4}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"


def clean_text(text: Column) -> Column:
    """Collapse all whitespace/control runs to single spaces, trim."""
    no_ctl = F.regexp_replace(text, r"[\x00-\x1f\x7f]", " ")
    return F.trim(F.regexp_replace(no_ctl, r"\s+", " "))


def scrub_pii(text: Column) -> Column:
    """Redact emails, phone numbers and SSNs to placeholder tokens.

    Order matters: SSNs would otherwise partially match the phone
    pattern.
    """
    t = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, SSN_RE, "<SSN>")
    return F.regexp_replace(t, PHONE_RE, "<PHONE>")


def pii_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII detection + redaction report.

    For each document: match counts per PII class (emails, SSNs, phone
    numbers — non-overlapping, leftmost-first, the shared Java/RE2
    semantics), the scrubbed text (:func:`scrub_pii`, same replacement
    order: email → SSN → phone), and ``n_residual`` — the three
    patterns re-counted on the scrubbed text, which a correct scrub
    drives to zero.  The residual column turns "we redacted PII" from
    a claim into a checked invariant, per document.

    All pure codegen'd regex Column expressions: no shuffle, no
    Python — at 100 TB this is a map-only pass that fuses into
    whatever scan feeds it.
    """
    t = F.col(text_col)
    scrubbed = scrub_pii(t)

    def n(col: Column, pat: str) -> Column:
        return F.regexp_count(col, F.lit(pat))

    return docs.select(
        id_col,
        n(t, EMAIL_RE).cast("int").alias("n_emails"),
        n(t, SSN_RE).cast("int").alias("n_ssns"),
        n(t, PHONE_RE).cast("int").alias("n_phones"),
        scrubbed.alias("scrubbed"),
        (n(scrubbed, EMAIL_RE) + n(scrubbed, SSN_RE) + n(scrubbed, PHONE_RE))
        .cast("int")
        .alias("n_residual"),
    )


def dataset_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (90, 5, 5),
) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket of the id.

    ``weights`` are integer percentages summing to 100.  Every engine
    and every rerun puts a given id in the same split — the property
    that keeps eval sets uncontaminated as the corpus grows.
    """
    if sum(weights) != 100:
        raise ValueError(f"weights must sum to 100, got {sum(weights)}")
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    train_w, val_w = weights[0], weights[1]
    split = (
        F.when(bucket < train_w, F.lit("train"))
        .when(bucket < train_w + val_w, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def chunk_tokens(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 0,
    text_col: str = "text",
) -> DataFrame:
    """Explode each document into fixed-size token windows.

    Stride = chunk_size − overlap; the last window keeps the tail even
    when short.  One codegen'd expression per row, then an explode —
    chunk parallelism is row parallelism, no Python.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}, {chunk_size}")
    stride = chunk_size - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * stride + 1, chunk_size), " "),
    )
    return docs.select(
        "doc_id",
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).withColumn("n_chunk_tokens", F.size(F.split(F.col("chunk_text"), " ")))

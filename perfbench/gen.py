"""Seeded input generators for the two benchmark workloads.

Every generator takes a ``random.Random`` built from ``--seed`` and the
sizes fixed in :mod:`sizes`; the same seed gives byte-identical inputs.
What the checks and the stored-bytes ratio depend on is fixed by the
sizes and the ids, not the seed: planted records per census page, and
which LLM docs are short, repetitive, copied and into which batch.
The seed picks the content.
"""

from __future__ import annotations

import json
import os
import random

import sizes

# ---------------------------------------------------------------------------
# census_backfill: Textract block dumps with planted person records
# ---------------------------------------------------------------------------

GIVEN = (
    "John William James George Charles Thomas Henry Robert Joseph Samuel "
    "David Andrew Peter Daniel Isaac Jacob Lewis Martin Nathan Elijah "
    "Mary Elizabeth Sarah Nancy Margaret Susan Martha Rachel Hannah Jane"
).split()
SURNAMES = (
    "Adkins Ball Bias Blankenship Booth Bowen Burgess Chapman Copley Crum "
    "Damron Dean Dillon Ferguson Fry Hatfield Hensley Hinkle Jarrell Kelly "
    "Lambert Lycan Marcum Maynard Napier Osburn Perry Queen Ramey Sansom "
    "Smith Spurlock Stepp Thompson Vinson Walker Webb Wellman Wilson Young"
).split()
SUFFIX = ("Jr", "Sr", "III")
HEADERS = (
    "Agricultural Census 1860",
    "Wayne County, West Virginia",
    "Name of Owner, Agent or Manager",
    "Acres of Improved Land",
    "Cash Value of Farm",
)


def _value(rng: random.Random, slot: int) -> str:
    hi = (300, 900, 9000, 400, 2500)[slot]
    value = str(rng.randint(1, hi))
    # a line containing "1860" is a header to the reference filter
    return "1859" if value == "1860" else value


def _plant_record(rng: random.Random) -> tuple[str, str, str, str, str, list[str], list[str]]:
    """One person record: the expected CSV fields plus the OCR lines
    (name line, optional continuation) that must parse back to them."""
    given = " ".join(rng.sample(GIVEN, rng.choice((1, 1, 2))))
    surname = rng.choice(SURNAMES)
    suffix = rng.choice(SUFFIX) if rng.random() < 0.08 else ""
    alt = rng.choice(SURNAMES) if rng.random() < 0.06 else ""
    name = f"{given} {surname}"
    if alt:
        name = f"{given} ({alt}) {surname}"
    if suffix:
        name = f"{name} {suffix}"
    slots = [_value(rng, i) if rng.random() < 0.8 else "-" for i in range(5)]
    # Name line carries the first j slots; j = 0 or enough that at
    # least two digit values appear (a lone value would trigger the
    # reference's single-value reassignment heuristic).
    digits_at = [i for i, v in enumerate(slots) if v != "-"]
    split = rng.choice((0, 5, 5, 5, 3, 4))
    if split and sum(1 for i in digits_at if i < split) < 2:
        split = 0 if len(digits_at) < 2 else 5
    head = slots[:split]
    if split and sum(1 for v in head if v != "-") < 2:
        split, head = 0, []
    lines = [", ".join([name, *head]) if head else name]
    base = head + ["-"] * (5 - split)
    if split < 5:
        # positional continuation: one value per remaining dash slot
        cont = [slots[i] for i in range(5) if base[i] == "-"]
        if any(v != "-" for v in cont):
            lines.append(", ".join(cont))
        else:
            slots = base
    elif rng.random() < 0.1:
        lines.append("—, —")  # dash-only continuation: consumes, fills nothing
    fields_name = name
    return fields_name, alt, surname, given, suffix, slots, lines


def _block(doc_id: str, btype: str, text: str | None, page: int, left: float, top: float) -> str:
    rec = {
        "doc_id": doc_id,
        "BlockType": btype,
        "Page": page,
        "Geometry": {
            "BoundingBox": {"Left": left, "Top": top, "Width": 0.3, "Height": 0.01}
        },
        "Id": f"{doc_id}-{page}-{left:.4f}-{top:.6f}-{btype}",
        "Confidence": 99.1,
    }
    if text is not None:
        rec["Text"] = text
    return json.dumps(rec, separators=(",", ":"))


def write_census_input(rng: random.Random, out_dir: str, n_docs: int) -> dict:
    """Write ``n_docs`` block dumps as JSON lines into
    ``sizes.CENSUS_FILES`` files; return the planted CSV rows per doc."""
    os.makedirs(out_dir, exist_ok=True)
    files = [
        open(os.path.join(out_dir, f"blocks-{i:02d}.json"), "w")
        for i in range(sizes.CENSUS_FILES)
    ]
    expected: dict[str, list[tuple]] = {}
    try:
        for d in range(n_docs):
            doc_id = f"census{d:05d}"
            out = files[d % len(files)]
            rows = expected.setdefault(doc_id, [])
            for page in range(1, sizes.CENSUS_PAGES + 1):
                blocks = [_block(doc_id, "PAGE", None, page, 0.0, 0.0)]
                for h, text in enumerate(HEADERS):
                    blocks.append(_block(doc_id, "LINE", text, page, 0.1, 0.005 + h * 0.004))
                for left in (0.06, 0.56):  # the two columns
                    top = 0.04
                    # orphan continuation before the first name: dropped
                    blocks.append(_block(doc_id, "LINE", "12, 40", page, left, top))
                    top += 0.012
                    for r in range(sizes.CENSUS_RECORDS_PER_COLUMN):
                        name, alt, surname, given, suffix, slots, lines = _plant_record(rng)
                        rows.append(
                            (name, alt, surname, given, suffix, *slots, str(page), str(r + 1), "")
                        )
                        for i, text in enumerate(lines):
                            jitter = rng.uniform(-0.008, 0.008)
                            blocks.append(_block(doc_id, "LINE", text, page, left + jitter, top))
                            for w, word in enumerate(text.split()[:3]):
                                blocks.append(
                                    _block(doc_id, "WORD", word, page, left + 0.05 * w, top)
                                )
                            top += 0.012
                            if i == 0 and rng.random() < 0.05:
                                blocks.append(_block(doc_id, "LINE", "   ", page, left, top - 0.006))
                blocks = rng.sample(blocks, len(blocks))  # Textract order is not reading order
                out.write("\n".join(blocks))
                out.write("\n")
    finally:
        for f in files:
            f.close()
    return expected


# ---------------------------------------------------------------------------
# text documents (ingest_build)
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "of", "and", "to", "in", "that", "with", "for", "on", "was")
_SYL = ("ka", "ro", "mi", "ten", "vas", "lo", "pre", "dun", "sel", "ma", "tor", "ib", "en", "gal")


def vocabulary(size: int = 4000) -> list[str]:
    """A fixed (seed-independent) vocabulary of pronounceable words."""
    rng = random.Random(0)
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def doc_text(rng: random.Random, vocab: list[str], n_words: int) -> str:
    return " ".join(
        rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
        for _ in range(n_words)
    )


def one_word_edit(rng: random.Random, vocab: list[str], text: str) -> str:
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in rng.sample(vocab, 3) if w != words[i]])
    return " ".join(words)


def _fresh_texts(rng: random.Random, vocab: list[str], n_docs: int) -> tuple[list[str], list[int]]:
    """``n_docs`` pairwise-distinct documents with planted work for every
    curation stage: shared 30-word spans (ExactSubstr), a shared leading
    12-word paragraph (keep-first paragraph dedup), verbatim 10-word
    excerpts of ``doc_id % 11 == 0`` eval docs (scrub), and repetitive
    or short docs (the Gopher gate).  No two of them are near-copies of
    each other.  Also returns the ids of the plain long docs, the ones
    safe to copy."""
    spans = [doc_text(rng, vocab, 30) for _ in range(max(1, n_docs // 40))]
    paragraphs = [doc_text(rng, vocab, 12) for _ in range(max(1, n_docs // 80))]
    texts: list[str] = []
    copyable: list[int] = []
    for doc_id in range(n_docs):
        # the kind of doc follows its id, the same for every seed
        r = (doc_id * 0.618034) % 1.0
        if r < 0.05:  # repetitive: a two-word loop of its own
            a, b = vocab[2 * doc_id % len(vocab)], vocab[(2 * doc_id + 1) % len(vocab)]
            text = " ".join([a, b] * rng.randint(20, 40))
        elif r < 0.09:
            text = doc_text(rng, vocab, rng.randint(5, 25))  # too short
        else:
            # lengths cycle through 60-300 words by id, the same for
            # every seed, so stored-bytes ratios barely move with it
            words = doc_text(rng, vocab, 60 + doc_id * 97 % 241).split(" ")
            if r < 0.3:
                at = rng.randrange(len(words))
                words[at:at] = rng.choice(spans).split(" ")
            if r > 0.85:
                words[0:0] = rng.choice(paragraphs).split(" ")
            if 0.5 < r < 0.65 and doc_id > 11:
                src = texts[11 * rng.randrange(1, (doc_id - 1) // 11 + 1)].split(" ")
                at = rng.randrange(max(1, len(src) - 10))
                words[5:5] = src[at : at + 10]
            else:
                copyable.append(doc_id)
            text = " ".join(words)
        texts.append(text)
    return texts, copyable


def write_llm_input(rng: random.Random, out_dir: str, k: int, n_fresh: int, n_exact: int,
                    n_near: int) -> dict:
    """The LLM-data input: a documents table (the registry's schema:
    doc_id, text, lang, source, n_chars) under ``out_dir/documents.parquet``,
    and the same rows staged as ``k`` micro-batch parquet files under
    ``out_dir/incoming`` (batch ``b`` holds the ids with ``id % k ==
    b``; strictly increasing mtimes, so a file stream under
    ``maxFilesPerTrigger=1`` delivers them oldest first).

    Fresh docs take ids ``0..n_fresh-1``.  Every planted exact copy and
    one-word near-copy of a fresh doc gets a larger id in the same or a
    later batch, so admission must keep every fresh doc and reject
    every exact copy.  Returns the planted id sets and the UTF-8 bytes
    of all staged texts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = vocabulary()
    texts, copyable = _fresh_texts(rng, vocab, n_fresh)
    docs = dict(enumerate(texts))
    base = -(-n_fresh // k) * k
    next_id = [base + b for b in range(k)]  # next free copy id per batch
    exact, near = set(), set()
    # Which docs are copied, and into which batch, follows the ids, the
    # same for every seed: originals spread evenly over the copyable
    # docs, each copy in the batch after its original's (the last batch
    # keeps its own).  An exact copy in its original's file shares the
    # parquet dictionary entry, so a seeded choice would move the input
    # bytes by several percent.
    step = len(copyable) // (n_exact + n_near)
    originals = copyable[::step][: n_exact + n_near]
    for n, orig in enumerate(originals):
        b = min(orig % k + 1, k - 1)
        doc_id = next_id[b]
        next_id[b] += k
        if n < n_exact:
            docs[doc_id] = texts[orig]
            exact.add(doc_id)
        else:
            docs[doc_id] = one_word_edit(rng, vocab, texts[orig])
            near.add(doc_id)

    def table(ids: list[int], meta: bool):
        cols = {"doc_id": pa.array(ids, pa.int64()), "text": pa.array([docs[i] for i in ids])}
        if meta:
            cols["lang"] = pa.array(["en"] * len(ids))
            cols["source"] = pa.array([f"src{i % 8}" for i in ids])
            cols["n_chars"] = pa.array([len(docs[i]) for i in ids], pa.int64())
        return pa.table(cols)

    incoming = os.path.join(out_dir, "incoming")
    documents = os.path.join(out_dir, "documents.parquet")
    os.makedirs(incoming, exist_ok=True)
    os.makedirs(documents, exist_ok=True)
    base_t = 1_600_000_000
    for b in range(k):
        ids = sorted(i for i in docs if i % k == b)
        path = os.path.join(incoming, f"batch_{b:03d}.parquet")
        pq.write_table(table(ids, False), path)
        os.utime(path, (base_t + 60 * b, base_t + 60 * b))
        # one documents file per batch: as many scan splits as batches
        pq.write_table(table(ids, True), os.path.join(documents, f"part-{b:03d}.parquet"))
    return {
        "fresh": set(range(n_fresh)),
        "exact": exact,
        "near": near,
        "text_bytes": sum(len(t.encode()) for t in docs.values()),
    }

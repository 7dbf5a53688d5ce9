"""Seeded inputs for the benchmark workloads, beside the FEBRL-style
people generator of ``tests.febrl_fixture``.

Everything here is pure Python and deterministic for a given seed: the
same seed gives identical rows. The program under test only ever sees
the rows, never the seed or the planted truth.
"""

from __future__ import annotations

import random
import string

# every documents.parquet column the catalog's curation query reads
DOC_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")

# English function words (operators.text.LANG_STOPWORDS["en"]); a doc
# needs >= 2 hits to language-ID as "en" and a stopword share of ~25%
# for a full quality score
_EN_STOP = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
_VOCAB_SIZE = 5000
_NEAR_EDITS = 2  # tokens substituted in a near copy


def split_stream(
    rows: list[tuple], n_batches: int, batch_rows: int, seed: int
) -> tuple[list[tuple], list[list[tuple]]]:
    """Hold out ``n_batches`` batches of ``batch_rows`` rows, drawn at
    random, as an arrival stream; the rest is the base table. Held-out
    rows keep their ids, so batch ids never collide with the base, and a
    held-out duplicate's twin is in the base or an earlier/later batch."""
    held = n_batches * batch_rows
    if held >= len(rows):
        raise ValueError(f"stream of {held} rows leaves no base out of {len(rows)}")
    order = list(range(len(rows)))
    random.Random(seed).shuffle(order)
    out = set(order[:held])
    base = [r for i, r in enumerate(rows) if i not in out]
    stream = [rows[i] for i in order[:held]]
    batches = [stream[b * batch_rows:(b + 1) * batch_rows] for b in range(n_batches)]
    return base, batches


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    """Distinct 5-9 letter pseudo-words. Five letters or more keeps them
    clear of every language's short stopwords, so language ID sees only
    the planted English function words."""
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(5, 9))))
    return sorted(words)


def _document(rng: random.Random, vocab: list[str], n_tokens: int) -> list[str]:
    toks = []
    for _ in range(n_tokens):
        toks.append(rng.choice(_EN_STOP) if rng.random() < 0.25 else rng.choice(vocab))
    return toks


def documents(
    n_docs: int,
    exact_share: float,
    near_share: float,
    seed: int,
) -> tuple[list[tuple], list[int]]:
    """A corpus of ``n_docs`` English documents with planted duplicates.

    Returns ``(rows, group)``: rows follow :data:`DOC_COLUMNS`;
    ``group[i]`` is the planted duplicate group of ``doc_id == i`` (the
    doc id of the group's original). About ``exact_share`` of the docs
    are verbatim copies of an earlier doc and ``near_share`` are copies
    with two tokens substituted (60-100 tokens per doc, so a near
    copy keeps word-3-shingle Jaccard around 0.85). Every other doc is an
    independent draw from a 5000-word vocabulary, so two originals share
    almost no shingles. Copies are shuffled into the id order so a
    group's min id is not always its original.
    """
    rng = random.Random(seed)
    vocab = _vocabulary(rng, _VOCAB_SIZE)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    if n_orig < 1:
        raise ValueError("duplicate shares leave no original documents")
    texts: list[list[str]] = []
    group: list[int] = []  # index of the original, in generation order
    for i in range(n_orig):
        texts.append(_document(rng, vocab, rng.randint(60, 100)))
        group.append(i)
    for kind in ["exact"] * n_exact + ["near"] * n_near:
        src = rng.randrange(n_orig)
        copy = list(texts[src])
        if kind == "near":
            for pos in rng.sample(range(len(copy)), _NEAR_EDITS):
                copy[pos] = rng.choice(vocab)
        texts.append(copy)
        group.append(src)
    perm = list(range(n_docs))
    rng.shuffle(perm)  # perm[generation index] = doc_id
    rows: list[tuple] = [()] * n_docs
    doc_group = [0] * n_docs
    for gen_idx, doc_id in enumerate(perm):
        text = " ".join(texts[gen_idx])
        rows[doc_id] = (doc_id, text, "en", f"src{doc_id % 7}", len(text))
        doc_group[doc_id] = perm[group[gen_idx]]
    return rows, doc_group

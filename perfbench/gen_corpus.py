"""A seeded document corpus in the layout of the repo's ``documents``
testdata table, with stated shares of exact copies and near duplicates.

Like the sf0.1 testdata texts, the base texts are 10-100 words drawn
uniformly from a 30-word vocabulary, spread over 20 sources; here they
come from ``random.Random(seed)``. The vocabulary is small, so train and
eval documents share many 3-grams: at 5,000 documents the
decontamination stage keeps about half the training documents, as at
sf0.1, and at 20,000 it keeps none. Then the generator adds:

- exact copies: a share ``exact_share`` of all documents repeats the
  text of a base document verbatim, under another id and source;
- near duplicates: a share ``near_share`` of all documents sits in
  clusters of ``cluster`` documents, one base document and
  ``cluster - 1`` copies of it with one word in ``EDIT_WORDS``
  replaced. ``cluster=2`` gives near-duplicate *pairs*.

The cluster size is explicit because it matters beyond cost: the
near-duplicate stage broadcasts one side of a join, and with ~20 copies
per text a 500k-document corpus no longer fits the default driver
memory (see ``perfbench/NOTES.md``).

Document ids are a seeded permutation, so copies are not adjacent.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
N_SOURCES = 20
EDIT_WORDS = 25


def _lang(rng: random.Random) -> str:
    r = rng.random()
    for lang, share in LANGS:
        if r < share:
            return lang
        r -= share
    return LANGS[0][0]


def make_corpus(seed: int, n_docs: int, exact_share: float = 0.05,
                near_share: float = 0.05, cluster: int = 2) -> pa.Table:
    """``n_docs`` documents with the stated shares of exact copies and of
    near-duplicate documents in clusters of ``cluster``."""
    rng = random.Random(seed)
    n_exact = round(n_docs * exact_share)
    n_clusters = round(n_docs * near_share / cluster)
    n_base = n_docs - n_exact - n_clusters * (cluster - 1)
    if n_base <= n_clusters:
        raise ValueError("too few base documents for these shares")
    texts = [
        [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        for _ in range(n_base)
    ]
    # the first n_clusters base texts seed the clusters; exact copies
    # are drawn from the rest, so no text is both copied and edited
    for words in texts[:n_clusters]:
        for _ in range(cluster - 1):
            edited = list(words)
            for _ in range(max(1, len(words) // EDIT_WORDS)):
                edited[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(edited)
    texts += [texts[rng.randrange(n_clusters, n_base)] for _ in range(n_exact)]
    strings = [" ".join(w) for w in texts]
    ids = list(range(len(strings)))
    rng.shuffle(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": strings,
            "lang": [_lang(rng) for _ in strings],
            "source": [f"src{rng.randrange(N_SOURCES)}" for _ in strings],
            "n_chars": pa.array([len(s) for s in strings], pa.int64()),
        }
    ).sort_by("doc_id")


def expected_counts(table: pa.Table) -> dict[str, int]:
    """The first three funnel stages, computed from the generated texts:
    documents and whitespace tokens in, documents passing the quality
    rule (at least 30 words, 3.8-5.2 characters per word, at most 55%
    repeated words), and distinct texts among those."""
    texts = table.column("text").to_pylist()
    passing = set()
    n_quality = 0
    for t in texts:
        w = t.split()
        n = len(w)
        if (n >= 30 and 3.8 <= sum(map(len, w)) * 1.0 / n <= 5.2
                and 1.0 - len(set(w)) / n <= 0.55):
            n_quality += 1
            passing.add(t)
    return {
        "n_raw": len(texts),
        "t_raw": sum(len(t.split()) for t in texts),
        "n_quality": n_quality,
        "n_exact": len(passing),
    }


def write_corpus(table: pa.Table, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))

"""Benchmark inputs, each a pure function of the run's ``--seed``.

The same seed gives byte-identical inputs; every seed gives the same sizes.
"""

from __future__ import annotations

import random

from wikicrawler_spark import corpus as C

#: the families whose docs carry in-corpus wikilinks, so a crawl from them
#: keeps growing for several waves
LINKED_FAMILIES = ("basic_article", "media_interleaved", "sections")
_DEFAULT_FAMILIES = tuple(f for f in C.FAMILIES if f not in ("hot_skew", "link_graph"))

#: the vocabulary of the ``documents`` table the repo's queries are tested on
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("de", "es", "fr", "zh")


def write_corpus(spark, path: str, n_docs: int, seed: int, files: int) -> None:
    """``n_docs`` docs over the 9 default families in ``files`` parquet
    files of one row group each."""
    C.corpus_df(spark, n_docs, seed=seed, partitions=files).write.parquet(path)


def crawl_seeds(seed: int, n_docs: int, per_family: int = 2) -> list[str]:
    """``per_family`` distinct seed docs from each linked family of a
    ``write_corpus`` corpus of ``n_docs`` docs."""
    rng = random.Random(f"crawl-seeds:{seed}")
    seeds = []
    for family in LINKED_FAMILIES:
        pos = _DEFAULT_FAMILIES.index(family)
        # corpus_df puts row v in family v % 9 at index v // 9
        n_family = (n_docs - pos + len(_DEFAULT_FAMILIES) - 1) // len(_DEFAULT_FAMILIES)
        seeds += [C.doc_id_for(family, i)
                  for i in sorted(rng.sample(range(n_family), per_family))]
    return seeds


def write_documents(path: str, seed: int, rows: int) -> None:
    """A ``documents`` table shaped like the repo's sf0.1 test data:
    8-100 words per row from ``DOC_VOCAB``, ``lang`` about 41% ``en`` and
    the rest spread over de/es/fr/zh, 20 sources, 5% near-duplicates (an
    earlier row's text plus " dup") and a few exact duplicates of those."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"documents:{seed}")
    texts, near_dups = [], []
    for i in range(rows):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
            near_dups.append(i)
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB)
                                  for _ in range(rng.randint(8, 100))))
    for i in rng.sample(range(rows), 8):
        earlier = [j for j in near_dups if j < i]
        if earlier:
            texts[i] = texts[rng.choice(earlier)]
    langs = ["en" if rng.random() < 0.41 else rng.choice(DOC_LANGS)
             for _ in range(rows)]
    table = pa.table({
        "doc_id": pa.array(range(rows), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(rows)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)

"""Seeded inputs the package's own generator (``sources.synth``) does not
make: the large dictionary and the curation corpus. The same seed gives
the same inputs; the corpus is Spark expressions over ``spark.range``, so
it is identical at any parallelism."""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anything2rdf_spark.operators.textstats import STOPWORDS
from anything2rdf_spark.sources import synth


def big_dictionary(spark: SparkSession, n_surfaces: int, n_ngrams: int, seed: int):
    """A ~``n_surfaces``-surface dictionary: the synth dictionary, plus
    ``n_ngrams`` filler-word 2- and 3-grams that really occur in the
    synth text (so first tokens such as "the" are hot), plus invented
    names that occur nowhere. Returns (DataFrame, surface list)."""
    rng = random.Random(seed)
    words = synth.FILLER_WORDS
    grams: set[str] = set()
    while len(grams) < n_ngrams:
        k = 2 if rng.random() < 0.7 else 3
        grams.add(" ".join(rng.choice(words) for _ in range(k)))
    rows = [tuple(r) for r in synth.entity_dictionary(spark).collect()]
    rows += [(f"g{i:05d}", g, [], "concept", "en") for i, g in enumerate(sorted(grams))]
    n_names = n_surfaces - len(rows)
    first = ["Aino", "Bruno", "Chiara", "Dmitri", "Esther", "Farid", "Greta", "Hiro"]
    rows += [
        (f"n{i:05d}", f"{rng.choice(first)} Q{rng.randrange(10**6):06d}x", [], "person", "en")
        for i in range(n_names)
    ]
    df = spark.createDataFrame(
        rows, "entity_id string, pref_label string, alt_labels array<string>, kind string, lang string"
    )
    surfaces = [r[1] for r in rows] + [a for r in rows for a in r[2]]
    return df, surfaces


# Content words for the corpus; stopwords come from the language-ID tables
# so lang_id sees each document's intended language.
_CONTENT = [
    "model", "query", "partition", "shuffle", "table", "vector", "stream",
    "window", "metric", "join", "filter", "batch", "cluster", "schema",
    "index", "record", "column", "engine", "storage", "network",
]
_LANGS = ["en", "en", "en", "en", "en", "en", "de", "fr", "es", "fi"]
_PII = [  # format strings over one number
    " mail jane.doe%d@example.org today",
    " call +358401234%03d soon",
    " host 10.0.%d.17 down",
    " card 4111 1111 1111 1111 used",
]


def documents(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """A curation corpus of ``n_docs`` (doc_id, text) rows: mostly English,
    some German/French/Spanish/Finnish, 3-60 words (short ones fail the
    quality length band), about 1 in 5 carrying PII (email, phone, IPv4,
    card number) and 1 in 20 an exact copy of another document."""

    def h(k, *cols):
        return F.xxhash64(*cols, F.lit(seed * 7919 + k))

    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # the text is a function of `src`; a copied document reuses another's
        F.when(F.pmod(h(1, "id"), F.lit(20)) == 0, F.pmod(h(2, "id"), F.lit(n_docs)))
        .otherwise(F.col("id"))
        .alias("src"),
    )
    vocab = F.array(
        *[F.array(*[F.lit(w) for w in STOPWORDS[lang] + _CONTENT]) for lang in _LANGS]
    )
    lang_idx = (F.pmod(h(3, "src"), F.lit(len(_LANGS))) + 1).cast("int")
    n_words = (F.pmod(h(4, "src"), F.lit(58)) + 3).cast("int")
    vocab_len = len(STOPWORDS["en"]) + len(_CONTENT)  # equal for every language
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.element_at(
            F.element_at(vocab, lang_idx),
            (F.pmod(h(5, "src", i), F.lit(vocab_len)) + 1).cast("int"),
        ),
    )
    k = F.pmod(h(6, "src"), F.lit(250)).cast("int")
    pii_kind = F.pmod(h(7, "src"), F.lit(20)).cast("int")
    pii = F.when(pii_kind < len(_PII), F.element_at(
        F.array(*[F.format_string(p, k) for p in _PII]),
        pii_kind + 1,
    )).otherwise(F.lit(""))
    return base.select("doc_id", F.concat(F.array_join(words, " "), pii).alias("text"))

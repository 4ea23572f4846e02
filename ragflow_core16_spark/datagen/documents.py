"""Deterministic documents-table generator at arbitrary scale.

The driver's ``documents.parquet`` tops out at 5k rows (sf0.1) — enough
for oracle comparison, far too small for operator-field scale evidence.
This generator produces the same table SHAPE at any row count, matching
the driver grammar (TESTDATA.md / FIXTURES.md §5): ``text`` is
single-space-separated lowercase ASCII words (≤8 chars) drawn from the
same 31-word query-engine vocabulary, ``lang`` ≈ 41% en / 15% each
de/zh/fr/es, ``source`` = src{i mod 20}, ``n_chars`` = len(text).

Rows are a pure function of (doc_id, seed) — identical bytes at any
parallelism, on one core or a thousand executors (the ``pages_df``
contract).  A deterministic ~1.5% of docs are NEAR-DUPLICATES of an
earlier doc in their 1000-id window (copy + 2 word substitutions), so
the dedup operator field has realistic work whose volume grows LINEARLY
with corpus size — the property the recorded shuffle-byte growth
measurements assert (BENCH/BASELINE.md, "Operator-field scale
evidence")."""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])

# the driver corpus's 31-word vocabulary (measured over sf0.1)
_VOCAB = ("the a data spark query engine table column row key value hash "
          "sort join group agg filter scan index merge batch stream window "
          "order part line fast slow small vector customer").split()
_LANGS = ["en", "en", "en", "de", "zh", "fr", "es"]
_DUP_MOD = 67           # ~1.5% of docs are near-dups
_DUP_WINDOW = 1000      # of an earlier doc within this id window


def _doc_words(doc_id: int, seed: int) -> list[str]:
    rng = random.Random(f"{seed}:doc:{doc_id}")
    n = rng.randint(15, 85)
    return [rng.choice(_VOCAB) for _ in range(n)]


def generate_document(doc_id: int, seed: int = 42) -> tuple:
    rng = random.Random(f"{seed}:meta:{doc_id}")
    if doc_id % _DUP_MOD == 0 and doc_id >= _DUP_WINDOW:
        # duplicate of an earlier doc in the window: alternating exact
        # copies (exact-dedup work) and 2-word-substituted near-dups
        # (minhash/jaccard work)
        src = doc_id - 1 - (doc_id // _DUP_MOD) % (_DUP_WINDOW - 1)
        words = _doc_words(src, seed)
        if (doc_id // _DUP_MOD) % 2:
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
    else:
        words = _doc_words(doc_id, seed)
    text = " ".join(words)
    return (doc_id, text, rng.choice(_LANGS), f"src{doc_id % 20}",
            len(text))


def documents_df(spark: SparkSession, n_rows: int, seed: int = 42,
                 start: int = 0) -> DataFrame:
    """Rows [start, start+n_rows) — a non-zero ``start`` generates a
    later ingest batch whose ids continue the corpus (its engineered
    dups then reference EARLIER ids, i.e. cross-day near-duplicates,
    exactly the day-2 maintenance scenario)."""
    def gen(batches):
        for pdf in batches:
            rows = [generate_document(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              DOCUMENTS_SCHEMA.fields])
    parts = max(8, n_rows // 25_000)
    return (spark.range(start, start + n_rows, numPartitions=parts)
            .mapInPandas(gen, DOCUMENTS_SCHEMA))

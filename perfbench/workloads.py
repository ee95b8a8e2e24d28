"""The benchmark's workloads: which registry keys are asked, at which
scale, and in which order. The seed fixes the query order; the data
never changes with the seed."""

from __future__ import annotations

import random
from dataclasses import dataclass

SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    keys: tuple[str, ...]
    # the input tables the keys read, whose parquet footers set-up reads
    tables: tuple[str, ...]


RECOMMEND = Workload(
    "recommend",
    "movie-recommender half: MLlib ALS fit and recommendations, per-user "
    "top-N window shuffle, no eager caches, no Python UDFs",
    (
        "ml_als_recommend",
        "rec_user_topn_window",
    ),
    ("lineitem", "orders"),
)

SENTIMENT = Workload(
    "sentiment",
    "sentiment and LLM-data half: TF-IDF, lexicon scoring, MinHash dedup "
    "over eager scoped caches, Arrow UDF workers",
    (
        "text_tfidf",
        "text_lexicon_sentiment",
        "dedup_near_minhash",
        "udf_pandas_vectorized",
    ),
    ("documents", "embeddings"),
)

WORKLOADS = {w.name: w for w in (RECOMMEND, SENTIMENT)}


def query_keys(workload: str, seed: int) -> list[str]:
    """The keys one pass of ``workload`` runs, in the seed's order."""
    keys = list(WORKLOADS[workload].keys)
    random.Random(seed).shuffle(keys)
    return keys

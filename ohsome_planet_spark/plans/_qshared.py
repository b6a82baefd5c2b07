"""Query registry: every operator from SURVEY.md §2 surfaced as a
(spark, sf_dir) -> DataFrame callable plus an equivalent DuckDB oracle SQL.

Each query exercises real engine code (operators/functions modules), not
ad-hoc SQL: the point is that the driver's DuckDB comparison certifies the
operator implementations. Column names are aligned between both sides;
floating-point outputs are rounded on both sides so value hashes are stable.

The OSM-domain operators run on histories DERIVED deterministically from the
driver's ``events`` table (TESTDATA.md) — the derivation is part of each
query and mirrored in its oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.geodesic import SPHERE_FACT, segment_length_expr
from ..functions.hashtags import hashtags_expr
from ..functions.text import (
    FP_MOD,
    dup_token_fraction_expr,
    fingerprint_expr,
    ngrams_expr,
    pii_count_expr,
    redact_pii_expr,
    hash60_expr,
    hash60_sql,
    lang_guess_expr,
    mean_token_len_expr,
    punct_ratio_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
    tokens_expr,
)
from ..functions.xz import G_DEFAULT, _n_elem, xz_code_expr, xz_level_expr
from ..operators.asof import asof_join
from ..session import fan_out
from ..operators.contributions import (
    build_contributions,
    node_contribution_events,
    relation_contribution_events,
    synthesize_contributions,
    way_contribution_events,
)
from ..operators.dedup import (
    MINHASH_PRIME,
    _perm_coeff,
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from ..operators.similarity import cosine_topk, kmeans_iterate, lsh_bucket_topk
from ..operators.spatial import join_countries, rect_feature
from ..sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def staged_sort(df: DataFrame, *cols) -> DataFrame:
    """Stage ``df`` once, THEN apply the deterministic output ``orderBy``.

    A global sort plans a range exchange, and ``ShuffleExchangeExec`` with
    ``RangePartitioning`` executes its child TWICE: once as the
    bounds-sampling job and once as the real shuffle write (the sampled
    RDD is not cached). Every gate query ends in an ``orderBy`` for
    deterministic output, so an expensive pipeline above it — Python
    decode seams, temporal merges, LSH joins — runs twice per action.
    Staging through :func:`..session.truncate_lineage` (localCheckpoint
    single-process, reliable ``checkpoint()`` on a cluster with a
    checkpoint dir) materializes the pipeline once; the sampling pass and
    the shuffle both read the staged blocks. Measured on a Python
    frame-decode row @ sf0.1: 7.0 → 3.9 s median (guide §2.4 — remove shuffle-adjacent recomputation; the sort itself
    is part of the query's contract and stays).

    The staged blocks are registered with the session's cache registry,
    so the bench / correctness harness frees them after each consuming
    action (the same lifecycle every other seam uses).

    ``SPARK_GRAFT_PLAIN_SORT=1`` (measurement hook) turns the staging off
    and returns the plain ``orderBy`` — the two variants of every
    converted query can then be built in ONE session for an interleaved
    A/B, the only measurement shape that survives this sandbox's 3-5x
    box-state noise. Results are identical either way."""
    import os

    from ..session import truncate_lineage

    if os.environ.get("SPARK_GRAFT_PLAIN_SORT"):
        return df.orderBy(*cols)
    return truncate_lineage(df).orderBy(*cols)




def all_queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(ORACLES)


__all__ = [n for n in dict(globals()) if not n.startswith("__")]

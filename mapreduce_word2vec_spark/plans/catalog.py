"""Central query catalog.

Every operator the engine claims (SURVEY §2.B) is registered here as a
named query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, an equivalent ANSI-SQL oracle string that DuckDB
runs on the same parquet tables. The driver hash-compares the two at
sf0.01 (``CORRECTNESS_r{N}.json``); queries without an oracle get a
rows-only check and are covered by golden/property tests instead.

Column-name contract: every computed column is aliased identically in
the Spark code and the oracle SQL — the driver sorts columns by name
before hashing.
"""

from __future__ import annotations

import importlib
import weakref
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str
    module: str = ""  # defining plans module (family, for coverage tests)


_REGISTRY: dict[str, Query] = {}

# Modules that register queries on import (order = SURVEY §7 build order).
_QUERY_MODULES = (
    "mapreduce_word2vec_spark.plans.text_queries",
    "mapreduce_word2vec_spark.plans.relational",
    "mapreduce_word2vec_spark.plans.embedding_queries",
    "mapreduce_word2vec_spark.plans.similarity_queries",
    "mapreduce_word2vec_spark.plans.dedup_queries",
    "mapreduce_word2vec_spark.plans.streaming_queries",
    "mapreduce_word2vec_spark.plans.multimodal_queries",
    "mapreduce_word2vec_spark.plans.udf_queries",
    "mapreduce_word2vec_spark.plans.source_queries",
)

_loaded = False

# The driver's CORRECTNESS check covers only the FIRST 50
# registrations, so registration order is verification budget. Rounds
# 1-9 verified 417 distinct queries driver-green (r9 window: 50/50,
# seventh consecutive all-green window). This round-10 window executes
# the close-out plan recorded in round 9 (comment below): the FINAL 15
# never-driver-tested names (9 oracle-backed + 6 rows-only whose value
# semantics are pinned by driver-green contract twins — see
# ROWS_ONLY.md) enter the window, completing driver coverage of the
# whole catalog; the other 35 slots become green sentinels sweeping
# EVERY family, weighted toward the queries whose internals this
# optimization round changed (scan-plan cache, one-pass MinHash,
# pipeline explode-emit, SQL-twin expressions) so a value regression
# in this round's rewrites surfaces in the driver's own check.
_PRIORITY = (
    # --- final never-driver-tested names (15: 9 oracle + 6 rows-only) ---
    "q22_prospect_customers",
    "agg_mad",
    "q12_priority_delay",
    "q21_late_suppliers",
    "ref_pipeline_documents",
    "w2v_synonyms",
    "doc_embedding_knn",
    "emb_pairwise_cos_histogram",
    "knn_bruteforce_blas",
    "brp_lsh_pairs",
    "dedup_mllib_minhash",
    "events_ohlc_bars",
    "events_time_weighted_avg",
    "events_heatmap_dow_hour",
    "multimodal_frames",
    # --- green sentinels (35), every family, r10-touched first ---
    # text (6) — pipeline explode-emit, winnow SQL twin, quality core
    "doc_winnowing",
    "pipeline_curation",
    "pipeline_pretrain_mix",
    "doc_quality",
    "doc_tfidf",
    "doc_wordcount",
    # dedup + graph (6) — one-pass MinHash, sized shingles, symmetrize
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_semantic_clustered",
    "dedup_exact",
    "graph_pagerank",
    # relational (8) — scan-plan cache covers every read
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "sort_limit",
    "merge_upsert",
    "window_topk_orders",
    "join_asof",
    # streaming (4)
    "stream_tumbling",
    "stream_session",
    "stream_interval_join",
    "events_sliding_distinct_bitmap",
    # similarity (5) — PQ/min_by rewrites
    "knn_bruteforce",
    "knn_ivf_pq",
    "knn_pq_adc",
    "emb_pq_quantize",
    "hybrid_search_rrf",
    # embedding (2)
    "emb_label_mean",
    "emb_norm_stats",
    # multimodal (2), udf (1), source (1)
    "multimodal_decode",
    "multimodal_tar_index",
    "udf_scalar_pandas",
    "source_csv_roundtrip",
)

# Round-11+ window plan: the catalog is now fully driver-verified
# (417 through r9 + the final 15 above minus the no_oracle rows-only
# names, which are pinned by their contract twins). From r11 the
# window is a pure rotating regression tripwire: keep one green
# sentinel per family and rotate the remainder across the catalog so
# every name is re-verified on a bounded cadence.

def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str, _fn: QueryFn = fn) -> DataFrame:
            # Ship this package to executor Python workers so queries
            # using pandas UDFs work from any driver cwd/deployment.
            from mapreduce_word2vec_spark.runtime import (
                ensure_workers_can_import,
                query_scope,
                release_scope,
            )

            ensure_workers_can_import(spark)
            # Timestamp results must be comparable against a TZ-naive
            # oracle regardless of how the caller built its session;
            # likewise the engine's documented classic-SQL semantics
            # (permissive casts, null on bad index) must hold even if
            # the caller's session left Spark 4's ANSI default on.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.ansi.enabled", "false")
            # The query's operator-level caches live exactly as long as
            # the DataFrame it returns: freed when that object is
            # garbage-collected (after the caller's last action), or at
            # once if construction fails. Not at interpreter exit: the
            # session and its caches go with the process.
            with query_scope() as scope:
                try:
                    out = _fn(spark, sf_dir)
                except BaseException:
                    release_scope(scope)
                    raise
            if scope:
                weakref.finalize(out, release_scope, scope).atexit = False
            return out

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(
            name, wrapped, oracle, (fn.__doc__ or "").strip(), fn.__module__
        )
        return fn

    return deco


def _load() -> None:
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _loaded = True


def all_queries() -> dict[str, Query]:
    _load()
    ordered = {n: _REGISTRY[n] for n in _PRIORITY if n in _REGISTRY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}

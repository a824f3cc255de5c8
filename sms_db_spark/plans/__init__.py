"""Named query surface: every SURVEY.md §2 operator as a (spark_fn, oracle_sql) pair."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import TUNED_PARITY_CONFS


@dataclass(frozen=True)
class QuerySpec:
    """One named query: a Spark callable plus (optionally) a DuckDB oracle.

    fn takes (spark, sf_dir) and returns a DataFrame. oracle is ANSI SQL over
    the pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings), or None for non-SQL-expressible
    operators (driver then records a weaker rows-only check).
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def clone_tuned_session(spark: SparkSession) -> SparkSession:
    """newSession() that KEEPS the parity pins: copies the live value of
    every TUNED_PARITY_CONFS key from the parent (falling back to the
    pinned default if the parent was never tuned). Use this — never a
    bare newSession() — inside query fns that need an isolated SQLConf
    (e.g. a streaming query sizing its own state partitions)."""
    session = spark.newSession()
    for k, default in TUNED_PARITY_CONFS.items():
        session.conf.set(k, spark.conf.get(k, default))
    return session


def _tuned(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin runtime-settable session confs at every query entry point.

    The driver's correctness gate calls these fns with its OWN vanilla
    SparkSession (200 shuffle partitions, machine-local tz). The confs
    (TUNED_PARITY_CONFS + a shuffle sizing) are runtime-settable SQL
    confs, so setting them makes plan shape and timestamp rendering
    identical under any caller's session — but they are applied on a
    CLONED session (`newSession()`: shared SparkContext and cached data,
    isolated SQLConf), never by mutating the caller's. The returned
    DataFrame stays bound to the clone, so the confs hold at
    execution/collect time, while the caller's own session is untouched.
    """

    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        session = spark.newSession()
        session.conf.set("spark.sql.shuffle.partitions", "32")
        for k, v in TUNED_PARITY_CONFS.items():
            session.conf.set(k, v)
        return fn(session, sf_dir)

    wrapper.__name__ = getattr(fn, "__name__", "query")
    wrapper.__doc__ = fn.__doc__
    return wrapper


# Driver-gate priority: the gate evaluates queries() in dict order under a
# wall-clock budget, so queries whose code CHANGED since their last
# driver-green row run first; everything else follows in module order.
#
# "Changed" means the query's EXECUTED CODE OBJECT changed — a function
# or constant on its call path, its oracle SQL, or the query fn itself —
# not merely that its containing module grew unrelated additions
# (byte-identical executed code burns no gate slot). The list records
# only the current change; earlier rationales live in git history.
# Trace CALLERS of the changed function, not the modules it lives near.
#
_CHANGED_THIS_ROUND = [
    # the AST caller closure of the helpers this change edits or deletes:
    # the one ranking pass (_top_by_kind, _hits, _mean_recall and the new
    # _recall_pass/_cos_recall tail), the probe expression (_probes_sql,
    # _with_probes, _pq_queries, _PROBE_SLOT), _argmax_sql's factored
    # _unit_sims_sql, _pq_shared, and the lanes rewritten onto them
    "q120_ann_recall",
    "q121_ivf_recall",
    "q122_multiprobe_recall",
    "q123_ann_serving",
    "q138_jl_projection_recall",
    "q51_ann_ivf_topk",
    "q133_hard_negatives",
    "q166_pq_adc_recall",
    "q167_ivfpq_serving",
    "q168_ivfadc_residual",
    "q174_ivfadc_clustered",
    "q177_pq_index_store_audit",
    "q86_kmeans_ivf_train",
    "q98_semantic_dedup",
    "q124_kmeans_hashed_seed_train",
]


def registry() -> dict[str, QuerySpec]:
    """All registered queries, in driver-gate priority order: the
    queries in _CHANGED_THIS_ROUND first, in its order, then the rest
    in module order."""
    from . import compat_queries, importer_queries, storage_queries
    from ..operators import (
        curation,
        dedup,
        maintenance,
        ngrams,
        similarity,
        sketches,
        textstats,
        multimodal,
        pipeline,
    )
    from ..operators import cogrouped
    from ..sources import jsonl

    specs: dict[str, QuerySpec] = {}
    for mod in (
        textstats,
        maintenance,
        storage_queries,
        dedup,
        similarity,
        pipeline,
        curation,
        ngrams,
        sketches,
        multimodal,
        jsonl,
        cogrouped,
        importer_queries,
        compat_queries,
    ):
        overlap = specs.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        specs.update(mod.QUERIES)

    changed = [n for n in _CHANGED_THIS_ROUND if n in specs]
    ordered = changed + [n for n in specs if n not in _CHANGED_THIS_ROUND]
    return {
        name: QuerySpec(_tuned(specs[name].fn), specs[name].oracle, specs[name].doc)
        for name in ordered
    }

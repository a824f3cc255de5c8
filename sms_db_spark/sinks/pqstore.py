"""Persisted IVF-PQ serving index: the trained ANN state (coarse
centroids, PQ codebooks, corpus code table, coarse assignment) committed
as a versioned multi-table store artifact with parameter metadata, plus
the load-and-serve read path (VERDICT r16 item 1 — the gap between "an
index benchmark" and "a vector store": an index is BUILT once by the
ingest pipeline and SERVED many times by sessions that never train).

Layout:

    <store>/centroids/   versioned store (sinks/versioned.py)
    <store>/codebooks/   versioned store
    <store>/codes/       versioned store
    <store>/assigned/    versioned store
    <store>/_PQ_META     atomic JSON: training params + the exact
                         committed version name PER TABLE

Consistency contract: each table commits through the versioned store's
crash-safe pointer discipline (data, then marker, then head flip), and
the artifact-level `_PQ_META` lands LAST via `write_text_atomic` —
naming the exact four version names that form one coherent index. A
reader resolves the meta document and reads those PINNED versions
(`versioned.read_version`), never the per-table heads, so a later
re-train that has committed two of four tables when the reader arrives
cannot tear the set: the meta still names the previous complete
quadruple, and the old versions stay on disk until pruned (the same
readers-vs-vacuum contract as the underlying stores). A crash anywhere
before the meta flip leaves the PREVIOUS meta intact and the new
versions as unreferenced commits — recoverable garbage, never a
half-index.

Parameter metadata follows sinks/bandstore.py's precedent: the store
records the geometry it was trained with (dim, subspaces, codes per
codebook, Lloyd rounds, coarse K, corpus variant), and `load_pq_index`
REFUSES a store whose parameters differ from the consumer's build —
serving PQ codes against a mismatched codebook geometry returns
garbage scores, not an error, so the mismatch must be caught at load.

Scale: the committed state is the memory-bounded serving layout
(operators/similarity.py's 100 TB story) — ~(8 + PQ_M) bytes per
vector for codes+assignment plus O(K·PQ_M) codebook rows; float
vectors stay in the corpus table and are touched only by the re-rank.
Parquet per table means the serving tier loads codes/assignment with
ordinary partitioned scans and broadcasts the two small tables.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..fsutil import read_text, write_text_atomic
from ..session import concurrent
from . import versioned

_META_NAME = "_PQ_META"

# the four tables that form one serving index (schema in parentheses):
#   centroids (cid, c_emb)   — coarse router, K rows, broadcast side
#   codebooks (m, cid, c)    — PQ codebooks, K·PQ_M rows, broadcast side
#   codes     (vec_id, codes)— encoded corpus, the RAM-resident bulk
#   assigned  (vec_id, cid)  — IVF list per vector
PQ_INDEX_TABLES = ("centroids", "codebooks", "codes", "assigned")


def _meta_path(store: str) -> str:
    return store.rstrip("/") + "/" + _META_NAME


def read_pq_meta(spark: SparkSession, store: str) -> dict:
    text = read_text(spark, _meta_path(store))
    if text is None:
        raise FileNotFoundError(f"PQ index at {store} has no {_META_NAME}")
    return json.loads(text)


def commit_pq_index(
    spark: SparkSession,
    store: str,
    tables: dict[str, DataFrame],
    params: dict,
) -> dict:
    """Commit a trained index (all four PQ_INDEX_TABLES) as the store's
    new live artifact and return the written meta document. Tables land
    first — each through its versioned store's own commit discipline —
    and the meta names their exact versions in one atomic write at the
    end (see module contract)."""
    missing = set(PQ_INDEX_TABLES) - tables.keys()
    extra = tables.keys() - set(PQ_INDEX_TABLES)
    if missing or extra:
        raise ValueError(
            f"commit_pq_index: tables must be exactly {PQ_INDEX_TABLES} "
            f"(missing {sorted(missing)}, unexpected {sorted(extra)})"
        )
    root = store.rstrip("/")
    # the four table commits target four independent sub-stores — they
    # run as concurrent driver jobs (guide §2.6; r17). The module
    # contract is untouched: the meta document still lands LAST, in one
    # atomic write, after every table version exists.
    results = concurrent(
        *[
            lambda n=name: versioned.commit_version(
                spark, f"{root}/{n}", tables[n]
            )
            for name in PQ_INDEX_TABLES
        ]
    )
    versions = dict(zip(PQ_INDEX_TABLES, results))
    meta = {"params": params, "tables": versions}
    write_text_atomic(spark, _meta_path(store), json.dumps(meta, sort_keys=True))
    return meta


def load_pq_index(
    spark: SparkSession, store: str, expect_params: dict | None = None
) -> dict:
    """Load the live index: resolve `_PQ_META`, verify the training
    parameters against the consumer's build (refused on mismatch — the
    bandstore precedent; a geometry mismatch serves garbage scores
    silently otherwise), and return {"params": ..., plus one DataFrame
    per PQ_INDEX_TABLES entry} read from the meta-pinned versions."""
    meta = read_pq_meta(spark, store)
    if expect_params is not None and meta["params"] != expect_params:
        raise ValueError(
            f"PQ index parameter mismatch: store {meta['params']}, "
            f"build {expect_params} — retrain/recommit the index instead"
        )
    root = store.rstrip("/")
    out: dict = {"params": meta["params"]}
    for name in PQ_INDEX_TABLES:
        out[name] = versioned.read_version(
            spark, f"{root}/{name}", meta["tables"][name]
        )
    return out

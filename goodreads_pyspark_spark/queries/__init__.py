"""Query registry — the bridge to the driver's correctness gate.

Every operator in SURVEY.md §2 (plus the large-scale data-pipeline
operators) registers a named query here: a Spark implementation
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, an equivalent
DuckDB oracle SQL string. ``__spark_entry__.py`` exposes the registry to
the driver.

Oracle-parity rules (hard-won; keep them):
  * Alias every computed column identically on both sides.
  * Sums/avgs of doubles go through DECIMAL so both engines accumulate
    exactly, then cast to DOUBLE at the end (float addition order is
    nondeterministic under parallel aggregation; decimal addition is exact
    and associative). See ``dsum``/``davg`` helpers.
  * DuckDB integer SUM returns HUGEINT — cast oracle sums to BIGINT.
  * Any ORDER BY ... LIMIT must have a unique total order (append a key
    column as tiebreak) or ties make the row set nondeterministic.
  * Arrays in result cells must be sorted on both sides.
  * Timestamp ops pin the session to UTC (configure_for_oracle).
"""

from __future__ import annotations

import functools
import re
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# The driver gates the first 50 exported queries in ITERATION order each
# round (it does not re-sort — proven by CORRECTNESS_r08, see
# _export_sorted). Queries listed here are exported with an ``a_``
# prefix and all_queries()/all_oracles() sort by exported name, so
# window members genuinely come first. Canonical names live in the
# @query decorators and never change — tests, PRE_MATERIALIZATION keys,
# and cross-references all use canonical names; only the driver-facing
# export sees the prefix.
#
# Staleness policy (restated r9 so it is arithmetically auditable; at
# 271 registered queries × 50-slot windows the floor is ceil(271/50) =
# 6): every query's newest green CORRECTNESS row must be ≤6 rounds old.
# Window selection each round, in priority order:
#   1. additions — queries that have never had a driver-green row;
#   2. code-changed — queries whose kernel was rewritten since their
#      last green row;
#   3. oldest last-green round first, sorted-name tiebreak, with any
#      explicitly promised carry-overs (slot-yields) at the front of
#      their age class.
# COVERAGE.md carries the per-query last-green ledger this is computed
# from.
#
# r13 window (VERDICT r12 item 9): rule 1 — io22, the declared
# POST_FREEZE addition from r12 close (the only never-gated row). Rule
# 2 code-changed re-gates: the r12 post-freeze overlap edits
# (m02/g10/d69/io18 — VERDICT's own list; m01/m04 are covered below as
# r7 rows) and e35 (nprobe curve restructured to a single scored table
# this round). Rule 3 is FORCED this round: all 44 r7-green rows are
# exactly at the 6-round staleness floor, so every one of them must
# re-gate now — 1 + 5 + 44 = 50, the window writes itself. The other
# r13-touched queries (g05/g11/g14/g17: cached-plan AQE scope opt-in;
# io22's checkpoint restructure is rule-1 anyway) change runtime
# partitioning only, never values; each passed this round's two full
# 280-query sf0.01 oracle sweeps, and the flag-scope members are
# driver-green r11/r12, so deferring their re-gate keeps the staleness
# floor intact where adding them would push r7 rows past it.
#: Queries registered AFTER this round's window froze (the io19/io20
#: convention from r11): they carry no driver-green row yet and LEAD the
#: next round's window as policy-rule-1 additions. The staleness pytest
#: exempts exactly this set from the "never-gated rows must be in the
#: window" assertion; rotate it to empty when the next window is cut.
POST_FREEZE_ADDITIONS: frozenset[str] = frozenset()

GATE_WINDOW: frozenset[str] = frozenset(
    {
        # --- policy rule 1: never driver-gated (r12 POST_FREEZE)
        "io22_containment_ingest_loop",
        # --- policy rule 2: code-changed since last green
        "m02_kmeans_silhouette",
        "g10_personalized_pagerank",
        "d69_ensemble_tuning_sweep",
        "io18_containment_index_publish",
        "e35_ivfpq_nprobe_curve",
        # --- policy rule 3: ALL 44 r7 rows (at the 6-round floor)
        "g04_pagerank",
        "g16_feature_propagation",
        "h02_filtered_vector_search",
        "h03_rag_context_pack",
        "io01_source_roundtrip",
        "io14_snapshot_time_travel",
        "m01_als_rmse",
        "m03_lda_topics",
        "m04_pic_clusters",
        "m05_tfidf_pca_norms",
        "mm06_perceptual_buckets",
        "q01_pricing_summary",
        "q02_top_customers",
        "q03_segment_stats",
        "q04_latest_order_per_customer",
        "q06_segments_with_pending_orders",
        "q07_customers_without_orders",
        "q08_customers_per_region",
        "q09_suppliers_per_nation",
        "q10_part_filters",
        "q11_top_orders_per_priority",
        "q12_active_nationkeys",
        "q13_rollup_region_nation",
        "q14_qty_pivot_by_linestatus",
        "q15_order_tiers",
        "q16_part_color_words",
        "q17_dominant_segment_per_nation",
        "q18_status_priority_combos",
        "q19_customer_lookup",
        "q20_order_scan_sorted",
        "q21_median_price_by_flag",
        "q22_salted_status_counts",
        "q23_sql_facade_subqueries",
        "q24_cube_status_priority",
        "q25_unpivot_part_measures",
        "q26_late_shipments",
        "q27_approx_sketches",
        "q28_shipping_priority",
        "t01_daily_rollup",
        "t02_hourly_by_type",
        "t03_user_running_total",
        "t04_user_sessions",
        "t05_event_type_share",
        "t25_lasttouch_attribution",
    }
)

# Shared-kernel ledger (ADVICE r9): a few session-scoped memos
# (localCheckpoint-backed) deliberately survive the bench harness's
# clearCache, so per-query bench timings measure MARGINAL cost given a
# warm kernel — correct, but uninterpretable without the build cost.
# Each memoized accessor registers here; bench.py forces every kernel up
# front, times it as its own line, and records this consumer map in
# BENCH_DETAIL so the amortization is explicit. Registration order is
# definition order, which is dependency order (neardup_cc consumes
# jac05_pairs, d68_standing_index consumes ensemble_sig_sizes), so
# builds are timed against warm upstream kernels, never double-counted.
SHARED_KERNELS: dict[str, dict] = {}


def shared_kernel(name: str, consumers: tuple[str, ...]):
    """Memoize a kernel accessor ``(spark, sf_dir) -> result`` once per
    (session, sf_dir) and register it in :data:`SHARED_KERNELS` with the
    bench-facing list of amortizing query names.

    Kernels are deterministic, so one build per ``(applicationId,
    sf_dir)`` is result-identical to rebuilding per consumer. The
    accessor body materializes its result with ``localCheckpoint()``,
    not ``cache()``: the result is output-sized, and RDD checkpoint
    blocks survive ``spark.catalog.clearCache()``, which the bench
    harness runs between queries and which would otherwise silently
    evict the kernel and re-run it per consumer. (On a real cluster this
    would be a reliable checkpoint — localCheckpoint dies with an
    executor; single-JVM local mode has no such loss.)

    A miss evicts entries of stopped sessions (at most a handful of
    keys ever live). Lookup and build hold a lock of this kernel only,
    so concurrent callers (``run_concurrent`` thunks) build once; builds
    nest across kernels (neardup_cc calls jac05_pairs), which a single
    shared lock would deadlock.
    """

    def deco(build):
        memo: dict[tuple[str, str], object] = {}
        lock = threading.Lock()

        @functools.wraps(build)
        def accessor(spark: SparkSession, sf_dir: str):
            app = spark.sparkContext.applicationId
            key = (app, sf_dir)
            with lock:
                if key not in memo:
                    for k in [k for k in memo if k[0] != app]:
                        del memo[k]
                    memo[key] = build(spark, sf_dir)
                return memo[key]

        SHARED_KERNELS[name] = {"build": accessor, "consumers": list(consumers)}
        return accessor

    return deco


def canonical(name: str) -> str:
    """Strip the ``a_`` gate-window prefix, returning the registry key.

    Only ``a_`` is ever added by ``exported_name``; stripping is further
    guarded on the remainder being a registered key so a future query
    legitimately named ``a_something`` would not be silently renamed.
    """
    if name.startswith("a_") and name[2:] in REGISTRY:
        return name[2:]
    return name


def exported_name(name: str) -> str:
    """Driver-facing name: window members sort first via the a_ prefix."""
    return f"a_{name}" if name in GATE_WINDOW else name


def get_query(name: str) -> Query:
    """Prefix-insensitive registry lookup (tests use canonical names)."""
    _load_all()
    return REGISTRY[canonical(name)]

# Queries that checkpoint their (small) result to release working caches
# return a frame whose plan is an opaque RDD scan. They expose the LAZY
# pre-checkpoint frame here, keyed by registered query name, so plan
# audits (tests/test_plans.py) can assert on the real join/aggregate
# shape. A side registry rather than an attribute on the DataFrame: an
# attribute is silently lost through any further transformation/copy,
# which would make the plan test vacuous instead of failing.
PRE_MATERIALIZATION: dict[str, DataFrame] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a Spark query (and its DuckDB oracle)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        key = canonical(name)
        REGISTRY[key] = Query(name=key, spark_fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _export_sorted():
    """Registry items sorted by the *driver-facing* name.

    The driver gates the first 50 queries in dict-iteration order (it
    demonstrably does NOT re-sort: CORRECTNESS_r08 gated the first 50
    canonical-sorted names because r8 sorted by canonical key here while
    renaming via the a_ prefix — the rename never moved the rows). Sorting
    by exported_name makes insertion order == sorted-export order, so the
    a_-prefixed window members genuinely reach the driver first.
    """
    return sorted(REGISTRY.items(), key=lambda kv: exported_name(kv[0]))


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {exported_name(n): q.spark_fn for n, q in _export_sorted()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        exported_name(n): q.oracle for n, q in _export_sorted() if q.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from goodreads_pyspark_spark.queries import (  # noqa: F401
        documents,
        embeddings,
        goodreads_sql,
        graph,
        hybrid,
        io,
        ml,
        multimodal,
        relational,
        timeseries,
    )

    _LOADED = True

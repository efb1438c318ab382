"""SparkSession factory with scale-appropriate defaults.

The reference notebook (reference: goodreads.py, Databricks runtime) never
configures Spark; we centralize session construction so every entry point
(tests, bench, pipelines) gets the same AQE/shuffle/Arrow posture.

Local mode is a correctness harness only — the config keys chosen here are
the ones that matter on a real multi-executor cluster too (AQE, adaptive
skew join, shuffle partition count, Arrow transfer for the few Pandas-UDF
paths).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


#: The cached-plan AQE-coalescing flag (r12 A/B: SCALING.md addendum 12 /
#: commit 90aa1f3; r13 re-validation: OPTIMIZATION_r13.md). It extends
#: AQE partition coalescing to plans that materialize a cache(), which
#: is what iterative graph loops want (per-round cached state coalesces
#: to byte-sized partitions; r12/r13 A/B: g14 1.39-1.47x, g05 1.23x
#: faster with it). Set GLOBALLY (r12) it SERIALIZES the e33-e35 IVFPQ
#: family (their small cached explode frames coalesce to ~1 partition
#: and every downstream window runs single-task: e33 2.2x, e34 1.5x,
#: e35 2.8x slower). So it is never set at session build: callers where
#: it measurably wins opt in through
#: ``graph.frames.coalesce_cached_state``, which scopes it with
#: :func:`cached_plan_coalescing`. The session factory sets no other
#: tuning flag: coalescePartitions.parallelismFirst=false + 16m advisory
#: were REJECTED on measurement in r12 — compute-dense, byte-light
#: stages (tokenize/shingle, LPA rounds) lost core coverage: g03 1.78x,
#: d54 1.34x, d65 1.18x.
CACHED_PLAN_AQE_FLAG = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _env_conf_overrides() -> list[tuple[str, str]]:
    """``SPARK_GRAFT_CONF="k=v;k=v"`` — deployment-specific overrides.

    ';'-separated (like tools/r12_ab.py --confs) so conf values that
    legitimately contain commas (extraJavaOptions, list-valued confs)
    stay expressible; ','-separated pairs are still accepted for
    backwards compatibility when no ';' is present. Malformed items
    (no '=') warn instead of vanishing (ADVICE r12).
    """
    import sys

    raw = os.environ.get("SPARK_GRAFT_CONF", "")
    if not raw.strip():
        return []
    items = raw.split(";") if ";" in raw else raw.split(",")
    out = []
    for item in items:
        if "=" in item:
            k, v = item.split("=", 1)
            out.append((k.strip(), v.strip()))
        elif item.strip():
            print(
                f"# SPARK_GRAFT_CONF: ignoring malformed item {item!r}"
                " (expected key=value)",
                file=sys.stderr,
            )
    return out


def _default_driver_mem() -> str:
    """Half of host memory, at most 32g. A heap ceiling above the host's
    memory lets the JVM grow its heap until the kernel's OOM killer ends
    it (seen on a 15 GB host: the 32g-capped test JVM reached 15 GB RSS)."""
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(32, host_gb // 2))}g"


def get_spark(app_name: str = "goodreads_pyspark_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if cpus is None:
        n = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{n}]" if n else "local[*]"
        shuffle = int(n) if n else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        shuffle = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # ~cores, not the 200 default: local shuffles are driver-disk bound.
        # On a real cluster this would be sized to cluster cores × 2-3.
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
    )
    # SPARK_GRAFT_CONF="k=v;k=v" lets cluster deployments re-tune
    # without code edits (byte-sized candidates were A/B'd and rejected
    # on measurement — see the CACHED_PLAN_AQE_FLAG comment).
    for k, v in _env_conf_overrides():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SCOPED_LOCK = threading.Lock()
#: (session id, conf key) -> [refcount, original value or None]
_SCOPED_STATE: dict[tuple[int, str], list] = {}


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the duration of a block, refcounted.

    SQL confs are session-global, and operators that overlap jobs from
    driver threads (g10's two concurrent PPR runs both truncating
    per-round state) can nest/interleave scopes for the same key — a
    plain save/set/restore would let the first exiting thread restore
    the original under the second, or the last exiting thread "restore"
    the scoped value permanently. Refcount per (session, key): the first
    enter saves+sets, the last exit restores/unsets. All scopes for a
    key must use the SAME value (true here — the only current use is
    the cached-plan AQE flag).
    """
    sk = (id(spark), key)
    with _SCOPED_LOCK:
        st = _SCOPED_STATE.get(sk)
        if st is None:
            orig = spark.conf.get(key, None)
            spark.conf.set(key, value)
            _SCOPED_STATE[sk] = st = [0, orig]
        st[0] += 1
    try:
        yield
    finally:
        with _SCOPED_LOCK:
            st[0] -= 1
            if st[0] == 0:
                orig = st[1]
                if orig is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, orig)
                _SCOPED_STATE.pop(sk, None)


def cached_plan_coalescing(spark: SparkSession):
    """Scope the cached-plan AQE-coalescing flag ON (see the
    CACHED_PLAN_AQE_FLAG comment: global=true serializes the IVFPQ
    family, so only measured callers opt in, through
    ``graph.frames.coalesce_cached_state``)."""
    return scoped_conf(spark, CACHED_PLAN_AQE_FLAG, "true")


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable configs needed for DuckDB-oracle comparability.

    The driver hands us an externally built session; these keys are safe to
    set post-construction. UTC pins timestamp semantics so parquet instants
    group/truncate identically to DuckDB's naive-UTC reads.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark

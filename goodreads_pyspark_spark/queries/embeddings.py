"""Similarity-search queries over ``embeddings`` (array<float>, 64-dim).

Cosine math is mirrored between engines via long-form (position, value)
joins and decimal-exact component sums — see ``similarity/ann.py``. The
oracle's ``generate_subscripts`` is 1-based while Spark's ``posexplode``
is 0-based; position is only a join key except in the LSH plane hash,
where the oracle subtracts 1 to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from goodreads_pyspark_spark.operators import bounded_rank
from goodreads_pyspark_spark.queries import PRE_MATERIALIZATION, query
from goodreads_pyspark_spark.queries._helpers import tbl
from goodreads_pyspark_spark.similarity import (
    brute_force_knn,
    cosine_neardup_pairs,
    sign_lsh_buckets,
)

_LONG = """
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings)
"""

_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS DOUBLE)"


# --- exact brute-force k-NN -------------------------------------------------
@query(
    "e01_knn_vec0",
    oracle=f"""
    WITH {_LONG},
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (
      SELECT vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> 0
      GROUP BY vec_id)
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="Exact cosine top-10 of vec 0 — the ANN correctness baseline "
    "(similarity/ann.py brute_force_knn).",
)
def e01_knn_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return brute_force_knn(emb, query_id=0, k=10)


# --- exact near-dup pairs ---------------------------------------------------
@query(
    "e02_cosine_neardup_pairs",
    oracle=f"""
    WITH {_LONG},
    norms AS (SELECT vec_id, {_DSUM.format(expr='v * v')} AS n2
              FROM e GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DSUM.format(expr='a.v * b.v')} AS dot
      FROM e a JOIN e b USING (pos) WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(dot / (SQRT(na.n2) * SQRT(nb.n2)), 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = id_a
    JOIN norms nb ON nb.vec_id = id_b
    WHERE ROUND(dot / (SQRT(na.n2) * SQRT(nb.n2)), 6) >= 0.4
    """,
    doc="All-pairs cosine ≥0.4 (embedding near-dup). Exact form; at scale "
    "this runs within LSH buckets only.",
)
def e02_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.4)


# --- sign-LSH bucketing (the ANN scale path) --------------------------------
def _bucket_cte(planes: int = 8) -> str:
    votes = ",\n           ".join(
        f"{_DSUM.format(expr=f_case)} AS s{p}"
        for p, f_case in (
            (
                p,
                f"CASE WHEN ascii(substr(md5('p{p}_' || CAST(pos - 1 AS VARCHAR)), 1, 1)) % 2 = 1 "
                f"THEN v ELSE -v END",
            )
            for p in range(planes)
        )
    )
    bucket = " + ".join(f"CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END" for p in range(planes))
    return f"""
    v AS (SELECT vec_id,
           {votes}
           FROM e GROUP BY vec_id),
    buckets AS (SELECT vec_id, CAST({bucket} AS INTEGER) AS bucket FROM v)
    """


@query(
    "e03_lsh_buckets",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()}
    SELECT vec_id, bucket FROM buckets
    """,
    doc="8-plane sign-LSH bucket per vector (similarity/ann.py): the "
    "shuffle-light candidate generator for ANN at scale.",
)
def e03_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return sign_lsh_buckets(emb, planes=8)


# --- ANN: exact rerank within the query's bucket ----------------------------
@query(
    "e04_ann_topk_vec0",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    cand AS (
      SELECT e.vec_id, pos, v FROM e
      JOIN buckets USING (vec_id)
      WHERE bucket = (SELECT bucket FROM buckets WHERE vec_id = 0)
        AND vec_id <> 0),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (
      SELECT vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM cand JOIN q USING (pos)
      GROUP BY vec_id)
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 5
    """,
    doc="ANN query: LSH bucket as candidate set, exact cosine rerank, "
    "top-5. Recall vs e01 is the bucketing quality measure.",
)
def e04_ann_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = tbl(spark, sf_dir, "embeddings")
    buckets = sign_lsh_buckets(emb, planes=8)
    qb = buckets.filter(F.col("vec_id") == 0).select(F.col("bucket").alias("qbucket"))
    cand = (
        emb.join(buckets, "vec_id")
        .join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding")
    )
    with_query = cand.unionByName(emb.filter(F.col("vec_id") == 0).select("vec_id", "embedding"))
    return brute_force_knn(with_query, query_id=0, k=5)


# --- per-label centroids (long form) ----------------------------------------
@query(
    "e05_label_centroids",
    oracle=f"""
    WITH {_LONG}
    SELECT label, pos,
           ROUND({_DSUM.format(expr='v')} / COUNT(*), 6) AS centroid_val
    FROM e JOIN embeddings USING (vec_id)
    GROUP BY label, pos
    """,
    doc="Per-label centroid components (long form): the embedding-space "
    "aggregation primitive behind IVF coarse quantizers and cluster "
    "audits. Rounded to 6dp: Spark's double->decimal cast rounds via the "
    "shortest string repr while DuckDB expands the exact binary value, so "
    "raw 12dp sums can differ ~1e-14; the final rounding absorbs that.",
)
def e05_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    # pos is an OUTPUT column here: shift posexplode's 0-based index to the
    # oracle's 1-based generate_subscripts convention.
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    joined = e.join(emb.select("vec_id", "label"), "vec_id")
    return joined.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid_val")
    )


# --- IVF ANN, oracle'd via the full-probe == exhaustive differential --------
@query(
    "e06_ivf_knn_vec1",
    oracle=f"""
    WITH {_LONG},
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 1),
    comps AS (
      SELECT vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> 1
      GROUP BY vec_id)
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="IVF ANN (similarity/ivf.py): KMeans coarse quantizer, probe-list "
    "candidate gen, exact rerank. Registered at nprobe == n_centroids, "
    "where IVF provably degrades to exhaustive search — so the exact "
    "brute-force SQL is a true oracle for the whole IVF path (centroid "
    "build, assignment, probe selection, rerank). Partial-probe recall "
    "is covered by tests/test_corpus_pipeline.py.",
)
def e06_ivf_knn_vec1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn

    emb = tbl(spark, sf_dir, "embeddings")
    return ivf_knn(emb, query_id=1, k=10, nprobe=8, n_centroids=8)


# --- IVF ANN at nprobe < n_centroids (the actual approximate regime) --------
@query(
    "e08_ivf_partial_probe_vec1",
    oracle=f"""
    WITH {_LONG},
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, v AS cval
              FROM e WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_DSUM.format(expr='v * cval')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='cval * cval')} AS c2
      FROM e JOIN cents c USING (pos)
      GROUP BY e.vec_id, c.cid),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    probes AS (
      SELECT cid FROM (
        SELECT cid,
               ROW_NUMBER() OVER (
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored WHERE vec_id = 1) WHERE rn <= 2),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 1),
    comps AS (
      SELECT e.vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos)
      WHERE e.vec_id <> 1
        AND e.vec_id IN (SELECT vec_id FROM best JOIN probes USING (cid))
      GROUP BY e.vec_id)
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="IVF ANN in its actual approximate regime — nprobe=2 of 8 probe "
    "lists (similarity/ivf.py ivf_knn), the recall-vs-cost path e06's "
    "full-probe differential cannot see. Centroids are sampled corpus "
    "vectors (ids 0-7, similarity/ivf.py sampled_centroids) so the "
    "oracle replays the identical quantizer in SQL; every cosine is a "
    "decimal-exact component sum, making assignment and probe ranking "
    "bit-reproducible across engines. Candidate restriction (the "
    "IN-probes semi join) is the part that scales: at 100 TB only "
    "nprobe/k of the corpus is scored.",
)
def e08_ivf_partial_probe_vec1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn, sampled_centroids

    emb = tbl(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, k=8)
    return ivf_knn(emb, query_id=1, k=10, nprobe=2, centroids_long=cents)


# --- int8 quantization ------------------------------------------------------
@query(
    "e07_int8_quantization",
    oracle=f"""
    WITH {_LONG},
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    q AS (SELECT e.vec_id, e.pos,
                 CAST(floor(e.v * 127.0 / amax + 0.5) AS BIGINT) AS code,
                 abs(e.v - floor(e.v * 127.0 / amax + 0.5) * amax / 127.0)
                   AS err
          FROM e JOIN amax USING (pos))
    SELECT vec_id,
           string_agg(code, ',' ORDER BY pos) AS codes,
           MAX(err) AS max_abs_err
    FROM q GROUP BY vec_id
    """,
    doc="Embedding int8 quantization (similarity/quantize.py): symmetric "
    "per-dimension scale, floor(x+0.5) rounding (engine-portable, unlike "
    "round-half), codes integer-exact across engines and reconstruction "
    "error bit-identical (pure IEEE double ops in the same order). The "
    "4-8x storage compression step of a vector pipeline.",
)
def e07_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import int8_quantize

    emb = tbl(spark, sf_dir, "embeddings")
    return int8_quantize(emb)


# --- batch exact kNN ---------------------------------------------------------
@query(
    "e09_batch_knn",
    oracle=f"""
    WITH {_LONG},
    q AS (SELECT vec_id AS qid, pos, v AS qv FROM e WHERE vec_id < 8),
    comps AS (
      SELECT qid, vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> qid
      GROUP BY qid, vec_id),
    r AS (SELECT qid, vec_id,
                 ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
          FROM comps),
    ranked AS (SELECT qid, vec_id, cosine,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cosine DESC, vec_id) AS rnk
               FROM r)
    SELECT qid, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    doc="Exact top-3 cosine neighbors for a BATCH of 8 query vectors in "
    "one corpus pass (similarity/ann.py batch_knn): queries broadcast "
    "long-form, one (qid,id)-keyed shuffle, per-query window cut — "
    "Q queries never cost Q corpus scans.",
)
def e09_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import batch_knn

    emb = tbl(spark, sf_dir, "embeddings")
    return batch_knn(emb, n_queries=8, k=3)


# --- product quantization ----------------------------------------------------
@query(
    "e10_pq_codes",
    oracle=f"""
    WITH {_LONG},
    c AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < 16),
    d2 AS (
      SELECT e.vec_id, (e.pos - 1) // 16 AS sub, c.cid,
             {_DSUM.format(expr='(e.v - c.cval) * (e.v - c.cval)')} AS d2
      FROM e JOIN c USING (pos)
      GROUP BY e.vec_id, (e.pos - 1) // 16, c.cid),
    best AS (SELECT vec_id, sub, cid, d2,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2, cid) AS rn
             FROM d2)
    SELECT vec_id,
           string_agg(CAST(cid AS VARCHAR), ',' ORDER BY sub) AS pq_code,
           {_DSUM.format(expr='d2')} AS total_d2
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
    doc="Product-quantization codes (similarity/quantize.py pq_codes): "
    "64-dim vectors → 4 subspace centroid ids + decimal-exact "
    "reconstruction error. Deterministic sampled codebooks (the IVF "
    "convention) let the oracle replay L2 assignment bit-exactly. "
    "Storage-compression stage of a 100 TB vector pipeline: 256 bytes "
    "→ 4 small ints per vector.",
)
def e10_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import pq_codes

    emb = tbl(spark, sf_dir, "embeddings")
    return pq_codes(emb, n_sub=4, sub_dim=16, ksub=16)


# --- ANN recall audit --------------------------------------------------------
@query(
    "e11_ann_recall_audit",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    cand AS (
      SELECT e.vec_id, pos, v FROM e
      JOIN buckets USING (vec_id)
      WHERE bucket = (SELECT bucket FROM buckets WHERE vec_id = 0)
        AND vec_id <> 0),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    ann AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               {_DSUM.format(expr='v * qv')} AS dot,
               {_DSUM.format(expr='v * v')} AS n2,
               {_DSUM.format(expr='qv * qv')} AS q2
        FROM cand JOIN q USING (pos) GROUP BY vec_id)
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 5),
    exact AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               {_DSUM.format(expr='v * qv')} AS dot,
               {_DSUM.format(expr='v * v')} AS n2,
               {_DSUM.format(expr='qv * qv')} AS q2
        FROM e JOIN q USING (pos) WHERE vec_id <> 0 GROUP BY vec_id)
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 5)
    SELECT CAST(5 AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM ann JOIN exact USING (vec_id))
                AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM ann JOIN exact USING (vec_id))
                AS DOUBLE) / 5 AS recall
    """,
    doc="ANN quality audit: recall@5 of the LSH-bucketed ANN (e04) "
    "against the exact top-5 (e01's kernel) for the same query vector — "
    "'measure, don't guess' applied to the index itself. Both sides are "
    "deterministic, so even the recall number is hash-gated. At scale "
    "this runs over a sampled query set; the shape (two top-k sets, "
    "inner join, count ratio) is unchanged.",
)
def e11_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    emb = tbl(spark, sf_dir, "embeddings")
    buckets = sign_lsh_buckets(emb, planes=8)
    qb = buckets.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket")
    )
    cand = (
        emb.join(buckets, "vec_id")
        .join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding")
    )
    with_query = cand.unionByName(
        emb.filter(F.col("vec_id") == 0).select("vec_id", "embedding")
    )
    ann = brute_force_knn(with_query, query_id=0, k=5).select("vec_id")
    exact = brute_force_knn(emb, query_id=0, k=5).select("vec_id")
    hits = ann.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return hits.select(
        F.lit(5).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / 5).alias("recall"),
    )


# --- IVF recall audit --------------------------------------------------------
@query(
    "e12_ivf_recall_audit",
    oracle=f"""
    WITH {_LONG},
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, v AS cval
              FROM e WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_DSUM.format(expr='v * cval')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='cval * cval')} AS c2
      FROM e JOIN cents c USING (pos)
      GROUP BY e.vec_id, c.cid),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    probes AS (
      SELECT cid FROM (
        SELECT cid,
               ROW_NUMBER() OVER (
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored WHERE vec_id = 1) WHERE rn <= 2),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 1),
    allcomps AS (
      SELECT e.vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos)
      WHERE e.vec_id <> 1
      GROUP BY e.vec_id),
    exact AS (
      SELECT vec_id FROM allcomps
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 10),
    ivf AS (
      SELECT vec_id FROM allcomps
      WHERE vec_id IN (SELECT vec_id FROM best JOIN probes USING (cid))
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 10)
    SELECT CAST(10 AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM ivf JOIN exact USING (vec_id))
                AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM ivf JOIN exact USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """,
    doc="IVF quality audit: recall@10 of the nprobe=2-of-8 partial-probe "
    "IVF (e08) against the exact top-10 for the same query — the "
    "recall side of the recall-vs-cost dial, itself hash-gated "
    "(deterministic sampled quantizer + decimal-exact scoring). "
    "Companion to e11's LSH recall audit.",
)
def e12_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import brute_force_knn
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn, sampled_centroids

    emb = tbl(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, k=8)
    ivf = ivf_knn(emb, query_id=1, k=10, nprobe=2, centroids_long=cents).select(
        "vec_id"
    )
    exact = brute_force_knn(emb, query_id=1, k=10).select("vec_id")
    hits = ivf.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / 10).alias("recall"),
    )


# --- bucketed near-dup pairs (the scale path of e02) -------------------------
@query(
    "e13_bucketed_neardup_pairs",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.vec_id < b.vec_id),
    comps AS (
      SELECT c.id_a, c.id_b,
             {_DSUM.format(expr='ea.v * eb.v')} AS dot,
             {_DSUM.format(expr='ea.v * ea.v')} AS na,
             {_DSUM.format(expr='eb.v * eb.v')} AS nb
      FROM cand c
      JOIN e ea ON ea.vec_id = c.id_a
      JOIN e eb ON eb.vec_id = c.id_b AND eb.pos = ea.pos
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cosine
    FROM comps
    WHERE ROUND(dot / (SQRT(na) * SQRT(nb)), 6) >= 0.4
    """,
    doc="Embedding near-dup pairs WITHIN sign-LSH buckets "
    "(similarity/ann.py bucketed_neardup_pairs) — the production form "
    "e02's global all-pairs docstring promises: the only self-join is "
    "keyed by bucket (pair volume = sum of bucket sizes squared, "
    "linear at fixed occupancy), survivors rescored decimal-exact. "
    "Recall vs e02 is the bucketing trade, measurable by diffing the "
    "two result sets.",
)
def e13_bucketed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import bucketed_neardup_pairs

    emb = tbl(spark, sf_dir, "embeddings")
    return bucketed_neardup_pairs(emb, threshold=0.4, planes=8)


# --- PQ asymmetric-distance top-k search -------------------------------------
@query(
    "e14_pq_adc_topk",
    oracle=f"""
    WITH {_LONG},
    c AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < 16),
    d2 AS (
      SELECT e.vec_id, (e.pos - 1) // 16 AS sub, c.cid,
             {_DSUM.format(expr='(e.v - c.cval) * (e.v - c.cval)')} AS d2
      FROM e JOIN c USING (pos)
      GROUP BY e.vec_id, (e.pos - 1) // 16, c.cid),
    best AS (SELECT vec_id, sub, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2, cid) AS rn
             FROM d2),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 2),
    lut AS (
      SELECT (q.pos - 1) // 16 AS sub, c.cid,
             SUM(CAST((q.qv - c.cval) * (q.qv - c.cval)
                      AS DECIMAL(38,12))) AS lut_d2
      FROM q JOIN c USING (pos)
      GROUP BY 1, 2),
    adc AS (
      SELECT b.vec_id, CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
      FROM best b JOIN lut USING (sub, cid)
      WHERE b.rn = 1 AND b.vec_id <> 2
      GROUP BY b.vec_id)
    SELECT vec_id, adc_d2 FROM adc ORDER BY adc_d2, vec_id LIMIT 10
    """,
    doc="ADC top-10 for query vec_id=2 over PQ codes (similarity/"
    "quantize.py pq_adc_topk): the query stays exact, database vectors "
    "are their per-subspace centroids, and distance is 4 lookups into "
    "a 64-row LUT — the IVF-PQ search kernel that completes the e10 "
    "compression story (codes -> search). LUT sums stay DECIMAL "
    "through the final 4-addend per-vector sum, so the ranking (id "
    "tiebreak) is bit-identical across engines. Scale shape: LUT and "
    "codebooks broadcast; the scan touches integer codes only — "
    "~256x less IO than raw vectors.",
)
def e14_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import pq_adc_topk

    emb = tbl(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, query_id=2, k=10)


# --- ADC recall audit --------------------------------------------------------
@query(
    "e15_adc_recall_audit",
    oracle=f"""
    WITH {_LONG},
    c AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < 16),
    d2 AS (
      SELECT e.vec_id, (e.pos - 1) // 16 AS sub, c.cid,
             {_DSUM.format(expr='(e.v - c.cval) * (e.v - c.cval)')} AS d2
      FROM e JOIN c USING (pos)
      GROUP BY e.vec_id, (e.pos - 1) // 16, c.cid),
    best AS (SELECT vec_id, sub, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2, cid) AS rn
             FROM d2),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 2),
    lut AS (
      SELECT (q.pos - 1) // 16 AS sub, c.cid,
             SUM(CAST((q.qv - c.cval) * (q.qv - c.cval)
                      AS DECIMAL(38,12))) AS lut_d2
      FROM q JOIN c USING (pos)
      GROUP BY 1, 2),
    adc AS (
      SELECT b.vec_id FROM (
        SELECT b.vec_id, CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
        FROM best b JOIN lut USING (sub, cid)
        WHERE b.rn = 1 AND b.vec_id <> 2
        GROUP BY b.vec_id) b
      ORDER BY adc_d2, vec_id LIMIT 10),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               {_DSUM.format(expr='(e.v - q.qv) * (e.v - q.qv)')} AS d2
        FROM e JOIN q USING (pos) WHERE e.vec_id <> 2
        GROUP BY e.vec_id)
      ORDER BY d2, vec_id LIMIT 10)
    SELECT CAST(10 AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM adc JOIN exact USING (vec_id))
                AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM adc JOIN exact USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """,
    doc="PQ quality audit: recall@10 of ADC search (e14) against the "
    "exact L2 top-10 for the same query — quantifies what 256x "
    "compression costs in ranking fidelity, same-metric (L2 vs L2, "
    "unlike the cosine-based e11). Deterministic on both sides, so "
    "the recall number itself is hash-gated.",
)
def e15_adc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import _ACC, _long_form
    from goodreads_pyspark_spark.similarity.quantize import pq_adc_topk

    emb = tbl(spark, sf_dir, "embeddings")
    adc = pq_adc_topk(emb, query_id=2, k=10).select("vec_id")

    e = _long_form(emb, "vec_id", "embedding")
    q = e.filter(F.col("vec_id") == 2).select("pos", F.col("v").alias("qv"))
    exact = (
        e.filter(F.col("vec_id") != 2)
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(((F.col("v") - F.col("qv")) * (F.col("v") - F.col("qv"))).cast(_ACC))
            .cast("double")
            .alias("d2")
        )
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    hits = adc.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / 10).alias("recall"),
    )


# --- dimension-truncation (matryoshka) recall audit --------------------------
_E16_DIMS = 32
_E16_K = 5


@query(
    "e16_truncated_dim_recall",
    oracle=f"""
    WITH {_LONG},
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    trunc AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               {_DSUM.format(expr='v * qv')} AS dot,
               {_DSUM.format(expr='v * v')} AS n2,
               {_DSUM.format(expr='qv * qv')} AS q2
        FROM e JOIN q USING (pos)
        WHERE vec_id <> 0 AND pos <= {_E16_DIMS} GROUP BY vec_id)
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id
      LIMIT {_E16_K}),
    exact AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               {_DSUM.format(expr='v * qv')} AS dot,
               {_DSUM.format(expr='v * v')} AS n2,
               {_DSUM.format(expr='qv * qv')} AS q2
        FROM e JOIN q USING (pos) WHERE vec_id <> 0 GROUP BY vec_id)
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id
      LIMIT {_E16_K})
    SELECT CAST({_E16_DIMS} AS INTEGER) AS n_dims,
           CAST({_E16_K} AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM trunc JOIN exact USING (vec_id))
                AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM trunc JOIN exact USING (vec_id))
                AS DOUBLE) / {_E16_K} AS recall
    """,
    doc="Dimension-truncation recall audit (the matryoshka-embedding "
    "question): top-5 by cosine over only the first 32 of 64 dims vs "
    "the exact full-dimension top-5. Truncating dims halves index "
    "bytes and doubles ANN throughput IF recall holds — this measures "
    "it instead of assuming, same discipline as the e11/e12/e15 "
    "audits. Truncation is a metadata-only F.slice before the kernel; "
    "both sides reuse the e01 decimal-exact cosine.",
)
def e16_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    emb = tbl(spark, sf_dir, "embeddings")
    truncated = emb.select(
        "vec_id", F.slice("embedding", 1, _E16_DIMS).alias("embedding")
    )
    tr = brute_force_knn(truncated, query_id=0, k=_E16_K).select("vec_id")
    exact = brute_force_knn(emb, query_id=0, k=_E16_K).select("vec_id")
    hits = tr.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return hits.select(
        F.lit(_E16_DIMS).cast("int").alias("n_dims"),
        F.lit(_E16_K).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / _E16_K).alias("recall"),
    )


# --- cosine range (radius) search --------------------------------------------
_E17_MIN_COS = 0.25


@query(
    "e17_cosine_range_search",
    oracle=f"""
    WITH {_LONG},
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (
      SELECT vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> 0 GROUP BY vec_id)
    SELECT vec_id,
           ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps
    WHERE ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) >= {_E17_MIN_COS}
    ORDER BY cosine DESC, vec_id
    """,
    doc="Radius (range) search: every vector with cosine >= 0.25 to the "
    "query — the fixed-quality dual of top-k (similarity/ann.py "
    "cosine_range_search), the API a dedup threshold contract calls. "
    "The 6dp-rounded decimal-exact cosine makes the >= boundary "
    "engine-deterministic; at scale the kernel runs per LSH bucket "
    "exactly like e04.",
)
def e17_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import cosine_range_search

    emb = tbl(spark, sf_dir, "embeddings")
    return cosine_range_search(emb, query_id=0, min_cosine=_E17_MIN_COS)


# --- embedding population drift audit ----------------------------------------
@query(
    "e18_centroid_drift",
    oracle=f"""
    WITH {_LONG},
    cents AS (
      SELECT label, pos,
             ROUND({_DSUM.format(expr='CASE WHEN vec_id % 2 = 0 THEN v END')}
                   / COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END), 6) AS ca,
             ROUND({_DSUM.format(expr='CASE WHEN vec_id % 2 = 1 THEN v END')}
                   / COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END), 6) AS cb
      FROM e JOIN embeddings USING (vec_id)
      GROUP BY label, pos),
    d AS (SELECT label,
                 SUM(CAST(ca - cb AS DECIMAL(18,9))
                     * CAST(ca - cb AS DECIMAL(18,9))) AS sq
          FROM cents GROUP BY label)
    SELECT label,
           ROUND(SQRT(CAST(sq AS DOUBLE)), 6) AS drift_l2
    FROM d
    """,
    doc="Embedding-population drift audit: per label, the L2 distance "
    "between the centroid of even vec_ids and odd vec_ids (stand-ins "
    "for two embedding-model versions / time slices) — the monitoring "
    "signal that catches a re-embedding or upstream-model change "
    "before an ANN index silently degrades. Exactness: per-component "
    "centroids are 6dp-rounded (e05 convention), diffs re-quantized "
    "to decimal(18,9) so the squared sum is exact and order-"
    "independent, one final sqrt+round.",
)
def e18_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    joined = e.join(emb.select("vec_id", "label"), "vec_id")
    even = F.when(F.col("vec_id") % 2 == 0, F.col("v"))
    odd = F.when(F.col("vec_id") % 2 == 1, F.col("v"))
    cents = joined.groupBy("label", "pos").agg(
        F.round(
            F.sum(even.cast("decimal(38,12)")).cast("double") / F.count(even), 6
        ).alias("ca"),
        F.round(
            F.sum(odd.cast("decimal(38,12)")).cast("double") / F.count(odd), 6
        ).alias("cb"),
    )
    diff = (F.col("ca") - F.col("cb")).cast("decimal(18,9)")
    d = cents.groupBy("label").agg(F.sum(diff * diff).alias("sq"))
    return d.select(
        "label",
        F.round(F.sqrt(F.col("sq").cast("double")), 6).alias("drift_l2"),
    )


# ============================ round-4 additions ==============================


@query(
    "e19_ivf_nprobe_sweep",
    oracle=f"""
    WITH {_LONG},
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, v AS cval
              FROM e WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_DSUM.format(expr='v * cval')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='cval * cval')} AS c2
      FROM e JOIN cents c USING (pos)
      GROUP BY e.vec_id, c.cid),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    qcent AS (
      SELECT cid,
             ROW_NUMBER() OVER (
               ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
      FROM scored WHERE vec_id = 1),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 1),
    allcomps AS (
      SELECT e.vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos)
      WHERE e.vec_id <> 1
      GROUP BY e.vec_id),
    exact AS (
      SELECT vec_id FROM allcomps
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 10),
    nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INTEGER) AS nprobe),
    assigned AS (SELECT b.vec_id, qc.rn FROM best b JOIN qcent qc USING (cid)),
    ivf AS (
      SELECT nprobe, vec_id FROM (
        SELECT n.nprobe, ac.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY n.nprobe
                 ORDER BY ROUND(ac.dot / (SQRT(ac.n2) * SQRT(ac.q2)), 6)
                          DESC, ac.vec_id) AS rn2
        FROM nps n
        JOIN assigned a ON a.rn <= n.nprobe
        JOIN allcomps ac ON ac.vec_id = a.vec_id)
      WHERE rn2 <= 10),
    hits AS (SELECT nprobe, COUNT(*) AS c
             FROM ivf JOIN exact USING (vec_id) GROUP BY nprobe)
    SELECT n.nprobe, CAST(10 AS INTEGER) AS k,
           CAST(COALESCE(c, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(c, 0) AS DOUBLE) / 10 AS recall
    FROM nps n LEFT JOIN hits USING (nprobe)
    ORDER BY n.nprobe
    """,
    doc="IVF recall-vs-cost CURVE: recall@10 for the same query at "
    "nprobe = 1, 2, 4, 8 of 8 lists (e12 pins one point; this pins "
    "the whole dial, including the nprobe = nlist end where IVF "
    "provably equals exhaustive search — recall 1.0 is asserted "
    "below, so a routing regression anywhere on the curve fails the "
    "gate). Work scales with the probed fraction: the candidate "
    "restriction is a semi-join on the assignment table before any "
    "distance math, which is the entire point of IVF at 100 TB.",
)
def e19_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import all_cosines
    from goodreads_pyspark_spark.similarity.ivf import ivf_assign, sampled_centroids

    # ONE exact scoring pass + ONE assignment pass serve the whole curve:
    # the nprobe=p candidate set is just "assigned centroid ranks <= p",
    # so every sweep point is a filter + window-rank over the same scored
    # table — not four independent IVF pipelines (the first formulation
    # ran 4x the jobs for identical numbers; same scoring/tie-break
    # conventions as ivf_knn, which e08/e12 gate directly).
    emb = tbl(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, k=8).cache()
    assign = ivf_assign(emb, cents)
    scores = all_cosines(emb, query_id=1).localCheckpoint(eager=True)
    exact = scores.orderBy(F.col("cosine").desc(), "vec_id").limit(10).select(
        "vec_id"
    )
    # the query's centroid ranking (unrounded cosine, cid tiebreak — the
    # same ordering ivf_knn's probe selection uses)
    from goodreads_pyspark_spark.functions.vectors import explode_vector

    qe = explode_vector(emb.filter(F.col("vec_id") == 1), "vec_id")
    q_scored = (
        qe.join(F.broadcast(cents), "pos")
        .groupBy("cid")
        .agg(
            F.sum((F.col("v") * F.col("cval")).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
            .cast("double")
            .alias("n2"),
            F.sum((F.col("cval") * F.col("cval")).cast("decimal(38,12)"))
            .cast("double")
            .alias("c2"),
        )
        .select(
            "cid",
            (F.col("dot") / (F.sqrt("n2") * F.sqrt("c2"))).alias("qcos"),
        )
    )
    qrank = bounded_rank(q_scored, [("qcos", "desc"), ("cid", "asc")], "rn").select(
        "cid", "rn"
    )
    cand = assign.join(F.broadcast(qrank), "cid").select("vec_id", "rn")
    nps = spark.createDataFrame([(n,) for n in (1, 2, 4, 8)], "nprobe int")
    sweep = nps.join(cand, cand.rn <= nps.nprobe).join(scores, "vec_id")
    wr = Window.partitionBy("nprobe").orderBy(F.col("cosine").desc(), "vec_id")
    ivf10 = (
        sweep.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .select("nprobe", "vec_id")
    )
    hits = (
        ivf10.join(exact, "vec_id")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    out = (
        nps.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(10).cast("int").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)).cast("double") / 10).alias("recall"),
        )
        .orderBy("nprobe")
        .localCheckpoint(eager=True)
    )
    cents.unpersist()
    full_probe = [r for r in out.collect() if r["nprobe"] == 8]
    if not full_probe or full_probe[0]["recall"] != 1.0:
        raise AssertionError("nprobe == nlist must equal exhaustive search")
    return out


@query(
    "e20_centroid_separation",
    oracle=f"""
    WITH {_LONG},
    cents AS (
      SELECT label, pos,
             ROUND({_DSUM.format(expr='v')} / COUNT(*), 6) AS c
      FROM e JOIN embeddings USING (vec_id)
      GROUP BY label, pos),
    d AS (
      SELECT c1.label AS l1, c2.label AS l2,
             SUM(CAST(c1.c - c2.c AS DECIMAL(18,9))
                 * CAST(c1.c - c2.c AS DECIMAL(18,9))) AS sq
      FROM cents c1 JOIN cents c2
        ON c1.pos = c2.pos AND c1.label <> c2.label
      GROUP BY 1, 2),
    dist AS (SELECT l1, l2, ROUND(SQRT(CAST(sq AS DOUBLE)), 6) AS dd FROM d),
    ranked AS (
      SELECT l1, l2, dd,
             ROW_NUMBER() OVER (PARTITION BY l1 ORDER BY dd, l2) AS rn
      FROM dist)
    SELECT r.l1 AS label, r.l2 AS nearest_label, r.dd AS nearest_dist,
           CAST(SUM(CAST(a.dd AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_separation
    FROM ranked r JOIN dist a ON a.l1 = r.l1
    WHERE r.rn = 1
    GROUP BY r.l1, r.l2, r.dd
    """,
    doc="Inter-centroid separation audit: per label, the nearest other "
    "label's centroid distance and the mean distance to all others — "
    "the index-health metric that says whether an IVF/cluster routing "
    "layer can discriminate classes at all (companion to e18's "
    "temporal drift: e18 watches one label move, this watches the "
    "geometry between labels collapse). Exactness: 6dp-rounded "
    "centroid components (e05 convention), diffs re-quantized to "
    "decimal so squared sums are order-independent; the per-label "
    "mean runs over 6dp-quantized distances.",
)
def e20_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    cents = (
        e.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("c")
        )
    )
    c1 = cents.select(
        F.col("label").alias("l1"), "pos", F.col("c").alias("ca")
    )
    c2 = cents.select(
        F.col("label").alias("l2"), "pos", F.col("c").alias("cb")
    )
    diff = (F.col("ca") - F.col("cb")).cast("decimal(18,9)")
    dist = (
        c1.join(c2, "pos")
        .filter(F.col("l1") != F.col("l2"))
        .groupBy("l1", "l2")
        .agg(F.round(F.sqrt(F.sum(diff * diff).cast("double")), 6).alias("dd"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l1").orderBy("dd", "l2")
    nearest = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l1", F.col("l2").alias("nearest_label"),
                F.col("dd").alias("nearest_dist"))
    )
    means = dist.groupBy("l1").agg(
        (
            F.sum(F.col("dd").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_separation")
    )
    return (
        nearest.join(means, "l1")
        .select(
            F.col("l1").alias("label"),
            "nearest_label",
            "nearest_dist",
            "mean_separation",
        )
    )


# --- SemDeDup-style semantic dedup clusters (new in r5) ----------------------
_E21_TAU = 0.4
_E21_CC_ROUNDS = 12


def _e21_oracle() -> str:
    """Unrolled min-label propagation with pointer doubling over the
    cosine>=tau pair graph (the g05 _cc_oracle pattern). 12 rounds
    covers radius 8191: 8 rounds (radius 255) under-converged at sf0.1
    — at tau=0.4 the pair graph grows CHAINS, not just near-cliques,
    and the local sf0.1 sweep caught the oracle 10 clusters short
    (the same lesson as g05; near-clique intuition does not survive a
    loose threshold)."""
    steps = []
    for r in range(1, _E21_CC_ROUNDS + 1):
        p = r - 1
        steps.append(f"""
    l{r} AS MATERIALIZED (SELECT t.id, MIN(t.x) AS label FROM (
               SELECT id, label AS x FROM l{p}
               UNION ALL
               SELECT a.id, b.label AS x FROM l{p} a JOIN l{p} b ON a.label = b.id
               UNION ALL
               SELECT e.u AS id, l.label AS x FROM und e JOIN l{p} l ON l.id = e.v
             ) t GROUP BY t.id)""")
    return f"""
    WITH {_LONG},
    norms AS (SELECT vec_id, {_DSUM.format(expr='v * v')} AS n2
              FROM e GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DSUM.format(expr='a.v * b.v')} AS dot
      FROM e a JOIN e b USING (pos) WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM dots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE ROUND(dot / (SQRT(na.n2) * SQRT(nb.n2)), 6) >= {_E21_TAU}),
    und AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS label
                        FROM embeddings),{",".join(steps)}
    SELECT CAST(label AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM l{_E21_CC_ROUNDS}
    GROUP BY label
    """


@query(
    "e21_semdedup_clusters",
    oracle=_e21_oracle(),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, public "
    "literature): connected components over the exact cosine>= "
    f"{_E21_TAU} pair graph, keeping the min-id vector per cluster — "
    "cluster_id IS the survivor, n_dropped is the dedup yield. "
    "Composition of two already-gated primitives, end to end: e02's "
    "decimal-exact pair generation (two-phase numpy screen + decimal "
    "rescore; at corpus scale the pairs come from LSH buckets, e13) "
    "feeds the alternating-star CC loop (g05's operator), whose "
    "min-reachable-id fixpoint is algorithm-independent — so the "
    "DuckDB oracle replays it as unrolled pointer-doubling "
    "min-propagation and the cluster rollup hash-matches exactly. "
    "Singleton clusters are reported too (n_dropped = 0): the output "
    "is the complete per-cluster retention ledger for the corpus.",
)
def e21_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.graph.frames import PropertyGraph
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )
    from goodreads_pyspark_spark.similarity.ann import cosine_neardup_pairs

    emb = tbl(spark, sf_dir, "embeddings")
    pairs = cosine_neardup_pairs(emb, threshold=_E21_TAU)
    vertices = emb.select(F.col("vec_id").alias("id"))
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components_alternating(PropertyGraph(vertices, edges))
    return comp.groupBy(F.col("component").cast("bigint").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
    )


# --- scale-true SemDeDup: bucketed pairs -> CC -> ledger (new in r6) ---------
def _e22_oracle() -> str:
    """e21's pointer-doubling CC rollup, but over the BUCKETED pair graph
    (e13's sign-LSH candidate CTE + decimal-exact rescore). Same 12
    rounds: removing edges can only lengthen paths within surviving
    components, and 12 doublings cover radius 8191 — re-checked by the
    cross-sf sweep each round (the r5 lesson: verify convergence at
    sf0.1, not just sf0.01)."""
    steps = []
    for r in range(1, _E21_CC_ROUNDS + 1):
        p = r - 1
        steps.append(f"""
    l{r} AS MATERIALIZED (SELECT t.id, MIN(t.x) AS label FROM (
               SELECT id, label AS x FROM l{p}
               UNION ALL
               SELECT a.id, b.label AS x FROM l{p} a JOIN l{p} b ON a.label = b.id
               UNION ALL
               SELECT e.u AS id, l.label AS x FROM und e JOIN l{p} l ON l.id = e.v
             ) t GROUP BY t.id)""")
    return f"""
    WITH {_LONG},
    {_bucket_cte()},
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.vec_id < b.vec_id),
    comps AS (
      SELECT c.id_a, c.id_b,
             {_DSUM.format(expr='ea.v * eb.v')} AS dot,
             {_DSUM.format(expr='ea.v * ea.v')} AS na,
             {_DSUM.format(expr='eb.v * eb.v')} AS nb
      FROM cand c
      JOIN e ea ON ea.vec_id = c.id_a
      JOIN e eb ON eb.vec_id = c.id_b AND eb.pos = ea.pos
      GROUP BY c.id_a, c.id_b),
    pairs AS (
      SELECT id_a, id_b FROM comps
      WHERE ROUND(dot / (SQRT(na) * SQRT(nb)), 6) >= {_E21_TAU}),
    und AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS label
                        FROM embeddings),{",".join(steps)}
    SELECT CAST(label AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM l{_E21_CC_ROUNDS}
    GROUP BY label
    """


@query(
    "e22_semdedup_bucketed",
    oracle=_e22_oracle(),
    doc="Scale-true SemDeDup (VERDICT r5 #2): the SAME cluster->retention "
    "ledger as e21, but the pair source is the production kernel — "
    "sign-LSH buckets (similarity/ann.py bucketed_neardup_pairs), so "
    "the only self-join is keyed by bucket (pair volume = sum of "
    "bucket sizes squared, linear at fixed occupancy) and NOTHING in "
    "the plan is quadratic in the corpus. e21 stays registered as the "
    "exact-recall audit of this query's pair source (e23 measures the "
    "gap). Survivor = min vec_id per component; singleton clusters "
    "reported (n_dropped = 0) so the ledger is complete.",
)
def e22_semdedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.graph.frames import PropertyGraph
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )
    from goodreads_pyspark_spark.similarity.ann import bucketed_neardup_pairs

    emb = tbl(spark, sf_dir, "embeddings")
    pairs = bucketed_neardup_pairs(emb, threshold=_E21_TAU, planes=8)
    vertices = emb.select(F.col("vec_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components_alternating(PropertyGraph(vertices, edges))
    return comp.groupBy(F.col("component").cast("bigint").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
    )


# --- recall of the bucketed pair source vs the exact pair set ----------------
@query(
    "e23_semdedup_recall",
    oracle=f"""
    WITH {_LONG},
    norms AS (SELECT vec_id, {_DSUM.format(expr='v * v')} AS n2
              FROM e GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DSUM.format(expr='a.v * b.v')} AS dot
      FROM e a JOIN e b USING (pos) WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2),
    exact AS (
      SELECT id_a, id_b FROM dots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE ROUND(dot / (SQRT(na.n2) * SQRT(nb.n2)), 6) >= {_E21_TAU}),
    {_bucket_cte()},
    bucketed AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.vec_id < b.vec_id),
    hit AS (SELECT id_a, id_b FROM exact JOIN bucketed USING (id_a, id_b))
    SELECT CAST({_E21_TAU} AS DOUBLE) AS tau,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
           CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM exact) AS recall
    """,
    doc="The e21-vs-e22 gap, measured (VERDICT r5 #2): recall of the "
    "sign-LSH bucketed candidate generator against the exact "
    "cosine>=tau pair set — |bucket-candidates ∩ exact| / |exact|. "
    "This is the number that licenses (or prices) swapping e21's "
    "quadratic screen for e22's linear one: lost pairs are exactly "
    "the cross-bucket edges, recoverable with more band tables. Both "
    "counts are exact integers, so the division is bit-equal across "
    "engines.",
)
def e23_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import (
        cosine_neardup_pairs,
        sign_lsh_buckets,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    exact = cosine_neardup_pairs(emb, threshold=_E21_TAU).select("id_a", "id_b")
    buckets = sign_lsh_buckets(emb, planes=8)
    a = buckets.select(F.col("vec_id").alias("id_a"), "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    hit = exact.join(cand, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_exact.crossJoin(F.broadcast(n_hit))
        .select(
            F.lit(_E21_TAU).cast("double").alias("tau"),
            "n_exact",
            "n_hit",
            # no exact pairs (empty input): NULL recall, like the oracle
            F.try_divide(F.col("n_hit").cast("double"), F.col("n_exact")).alias("recall"),
        )
    )


# --- DataFrame-native Lloyd k-means, bit-exact across engines (new in r6) ----
_E24_K = 8
_E24_ROUNDS = 2


def _e24_oracle(k: int = _E24_K, rounds: int = _E24_ROUNDS) -> str:
    """Unrolled Lloyd rounds: decimal-exact squared distances, argmin by
    (d2, cid), mean update = one IEEE division of the exact decimal sum
    — every round bit-reproducible, so the fit itself hash-gates."""
    steps = []
    for r in range(1, rounds + 1):
        p = r - 1
        steps.append(f"""
    a{r} AS (
      SELECT e.vec_id, c.cid,
             SUM(CAST((e.v - c.cval) * (e.v - c.cval) AS DECIMAL(38,12))) AS d2
      FROM e JOIN c{p} c USING (pos)
      GROUP BY e.vec_id, c.cid),
    g{r} AS MATERIALIZED (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM a{r}) WHERE rn = 1)""")
        if r < rounds:
            steps.append(f"""
    c{r} AS MATERIALIZED (
      SELECT g.cid, e.pos,
             CAST(SUM(CAST(e.v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS cval
      FROM g{r} g JOIN e ON e.vec_id = g.vec_id
      GROUP BY g.cid, e.pos)""")
    return f"""
    WITH {_LONG},
    c0 AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < {k}),{",".join(steps)}
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS inertia
    FROM g{rounds}
    GROUP BY cid
    """


@query(
    "e24_lloyd_kmeans",
    oracle=_e24_oracle(),
    doc="Distributed Lloyd k-means whose FIT hash-gates across engines "
    "(similarity/lloyd.py) — the existence proof that iterative ML is "
    "not inherently rows-only (ml/'s ALS/LDA ceiling is unconstrained "
    "float accumulation, not iteration): deterministic lowest-id init, "
    "decimal-exact distance sums, argmin tie-broken by cid, mean "
    "update as one IEEE division of the exact decimal total. Two "
    "rounds unrolled in the oracle; output is the final per-cluster "
    "membership + inertia. Per round the corpus shuffles (id, cid, "
    "partial-d2) against broadcast k·d centroid rows — linear, "
    "centroid state independent of corpus size.",
)
def e24_lloyd_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.lloyd import lloyd_fit

    emb = tbl(spark, sf_dir, "embeddings")
    return lloyd_fit(emb, k=_E24_K, rounds=_E24_ROUNDS)


# --- MMR diversity re-rank over int8 codes (new in r6) -----------------------
_E25_POOL = 20
_E25_K = 8


def _e25_oracle(pool: int = _E25_POOL, k: int = _E25_K) -> str:
    """Unrolled greedy MMR: one (candidate-pick, selected-set) CTE pair
    per step — the same oracle idiom as the CC / Lloyd round chains."""
    steps = []
    for j in range(2, k + 1):
        p = j - 1
        steps.append(f"""
    c{j} AS MATERIALIZED (SELECT p.vec_id, p.rel, CAST(MAX(d.dot) AS BIGINT) AS maxsim,
                    CAST(7 * p.rel - 3 * MAX(d.dot) AS BIGINT) AS mmr
             FROM pool p JOIN pd d ON d.ia = p.vec_id
                  AND d.ib IN (SELECT vec_id FROM s{p})
             WHERE p.vec_id NOT IN (SELECT vec_id FROM s{p})
             GROUP BY p.vec_id, p.rel
             ORDER BY mmr DESC, p.vec_id LIMIT 1),
    s{j} AS MATERIALIZED (SELECT vec_id FROM s{p} UNION ALL SELECT vec_id FROM c{j})""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS rank, vec_id, rel AS rel_dot, "
        f"maxsim AS max_sim_prev, mmr AS mmr_scaled FROM c{j}"
        for j in range(1, k + 1)
    )
    return f"""
    WITH {_LONG},
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    cd AS MATERIALIZED (SELECT vec_id, e.pos,
                  CAST(floor(v * 127.0 / amax + 0.5) AS BIGINT) AS code
           FROM e JOIN amax USING (pos)),
    q AS (SELECT pos, code AS qc FROM cd WHERE vec_id = 0),
    rel AS (SELECT cd.vec_id, CAST(SUM(code * qc) AS BIGINT) AS rel
            FROM cd JOIN q USING (pos) WHERE vec_id <> 0
            GROUP BY cd.vec_id),
    pool AS MATERIALIZED (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id
             LIMIT {pool}),
    pc AS (SELECT cd.vec_id, pos, code FROM cd JOIN pool USING (vec_id)),
    pd AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
                  CAST(SUM(a.code * b.code) AS BIGINT) AS dot
           FROM pc a JOIN pc b ON a.pos = b.pos AND a.vec_id <> b.vec_id
           GROUP BY 1, 2),
    c1 AS MATERIALIZED (SELECT vec_id, rel, CAST(0 AS BIGINT) AS maxsim,
                  CAST(7 * rel AS BIGINT) AS mmr
           FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
    s1 AS MATERIALIZED (SELECT vec_id FROM c1),{",".join(steps)}
    {finals}
    """


@query(
    "e25_mmr_rerank",
    oracle=_e25_oracle(),
    doc="Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998) "
    "— the diversity pass between ANN retrieval and the consumer "
    "(similarity/mmr.py): greedy top-8 from a top-20 relevance pool, "
    "each step maximizing 7*rel - 3*max_sim_to_selected. Both rel and "
    "sim are INTEGER dot products of the e07 int8 codes and lambda=0.7 "
    "is the rational 7/10, so every score is BIGINT-exact — no float "
    "cosine in the gate. Scale shape: one corpus pass for the pool "
    "(query codes broadcast, TakeOrdered), distributed pool-squared "
    "pair dots, then an enforced-cap driver greedy over <=pool^2 tiny "
    "integer rows — per-query bounded by construction, corpus side "
    "fully distributed. The oracle unrolls the greedy as one CTE pair "
    "per step.",
)
def e25_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.mmr import mmr_rerank

    emb = tbl(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, query_id=0, pool=_E25_POOL, k=_E25_K)


# --- int8 retrieval-pool recall audit (new in r6) ----------------------------
@query(
    "e26_int8_pool_recall",
    oracle=f"""
    WITH {_LONG},
    qv AS (SELECT pos, v AS qval FROM e WHERE vec_id = 0),
    comps AS (
      SELECT e.vec_id,
             {_DSUM.format(expr='v * qval')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qval * qval')} AS q2
      FROM e JOIN qv USING (pos) WHERE vec_id <> 0
      GROUP BY e.vec_id),
    exact20 AS (SELECT vec_id FROM comps
                ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id
                LIMIT 20),
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    cd AS (SELECT vec_id, e.pos,
                  CAST(floor(v * 127.0 / amax + 0.5) AS BIGINT) AS code
           FROM e JOIN amax USING (pos)),
    qc AS (SELECT pos, code AS qcode FROM cd WHERE vec_id = 0),
    int820 AS (SELECT cd.vec_id
               FROM cd JOIN qc USING (pos) WHERE vec_id <> 0
               GROUP BY cd.vec_id
               ORDER BY SUM(code * qcode) DESC, cd.vec_id
               LIMIT 20),
    ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM exact20 JOIN int820 USING (vec_id))
    SELECT n_overlap,
           CAST(20 - n_overlap AS BIGINT) AS exact_only,
           CAST(20 - n_overlap AS BIGINT) AS int8_only,
           CAST(n_overlap * 10000 // (40 - n_overlap) AS BIGINT)
             AS jaccard_pct_scaled
    FROM ov
    """,
    doc="Recall audit of e25's int8 retrieval pool against the EXACT "
    "decimal-cosine top-20 (the e01 kernel) — the e23 pattern applied "
    "to retrieval: every lossy speedup ships with a query that prices "
    "it. Overlap@20 between two deterministically-ordered lists (both "
    "unique total orders), Jaccard reported as an integer-scaled pct "
    "(overlap*10000 DIV (40-overlap)) so the gate stays BIGINT-exact. "
    "Scale shape: both rankings are one corpus pass with the query "
    "broadcast + TakeOrdered; the intersection joins two 20-row "
    "frames.",
)
def e26_int8_pool_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import brute_force_knn
    from goodreads_pyspark_spark.similarity.mmr import int8_relevance_pool

    emb = tbl(spark, sf_dir, "embeddings")
    exact = brute_force_knn(emb, query_id=0, k=20).select("vec_id")
    pool = int8_relevance_pool(emb, query_id=0, pool=20).select("vec_id")
    return (
        exact.join(pool, "vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
        .select(
            "n_overlap",
            (F.lit(20) - F.col("n_overlap")).cast("bigint").alias("exact_only"),
            (F.lit(20) - F.col("n_overlap")).cast("bigint").alias("int8_only"),
            F.expr(
                "CAST(n_overlap * 10000 DIV (40 - n_overlap) AS BIGINT)"
            ).alias("jaccard_pct_scaled"),
        )
    )


# ============================ round-6 additions ===============================

# --- matryoshka dimension sweep (new in r6) -----------------------------------
_E27_DIMS = (8, 16, 32, 48, 64)
_E27_K = 10


def _e27_oracle() -> str:
    blocks = []
    for d in _E27_DIMS:
        blocks.append(f"""
    SELECT CAST({d} AS INTEGER) AS n_dims, CAST({_E27_K} AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM (
              SELECT vec_id FROM (
                SELECT vec_id,
                       {_DSUM.format(expr='v * qv')} AS dot,
                       {_DSUM.format(expr='v * v')} AS n2,
                       {_DSUM.format(expr='qv * qv')} AS q2
                FROM e JOIN q USING (pos)
                WHERE vec_id <> 0 AND pos <= {d} GROUP BY vec_id)
              ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id
              LIMIT {_E27_K}) t JOIN exact USING (vec_id)) AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM (
              SELECT vec_id FROM (
                SELECT vec_id,
                       {_DSUM.format(expr='v * qv')} AS dot,
                       {_DSUM.format(expr='v * v')} AS n2,
                       {_DSUM.format(expr='qv * qv')} AS q2
                FROM e JOIN q USING (pos)
                WHERE vec_id <> 0 AND pos <= {d} GROUP BY vec_id)
              ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id
              LIMIT {_E27_K}) t JOIN exact USING (vec_id)) AS DOUBLE)
             / {_E27_K} AS recall""")
    union = "\n    UNION ALL".join(blocks)
    return f"""
    WITH {_LONG},
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    exact AS MATERIALIZED (
      SELECT vec_id FROM (
        SELECT vec_id,
               {_DSUM.format(expr='v * qv')} AS dot,
               {_DSUM.format(expr='v * v')} AS n2,
               {_DSUM.format(expr='qv * qv')} AS q2
        FROM e JOIN q USING (pos) WHERE vec_id <> 0 GROUP BY vec_id)
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id
      LIMIT {_E27_K})
    {union}
    """


@query(
    "e27_matryoshka_dim_sweep",
    oracle=_e27_oracle(),
    doc="Matryoshka dimension SWEEP — e16's single truncation point "
    "extended to the full serving-dimension curve (8/16/32/48/64 dims, "
    "recall@10 vs the exact full-dimension ranking for each): the "
    "measurement that picks an MRL serving dimension, where index "
    "bytes and ANN throughput scale 1/dims IF the recall curve holds. "
    "One long-form pass computes every prefix kernel: the per-dim "
    "cosine is a conditional decimal sum over the SAME (vec_id)-keyed "
    "aggregation (pos<=d partial sums share the scan), so the sweep "
    "costs one corpus pass + a 5-branch aggregate, not 5 scans. "
    "Audit-shape caveat as e11/e12: the exact top-k baseline is "
    "deliberately the quadratic-free brute-force kernel, fine at any "
    "sf because it is one broadcast-query pass.",
)
def e27_matryoshka_dim_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    _ACC = "decimal(38,12)"
    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    q = e.filter(F.col("vec_id") == 0).select(
        "pos", F.col("v").alias("qv")
    )
    joined = e.filter(F.col("vec_id") != 0).join(F.broadcast(q), "pos")

    def psum(expr, d):
        cond = F.when(F.col("pos") <= d, expr).otherwise(F.lit(0.0))
        return F.sum(cond.cast(_ACC)).cast("double")

    aggs = []
    for d in _E27_DIMS:
        aggs += [
            psum(F.col("v") * F.col("qv"), d).alias(f"dot{d}"),
            psum(F.col("v") * F.col("v"), d).alias(f"n2_{d}"),
            psum(F.col("qv") * F.col("qv"), d).alias(f"q2_{d}"),
        ]
    comps = joined.groupBy("vec_id").agg(*aggs).cache()

    def topk(d):
        cos = F.round(
            F.col(f"dot{d}")
            / (F.sqrt(F.col(f"n2_{d}")) * F.sqrt(F.col(f"q2_{d}"))),
            6,
        )
        return (
            comps.select("vec_id", cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), "vec_id")
            .limit(_E27_K)
            .select("vec_id")
        )

    exact = topk(64).cache()
    out = None
    for d in _E27_DIMS:
        hits = topk(d).join(exact, "vec_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        row = hits.select(
            F.lit(d).cast("int").alias("n_dims"),
            F.lit(_E27_K).cast("int").alias("k"),
            "n_hits",
            (F.col("n_hits").cast("double") / _E27_K).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    # The 5-row sweep result is the only consumer of the cached kernel
    # aggregate and exact baseline: materialize it eagerly, then release
    # both so suite runs don't pin corpus-sized blocks across queries.
    PRE_MATERIALIZATION["e27_matryoshka_dim_sweep"] = out
    result = out.localCheckpoint(eager=True)
    comps.unpersist()
    exact.unpersist()
    return result


# --- contrastive-pair mining (new in r7) --------------------------------------
#: Anchor batch size and per-role depth.
_E28_ANCHORS = 8
_E28_K = 3


@query(
    "e28_hard_negative_mining",
    oracle=f"""
    WITH {_LONG},
    q AS (SELECT vec_id AS qid, pos, v AS qv FROM e WHERE vec_id < {_E28_ANCHORS}),
    comps AS (
      SELECT qid, vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> qid
      GROUP BY qid, vec_id),
    lab AS (SELECT doc_id AS vec_id, lang FROM documents),
    scored AS (
      SELECT c.qid, c.vec_id,
             ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine, l.lang,
             CASE WHEN l.lang = ql.lang THEN 'pos' ELSE 'neg' END AS role
      FROM comps c JOIN lab l USING (vec_id)
      JOIN lab ql ON ql.vec_id = c.qid),
    ranked AS (SELECT qid, role, vec_id, cosine, lang,
                      ROW_NUMBER() OVER (PARTITION BY qid, role
                                         ORDER BY cosine DESC, vec_id) AS rnk
               FROM scored)
    SELECT qid, role, CAST(rnk AS INTEGER) AS rnk, vec_id, cosine, lang
    FROM ranked WHERE rnk <= {_E28_K}
    """,
    doc="Contrastive-pair mining for embedding training (hard negatives "
    "a la DPR/SimCSE, public literature): for each of 8 anchor vectors, "
    "the top-3 most-similar SAME-label neighbors (positives) and top-3 "
    "most-similar DIFFERENT-label neighbors (hard negatives — the "
    "near-boundary examples that make contrastive training work), with "
    "label = the document's lang. The training-data side of the ANN "
    "stack: e09's one-pass batch kernel (anchors broadcast long-form, "
    "ONE corpus scan for the whole batch) + a label join + a per-"
    "(anchor,role) window cut — the window partitions by the anchor "
    "batch, so parallelism scales with anchors, never a global sort. "
    "Exactness: decimal-summed cosine rounded to 6 before ranking, "
    "vec_id tie-break (the e-series discipline).",
)
def e28_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import _ACC, _long_form

    emb = tbl(spark, sf_dir, "embeddings")
    docs = tbl(spark, sf_dir, "documents")
    e = _long_form(emb, "vec_id", "embedding")
    q = e.filter(F.col("vec_id") < _E28_ANCHORS).select(
        F.col("vec_id").alias("qid"), "pos", F.col("v").alias("qv")
    )
    comps = (
        e.join(F.broadcast(q), "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum((F.col("v") * F.col("qv")).cast(_ACC)).cast("double").alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast(_ACC)).cast("double").alias("n2"),
            F.sum((F.col("qv") * F.col("qv")).cast(_ACC)).cast("double").alias("q2"),
        )
    )
    lab = docs.select(F.col("doc_id").alias("vec_id"), "lang")
    qlab = docs.select(
        F.col("doc_id").alias("qid"), F.col("lang").alias("qlang")
    )
    cos = F.round(F.col("dot") / (F.sqrt("n2") * F.sqrt("q2")), 6)
    scored = (
        comps.join(lab, "vec_id")
        .join(F.broadcast(qlab.filter(F.col("qid") < _E28_ANCHORS)), "qid")
        .select(
            "qid",
            "vec_id",
            cos.alias("cosine"),
            "lang",
            F.when(F.col("lang") == F.col("qlang"), "pos")
            .otherwise("neg")
            .alias("role"),
        )
    )
    w = Window.partitionBy("qid", "role").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _E28_K)
        .select("qid", "role", F.col("rnk").cast("int").alias("rnk"),
                "vec_id", "cosine", "lang")
    )


# --- incremental IVF index maintenance (new in r7) -----------------------------
#: Batch membership: every vec_id ending in 7 arrives later.
_E29_MOD, _E29_REM = 10, 7


@query(
    "e29_ivf_incremental_add",
    oracle=f"""
    WITH {_LONG},
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, v AS cval
              FROM e WHERE vec_id < 9 AND vec_id % {_E29_MOD} <> {_E29_REM}),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_DSUM.format(expr='v * cval')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='cval * cval')} AS c2
      FROM e JOIN cents c USING (pos)
      GROUP BY e.vec_id, c.cid),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    tagged AS (
      SELECT cid, vec_id % {_E29_MOD} = {_E29_REM} AS is_new FROM best),
    cells AS (
      SELECT cid,
             CAST(COUNT(*) FILTER (NOT is_new) AS BIGINT) AS n_base,
             CAST(COUNT(*) FILTER (is_new) AS BIGINT) AS n_new
      FROM tagged GROUP BY cid)
    SELECT c.cid, n_base, n_new, n_base + n_new AS n_total,
           CAST(n_new AS DOUBLE) / (n_base + n_new) AS new_share
    FROM cells c
    """,
    doc="Incremental IVF index maintenance — the vector-store twin of "
    "d19/c05's ingest admission: a later-arriving batch (vec_id ending "
    "in 7) is assigned to the EXISTING coarse cells (deterministic "
    "base-sampled centroids, the e08 quantizer convention) without "
    "touching the base assignment, and the gate emits the per-cell "
    "growth ledger (base size, additions, new share) that index "
    "maintenance decisions — rebalance, split, retrain — read. "
    "Assignment ties break to the smallest cell id in BOTH engines "
    "(min over (−cosine, cid) structs == the oracle's ROW_NUMBER "
    "order). Scale shape: the batch assignment is one pass over the "
    "BATCH with the k×d centroid table broadcast (the base is never "
    "rescanned in production — here the base pass exists only to "
    "report the ledger's denominators); cosines are decimal-exact "
    "component sums, so cell routing is bit-reproducible.",
)
def e29_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    _ACC = "decimal(38,12)"
    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id")
    cents = e.filter(
        (F.col("vec_id") < 9) & (F.col("vec_id") % _E29_MOD != _E29_REM)
    ).select(F.col("vec_id").cast("int").alias("cid"), "pos", F.col("v").alias("cval"))
    scored = (
        e.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum((F.col("v") * F.col("cval")).cast(_ACC)).cast("double").alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast(_ACC)).cast("double").alias("n2"),
            F.sum((F.col("cval") * F.col("cval")).cast(_ACC))
            .cast("double")
            .alias("c2"),
        )
    )
    cos = F.col("dot") / (F.sqrt("n2") * F.sqrt("c2"))
    best = (
        scored.select("vec_id", F.struct((-cos).alias("nc"), "cid").alias("s"))
        .groupBy("vec_id")
        .agg(F.min("s").alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )
    tagged = best.select(
        "cid", (F.col("vec_id") % _E29_MOD == _E29_REM).alias("is_new")
    )
    return (
        tagged.groupBy("cid")
        .agg(
            F.sum((~F.col("is_new")).cast("int")).cast("bigint").alias("n_base"),
            F.sum(F.col("is_new").cast("int")).cast("bigint").alias("n_new"),
        )
        .select(
            "cid",
            "n_base",
            "n_new",
            (F.col("n_base") + F.col("n_new")).alias("n_total"),
            (
                F.col("n_new").cast("double")
                / (F.col("n_base") + F.col("n_new"))
            ).alias("new_share"),
        )
    )


# --- embedding outlier pruning (new in r9) -----------------------------------
@query(
    "e30_embedding_outliers",
    oracle=f"""
    WITH {_LONG},
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    q AS (SELECT e.vec_id, e.pos,
                 CAST(floor(e.v * 127.0 / amax + 0.5) AS BIGINT) AS code
          FROM e JOIN amax USING (pos)),
    lab AS (SELECT vec_id, label FROM embeddings),
    cen AS (SELECT label, pos,
                   CAST(FLOOR(CAST(SUM(code) AS DOUBLE) / COUNT(*)) AS BIGINT)
                     AS cen
            FROM q JOIN lab USING (vec_id) GROUP BY label, pos),
    d2 AS (SELECT q.vec_id, lab.label,
                  CAST(SUM((code - cen) * (code - cen)) AS BIGINT) AS dist2
           FROM q JOIN lab USING (vec_id)
           JOIN cen ON cen.label = lab.label AND cen.pos = q.pos
           GROUP BY q.vec_id, lab.label),
    stats AS (SELECT label,
                     CAST(FLOOR(CAST(SUM(dist2) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS mean_dist2
              FROM d2 GROUP BY label)
    SELECT d2.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           stats.mean_dist2,
           MAX(dist2) AS max_dist2,
           CAST(SUM(CASE WHEN dist2 > 2 * stats.mean_dist2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d2 JOIN stats USING (label)
    GROUP BY d2.label, stats.mean_dist2
    """,
    doc="Embedding-space outlier pruning: flag vectors far from their "
    "label centroid — the standard screen for mislabeled / junk "
    "examples before a corpus ships (the aggregate analog of "
    "CLIP-score-style filtering, on the label structure the fixture "
    "provides). Everything is INTEGER-exact end to end via the e07 "
    "trick: int8-quantize first (per-dim symmetric scale, floor(x+0.5)), "
    "then centroids (floored integer mean), squared distances, the "
    "data-derived threshold (2x label mean dist2), and outlier counts "
    "are all bigint arithmetic — a hash-gate with no float tolerance "
    "anywhere past quantization. Scale shape: pos-keyed scale agg, "
    "(label,pos)-keyed centroid agg, vec-keyed distance agg — three "
    "linear keyed shuffles; the (labels x dims) centroid table "
    "broadcasts.",
)
def e30_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    amax = e.groupBy("pos").agg(
        F.greatest(F.max(F.abs("v")), F.lit(1e-30)).alias("amax")
    )
    # one quantize pass feeds the centroid agg and the distance agg
    q = (
        e.join(amax, "pos")
        .select(
            "vec_id",
            "pos",
            F.floor(F.col("v") * 127.0 / F.col("amax") + 0.5)
            .cast("bigint")
            .alias("code"),
        )
        .cache()
    )
    lab = emb.select("vec_id", "label")
    cen = (
        q.join(lab, "vec_id")
        .groupBy("label", "pos")
        .agg(
            F.floor(
                F.sum("code").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("cen")
        )
    )
    d2 = (
        q.join(lab, "vec_id")
        .join(F.broadcast(cen), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("code") - F.col("cen")) * (F.col("code") - F.col("cen")))
            .cast("bigint")
            .alias("dist2")
        )
    )
    stats = d2.groupBy("label").agg(
        F.floor(F.sum("dist2").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mean_dist2")
    )
    return (
        d2.join(F.broadcast(stats), "label")
        .groupBy("label", "mean_dist2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.max("dist2").alias("max_dist2"),
            F.sum((F.col("dist2") > 2 * F.col("mean_dist2")).cast("int"))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("label", "n_vecs", "mean_dist2", "max_dist2", "n_outliers")
    )


# --- Matryoshka prefix-dim recall audit (new in r9) --------------------------
_E31_DIMS = (8, 16, 32)
_E31_Q = 8
_E31_K = 10


def _e31_topk_cte(tag: str, dim_filter: str) -> str:
    """Top-k CTE pair over ``e`` restricted by ``dim_filter`` (the e09
    kernel shape: decimal-exact comps, 6dp cosine, vec_id tiebreak)."""
    return f"""
    c_{tag} AS (
      SELECT qid, vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos)
      WHERE vec_id <> qid AND {dim_filter}
      GROUP BY qid, vec_id),
    t_{tag} AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qid
                 ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC,
                          vec_id) AS rnk
        FROM c_{tag})
      WHERE rnk <= {_E31_K})"""


def _e31_oracle() -> str:
    ctes = ",".join(
        [_e31_topk_cte("full", "TRUE")]
        + [_e31_topk_cte(f"p{d}", f"pos <= {d}") for d in _E31_DIMS]
    )
    hit_blocks = "\n      UNION ALL\n".join(
        f"""      SELECT qid, {d} AS prefix_dim, COUNT(*) AS hits
      FROM t_p{d} JOIN t_full USING (qid, vec_id) GROUP BY qid"""
        for d in _E31_DIMS
    )
    return f"""
    WITH {_LONG},
    q AS (SELECT vec_id AS qid, pos, v AS qv FROM e WHERE vec_id < {_E31_Q}),
    {ctes},
    hits AS (
{hit_blocks}),
    grid AS (SELECT DISTINCT qid, d.prefix_dim
             FROM q CROSS JOIN (VALUES {", ".join(f"({d})" for d in _E31_DIMS)})
                  AS d(prefix_dim))
    SELECT g.qid, CAST(g.prefix_dim AS INTEGER) AS prefix_dim,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / {_E31_K} AS recall
    FROM grid g LEFT JOIN hits h
      ON h.qid = g.qid AND h.prefix_dim = g.prefix_dim
    """


@query(
    "e31_matryoshka_recall",
    oracle=_e31_oracle(),
    doc="Matryoshka prefix-dimension recall audit (MRL — Kusupati et al. "
    "2022, arXiv 2205.13147, public): exact top-10 cosine neighbors "
    "computed at embedding PREFIXES (8/16/32 of 64 dims) vs the "
    "full-dimension exact top-10, per-query recall@10 for each prefix — "
    "the measurement that decides how far a deployment can truncate "
    "stored vectors before retrieval quality pays. The SWEEP "
    "generalization of e16 (which gates one query at the single 32-dim "
    "point): a query batch x a dim grid yields the full storage/recall "
    "frontier curve, not one sample of it. Reuses the e09 batch-kNN "
    "kernel at each prefix: ONE "
    "corpus scan per prefix with the 8-query block broadcast, per-query "
    "window cut, integer hit counts joined against the full-dim list — "
    "deterministic end to end, so recall itself is hash-gated (e11's "
    "audit discipline, extended across the dim axis).",
)
def e31_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import batch_knn

    emb = tbl(spark, sf_dir, "embeddings")
    full = batch_knn(emb, n_queries=_E31_Q, k=_E31_K).select("qid", "vec_id")
    grids = []
    for d in _E31_DIMS:
        pref = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        topd = batch_knn(pref, n_queries=_E31_Q, k=_E31_K).select(
            "qid", "vec_id"
        )
        # both sides of the overlap are Q*k rows (80) by construction —
        # broadcast hints are constant-bounded, never corpus-sized
        hits = (
            topd.join(F.broadcast(full), ["qid", "vec_id"])
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        qids = full.select("qid").distinct()
        grids.append(
            qids.join(F.broadcast(hits), "qid", "left").select(
                "qid",
                F.lit(d).cast("int").alias("prefix_dim"),
                F.coalesce("hits", F.lit(0)).cast("bigint").alias("n_hits"),
                (
                    F.coalesce("hits", F.lit(0)).cast("double") / _E31_K
                ).alias("recall"),
            )
        )
    out = grids[0]
    for g in grids[1:]:
        out = out.unionByName(g)
    return out


# --- quantization-bits recall sweep (new in r9) ------------------------------
_E32_LEVELS = ((8, 127), (4, 7))  # (bits, max symmetric code)
_E32_Q = 8
_E32_K = 10


def _e32_code_cte(tag: str, cmax: int) -> str:
    """Quantized-code kNN CTE pair: integer-code dot products are exact
    BIGINTs, and sqrt is correctly rounded in IEEE-754, so the cosine —
    and therefore the ranking — is bit-deterministic on both engines
    with no decimal accumulators needed."""
    return f"""
    c_{tag} AS (SELECT e.vec_id, e.pos,
                       CAST(floor(e.v * {cmax}.0 / amax + 0.5) AS BIGINT)
                         AS code
                FROM e JOIN amax USING (pos)),
    qq_{tag} AS (SELECT vec_id AS qid, pos, code AS qcode FROM c_{tag}
                 WHERE vec_id < {_E32_Q}),
    d_{tag} AS (
      SELECT qid, vec_id,
             CAST(SUM(code * qcode) AS BIGINT) AS dot,
             CAST(SUM(code * code) AS BIGINT) AS n2,
             CAST(SUM(qcode * qcode) AS BIGINT) AS q2
      FROM c_{tag} JOIN qq_{tag} USING (pos)
      WHERE vec_id <> qid GROUP BY qid, vec_id),
    t_{tag} AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qid
                 ORDER BY ROUND(CAST(dot AS DOUBLE)
                                / (SQRT(CAST(n2 AS DOUBLE))
                                   * SQRT(CAST(q2 AS DOUBLE))), 6) DESC,
                          vec_id) AS rn
        FROM d_{tag} WHERE n2 > 0 AND q2 > 0)
      WHERE rn <= {_E32_K})"""


def _e32_oracle() -> str:
    code_ctes = ",".join(
        _e32_code_cte(f"b{bits}", cmax) for bits, cmax in _E32_LEVELS
    )
    hit_blocks = "\n      UNION ALL\n".join(
        f"""      SELECT qid, {bits} AS bits, COUNT(*) AS hits
      FROM t_b{bits} JOIN t_full USING (qid, vec_id) GROUP BY qid"""
        for bits, _ in _E32_LEVELS
    )
    return f"""
    WITH {_LONG},
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    q AS (SELECT vec_id AS qid, pos, v AS qv FROM e WHERE vec_id < {_E32_Q}),
    cf AS (
      SELECT qid, vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> qid
      GROUP BY qid, vec_id),
    t_full AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qid
                 ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC,
                          vec_id) AS rn
        FROM cf)
      WHERE rn <= {_E32_K}),
    {code_ctes},
    hits AS (
{hit_blocks}),
    grid AS (SELECT DISTINCT qid, b.bits
             FROM q CROSS JOIN (VALUES {", ".join(f"({b})" for b, _ in _E32_LEVELS)})
                  AS b(bits))
    SELECT g.qid, CAST(g.bits AS INTEGER) AS bits,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / {_E32_K} AS recall
    FROM grid g LEFT JOIN hits h ON h.qid = g.qid AND h.bits = g.bits
    """


@query(
    "e32_quantization_recall_sweep",
    oracle=_e32_oracle(),
    doc="Quantization-bits recall sweep: exact top-10 cosine under int8 "
    "and int4 symmetric per-dim quantization (e07's floor(x+0.5) "
    "construction) vs the full-precision top-10, per-query recall@10 "
    "per bit width — with e31's prefix-dim sweep this completes the "
    "storage/recall frontier (truncate dims x shrink cells), the two "
    "knobs a 100 TB vector store actually turns. Determinism without "
    "decimal accumulators: integer CODE dot products are exact BIGINTs "
    "and IEEE sqrt is correctly rounded, so the quantized cosines — and "
    "the ranking — are bit-identical on both engines (the no-libm "
    "discipline; sqrt is the one libm function IEEE-754 pins). One "
    "corpus scan per bit width with the 8-query code block joined "
    "pos-wise; per-query WindowGroupLimit cuts.",
)
def e32_quantization_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out
    from goodreads_pyspark_spark.similarity.ann import batch_knn

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    full = batch_knn(emb, n_queries=_E32_Q, k=_E32_K).select("qid", "vec_id")
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    amax = e.groupBy("pos").agg(
        F.greatest(F.max(F.abs("v")), F.lit(1e-30)).alias("amax")
    )
    ea = e.join(amax, "pos").cache()  # one scale join feeds both bit widths
    grids = []
    for bits, cmax in _E32_LEVELS:
        codes = ea.select(
            "vec_id",
            "pos",
            F.floor(F.col("v") * float(cmax) / F.col("amax") + 0.5)
            .cast("bigint")
            .alias("code"),
        )
        qcodes = codes.filter(F.col("vec_id") < _E32_Q).select(
            F.col("vec_id").alias("qid"), "pos", F.col("code").alias("qcode")
        )
        d = (
            codes.join(F.broadcast(qcodes), "pos")
            .filter(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg(
                F.sum(F.col("code") * F.col("qcode")).cast("bigint").alias("dot"),
                F.sum(F.col("code") * F.col("code")).cast("bigint").alias("n2"),
                F.sum(F.col("qcode") * F.col("qcode")).cast("bigint").alias("q2"),
            )
            .filter((F.col("n2") > 0) & (F.col("q2") > 0))
        )
        cos = F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("q2").cast("double"))),
            6,
        )
        w = Window.partitionBy("qid").orderBy(cos.desc(), F.col("vec_id"))
        topb = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _E32_K)
            .select("qid", "vec_id")
        )
        hits = (
            topb.join(F.broadcast(full), ["qid", "vec_id"])
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        qids = full.select("qid").distinct()
        grids.append(
            qids.join(F.broadcast(hits), "qid", "left").select(
                "qid",
                F.lit(bits).cast("int").alias("bits"),
                F.coalesce("hits", F.lit(0)).cast("bigint").alias("n_hits"),
                (F.coalesce("hits", F.lit(0)).cast("double") / _E32_K).alias(
                    "recall"
                ),
            )
        )
    out = grids[0]
    for g in grids[1:]:
        out = out.unionByName(g)
    return out


# --- residual IVF-PQ (IVFADC) search (new in r9) -------------------------------
@query(
    "e33_ivfpq_residual_adc",
    oracle=f"""
    WITH {_LONG},
    cc AS (SELECT vec_id AS ccid, pos, v AS cval FROM e WHERE vec_id < 8),
    ad2 AS (SELECT e.vec_id, cc.ccid,
                   {_DSUM.format(expr='(e.v - cc.cval) * (e.v - cc.cval)')}
                     AS d2
            FROM e JOIN cc USING (pos) GROUP BY e.vec_id, cc.ccid),
    asg AS (SELECT vec_id, ccid FROM (
              SELECT vec_id, ccid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, ccid) AS rn
              FROM ad2) WHERE rn = 1),
    res AS (SELECT e.vec_id, a.ccid, e.pos, e.v - cc.cval AS r
            FROM e JOIN asg a ON a.vec_id = e.vec_id
            JOIN cc ON cc.ccid = a.ccid AND cc.pos = e.pos),
    cw AS (SELECT vec_id AS cid, pos, r AS cwv FROM res WHERE vec_id < 16),
    ed2 AS (SELECT res.vec_id, res.ccid, (res.pos - 1) // 16 AS sub, cw.cid,
                   {_DSUM.format(expr='(res.r - cw.cwv) * (res.r - cw.cwv)')}
                     AS d2
            FROM res JOIN cw ON cw.pos = res.pos
            GROUP BY res.vec_id, res.ccid, (res.pos - 1) // 16, cw.cid),
    enc AS (SELECT vec_id, ccid, sub, cid FROM (
              SELECT vec_id, ccid, sub, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d2, cid) AS rn
              FROM ed2) WHERE rn = 1),
    probe AS (SELECT ccid FROM ad2 WHERE vec_id = 3
              ORDER BY d2, ccid LIMIT 2),
    qr AS (SELECT p.ccid, e.pos, e.v - cc.cval AS qr
           FROM e CROSS JOIN probe p
           JOIN cc ON cc.ccid = p.ccid AND cc.pos = e.pos
           WHERE e.vec_id = 3),
    lut AS (SELECT qr.ccid, (qr.pos - 1) // 16 AS sub, cw.cid,
                   SUM(CAST((qr.qr - cw.cwv) * (qr.qr - cw.cwv)
                            AS DECIMAL(38,12))) AS lut_d2
            FROM qr JOIN cw ON cw.pos = qr.pos
            GROUP BY qr.ccid, (qr.pos - 1) // 16, cw.cid),
    adc AS (SELECT enc.vec_id, enc.ccid,
                   CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
            FROM enc JOIN lut ON lut.ccid = enc.ccid
                             AND lut.sub = enc.sub AND lut.cid = enc.cid
            WHERE enc.vec_id <> 3
            GROUP BY enc.vec_id, enc.ccid)
    SELECT vec_id, CAST(ccid AS INTEGER) AS cell, adc_d2
    FROM adc ORDER BY adc_d2, vec_id LIMIT 10
    """,
    doc="Residual-encoded IVF-PQ search — the full IVFADC structure "
    "(Jegou, Douze & Schmid 2011, public; FAISS IndexIVFPQ) that e06 "
    "(IVF routing) and e14 (flat-PQ ADC) each cover half of: vectors "
    "route to a coarse cell, PQ encodes the RESIDUAL v - c(v) (same "
    "code budget, far more precision near the origin), and search "
    "builds a PER-PROBED-CELL LUT from the query's residual against "
    "that cell. Top-10 for query vec_id=3 probing 2 of 8 cells, "
    "4x16-dim subspaces, 16 residual codewords. Deterministic sampled "
    "centroids/codewords (the e08/e10 convention) let the oracle "
    "replay routing, residual encode and per-cell ADC bit-exactly "
    "(decimal-exact distance sums, id tiebreaks). Scale shape: "
    "centroids, codebooks and the nprobe*4*16-row LUT broadcast; "
    "shuffles carry (id, cell/sub, cid, distance) rows only; the "
    "candidate restriction is the enc-to-LUT broadcast join on the "
    "probed cells — raw vectors are never rescanned at query time.",
)
def e33_ivfpq_residual_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import ivfpq_adc_topk

    emb = tbl(spark, sf_dir, "embeddings")
    return ivfpq_adc_topk(
        emb, query_id=3, k=10, nlist=8, nprobe=2, n_sub=4, sub_dim=16, ksub=16
    )


# --- IVFADC recall audit (new in r9) -------------------------------------------
@query(
    "e34_ivfpq_recall_audit",
    oracle=f"""
    WITH {_LONG},
    cc AS (SELECT vec_id AS ccid, pos, v AS cval FROM e WHERE vec_id < 8),
    ad2 AS (SELECT e.vec_id, cc.ccid,
                   {_DSUM.format(expr='(e.v - cc.cval) * (e.v - cc.cval)')}
                     AS d2
            FROM e JOIN cc USING (pos) GROUP BY e.vec_id, cc.ccid),
    asg AS (SELECT vec_id, ccid FROM (
              SELECT vec_id, ccid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, ccid) AS rn
              FROM ad2) WHERE rn = 1),
    res AS (SELECT e.vec_id, a.ccid, e.pos, e.v - cc.cval AS r
            FROM e JOIN asg a ON a.vec_id = e.vec_id
            JOIN cc ON cc.ccid = a.ccid AND cc.pos = e.pos),
    cw AS (SELECT vec_id AS cid, pos, r AS cwv FROM res WHERE vec_id < 16),
    ed2 AS (SELECT res.vec_id, res.ccid, (res.pos - 1) // 16 AS sub, cw.cid,
                   {_DSUM.format(expr='(res.r - cw.cwv) * (res.r - cw.cwv)')}
                     AS d2
            FROM res JOIN cw ON cw.pos = res.pos
            GROUP BY res.vec_id, res.ccid, (res.pos - 1) // 16, cw.cid),
    enc AS (SELECT vec_id, ccid, sub, cid FROM (
              SELECT vec_id, ccid, sub, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d2, cid) AS rn
              FROM ed2) WHERE rn = 1),
    probe AS (SELECT ccid FROM ad2 WHERE vec_id = 3
              ORDER BY d2, ccid LIMIT 2),
    qr AS (SELECT p.ccid, e.pos, e.v - cc.cval AS qr
           FROM e CROSS JOIN probe p
           JOIN cc ON cc.ccid = p.ccid AND cc.pos = e.pos
           WHERE e.vec_id = 3),
    lutr AS (SELECT qr.ccid, (qr.pos - 1) // 16 AS sub, cw.cid,
                    SUM(CAST((qr.qr - cw.cwv) * (qr.qr - cw.cwv)
                             AS DECIMAL(38,12))) AS lut_d2
             FROM qr JOIN cw ON cw.pos = qr.pos
             GROUP BY qr.ccid, (qr.pos - 1) // 16, cw.cid),
    ivfpq AS (SELECT vec_id FROM (
                SELECT enc.vec_id, CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
                FROM enc JOIN lutr ON lutr.ccid = enc.ccid
                                  AND lutr.sub = enc.sub
                                  AND lutr.cid = enc.cid
                WHERE enc.vec_id <> 3 GROUP BY enc.vec_id)
              ORDER BY adc_d2, vec_id LIMIT 10),
    fcw AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < 16),
    fd2 AS (SELECT e.vec_id, (e.pos - 1) // 16 AS sub, fcw.cid,
                   {_DSUM.format(expr='(e.v - fcw.cval) * (e.v - fcw.cval)')}
                     AS d2
            FROM e JOIN fcw USING (pos)
            GROUP BY e.vec_id, (e.pos - 1) // 16, fcw.cid),
    fenc AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2, cid) AS rn
               FROM fd2) WHERE rn = 1),
    fq AS (SELECT pos, v AS qv FROM e WHERE vec_id = 3),
    flut AS (SELECT (fq.pos - 1) // 16 AS sub, fcw.cid,
                    SUM(CAST((fq.qv - fcw.cval) * (fq.qv - fcw.cval)
                             AS DECIMAL(38,12))) AS lut_d2
             FROM fq JOIN fcw ON fcw.pos = fq.pos
             GROUP BY (fq.pos - 1) // 16, fcw.cid),
    flat AS (SELECT vec_id FROM (
               SELECT fenc.vec_id, CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
               FROM fenc JOIN flut USING (sub, cid)
               WHERE fenc.vec_id <> 3 GROUP BY fenc.vec_id)
             ORDER BY adc_d2, vec_id LIMIT 10),
    exact AS (SELECT vec_id FROM (
                SELECT e.vec_id,
                       {_DSUM.format(expr='(e.v - fq.qv) * (e.v - fq.qv)')}
                         AS d2
                FROM e JOIN fq USING (pos) WHERE e.vec_id <> 3
                GROUP BY e.vec_id)
              ORDER BY d2, vec_id LIMIT 10)
    SELECT CAST(10 AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM ivfpq JOIN exact USING (vec_id))
                AS BIGINT) AS ivfpq_hits,
           CAST((SELECT COUNT(*) FROM ivfpq JOIN exact USING (vec_id))
                AS DOUBLE) / 10 AS ivfpq_recall,
           CAST((SELECT COUNT(*) FROM flat JOIN exact USING (vec_id))
                AS BIGINT) AS flatpq_hits,
           CAST((SELECT COUNT(*) FROM flat JOIN exact USING (vec_id))
                AS DOUBLE) / 10 AS flatpq_recall
    """,
    doc="IVFADC quality audit: recall@10 of the residual IVF-PQ search "
    "(e33, nprobe=2 of 8) AND of flat-PQ ADC (the e14 kernel, same "
    "query vec_id=3) against the exact L2 top-10, side by side — the "
    "e11/e12/e15 'measure, don't guess' discipline applied to the "
    "completed index family. The pair of numbers separates the two "
    "error sources the combined index carries: routing loss (probing 2 "
    "cells) and code loss (16 codewords x 4 subspaces), vs flat PQ's "
    "code loss alone. All three rankings are deterministic, so both "
    "recall values are hash-gated, not banded. Scale shape: three "
    "already-audited kernels + two 10-row joins.",
)
def e34_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.ann import _ACC, _long_form
    from goodreads_pyspark_spark.similarity.quantize import (
        ivfpq_adc_topk,
        pq_adc_topk,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    ivfpq = ivfpq_adc_topk(emb, query_id=3, k=10).select("vec_id")
    flat = pq_adc_topk(emb, query_id=3, k=10).select("vec_id")

    e = _long_form(emb, "vec_id", "embedding")
    q = e.filter(F.col("vec_id") == 3).select("pos", F.col("v").alias("qv"))
    exact = (
        e.filter(F.col("vec_id") != 3)
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(
                ((F.col("v") - F.col("qv")) * (F.col("v") - F.col("qv"))).cast(
                    _ACC
                )
            )
            .cast("double")
            .alias("d2")
        )
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    exact = exact.cache()  # consumed by both recall joins
    h1 = ivfpq.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("ivfpq_hits")
    )
    h2 = flat.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("flatpq_hits")
    )
    return (
        h1.crossJoin(F.broadcast(h2))
        .select(
            F.lit(10).cast("int").alias("k"),
            "ivfpq_hits",
            (F.col("ivfpq_hits").cast("double") / 10).alias("ivfpq_recall"),
            "flatpq_hits",
            (F.col("flatpq_hits").cast("double") / 10).alias("flatpq_recall"),
        )
    )


# --- IVFADC nprobe recall curve (new in r9) -------------------------------------
def _e35_oracle(probes: tuple[int, ...] = (1, 4, 8), k: int = 10) -> str:
    shared = f"""
    WITH {_LONG},
    cc AS (SELECT vec_id AS ccid, pos, v AS cval FROM e WHERE vec_id < 8),
    ad2 AS (SELECT e.vec_id, cc.ccid,
                   {_DSUM.format(expr='(e.v - cc.cval) * (e.v - cc.cval)')}
                     AS d2
            FROM e JOIN cc USING (pos) GROUP BY e.vec_id, cc.ccid),
    asg AS (SELECT vec_id, ccid FROM (
              SELECT vec_id, ccid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, ccid) AS rn
              FROM ad2) WHERE rn = 1),
    res AS (SELECT e.vec_id, a.ccid, e.pos, e.v - cc.cval AS r
            FROM e JOIN asg a ON a.vec_id = e.vec_id
            JOIN cc ON cc.ccid = a.ccid AND cc.pos = e.pos),
    cw AS (SELECT vec_id AS cid, pos, r AS cwv FROM res WHERE vec_id < 16),
    ed2 AS (SELECT res.vec_id, res.ccid, (res.pos - 1) // 16 AS sub, cw.cid,
                   {_DSUM.format(expr='(res.r - cw.cwv) * (res.r - cw.cwv)')}
                     AS d2
            FROM res JOIN cw ON cw.pos = res.pos
            GROUP BY res.vec_id, res.ccid, (res.pos - 1) // 16, cw.cid),
    enc AS (SELECT vec_id, ccid, sub, cid FROM (
              SELECT vec_id, ccid, sub, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d2, cid) AS rn
              FROM ed2) WHERE rn = 1),
    fq AS (SELECT pos, v AS qv FROM e WHERE vec_id = 3),
    exact AS (SELECT vec_id FROM (
                SELECT e.vec_id,
                       {_DSUM.format(expr='(e.v - fq.qv) * (e.v - fq.qv)')}
                         AS d2
                FROM e JOIN fq USING (pos) WHERE e.vec_id <> 3
                GROUP BY e.vec_id)
              ORDER BY d2, vec_id LIMIT {k})"""
    per = []
    sel = []
    for p in probes:
        per.append(f""",
    probe{p} AS (SELECT ccid FROM ad2 WHERE vec_id = 3
                 ORDER BY d2, ccid LIMIT {p}),
    qr{p} AS (SELECT pp.ccid, e.pos, e.v - cc.cval AS qr
              FROM e CROSS JOIN probe{p} pp
              JOIN cc ON cc.ccid = pp.ccid AND cc.pos = e.pos
              WHERE e.vec_id = 3),
    lut{p} AS (SELECT qr{p}.ccid, (qr{p}.pos - 1) // 16 AS sub, cw.cid,
                      SUM(CAST((qr{p}.qr - cw.cwv) * (qr{p}.qr - cw.cwv)
                               AS DECIMAL(38,12))) AS lut_d2
               FROM qr{p} JOIN cw ON cw.pos = qr{p}.pos
               GROUP BY qr{p}.ccid, (qr{p}.pos - 1) // 16, cw.cid),
    top{p} AS (SELECT vec_id FROM (
                 SELECT enc.vec_id, CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
                 FROM enc JOIN lut{p} ON lut{p}.ccid = enc.ccid
                                     AND lut{p}.sub = enc.sub
                                     AND lut{p}.cid = enc.cid
                 WHERE enc.vec_id <> 3 GROUP BY enc.vec_id)
               ORDER BY adc_d2, vec_id LIMIT {k})""")
        sel.append(f"""
    SELECT CAST({p} AS INTEGER) AS nprobe, CAST({k} AS INTEGER) AS k,
           CAST((SELECT COUNT(*) FROM top{p} JOIN exact USING (vec_id))
                AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM top{p} JOIN exact USING (vec_id))
                AS DOUBLE) / {k} AS recall""")
    return shared + "".join(per) + "\n    UNION ALL".join(sel)


@query(
    "e35_ivfpq_nprobe_curve",
    oracle=_e35_oracle(),
    doc="The nprobe dial for the combined IVFADC index (e33): recall@10 "
    "vs the exact L2 top-10 at probe depths 1/4/8 of 8 cells — e19's "
    "probe-depth discipline applied to the residual-PQ index. ONE "
    "assignment pass and ONE residual-encode pass serve the whole "
    "curve (similarity/quantize.py ivfpq_recall_curve; each depth adds "
    "only its own broadcast LUT build and ADC ranking). At nprobe=8 "
    "(== nlist) routing loss vanishes and the residual remaining gap "
    "is pure code loss — together with e34's flat-PQ column this "
    "separates all three error sources of the production index. All "
    "rankings deterministic, recalls hash-gated. Scale shape: the "
    "index build is e33's; per depth only nprobe*4*16 LUT rows and "
    "the code-table ADC join are added.",
)
def e35_ivfpq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import ivfpq_recall_curve

    emb = tbl(spark, sf_dir, "embeddings")
    return ivfpq_recall_curve(
        emb, query_id=3, k=10, probes=(1, 4, 8), nlist=8,
        n_sub=4, sub_dim=16, ksub=16,
    )

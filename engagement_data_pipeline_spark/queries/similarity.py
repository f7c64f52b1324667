"""Registry queries for similarity search over `embeddings`, with
exact DuckDB oracles (float→double sequential folds are bit-identical
across engines — see training/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import load
from ..training import similarity as S
from ._helpers import apply_runtime_conf

QUERY_IDS = [0, 1, 2, 3, 4]
EMB_DIM = 64  # embeddings.parquet vector length at every sf
# (verified from the parquet; lsh_bucket raises on mismatch, so a
# regenerated table with another dim fails fast instead of
# silently collapsing every row into bucket 0)
K = 10
# 4 bits → 16 buckets: sized so buckets stay populated at sf0.01's 500
# vectors; at production scale nbits grows with log2(n / target bucket
# size) (the operator takes nbits as a parameter).
LSH_QUERY_BITS = 4

_Q_IN = "(" + ", ".join(str(i) for i in QUERY_IDS) + ")"

_DOT = ("list_sum(list_transform(generate_series(1, len({a})), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")
_NORM = ("sqrt(list_sum(list_transform({a}, "
         "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def _cosine_sql(a: str, b: str) -> str:
    return (f"{_DOT.format(a=a, b=b)} / "
            f"({_NORM.format(a=a)} * {_NORM.format(a=b)})")


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return S.cosine_topk(load(spark, sf_dir, "embeddings"), QUERY_IDS, K)


ANN_TOPK_BRUTEFORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN {_Q_IN}
),
scored AS (
  SELECT q.query_id, e.vec_id,
         {_cosine_sql("e.embedding", "q.q_emb")} AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {K}
"""


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per anchor, the k most-
    similar vectors with a DIFFERENT label (the negatives that
    actually move a contrastive loss; random negatives are easy)."""
    apply_runtime_conf(spark)
    return S.hard_negatives(load(spark, sf_dir, "embeddings"),
                            QUERY_IDS, K)


EMB_HARD_NEGATIVES_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS anchor_label
  FROM embeddings WHERE vec_id IN {_Q_IN}
),
scored AS (
  SELECT q.query_id, q.anchor_label, e.vec_id, e.label AS neg_label,
         {_cosine_sql("e.embedding", "q.q_emb")} AS cosine
  FROM embeddings e, q WHERE e.label <> q.anchor_label
)
SELECT * FROM (
  SELECT query_id, anchor_label, vec_id, neg_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {K}
"""


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return S.cosine_topk_lsh(load(spark, sf_dir, "embeddings"), QUERY_IDS, K,
                             nbits=LSH_QUERY_BITS, dim=EMB_DIM)


def _bucket_sql(emb: str) -> str:
    terms = []
    for j in range(LSH_QUERY_BITS):
        coeff = (f"CAST(CAST(('0x' || substr(md5('hp{j}:' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) "
                 f"% {S.HYPERPLANE_MOD} - {S.HYPERPLANE_SHIFT} AS DOUBLE)")
        proj = (f"list_sum(list_transform(generate_series(1, len({emb})), "
                f"i -> CAST({emb}[i] AS DOUBLE) * {coeff}))")
        terms.append(f"(CASE WHEN {proj} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


ANN_TOPK_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding AS emb, {_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket FROM b
  WHERE vec_id IN {_Q_IN}
),
scored AS (
  SELECT q.query_id, b.vec_id,
         {_cosine_sql("b.emb", "q.q_emb")} AS cosine
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.query_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {K}
"""


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return S.cosine_topk_ivf(load(spark, sf_dir, "embeddings"), QUERY_IDS, K)


_CENT_IN = "(" + ", ".join(str(i) for i in S.IVF_CENTROID_IDS) + ")"


def _ivf_sql() -> str:
    cos_cent = _cosine_sql("e.embedding", "c.c_emb")
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings
  WHERE vec_id IN {_CENT_IN}
),
assigned AS (
  SELECT vec_id, emb, cid AS cell FROM (
    SELECT e.vec_id, e.embedding AS emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_cent} DESC, c.cid) AS crn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE crn = 1
),
qprobe AS (
  SELECT query_id, q_emb, cid AS cell FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_cent} DESC, c.cid) AS crn
    FROM embeddings e CROSS JOIN cents c
    WHERE e.vec_id IN {_Q_IN}
  ) WHERE crn <= {S.IVF_NPROBE}
),
scored AS (
  SELECT q.query_id, a.vec_id,
         {_cosine_sql("a.emb", "q.q_emb")} AS cosine
  FROM assigned a JOIN qprobe q USING (cell)
  WHERE a.vec_id <> q.query_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {K}
"""


ANN_TOPK_IVF_SQL = _ivf_sql()


# --- kNN label vote (embedding-quality eval) ------------------------------

VOTE_IDS = list(range(0, 100, 5))   # 20 query vectors
_V_IN = "(" + ", ".join(str(i) for i in VOTE_IDS) + ")"


def ann_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each query vector by majority label of its LSH top-k
    neighbours (ties → smaller label) and report it against the true
    label — the standard embedding-quality probe a curation pipeline
    runs. Rides the bucketed LSH top-k, so the scoring cost is
    bucket-local; the label lookup is a broadcast dimension join."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    apply_runtime_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    topk = S.cosine_topk_lsh(emb, VOTE_IDS, K,
                             nbits=LSH_QUERY_BITS, dim=EMB_DIM)
    labels = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    votes = (topk.join(F.broadcast(labels), "vec_id")
             .groupBy("query_id", "label")
             .agg(F.count(F.lit(1)).cast("long").alias("n_votes")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label"))
    winners = (votes.select("*", F.row_number().over(w).alias("vrn"))
               .where(F.col("vrn") == 1)
               .select("query_id", F.col("label").alias("predicted_label"),
                       "n_votes"))
    truth = emb.select(F.col("vec_id").alias("query_id"),
                       F.col("label").cast("long").alias("true_label"))
    return winners.join(F.broadcast(truth), "query_id")


ANN_KNN_LABEL_VOTE_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding AS emb, label, {_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket FROM b
  WHERE vec_id IN {_V_IN}
),
scored AS (
  SELECT q.query_id, b.vec_id,
         {_cosine_sql("b.emb", "q.q_emb")} AS cosine
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.query_id
),
topk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= {K}
),
votes AS (
  SELECT t.query_id, CAST(b.label AS BIGINT) AS label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk t JOIN b ON t.vec_id = b.vec_id
  GROUP BY t.query_id, b.label
),
winners AS (
  SELECT query_id, label AS predicted_label, n_votes FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, label) AS vrn
    FROM votes
  ) WHERE vrn = 1
)
SELECT w.query_id, w.predicted_label, w.n_votes,
       CAST(b.label AS BIGINT) AS true_label
FROM winners w JOIN b ON w.query_id = b.vec_id
"""


# --- embedding-cosine near-dup pairs -------------------------------------

NEAR_DUP_THRESHOLD = 0.35   # ≈99.9th pct of pair cosines on the testdata


def doc_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return S.embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"),
        threshold=NEAR_DUP_THRESHOLD, nbits=LSH_QUERY_BITS, dim=EMB_DIM)


DOC_EMBEDDING_NEARDUP_SQL = f"""
WITH b AS (
  SELECT vec_id AS id, embedding AS emb, {_bucket_sql("embedding")} AS bucket
  FROM embeddings
)
SELECT x.id AS id_a, y.id AS id_b,
       {_cosine_sql("x.emb", "y.emb")} AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
WHERE {_cosine_sql("x.emb", "y.emb")} >= {NEAR_DUP_THRESHOLD}
"""


# --- per-label embedding statistics --------------------------------------

_MICRO = 1_000_000


def emb_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) exact component sums — the sufficient
    statistics for class centroids (label quality checks, simple
    nearest-centroid classifiers). Floats are quantized to exact
    integer micro-units (floor(x * 1e6): double arithmetic with one
    IEEE-defined rounding, identical in any engine) BEFORE the
    parallel sum, so Spark's partial aggregation order can't perturb
    the result — the cross-engine-exact way to aggregate float
    vectors. One posexplode + one hash agg; output is |labels| x dim
    rows, independent of corpus size."""
    from pyspark.sql import functions as F
    apply_runtime_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"))
    q = F.floor(F.col("x").cast("double") * F.lit(float(_MICRO))).cast("long")
    return (ex.groupBy("label", F.col("dim").cast("long").alias("dim"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.sum(q).cast("long").alias("sum_micro"))
            .select("label", "dim", "n_vecs", "sum_micro",
                    (F.col("sum_micro").cast("double")
                     / (F.col("n_vecs").cast("double") * F.lit(float(_MICRO)))
                     ).alias("mean_value")))


EMB_LABEL_STATS_SQL = f"""
WITH ex AS (
  SELECT label,
         unnest(list_transform(generate_series(1, len(embedding)),
                               i -> {{'dim': CAST(i - 1 AS BIGINT),
                                     'q': CAST(floor(CAST(embedding[i] AS DOUBLE)
                                                     * {_MICRO}) AS BIGINT)}})) AS s
  FROM embeddings
)
SELECT label, s.dim AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(s.q) AS BIGINT) AS sum_micro,
       CAST(SUM(s.q) AS DOUBLE)
       / (CAST(COUNT(*) AS DOUBLE) * {_MICRO}) AS mean_value
FROM ex GROUP BY label, s.dim
"""


# --- retrieval eval (recall@k / MRR of both indexes vs brute force) -------

def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k and reciprocal rank of BOTH approximate indexes (LSH
    and IVF) against the brute-force ground truth on the same query
    set (training/similarity.py:retrieval_eval) — one eval frame per
    index, labeled, so an index/nbits change shows its quality delta
    side by side."""
    from pyspark.sql import functions as F

    apply_runtime_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, QUERY_IDS, K)
    evals = []
    for name, approx in (
            ("lsh", S.cosine_topk_lsh(emb, QUERY_IDS, K,
                                      nbits=LSH_QUERY_BITS, dim=EMB_DIM)),
            ("ivf", S.cosine_topk_ivf(emb, QUERY_IDS, K))):
        evals.append(S.retrieval_eval(approx, exact)
                     .select(F.lit(name).alias("index"), "*"))
    return evals[0].unionByName(evals[1])


def _eval_block(name: str, approx_sql: str) -> str:
    return f"""
SELECT '{name}' AS index, kq.query_id,
       COALESCE(hits.n_hits, 0) AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / CAST(kq.k AS DOUBLE)
         AS recall_at_k,
       COALESCE(rr.rr, 0.0) AS rr
FROM (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
      FROM exact GROUP BY query_id) kq
LEFT JOIN (
  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM ({approx_sql}) a JOIN exact t USING (query_id, vec_id)
  GROUP BY a.query_id
) hits USING (query_id)
LEFT JOIN (
  SELECT a.query_id, 1.0 / CAST(MIN(a.rank) AS DOUBLE) AS rr
  FROM ({approx_sql}) a
  JOIN (SELECT query_id, vec_id AS best_vec
        FROM exact WHERE rank = 1) top1 USING (query_id)
  WHERE a.vec_id = top1.best_vec
  GROUP BY a.query_id
) rr USING (query_id)"""


ANN_RECALL_EVAL_SQL = (
    f"WITH exact AS ({ANN_TOPK_BRUTEFORCE_SQL})"
    + _eval_block("lsh", ANN_TOPK_LSH_SQL)
    + " UNION ALL " + _eval_block("ivf", ANN_TOPK_IVF_SQL)
)


# --- int8 scalar quantization --------------------------------------------

def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine uint8 quantization of the embedding corpus
    (training/quantize.py): fit = one 2·d-expression aggregation,
    codes + midpoint reconstruction error = one zero-shuffle
    projection against the broadcast stats row. All arithmetic is
    IEEE doubles in pinned operand order, so codes AND the error
    column hash-match the DuckDB re-derivation exactly."""
    from pyspark.sql import functions as F

    from ..training import quantize as Q

    apply_runtime_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    stats = Q.quantize_fit(emb, EMB_DIM)
    out = Q.dequant_error(emb, stats, EMB_DIM)
    # codes as a comma-joined string: family checksums and the driver
    # canonicalise scalar cells, not nested lists
    return out.select(
        "vec_id",
        F.array_join(F.transform(F.col("codes"),
                                 lambda c: c.cast("string")), ",")
        .alias("codes"),
        "max_abs_err")


EMB_QUANTIZE_SQL = f"""
WITH ex AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, range(1, {EMB_DIM + 1}) t(i)
),
stats AS (
  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY i
),
sc AS (
  SELECT i, mn, mx - mn = CAST(0 AS DOUBLE) AS const,
         CASE WHEN mx - mn = CAST(0 AS DOUBLE) THEN CAST(1 AS DOUBLE)
              ELSE mx - mn END AS s
  FROM stats
),
coded AS (
  SELECT ex.vec_id, ex.i, ex.x, sc.mn, sc.s, sc.const,
         GREATEST(0, LEAST(255, CAST(FLOOR(
           (ex.x - sc.mn) / sc.s * CAST(255 AS DOUBLE)) AS INTEGER)))
           AS code
  FROM ex JOIN sc USING (i)
)
SELECT vec_id,
       array_to_string(list(code ORDER BY i), ',') AS codes,
       MAX(ABS(x - CASE WHEN const THEN mn
                   ELSE mn + (CAST(code AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        * (s / CAST(255 AS DOUBLE)) END)) AS max_abs_err
FROM coded GROUP BY vec_id
"""


# --- PCA sufficient statistics -------------------------------------------

def emb_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact integer sufficient statistics PCA fits from
    (training/pca.py:gram_stats): row count, per-dim quantized sums,
    upper-triangle second-moment products — d(d+1)/2 + d + 1
    DECIMAL(38,0) cells from ONE corpus pass. The oracle re-derives
    every cell, so a hash match certifies the entire distributed part
    of the PCA fit; the driver-side eigendecomposition consumes these
    same cells (pinned separately by pytest)."""
    from ..training.pca import gram_stats

    apply_runtime_conf(spark)
    return gram_stats(load(spark, sf_dir, "embeddings"), EMB_DIM)


EMB_GRAM_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qx
  FROM embeddings WHERE embedding IS NOT NULL  -- gram_stats skips them
),
cnt AS (
  SELECT CAST(-1 AS INTEGER) AS i, CAST(-1 AS INTEGER) AS j,
         CAST(CAST(COUNT(*) AS DECIMAL(38,0)) AS VARCHAR) AS s
  FROM q
),
sums AS (
  SELECT CAST(t.i AS INTEGER) AS i, CAST(-1 AS INTEGER) AS j,
         CAST(SUM(CAST(qx[t.i + 1] AS DECIMAL(38,0))) AS VARCHAR) AS s
  FROM q, range(0, {EMB_DIM}) t(i) GROUP BY t.i
),
prods AS (
  -- cast each factor to DECIMAL(19,0) BEFORE multiplying (mirrors
  -- gram_stats): the product widens to DECIMAL(38,0), exact for any
  -- int64 pair, where a BIGINT multiply would overflow at 2^63
  SELECT CAST(t1.i AS INTEGER) AS i, CAST(t2.j AS INTEGER) AS j,
         CAST(SUM(CAST(qx[t1.i + 1] AS DECIMAL(19,0))
                  * CAST(qx[t2.j + 1] AS DECIMAL(19,0)))
              AS VARCHAR) AS s
  FROM q, range(0, {EMB_DIM}) t1(i), range(0, {EMB_DIM}) t2(j)
  WHERE t2.j >= t1.i GROUP BY t1.i, t2.j
)
SELECT * FROM cnt UNION ALL SELECT * FROM sums UNION ALL SELECT * FROM prods
"""

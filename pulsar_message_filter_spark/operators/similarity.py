"""F-series: vector similarity search (SURVEY.md §2.F3–F5, F13).

All exact math is pure Column algebra — ``zip_with`` + ``aggregate`` folds
with explicit double casts — no UDFs, so Catalyst fuses the whole cosine
into codegen and the oracle can replicate the identical fold in SQL
(``list_transform`` over ``generate_series`` with double casts).

Scale design (100 TB / billions of vectors):

* brute-force top-k broadcasts the (small) query set against the corpus —
  one scan, no shuffle of the big side, per-partition heap via the ranking
  window;
* the LSH path (`lsh_topk`) hashes vectors into sign-bit buckets of R
  seeded random hyperplanes, joins within buckets only, then re-ranks
  exactly — candidate generation is a bucket-equi-join, shuffle keyed by
  bucket id, no quadratic blowup.  Plane vectors are seeded literals so
  the operator is deterministic.
"""

from __future__ import annotations

import random as _random

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_message_filter_spark.io import load
from pulsar_message_filter_spark.registry import graded

EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Exact double-precision dot product of two float arrays (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: Column) -> Column:
    """L2-normalized copy of a float array column (F13)."""
    n = norm(a)
    return F.transform(a, lambda x: (x.cast("double") / n))


def _dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    """Oracle twin of :func:`dot` — same double casts, same sequential fold."""
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cosine_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"({_dot_sql(a, b, dim)} / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)})))"
    )


# ---------------------------------------------------------------------------
# F3 — exact pairwise cosine similarity
# ---------------------------------------------------------------------------


@graded(
    "f3_cosine_pairs",
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 20 AND b.vec_id < 20
    """,
    section="F3",
    description="exact pairwise cosine over a pair window — pure Column algebra",
)
def f3_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 20)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
        )
    )


def numpy_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine via Arrow-batched numpy matmul (G5 surface).

    The README's "UDFs are the slow path" rule has one documented
    exception: dense linear algebra, where one BLAS matmul per Arrow batch
    beats per-pair ``zip_with`` folds by orders of magnitude (measured in
    SCALING.md).  Shape:

    * the query block is collected to the driver and closure-broadcast —
      queries are small by definition (an ANN request batch); the CORPUS
      never leaves executors;
    * each corpus partition computes ``Q_norm @ C_batch_norm.T`` and emits
      only its local top-k rows per query (k × n_queries rows per
      partition, not the full similarity matrix);
    * a global ranking window re-ranks the ~partitions×k candidates —
      exact distributed top-k with no quadratic shuffle.

    Rounded-similarity + neighbor-id ranking keeps results identical to
    :func:`brute_topk` (float64 matmul vs codegen fold agree at 6 dp).
    """
    import numpy as np

    q_rows = queries.select("vec_id", "embedding").collect()
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def topk_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["embedding"]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = q_mat @ c.T  # (n_queries, batch)
            for qi, qid in enumerate(q_ids):
                row = sims[qi]
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], row[mask]
                if len(cand_ids) > k:
                    part = np.argpartition(-cand_sims, k)[:k]
                    cand_ids, cand_sims = cand_ids[part], cand_sims[part]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids,
                        "cos_sim": np.round(cand_sims, round_dp),
                    }
                )

    candidates = corpus.select("vec_id", "embedding").mapInPandas(
        topk_batches, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


@graded(
    "f4_topk_numpy",
    # float64 matmul agrees with the fold/oracle at 6 dp: exact, not approx —
    # so it gets the same SQL oracle as f4_topk_cosine at its own bounds
    oracle=f"""
        WITH sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({_cosine_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 30
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM sims
        ) WHERE rank <= 10
    """,
    section="F4,G5,F14",
    description="exact top-k cosine via Arrow-batched numpy matmul: "
    "partition-local top-k then global re-rank — the high-throughput dense "
    "path; oracle-checked (float64 matmul == fold at 6 dp)",
)
def f4_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 30)
    return numpy_topk(spark, queries, emb, k=10)


# ---------------------------------------------------------------------------
# F4 — top-k similarity search (brute force, oracle-checkable)
# ---------------------------------------------------------------------------


def brute_topk(
    queries: DataFrame, corpus: DataFrame, k: int, round_dp: int = 6
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus scan
    is a single pass.  Ranking is on the *rounded* similarity with vec_id
    tiebreak, making the result deterministic across engines.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ce")), round_dp).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


@graded(
    "f4_topk_cosine",
    oracle=f"""
        WITH sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({_cosine_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 5
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM sims
        ) WHERE rank <= 3
    """,
    section="F4,C21",
    description="brute-force top-3 cosine neighbors for 5 query vectors",
)
def f4_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    return brute_topk(emb.filter(F.col("vec_id") < 5), emb, k=3)


# ---------------------------------------------------------------------------
# F4 scale path — random-hyperplane LSH bucketing (deterministic, seeded)
# ---------------------------------------------------------------------------


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = _random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(
    emb: Column, n_planes: int = 12, dim: int = EMB_DIM, seed: int = 42
) -> Column:
    """Sign-bit bucket id from ``n_planes`` seeded random hyperplanes.

    Cosine-similar vectors agree on most sign bits, so they collide in the
    same bucket with high probability — candidate generation becomes a
    bucket equi-join instead of a quadratic cross join.
    """
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(_hyperplanes(n_planes, dim, seed)):
        d = dot(emb, F.array(*[F.lit(v) for v in plane]))
        bucket = bucket + F.when(d > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def lsh_table_buckets_np(
    n_tables: int, planes_per_table: int, dim: int = EMB_DIM, seed: int = 42
):
    """Vectorized bucket assignment: one numpy matmul per Arrow batch
    computes every table's sign-bit bucket at once.

    This is the sanctioned pandas-UDF exception (SURVEY §2.G design rule):
    expressing L×k hyperplane dot products as inline Column folds creates a
    ~L·k·dim-term codegen expression whose compile time dwarfs the data —
    the (batch × dim)·(dim × L·k) matmul is the right kernel.  Output is
    ``array<long>`` of per-table bucket ids, deterministic from the seed.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            _hyperplanes(planes_per_table, dim, seed + 1000 * t)[p]
            for t in range(n_tables)
            for p in range(planes_per_table)
        ]
    ).T  # (dim, L*k)
    weights = np.tile(2 ** np.arange(planes_per_table), n_tables)
    table_idx = np.repeat(np.arange(n_tables), planes_per_table)

    def assign(batch: pd.Series) -> pd.Series:
        mat = np.stack(batch.to_numpy())  # (n, dim) float32
        bits = (mat.astype(np.float64) @ planes) > 0  # (n, L*k)
        weighted = bits * weights
        buckets = np.zeros((mat.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            buckets[:, t] = weighted[:, table_idx == t].sum(axis=1)
        return pd.Series(list(buckets))

    return pandas_udf(assign, "array<long>")


def lsh_topk(
    corpus: DataFrame,
    k: int,
    n_tables: int = 8,
    planes_per_table: int = 4,
) -> DataFrame:
    """Approximate all-pairs top-k: multi-table bucket join + exact re-rank.

    The 100 TB path for F4 (SURVEY §2.F14): candidate generation is an
    equi-join on (table, bucket) — shuffle keyed by bucket, pair count
    ~L/2^k of the cross join; the exact cosine touches candidates only.
    """
    bucket_udf = lsh_table_buckets_np(n_tables, planes_per_table)
    bucketed = corpus.select(
        "vec_id",
        "embedding",
        F.posexplode(bucket_udf(F.col("embedding"))).alias("tbl", "bucket"),
    )
    a = bucketed.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "tbl", "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "tbl", "bucket"
    )
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair may collide in several tables — dedupe before the cosine
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qe").alias("qe"), F.first("ce").alias("ce"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        pairs.select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@graded(
    "f4_topk_lsh",
    oracle=None,  # approximate by design: recall depends on the hash family
    section="F4,F14",
    description="LSH-bucketed approximate top-k (sign-bit hyperplane buckets) — "
    "the no-cross-join scale path; rows-only by design",
)
def f4_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 300)
    return lsh_topk(emb, k=3, n_tables=8, planes_per_table=4)


# ---------------------------------------------------------------------------
# F2/F3 — embedding-cosine near-duplicate detection (graded)
# ---------------------------------------------------------------------------


@graded(
    "f2_embedding_neardup",
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 300 AND b.vec_id < 300
          AND round({_cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.35
    """,
    section="F2,F3",
    description="embedding-cosine near-dup pairs above threshold — the "
    "semantic-dedup primitive (exact form; LSH path is f4_topk_lsh)",
)
def f2_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


# ---------------------------------------------------------------------------
# F4 scale path 2 — IVF-style cell probing (seeded random centroids)
# ---------------------------------------------------------------------------


def ivf_assign_np(n_cells: int, n_probe: int, dim: int = EMB_DIM, seed: int = 7):
    """Vectorized IVF cell assignment: nearest ``n_probe`` of ``n_cells``
    seeded random unit centroids per vector (one matmul per Arrow batch).

    A training-free IVF: random centroids partition the sphere into Voronoi
    cells.  Index side assigns each vector to its single nearest cell;
    query side probes the ``n_probe`` nearest cells — the classic
    recall/cost knob of IVF indexes (public FAISS-style design).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((dim, n_cells))
    cents /= np.linalg.norm(cents, axis=0, keepdims=True)

    def assign(batch: pd.Series) -> pd.Series:
        mat = np.stack(batch.to_numpy()).astype(np.float64)  # (n, dim)
        sims = mat @ cents  # (n, n_cells)
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int64)
        return pd.Series(list(top))

    return pandas_udf(assign, "array<long>")


def ivf_topk(
    corpus: DataFrame, k: int, n_cells: int = 16, n_probe: int = 3
) -> DataFrame:
    """Approximate top-k: corpus indexed by nearest cell, queries probe the
    ``n_probe`` nearest cells — candidate join is an equi-join on cell id
    (shuffle keyed by cell; pair count ~n_probe/n_cells of the cross join).
    """
    index_udf = ivf_assign_np(n_cells, 1)
    probe_udf = ivf_assign_np(n_cells, n_probe)
    indexed = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.element_at(index_udf(F.col("embedding")), 1).alias("cell"),
    )
    probes = corpus.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.explode(probe_udf(F.col("embedding"))).alias("cell"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        probes.join(indexed, ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@graded(
    "f4_topk_ivf",
    oracle=None,  # approximate by design (cell-probing recall tradeoff)
    section="F4,F14",
    description="IVF-style approximate top-k: seeded random-centroid cells, "
    "n_probe nearest cells per query — rows-only by design",
)
def f4_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 300)
    return ivf_topk(emb, k=3, n_cells=16, n_probe=3)


@graded(
    "f4_topk_ivf_auto",
    oracle=None,  # approximate by design (probe depth from measured recall)
    section="F4,F14",
    description="auto-probed IVF top-k: ivf_auto_probe measures the recall "
    "curve on a query sample and picks the smallest n_probe meeting 0.9 "
    "recall@k, then ivf_topk runs at that depth — the tuner exercised "
    "end-to-end; rows-only (recall ground-truthed in pytest test_llm_ops)",
)
def f4_topk_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuner-driven variant of :func:`f4_topk_ivf`: probe depth is not a
    hand-picked constant but the measured-recall knob — the calibrate-once,
    run-fleet-wide pattern for production ANN."""
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 300)
    sample = emb.filter(F.col("vec_id") < 40)
    n_probe, _recall = ivf_auto_probe(spark, emb, sample, k=3, target_recall=0.9)
    return ivf_topk(emb, k=3, n_cells=16, n_probe=n_probe)


def ivf_recall_curve(
    spark: SparkSession,
    corpus: DataFrame,
    sample_queries: DataFrame,
    k: int,
    n_cells: int = 16,
    seed: int = 7,
) -> list[tuple[int, float]]:
    """Measured recall@k of :func:`ivf_topk` for every ``n_probe`` in one pass.

    Key property: IVF candidates are re-ranked by the *same* (rounded
    cosine, neighbor-id) key as the exact search, and the candidate set is
    a subset of the corpus — so a true top-k neighbor appears in the IVF
    output iff its cell is probed.  Recall@(k, n_probe) is therefore the
    fraction of ground-truth neighbors whose index cell ranks within the
    query's first ``n_probe`` probes, and the whole recall curve falls out
    of ONE reachability join instead of n_cells re-runs:

    1. ground truth for the query sample via :func:`numpy_topk` (exact,
       partition-local top-k — no quadratic shuffle);
    2. every (query, corpus) cell-collision annotated with the probe rank
       at which it first becomes reachable (equi-join on cell id);
    3. one aggregation emits recall for every probe depth.

    The output is n_cells rows collected to the driver — at scale the only
    meaningful costs are the ground-truth pass over the corpus (linear)
    and the cell join, both sample-bounded on the query side.
    """
    probe_all = ivf_assign_np(n_cells, n_cells, seed=seed)
    index_one = ivf_assign_np(n_cells, 1, seed=seed)
    truth = numpy_topk(spark, sample_queries, corpus, k).select(
        "query_id", "neighbor_id"
    )
    probes = sample_queries.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(probe_all(F.col("embedding"))).alias("rank0", "cell"),
    ).select("query_id", (F.col("rank0") + 1).alias("probe_rank"), "cell")
    indexed = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(index_one(F.col("embedding")), 1).alias("cell"),
    )
    reach = (
        probes.join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("first_rank"))
    )
    curve_row = (
        truth.join(reach, ["query_id", "neighbor_id"], "left")
        .agg(
            *[
                F.avg(
                    F.coalesce(F.col("first_rank") <= p, F.lit(False)).cast("double")
                ).alias(f"r{p}")
                for p in range(1, n_cells + 1)
            ]
        )
        .collect()[0]
    )
    return [(p, float(curve_row[f"r{p}"])) for p in range(1, n_cells + 1)]


def ivf_auto_probe(
    spark: SparkSession,
    corpus: DataFrame,
    sample_queries: DataFrame,
    k: int,
    target_recall: float = 0.9,
    n_cells: int = 16,
    seed: int = 7,
) -> tuple[int, float]:
    """Smallest ``n_probe`` whose measured recall@k meets the target.

    Returns ``(n_probe, measured_recall)``.  Always feasible: probing all
    n_cells reaches every corpus vector (recall 1.0), so the curve ends at
    1.0 by construction.  Typical use: measure once on a query sample, then
    run :func:`ivf_topk` fleet-wide with the returned probe depth.
    """
    for p, recall in ivf_recall_curve(
        spark, corpus, sample_queries, k, n_cells, seed
    ):
        if recall >= target_recall:
            return p, recall
    raise AssertionError("unreachable: recall@n_cells is 1.0 by construction")


# ---------------------------------------------------------------------------
# F5 — KNN majority-label vote
# ---------------------------------------------------------------------------


@graded(
    "f5_knn_vote",
    oracle=f"""
        WITH sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
                   round({_cosine_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ), knn AS (
            SELECT query_id, label FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos_sim DESC, neighbor_id) AS rn
                FROM sims
            ) WHERE rn <= 5
        ), votes AS (
            SELECT query_id, label, count(*) AS n_votes FROM knn GROUP BY 1, 2
        )
        SELECT query_id, label AS predicted_label, n_votes FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY n_votes DESC, label) AS rv
            FROM votes
        ) WHERE rv = 1
    """,
    section="F5",
    description="5-NN majority-label vote for 10 query vectors",
)
def f5_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    knn = brute_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).join(
        labels, "neighbor_id"
    )
    votes = knn.groupBy("query_id", "label").agg(F.count("*").alias("n_votes"))
    wv = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    return (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


# ---------------------------------------------------------------------------
# F13 — embedding normalization + per-label centroids
# ---------------------------------------------------------------------------


@graded(
    "f13_normalize",
    oracle=f"""
        SELECT vec_id,
               round(sqrt({_dot_sql('embedding', 'embedding')}), 6) AS norm_before,
               CAST(1.0 AS DOUBLE) AS norm_after
        FROM embeddings WHERE vec_id < 10
    """,
    section="F13",
    description="L2 normalization: norm before, and the (verified-1.0) norm after",
)
def f13_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 10)
    normalized = emb.select(
        "vec_id",
        F.round(norm(F.col("embedding")), 6).alias("norm_before"),
        l2_normalize(F.col("embedding")).alias("unit"),
    )
    # round the recomputed norm of the normalized vector: exactly 1.0
    return normalized.select(
        "vec_id",
        "norm_before",
        F.round(
            F.sqrt(F.aggregate(F.col("unit"), F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("norm_after"),
    )


@graded(
    "f13_label_centroids",
    oracle="""
        WITH exploded AS (
            SELECT label, i.pos, CAST(embedding[i.pos] AS DOUBLE) AS v
            FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) i
        ), dims AS (
            SELECT label, pos, sum(v) / count(*) AS dim_avg
            FROM exploded GROUP BY 1, 2
        )
        SELECT label,
               round(sqrt(sum(dim_avg * dim_avg)), 6) AS centroid_norm,
               round(max(CASE WHEN pos = 1 THEN dim_avg END), 6) AS dim0_avg
        FROM dims GROUP BY 1
    """,
    section="F13",
    description="per-label centroid via posexplode + element-wise mean",
)
def f13_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v_f")
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("v_f").cast("double").alias("v"))
    dims = exploded.groupBy("label", "pos").agg(
        (F.sum("v") / F.count("*")).alias("dim_avg")
    )
    return dims.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("dim_avg") * F.col("dim_avg"))), 6).alias(
            "centroid_norm"
        ),
        F.round(F.max(F.when(F.col("pos") == 1, F.col("dim_avg"))), 6).alias(
            "dim0_avg"
        ),
    )


# ---------------------------------------------------------------------------
# F4/F13/F14 — int8 scalar quantization for ANN (bandwidth-reduction path)
# ---------------------------------------------------------------------------


def quantize_int8(
    emb: Column, amax: Column | None = None, nrm: Column | None = None
) -> Column:
    """FAISS-SQ8-style scalar quantization (public design): each vector is
    L2-normalized, then components map to round(v/|v|_max · 127) as a
    tinyint array plus the per-vector ``scale`` needed to reconstruct.

    Why at 100 TB: a float32/float64 embedding column dominates the scan
    bytes of every ANN pass; int8 cuts the candidate-scan bandwidth 4–8×
    and the shuffle/broadcast volume with it, at a recall cost measured in
    pytest (≥0.9 nearest-neighbor recall on the fixture corpus).  Pure
    Column algebra — quantization happens JVM-side inside codegen, no UDF.

    Returns a struct column ``(q: array<tinyint>, scale: double)`` where
    ``v_i ≈ q_i * scale`` for the L2-normalized vector.

    Expression shape matters here: the naive normalize-then-quantize
    nests three array folds (norm inside unit inside amax inside the
    per-element round), and Catalyst inlines each referenced fold into
    every element of the outer transform — ~64³ duplicated ops per row
    (measured ~30 ms/row).  The normalization CANCELS algebraically
    (``(v_i/n) / (max|v|/n) = v_i / max|v|``), so the quantized codes
    depend only on the raw components and one amax fold, and the
    normalization enters once, in the scalar ``scale``.

    ``amax``/``nrm`` optionally take PRE-MATERIALIZED columns carrying
    ``array_max(transform(emb, abs))`` and ``norm(emb)``: higher-order
    functions are interpreted (no codegen), so a lambda body that embeds
    the amax fold re-evaluates that fold PER ELEMENT (~65 folds/row).
    Callers on hot paths hoist the folds into their own projection and
    pass them here — one fold per row, same math, single source of truth
    for the quantization formula (this function).
    """
    if amax is None:
        amax = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    if nrm is None:
        nrm = norm(emb)
    # amax = 0 (all-zero vector) would give 0/0 = NaN codes and a NaN
    # scale; map it to the zero code vector with scale 0 instead, so a
    # zero embedding has cosine 0 against everything (deterministic,
    # never NaN-ordered) — same guard as the graded f21b twin.
    q = F.transform(
        emb,
        lambda x: F.when(amax > 0, F.round(x.cast("double") / amax * 127))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )
    scale = F.when(amax > 0, amax / (nrm * 127)).otherwise(F.lit(0.0))
    return F.struct(q.alias("q"), scale.alias("scale"))


def int8_cosine(qa: Column, qb: Column) -> Column:
    """Approximate cosine from two :func:`quantize_int8` structs: the
    integer dot accumulates in int space (64-dim · 127² ≪ int32 range),
    then one float multiply by the two scales.  Both inputs are unit
    vectors pre-quantization, so the dot IS the cosine estimate."""
    int_dot = F.aggregate(
        F.zip_with(
            qa["q"], qb["q"], lambda x, y: x.cast("int") * y.cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return int_dot.cast("double") * qa["scale"] * qb["scale"]


def int8_topk(
    queries: DataFrame, corpus: DataFrame, k: int, rerank_exact: bool = True
) -> DataFrame:
    """Top-k cosine neighbors over the int8-quantized corpus.

    Candidate scoring reads tinyint arrays (the 4–8× bandwidth win); with
    ``rerank_exact`` the top ``4k`` int8 candidates per query are re-scored
    with the exact float cosine — the standard quantize-then-rerank shape:
    cheap scan over everything, exact math over a k-sized remainder.
    """
    # materialize the quantized frames (localCheckpoint): without the
    # barrier Catalyst inlines the whole quantize expression into every
    # reference downstream.  Operationally this IS the index-build step:
    # quantize the corpus once, store int8 arrays, serve many query
    # batches from them.
    #
    # Quantization happens in TWO projections, not one: higher-order
    # functions are interpreted (no codegen), so a lambda body that embeds
    # the amax fold re-evaluates that 64-element fold PER ELEMENT (~65
    # folds/row, measured ~0.5 ms/row on the fixture).  Materializing
    # amax/norm as per-row columns first makes the lambda reference a
    # plain attribute — one fold per row — and CollapseProject keeps the
    # split because the non-cheap expressions are multiply-referenced.
    # The quantization formula itself lives ONLY in quantize_int8 (the
    # hoisted columns are passed in), so the two paths cannot diverge.
    def _quantized(df: DataFrame, id_out: str, emb_out: str, q_out: str) -> DataFrame:
        amaxed = df.select(
            F.col("vec_id").alias(id_out),
            F.col("embedding").alias(emb_out),
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            ).alias("__amax"),
            norm(F.col("embedding")).alias("__norm"),
        )
        return amaxed.select(
            id_out,
            emb_out,
            quantize_int8(
                F.col(emb_out), amax=F.col("__amax"), nrm=F.col("__norm")
            ).alias(q_out),
        )

    from pulsar_message_filter_spark.io import widen

    # The fixture parquet is one row group = a 1-partition scan; widen the
    # index build (and the candidate scan that reads the checkpointed
    # partitions) to cluster width when the scan arrives narrower than
    # that.  At real scale the corpus scan already exceeds
    # defaultParallelism and this is a no-op (guide §2.5: repartition
    # right after an unsplittable read).
    corpus = widen(corpus, "vec_id")
    q = _quantized(queries, "query_id", "qe", "qq").localCheckpoint(eager=True)
    c = _quantized(corpus, "neighbor_id", "ce", "cq").localCheckpoint(eager=True)
    pool = 4 * k
    # (r15 measured, same-session A/B at sf0.1: replacing this candidate
    # stage with a mapInPandas numpy int-GEMM — collected query block,
    # per-partition top-pool, broadcast-pool rerank — was byte-identical
    # but SLOWER, 1.62 s vs 1.06 s min: at fixture scale the Python
    # boundary + per-invocation driver collect cost more than the
    # interpreted zip_with fold on ~60k pairs saves.  The JVM fold stays.)
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), "neighbor_id")
    cands = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qe",
            "ce",
            int8_cosine(F.col("qq"), F.col("cq")).alias("approx_sim"),
        )
        .withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= (pool if rerank_exact else k))
    )
    if not rerank_exact:
        return cands.select(
            "query_id", "neighbor_id",
            F.round("approx_sim", 6).alias("cos_sim"),
            F.col("arank").cast("long").alias("rank"),
        )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= k)
    )


@graded(
    "f21_topk_int8",
    oracle=None,  # quantization rounding is engine-boundary-sensitive by
    # design (round-half cases); recall vs exact pinned in pytest
    section="F4,F13,F14",
    description="int8-quantized top-k cosine with exact float rerank of the "
    "4k-candidate pool — the 4-8x scan-bandwidth ANN path, pure Column "
    "algebra; rows-only (recall ground-truthed in pytest)",
)
def f21_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    return int8_topk(emb.filter(F.col("vec_id") < 30), emb, k=5)


# ---------------------------------------------------------------------------
# F40 — truncated-dimension (Matryoshka-style) retrieval recall
# ---------------------------------------------------------------------------


def truncated_recall(
    queries: DataFrame, corpus: DataFrame, k: int, trunc_dim: int
) -> DataFrame:
    """Recall@k of top-k retrieval using only the first ``trunc_dim``
    embedding dimensions, against full-dimension brute-force truth.

    The 100 TB rationale: prefix-truncated embeddings (Matryoshka-style
    training, Kusupati et al. 2022 — public) cut index memory and dot-
    product FLOPs ~dim/trunc_dim×; this operator MEASURES what that costs
    in recall on your own corpus before you commit the index build.  Both
    rankings are plain relational brute-force here (broadcast queries,
    deterministic rounded-sim rank), so the measurement itself is
    oracle-checkable; at scale the truncated leg runs through the same
    LSH/IVF candidate generation as any other embedding search.
    """
    full = brute_topk(queries, corpus, k).select(
        "query_id", "neighbor_id"
    )
    tq = queries.select("vec_id", F.slice("embedding", 1, trunc_dim).alias("embedding"))
    tc = corpus.select("vec_id", F.slice("embedding", 1, trunc_dim).alias("embedding"))
    trunc = brute_topk(tq, tc, k).select("query_id", "neighbor_id")
    overlap = full.join(trunc, ["query_id", "neighbor_id"], "left_semi")
    return (
        full.groupBy("query_id")
        .agg(F.count("*").alias("__k"))
        .join(
            overlap.groupBy("query_id").agg(F.count("*").alias("n_overlap")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) / F.col("__k")).alias("recall_at_k"),
        )
    )


def _trunc_topk_sql(emb_expr: str, dim: int, where: str, k: int) -> str:
    """Oracle top-k rank table over (possibly sliced) embeddings."""
    cos = (
        f"(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST(q.{emb_expr}[i] AS DOUBLE) * CAST(c.{emb_expr}[i] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST(q.{emb_expr}[i] AS DOUBLE) * CAST(q.{emb_expr}[i] AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST(c.{emb_expr}[i] AS DOUBLE) * CAST(c.{emb_expr}[i] AS DOUBLE))))))"
    )
    return f"""
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY round({cos}, 6) DESC, c.vec_id) AS r
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE {where}
        ) WHERE r <= {k}
    """


@graded(
    "f40_matryoshka_recall",
    oracle=f"""
        WITH full_k AS ({_trunc_topk_sql("embedding", EMB_DIM, "q.vec_id < 20", 10)}),
        trunc_k AS ({_trunc_topk_sql("embedding", 16, "q.vec_id < 20", 10)}),
        hits AS (
            SELECT f.query_id, count(*) AS n_overlap
            FROM full_k f JOIN trunc_k t
              ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
            GROUP BY 1
        )
        SELECT f.query_id,
               CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               coalesce(h.n_overlap, 0) / count(*) AS recall_at_k
        FROM full_k f LEFT JOIN hits h ON f.query_id = h.query_id
        GROUP BY 1, h.n_overlap
    """,
    section="F4,F13,F14",
    description="Matryoshka truncation audit: recall@10 of 16-dim-prefix "
    "retrieval vs full 64-dim truth for 20 queries — measures the "
    "memory/FLOPs-vs-recall trade of truncated embedding indexes on the "
    "actual corpus; both legs deterministic brute rank, oracle-checked",
)
def f40_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    return truncated_recall(emb.filter(F.col("vec_id") < 20), emb, k=10, trunc_dim=16)


# ---------------------------------------------------------------------------
# F41 — reciprocal rank fusion of two retrieval signals
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard damping constant (Cormack et al. 2009, public)


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, k: int) -> DataFrame:
    """Fuse two (query_id, neighbor_id, rank) tables by reciprocal rank:
    ``score = Σ 1/(60 + rank_i)`` over the signals that retrieved the
    candidate (Cormack/Clarke/Büttcher RRF, SIGIR 2009 — public).  Scale
    shape: a full outer join on (query, neighbor) — both sides are
    already k-bounded per query, so the fusion input is ≤ 2k rows per
    query regardless of corpus size; the expensive part stays in the
    per-signal retrievers."""
    a = ranked_a.select("query_id", "neighbor_id", F.col("rank").alias("rank_a"))
    b = ranked_b.select("query_id", "neighbor_id", F.col("rank").alias("rank_b"))
    fused = a.join(b, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        (
            F.coalesce(1 / (F.lit(_RRF_K) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1 / (F.lit(_RRF_K) + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "neighbor_id")
    return fused.withColumn("fused_rank", F.row_number().over(w).cast("long")).filter(
        F.col("fused_rank") <= k
    )


def l2_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Top-k by squared L2 distance (exact; ranking differs from cosine
    when norms vary — that difference is what fusion exploits)."""
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    d2 = (
        dot(F.col("qe"), F.col("qe"))
        - 2 * dot(F.col("qe"), F.col("ce"))
        + dot(F.col("ce"), F.col("ce"))
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(d2, 6).alias("dist2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


@graded(
    "f41_rrf_fusion",
    oracle=f"""
        WITH cos_k AS ({_trunc_topk_sql("embedding", EMB_DIM, "q.vec_id < 10", 10).replace("SELECT query_id, neighbor_id FROM (", "SELECT query_id, neighbor_id, r FROM (")}),
        l2_k AS (
            SELECT query_id, neighbor_id, r FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           round({_dot_sql('q.embedding', 'q.embedding')}
                                 - 2 * {_dot_sql('q.embedding', 'c.embedding')}
                                 + {_dot_sql('c.embedding', 'c.embedding')}, 6) ASC,
                           c.vec_id) AS r
                FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
                WHERE q.vec_id < 10
            ) WHERE r <= 10
        ),
        fused AS (
            SELECT coalesce(a.query_id, b.query_id) AS query_id,
                   coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
                   coalesce(1.0 / ({_RRF_K} + a.r), 0.0)
                     + coalesce(1.0 / ({_RRF_K} + b.r), 0.0) AS rrf_score
            FROM cos_k a FULL OUTER JOIN l2_k b
              ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
        )
        SELECT query_id, neighbor_id, rrf_score, fused_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf_score DESC, neighbor_id)
                          AS fused_rank
            FROM fused
        ) WHERE fused_rank <= 5
    """,
    section="F4,C5,C18",
    description="reciprocal rank fusion (RRF, k=60) of cosine-rank and "
    "L2-rank retrieval for 10 queries, fused top-5: the standard "
    "multi-signal retrieval combiner, k-bounded fusion join so cost "
    "stays in the per-signal retrievers; deterministic and oracle-checked",
)
def f41_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    cos_k = brute_topk(queries, emb, k=10)
    l2_k = l2_topk(queries, emb, k=10)
    return rrf_fuse(cos_k, l2_k, k=5)


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------


def mmr_rerank(
    candidates,
    k: int = 10,
    lam: float = 0.7,
):
    """Greedy maximal-marginal-relevance selection over a SMALL candidate
    list: ``score = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)``.

    The greedy loop is inherently sequential (each pick changes the
    penalty of every remaining candidate), so it runs driver-side on the
    collected candidate block — bounded by construction (a re-ranker's
    input is the first-stage top-N, 50 here), the same bounded-collect
    contract as ``numpy_topk``'s query block.  The 100 TB path is:
    first-stage retrieval (brute/LSH/IVF — distributed) → tiny candidate
    set → MMR.  Deterministic: float64 numpy, id tiebreaks.

    ``candidates``: list of (id, relevance, vector) — e.g. the collected
    output of :func:`brute_topk` joined back to its embeddings."""
    import numpy as np

    if not candidates:
        return []
    ids = [c[0] for c in candidates]
    rel = np.asarray([c[1] for c in candidates], dtype=np.float64)
    mat = np.asarray([c[2] for c in candidates], dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    pair_sim = mat @ mat.T
    selected: list[int] = []
    out = []
    penalty = np.full(len(ids), -np.inf)
    for rank in range(min(k, len(ids))):
        if not selected:
            score = lam * rel
        else:
            score = lam * rel - (1.0 - lam) * penalty
        # mask already-selected; break score ties by smaller id
        order = sorted(
            (i for i in range(len(ids)) if i not in selected),
            key=lambda i: (-score[i], ids[i]),
        )
        pick = order[0]
        selected.append(pick)
        out.append((rank + 1, ids[pick], float(rel[pick]), float(score[pick])))
        penalty = np.maximum(
            penalty if len(selected) > 1 else pair_sim[pick],
            pair_sim[pick],
        )
    return out


@graded(
    "f49_mmr_rerank",
    oracle=None,  # greedy sequential selection — no SQL twin by design
    section="F4,G5",
    description="MMR diversified re-ranking (lambda=0.7, k=10) of the "
    "brute-force top-50 for one query: distributed first-stage retrieval, "
    "then the inherently-sequential greedy loop on the bounded candidate "
    "block (same bounded-collect contract as the ANN query block); "
    "rows-only by design",
)
def f49_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, "embeddings", sf_dir)
    query = emb.filter(F.col("vec_id") == 0)
    cand_df = (
        brute_topk(query, emb, k=50)
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .select("neighbor_id", "cos_sim", "embedding")
    )
    cands = [
        (r.neighbor_id, r.cos_sim, r.embedding) for r in cand_df.collect()
    ]
    picked = mmr_rerank(cands, k=10, lam=0.7)
    return spark.createDataFrame(
        [(rank, vid, round(rel, 6), round(score, 6)) for rank, vid, rel, score in picked],
        "rank long, vec_id long, relevance double, mmr_score double",
    )


# ---------------------------------------------------------------------------
# F4/F5 — hard-negative mining (contrastive-training pair generation)
# ---------------------------------------------------------------------------


@graded(
    "f58_hard_negatives",
    oracle=f"""
        WITH a AS (
            SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 20
        ),
        scored AS (
            SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
                   b.label AS negative_label,
                   round({_cosine_sql('a.embedding', 'b.embedding')}, 6)
                       AS cos_sim,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round({_cosine_sql('a.embedding', 'b.embedding')}, 6)
                                DESC, b.vec_id
                   ) AS rn
            FROM a JOIN embeddings b ON b.label <> a.label
        )
        SELECT anchor_id, negative_id, negative_label, cos_sim
        FROM scored WHERE rn = 1
    """,
    section="F4,F5,C18",
    description="hard-negative mining for contrastive training: per anchor "
    "(20 query vectors), the single most-similar embedding carrying a "
    "DIFFERENT label — the pair a triplet/InfoNCE loss learns most from; "
    "broadcast anchors, one corpus scan, rounded-similarity+id "
    "deterministic rank (same plan family as f4_topk_cosine with a "
    "label-inequality join predicate)",
)
def f58_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: anchors broadcast (the query block pattern); the
    label-inequality predicate rides the same broadcast join — the corpus
    is scanned once and never shuffled; per-anchor rank runs on
    anchor-partitioned windows.  At real scale the corpus side swaps for
    the IVF/LSH candidate streams exactly as f4 does — mining quality
    degrades gracefully from global-hardest to bucket-hardest."""
    emb = load(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("ae"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("embedding").alias("ce"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), "negative_id")
    return (
        F.broadcast(anchors)
        .join(corpus, F.col("negative_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "negative_id",
            "negative_label",
            F.round(cosine(F.col("ae"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("anchor_id", "negative_id", "negative_label", "cos_sim")
    )


# ---------------------------------------------------------------------------
# F13/F14 — engine-exact distributed power iteration (quantized PCA-lite)
# ---------------------------------------------------------------------------

_PI_ITERS = 5
_PI_QSCALE = 1000  # embedding quantization (values are ~[-1, 1])
_PI_VSCALE = 1_000_000  # eigenvector carry scale


def _power_iteration_oracle() -> str:
    """Programmatically unrolled oracle for ``f64_power_iteration_pca`` —
    the iteration body is mechanical, so the SQL is generated, not
    hand-copied 5 times (the lm.py parameter-pinning lesson applied to
    whole CTE blocks)."""
    head = f"""
        WITH qrows AS (
            SELECT vec_id, i AS j,
                   CAST(round(embedding[i] * {_PI_QSCALE}) AS BIGINT) AS q
            FROM embeddings, unnest(generate_series(1, {EMB_DIM})) AS u(i)
            WHERE vec_id < 500
        ),
        v0 AS (
            SELECT i AS j, CAST({_PI_VSCALE} AS BIGINT) AS v
            FROM unnest(generate_series(1, {EMB_DIM})) AS u(i)
        )"""
    blocks = []
    for it in range(1, _PI_ITERS + 1):
        prev = f"v{it - 1}"
        blocks.append(f"""
        d{it} AS (
            SELECT qrows.vec_id, CAST(sum(qrows.q * p.v) AS BIGINT) AS d
            FROM qrows JOIN {prev} p USING (j) GROUP BY 1
        ),
        u{it} AS (
            SELECT qrows.j, CAST(sum(qrows.q * dd.d) AS BIGINT) AS u
            FROM qrows JOIN d{it} dd USING (vec_id) GROUP BY 1
        ),
        m{it} AS (
            SELECT greatest(CAST(max(abs(u)) AS BIGINT) // {_PI_VSCALE}, 1)
                       AS md
            FROM u{it}
        ),
        v{it} AS (
            SELECT j, CAST(u // md AS BIGINT) AS v
            FROM u{it} CROSS JOIN m{it}
        )""")
    tail = f"""
        SELECT j AS dim, v AS weight_scaled
        FROM v{_PI_ITERS}"""
    return head + "," + ",".join(blocks) + tail


@graded(
    "f64_power_iteration_pca",
    oracle=_power_iteration_oracle(),
    section="F13,F14,C11",
    description=f"engine-exact distributed power iteration: dominant "
    f"direction of the (uncentered) second moment of {_PI_QSCALE}x-"
    f"quantized embeddings, {_PI_ITERS} iterations of d=Qv / u=Q'd with "
    f"integer max-abs renormalization (u DIV (max|u| DIV {_PI_VSCALE})) "
    f"— every sum is an int64, so the fixed-iteration eigenvector is "
    f"bit-identical across engines/topologies (same recurrence trick as "
    f"integer PageRank, applied to dense linear algebra); oracle is a "
    f"programmatically unrolled {_PI_ITERS}-step SQL",
)
def f64_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA-lite building block (dominant singular direction) with the
    repo's engine-exactness discipline extended to dense linear algebra:
    quantize once (scan-side), then each iteration is two keyed
    integer-sum aggregations (row-project, column-accumulate) over the
    long-form (vec_id, dim, q) frame — the classic distributed
    matrix-vector shape; the 64-row eigenvector frame broadcasts.  Bounds:
    |q| <= ~1.5k, |d| <= 64*1.5k*1e6 ~ 1e11, |u| <= 500*1.5k*1e11 ~ 1e17
    < int64 max; the DIV-renorm returns the carry to 1e6 scale each
    round.  At corpus scale the qrows frame shards by vec_id and nothing
    else changes — the driver loop holds only the iteration index."""
    emb = load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 500)
    qrows = emb.select(
        "vec_id", F.posexplode("embedding").alias("j0", "e")
    ).select(
        "vec_id",
        (F.col("j0") + 1).alias("j"),
        F.round(F.col("e") * _PI_QSCALE).cast("long").alias("q"),
    ).localCheckpoint(eager=True)
    v = (
        spark.range(1, EMB_DIM + 1)
        .select(F.col("id").cast("int").alias("j"))
        .withColumn("v", F.lit(_PI_VSCALE).cast("long"))
    )
    for _ in range(_PI_ITERS):
        d = (
            qrows.join(F.broadcast(v), "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("v")).alias("d"))
        )
        u = (
            qrows.join(d, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("q") * F.col("d")).alias("u"))
        )
        m = u.agg(
            F.greatest(
                F.expr(f"max(abs(u)) DIV {_PI_VSCALE}"), F.lit(1)
            ).alias("md")
        )
        v = (
            u.crossJoin(F.broadcast(m))
            .select("j", F.expr("u DIV md").alias("v"))
            .localCheckpoint(eager=True)
        )
    return v.select(F.col("j").cast("long").alias("dim"), F.col("v").alias("weight_scaled"))

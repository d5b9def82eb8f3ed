"""F-series: corpus deduplication (SURVEY.md §2.F1–F2).

Three tiers, mirroring large-scale training-data practice (C4/RefinedWeb
pipelines, public):

* **exact** — canonical-form content hash, keep-first-by-id.  Shuffle is
  keyed by the 256-bit hash: uniform by construction, no skew, and the
  window dedup never materializes groups (SURVEY §7.4.10).
* **MinHash + LSH banding** — a from-scratch Column-algebra implementation
  (shingle → per-permutation min of seeded xxhash64 → band keys → bucket
  equi-join → exact Jaccard re-check).  No quadratic candidate generation:
  the only shuffle is the band-key join.  Deterministic (hash seeds are
  literal), but engine-specific hashes → rows-only for the oracle; exact
  Jaccard itself is oracle-checked separately (``f2_jaccard_pairs``).
* **SimHash** — 64-bit bit-vote fingerprint via an Arrow-batched pandas
  UDF (the G2 surface): near-dups differ in few bits, so Hamming-ball
  search reduces to band joins too.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pulsar_message_filter_spark.io import load
from pulsar_message_filter_spark.registry import graded
from pulsar_message_filter_spark.streaming.pipeline import epoch_write, read_store

# ---------------------------------------------------------------------------
# F1 — exact dedup
# ---------------------------------------------------------------------------


def canonical_text(col: Column) -> Column:
    """Canonical form for exact dedup: trimmed, case-folded, space-collapsed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per canonical content hash.

    The window partitions on ``sha2(canonical, 256)`` — uniformly
    distributed keys, so the dedup shuffle cannot skew even if one document
    dominates the corpus.
    """
    hashed = df.withColumn("__h", F.sha2(canonical_text(F.col(text_col)), 256))
    w = Window.partitionBy("__h").orderBy(id_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


@graded(
    "f1_exact_dedup",
    oracle="""
        SELECT min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    """,
    section="F1",
    description="exact dedup: canonical-hash groups, keep-first id + copy count",
)
def f1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.sha2(canonical_text(F.col("text")), 256).alias("__h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .drop("__h")
        .select("keep_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# F2 — exact n-gram Jaccard (oracle-checked ground truth for MinHash)
# ---------------------------------------------------------------------------


@graded(
    "f2_jaccard_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id < 60
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / len(list_distinct(a.t || b.t)) AS jaccard
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / len(list_distinct(a.t || b.t)) > 0.5
    """,
    section="F2",
    description="exact token-set Jaccard similarity pairs (MinHash ground truth)",
)
def f2_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 60)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("t"))
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") > 0.5)
    )


# ---------------------------------------------------------------------------
# F2 — MinHash + LSH banding, pure Column algebra
# ---------------------------------------------------------------------------

N_PERM = 16  # minhash permutations
N_BANDS = 4  # → 4 rows per band; P(candidate | j) = 1-(1-j^4)^4:
#   j=0.9 → 0.986, j=0.8 → 0.88, j=0.5 → 0.23 — tuned for the ≥0.8
#   near-dup threshold; for other thresholds use choose_banding() below
#   (the knob trades signature cost for low-similarity recall)


def candidate_probability(jaccard: float, rows_per_band: int, n_bands: int) -> float:
    """P(a pair with this Jaccard collides in ≥1 band) = 1-(1-j^r)^b.

    The standard LSH S-curve (Broder '97 / MMDS ch.3, public): ``r`` rows
    per band sharpens precision, ``b`` bands lifts recall.
    """
    return 1.0 - (1.0 - jaccard**rows_per_band) ** n_bands


def choose_banding(
    threshold: float,
    target_recall: float = 0.95,
    fp_jaccard: float | None = None,
    max_fp: float = 0.2,
    max_perm: int = 256,
) -> tuple[int, int]:
    """Cheapest ``(n_perm, n_bands)`` meeting a recall target at ``threshold``.

    For each candidate rows-per-band ``r``, the minimal band count is closed
    form (``b = ceil(log(1-recall) / log(1-threshold^r))``); a banding is
    feasible only if its false-candidate probability at ``fp_jaccard``
    (default ``threshold/2``) stays ≤ ``max_fp`` — without that bound the
    optimum degenerates to 1-row bands, whose S-curve is so shallow that
    far-below-threshold pairs flood the candidate join.  Among feasible
    bandings the choice minimizes signature cost ``n_perm = r*b``,
    tie-broken by the lowest false-candidate probability.

    Note the similarity space: :func:`minhash_near_dups` generates
    candidates from *shingle*-set Jaccard (contiguous token 3-grams), so
    the recall guarantee is with respect to shingle similarity — token-set
    overlap with different token order (template-style corpora) is
    intentionally not a near-dup signal.

    This is the banding auto-tune knob for :func:`minhash_near_dups`:
    signature cost (one xxhash64 min-aggregation column per permutation,
    8 bytes/doc each) scales linearly with ``n_perm``, so at 100 TB the
    difference between (16, 4) and (188, 47) is ~1.4 KB/doc of shuffled
    signature state — worth choosing deliberately.
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1), got {target_recall}")
    fp_j = threshold / 2 if fp_jaccard is None else fp_jaccard
    best: tuple[tuple[int, float], tuple[int, int]] | None = None
    for r in range(1, max_perm + 1):
        p_row = threshold**r
        if p_row >= 1.0:  # threshold ~1: one band of one row suffices
            b = 1
        elif p_row == 0.0:  # threshold^r underflowed: no band count helps
            continue
        else:
            # log1p keeps precision where 1-p_row rounds to 1.0 (tiny p_row)
            b = math.ceil(math.log(1.0 - target_recall) / math.log1p(-p_row))
        n = r * b
        if n > max_perm:
            continue
        fp = candidate_probability(fp_j, r, b)
        if fp > max_fp:
            continue
        key = (n, fp)
        if best is None or key < best[0]:
            best = (key, (n, b))
    if best is None:
        raise ValueError(
            f"no banding within {max_perm} permutations reaches recall "
            f"{target_recall} at threshold {threshold} with false-candidate "
            f"probability ≤ {max_fp} at jaccard {fp_j}"
        )
    return best[1]


def shingles(tokens: Column, n: int = 3) -> Column:
    """n-token shingles of a token array (empty-safe)."""
    return F.when(
        F.size(tokens) < n, F.array(F.concat_ws(" ", tokens))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_perm: int = N_PERM
) -> DataFrame:
    """MinHash signatures as ``(doc, m0..m{n_perm-1})`` — the distributed
    shape: explode shingles once, evaluate the n_perm seeded ``xxhash64``
    family per shingle *row*, then a single groupBy-doc min-aggregation.

    This evaluates each shingle string exactly once (vs. n_perm re-derivations
    if the signature were built as n_perm array transforms over the same
    shingle expression — which also blows up codegen), and the only shuffle
    is the partial-aggregated min per doc: the Broder '97 trick in map-side
    combine form.
    """
    exploded = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.split(F.lower(F.col(text_col)), " "))).alias("sh"),
    )
    return exploded.groupBy("doc").agg(
        *[
            F.min(F.xxhash64("sh", F.lit(p))).alias(f"m{p}")
            for p in range(n_perm)
        ]
    )


def _band_keys(
    sig: DataFrame, n_perm: int = N_PERM, n_bands: int = N_BANDS
) -> DataFrame:
    """``(doc, band, key)`` banded hash keys of a signature frame — the
    equi-join surface for LSH candidate generation (within one corpus or
    across a batch/history boundary)."""
    rows_per_band = n_perm // n_bands
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"m{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.key")


def _candidates_from_signatures(
    sig: DataFrame, n_perm: int = N_PERM, n_bands: int = N_BANDS
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) from a signature frame (``doc, m0..``)."""
    bands = _band_keys(sig, n_perm, n_bands)
    a = bands.select(F.col("doc").alias("id_a"), "band", "key")
    b = bands.select(F.col("doc").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidates(
    df: DataFrame, text_col: str, id_col: str, n_perm: int = N_PERM, n_bands: int = N_BANDS
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) via banded minhash signatures."""
    sig = minhash_signatures(df, text_col, id_col, n_perm)
    return _candidates_from_signatures(sig, n_perm, n_bands)


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    estimate_first: bool = True,
    target_recall: float | None = None,
) -> DataFrame:
    """Candidates re-checked in two stages, then exact Jaccard ≥ threshold.

    Scale path (SURVEY §2.F14): band-key equi-join generates candidates
    with no cross join; then

    1. **signature-estimated Jaccard** — the fraction of agreeing minhash
       components is an unbiased Jaccard estimator (Broder '97).  This join
       touches only the n_perm-long signatures (≈128 B/doc), not the token
       arrays, and prunes the band-collision false positives cheaply.  The
       cut keeps everything within ~2.5σ below threshold
       (σ = sqrt(j(1-j)/n_perm) ≈ 0.10 at n_perm=16), so true near-dup
       recall loss is negligible (<0.5%) while most sub-threshold
       collisions never reach stage 2.  Exact duplicates have identical
       signatures (estimate 1.0) and always survive.
    2. **exact token-set Jaccard** — only the survivors pay the token-array
       join; precision of the final output is exact, same as before.

    ``estimate_first=False`` restores the single-stage exact re-check
    (useful for auditing the estimator itself).

    ``target_recall`` switches banding to auto-tune: ``(n_perm, n_bands)``
    are chosen by :func:`choose_banding` for the given threshold, overriding
    the explicit arguments — the low-threshold knob (e.g. threshold 0.5
    needs far more permutations than the (16, 4) default tuned for ≥0.8).

    The signature frame is persisted (memory-and-disk) because three
    branches reuse it — band keys, estimate side A, estimate side B;
    recomputing the shingle-explode + 16-hash aggregation per branch would
    triple the dominant cost.  At 100M docs the signatures are ~16 GB
    cluster-wide (n_perm longs + id per doc) — cache-friendly by design,
    and the natural checkpoint artifact for incremental dedup runs.
    """
    if target_recall is not None:
        n_perm, n_bands = choose_banding(threshold, target_recall)
    sig = minhash_signatures(df, text_col, id_col, n_perm)
    if estimate_first:
        from pyspark import StorageLevel

        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    cands = _candidates_from_signatures(sig, n_perm, n_bands)
    if estimate_first:
        sig_a = sig.select(
            F.col("doc").alias("id_a"), *[F.col(f"m{p}").alias(f"a{p}") for p in range(n_perm)]
        )
        sig_b = sig.select(
            F.col("doc").alias("id_b"), *[F.col(f"m{p}").alias(f"b{p}") for p in range(n_perm)]
        )
        agree = sum(
            (F.col(f"a{p}") == F.col(f"b{p}")).cast("int") for p in range(n_perm)
        )
        sigma = (threshold * (1 - threshold) / n_perm) ** 0.5
        est_cut = max(0.0, threshold - 2.5 * sigma)
        cands = (
            cands.join(sig_a, "id_a")
            .join(sig_b, "id_b")
            .withColumn("__est", agree / F.lit(float(n_perm)))
            .filter(F.col("__est") >= est_cut)
            .select("id_a", "id_b")
        )
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(F.split(F.lower(F.col(text_col)), " ")).alias("t"),
    )
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    return (
        cands.join(toks.select(F.col("doc").alias("id_a"), F.col("t").alias("ta")), "id_a")
        .join(toks.select(F.col("doc").alias("id_b"), F.col("t").alias("tb")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@graded(
    "f2_minhash_lsh",
    oracle=None,  # xxhash64 family is engine-specific (SURVEY §7.4.8)
    section="F2,F14",
    description=f"MinHash({N_PERM})+LSH({N_BANDS} bands) near-dup pairs with "
    "exact Jaccard re-check — the no-cross-join dedup scale path; rows-only",
)
def f2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_message_filter_spark.io import widen

    # widen (guide §2.5): the per-doc MinHash signature (many xxhash64
    # permutations over the shingle set) is heavy scan-side work; the
    # 1-row-group fixture otherwise runs it in one task (same-session A/B
    # this round: ~1.3 s narrow vs ~1.1 s widened)
    docs = widen(load(spark, "documents", sf_dir), "doc_id")
    return minhash_near_dups(docs, "text", "doc_id", threshold=0.8)


@graded(
    "f2_minhash_lsh_tuned",
    oracle=None,  # xxhash64 family is engine-specific (same class as above)
    section="F2,F14",
    description="auto-tuned MinHash+LSH at threshold 0.5: choose_banding "
    "picks the cheapest (n_perm, n_bands) meeting 0.9 recall with bounded "
    "false-candidate rate — the tuner exercised end-to-end; rows-only "
    "(recall ground-truthed in pytest test_llm_ops)",
)
def f2_minhash_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuner-driven variant of :func:`f2_minhash_lsh`: instead of the
    (16, 4) banding tuned for jaccard ≥ 0.8, the banding is derived at run
    time from the (threshold=0.5, recall=0.9) spec — the knob a pipeline
    owner actually turns when lowering the near-dup bar."""
    docs = load(spark, "documents", sf_dir)
    return minhash_near_dups(
        docs, "text", "doc_id", threshold=0.5, target_recall=0.9
    )


# ---------------------------------------------------------------------------
# F2/G2 — SimHash fingerprint via Arrow-batched pandas UDF
# ---------------------------------------------------------------------------


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash: per token, md5-derived 64-bit hash votes on each bit;
    the fingerprint sign-packs the votes.  Vectorized per Arrow batch."""

    def one(text: str) -> int:
        votes = [0] * 64
        for tok in text.lower().split():
            h = int.from_bytes(
                hashlib.md5(tok.encode()).digest()[:8], "big", signed=False
            )
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        fp = 0
        for bit in range(64):
            if votes[bit] > 0:
                fp |= 1 << bit
        # two's-complement into int64
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    return texts.map(one)


def simhash64(col):
    """SimHash pandas UDF — constructed lazily because ``@pandas_udf`` parses
    its return type through the active session (a module-level decorator
    would make the registry un-importable before SparkSession creation)."""
    return pandas_udf(_simhash_batch, "long")(col)


@graded(
    "f2_simhash",
    oracle=None,  # python-side hash family, engine-specific by design
    section="F2,G2",
    description="SimHash64 fingerprints (pandas UDF / Arrow batches); near-dups "
    "have small Hamming distance — rows-only",
)
def f2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    return docs.select("doc_id", simhash64("text").alias("simhash"))


# ---------------------------------------------------------------------------
# F1/F2/F14 — incremental dedup against a persisted signature store
# ---------------------------------------------------------------------------


def minhash_dedup_incremental(
    new_docs: DataFrame,
    signature_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    epoch_id: int | None = None,
) -> DataFrame:
    """Dedup a new batch against itself AND every batch that came before,
    using the persisted signature store as the accumulated history — the
    operational shape of corpus dedup at 100 TB, where re-deduping the
    whole corpus per ingest is a non-starter.

    Per call:

    1. signatures of the new batch (one shingle-explode + min-aggregation);
    2. **within-batch** near-dups via :func:`minhash_near_dups` (full
       two-stage pipeline incl. exact Jaccard re-check — the batch's token
       arrays are at hand); keep-first by id;
    3. **batch-vs-history** candidates via a banded equi-join of the new
       batch's band keys against the store's (history side is never
       self-joined); a candidate is a duplicate when the signature-estimate
       Jaccard (fraction of agreeing minhash components, Broder '97) ≥
       ``threshold``.  History rows carry signatures only — the exact
       re-check is traded for O(n_perm) state per historical doc; size
       ``n_perm`` via :func:`choose_banding` when the estimator's
       σ = sqrt(j(1-j)/n_perm) matters;
    4. survivors' signatures are **appended** to the store, so the next
       batch dedups against them.

    Scale shape: the store grows by O(n_perm · kept docs); the cross join
    is banded equi-join keyed (band, key) — with a small batch against a
    huge history, Spark broadcasts the batch side (or AQE picks it at run
    time).

    **Replay safety (`epoch_id`)**: for at-least-once callers (a streaming
    ``foreachBatch``), pass the micro-batch's epoch.  The store is then
    partitioned by ``ingest_epoch`` and written with dynamic partition
    overwrite, and the history read EXCLUDES the current epoch — so a
    replayed batch neither matches its own first-attempt signatures (which
    would drop every row and overwrite the epoch with nothing) nor
    duplicates store rows.  Without ``epoch_id`` (ad-hoc batch ingest) the
    store append is not idempotent: a re-run of the same batch drops all
    its rows as duplicates of the stored signatures — correct output, but
    compact the store with ``dropDuplicates('doc')`` if that pattern
    matters.

    Returns the surviving rows of ``new_docs`` (original columns).
    """
    spark = new_docs.sparkSession
    sig_new = minhash_signatures(new_docs, text_col, id_col, n_perm)

    # (2) within-batch: exact two-stage pipeline, keep the lowest id
    batch_pairs = minhash_near_dups(
        new_docs, text_col, id_col, threshold, n_perm, n_bands
    )
    drop_in_batch = batch_pairs.select(
        F.greatest("id_a", "id_b").alias(id_col)
    ).distinct()

    # (3) vs history (if the store has data yet); under epoch-aware replay,
    # the current epoch's own first-attempt rows are not history
    hist = read_store(spark, signature_dir)
    if hist is not None:
        if epoch_id is not None and "ingest_epoch" in hist.columns:
            hist = hist.filter(F.col("ingest_epoch") != int(epoch_id))
        bands_new = _band_keys(sig_new, n_perm, n_bands).select(
            F.col("doc").alias("new_id"), "band", "key"
        )
        bands_hist = _band_keys(hist, n_perm, n_bands).select(
            F.col("doc").alias("hist_id"), "band", "key"
        )
        cands = (
            bands_new.join(bands_hist, ["band", "key"])
            .select("new_id", "hist_id")
            .distinct()
        )
        agree = sum(
            (F.col(f"a{p}") == F.col(f"b{p}")).cast("int") for p in range(n_perm)
        )
        sig_a = sig_new.select(
            F.col("doc").alias("new_id"),
            *[F.col(f"m{p}").alias(f"a{p}") for p in range(n_perm)],
        )
        sig_b = hist.select(
            F.col("doc").alias("hist_id"),
            *[F.col(f"m{p}").alias(f"b{p}") for p in range(n_perm)],
        )
        drop_vs_hist = (
            cands.join(sig_a, "new_id")
            .join(sig_b, "hist_id")
            .withColumn("__est", agree / F.lit(float(n_perm)))
            .filter(F.col("__est") >= threshold)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        drops = drop_in_batch.unionByName(drop_vs_hist).distinct()
    else:
        drops = drop_in_batch

    kept = new_docs.join(drops, id_col, "left_anti")

    # (4) persist survivors' signatures for the next batch
    kept_ids = kept.select(F.col(id_col).alias("doc"))
    kept_sigs = sig_new.join(kept_ids, "doc")
    if epoch_id is not None:
        epoch_write(kept_sigs, epoch_id, signature_dir, epoch_col="ingest_epoch")
    else:
        kept_sigs.withColumn("ingest_epoch", F.lit(-1)).write.mode("append").parquet(
            signature_dir
        )
    return kept


@graded(
    "f18_incremental_dedup",
    # The per-decision path mixes exact Jaccard (in-batch) with the
    # signature-estimate (vs history) — engine-specific hash family — but
    # the FINAL survivor set is deterministic batch-dedup semantics on this
    # fixture (exact copies estimate Jaccard 1.0 under any hash family, and
    # pytest pins that no non-identical pair crosses the 0.8 threshold), so
    # the post-pipeline state is graded against a batch-dedup oracle
    # (VERDICT r03 next round #5): a batch-2 row survives iff its text is
    # not in batch 1 and no lower-id batch-2 row shares its text.
    oracle="""
        WITH b1 AS (
            SELECT DISTINCT text FROM documents WHERE doc_id < 40
        ),
        b2 AS (
            SELECT doc_id + 20000 AS doc_id, text, lang, source
            FROM documents WHERE doc_id < 10
            UNION ALL
            SELECT doc_id, text, lang, source
            FROM documents WHERE doc_id >= 60 AND doc_id < 70
        )
        SELECT doc_id, lang, source FROM b2
        WHERE text NOT IN (SELECT text FROM b1)
          AND NOT EXISTS (
              SELECT 1 FROM b2 prior
              WHERE prior.text = b2.text AND prior.doc_id < b2.doc_id
          )
    """,
    section="F1,F2,F14",
    description="incremental dedup demo: ingest docs <40 into a fresh "
    "signature store, then dedup a second batch (10 exact copies + docs "
    "60-69) against it — returns batch-2 survivors, graded against the "
    "deterministic batch-dedup oracle of the final state (exact copies "
    "always estimate Jaccard 1.0; pytest pins no near-threshold pairs)",
)
def f18_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives :func:`minhash_dedup_incremental` end-to-end through the
    graded surface: batch 1 seeds the store, batch 2 (exact copies of
    batch-1 docs under new ids, plus fresh docs) dedups against it.  The
    expected survivor set is exactly the fresh docs — pinned in pytest
    ``test_minhash_dedup_incremental`` with the same construction."""
    import os
    import shutil

    from pulsar_message_filter_spark.tmpdirs import run_scoped_dir

    # Run-scoped per-sf store, wiped at invocation start: the demo needs an
    # EMPTY history (batch-1 signatures append).  A fresh mkdtemp per run
    # leaked a /tmp dir per gate/bench invocation (VERDICT r07 hygiene); a
    # fully fixed path raced concurrent gate+bench runs, one wiping the
    # store mid-run of the other (ADVICE r08) — run_scoped_dir gives
    # in-process reuse with cross-process isolation.
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    store = run_scoped_dir(f"pmf_sigstore_{tag}")
    shutil.rmtree(store, ignore_errors=True)
    docs = load(spark, "documents", sf_dir)
    batch1 = docs.filter(F.col("doc_id") < 40)
    minhash_dedup_incremental(batch1, store).count()  # materialize ingest 1
    copies = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    fresh = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
    kept = minhash_dedup_incremental(copies.unionByName(fresh), store)
    return kept.select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# F1/F2/F14 — near-dup clusters: connected components over the pair graph
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    shortcut: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Transitive closure of a near-dup pair graph: ``(node, cluster_id)``
    with ``cluster_id`` = the minimum node id in the component.

    Pair emitters (:func:`minhash_near_dups`, :func:`f2_jaccard_pairs`)
    find *edges*; an actual dedup decision needs *components* — A≈B and
    B≈C must collapse to one survivor even when A≈C was never emitted.

    Algorithm: iterative min-label propagation with POINTER-JUMP
    shortcutting (the standard large-graph shape — the "hash-to-min" /
    shortcutting family, public literature; same trick as GraphFrames'
    big-star/small-star CC).  Each round every node adopts
    ``min(own label, neighbor labels)``, then labels jump through labels
    (``lab := lab(lab)``) — the propagation distance roughly DOUBLES per
    round, so convergence is O(log diameter) rounds instead of the plain
    O(diameter) (measured on a diameter ladder: 7 rounds vs 256+ on a
    256-long chain — tools/iterative_ladder.py, SCALING.md round-11).
    ``lab(x) <= x`` and "lab(x) is in x's component" are invariants of
    both steps, so the fixpoint is unchanged: every edge ends with equal
    labels == the component minimum.  Each round is two node-id-keyed
    joins + one aggregation — the same shuffle partitioning every round,
    no quadratic anything.  The driver-side loop carries only a
    converged/not flag per round — computed as ``max(lab != old lab)`` in
    the SAME action that materializes the round's labels, so convergence
    costs no extra join or job — labels stay distributed; each round's
    label frame is ``localCheckpoint``-ed —
    without lineage truncation the plan doubles per round and the driver
    OOMs analyzing it long before the data is a problem (on a real
    cluster with an unreliable-executor concern, swap in
    ``checkpoint()`` against the checkpoint dir).

    ``shortcut=False`` keeps the plain one-hop propagation (exposed for
    the ladder measurement and the equivalence test); ``stats``, when a
    dict is passed, receives ``{"iterations": n}``.

    Input: ``(id_a, id_b)`` rows (any extra columns ignored); undirected.
    """
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionByName(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy(edges["a"].alias("node2"))
            .agg(F.min("lab").alias("nlab"))
        )
        # carry the pre-round label so the convergence check rides the
        # SAME action that materializes the round (guide §2.4): the old
        # shape paid a per-round join of two checkpointed frames plus its
        # own job just to learn "did anything change".
        new_labels = labels.join(
            neighbor_min, labels["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.col("lab").alias("olab"),
            F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias("lab"),
        )
        if shortcut:
            # pointer jump: lab := lab(lab).  Every lab value is a node id
            # in the same component, so the self-join always resolves; the
            # left join + coalesce is belt-and-braces.
            jump = new_labels.select(
                F.col("node").alias("jn"), F.col("lab").alias("jlab")
            )
            new_labels = new_labels.join(
                jump, new_labels["lab"] == F.col("jn"), "left"
            ).select("node", "olab", F.coalesce("jlab", "lab").alias("lab"))
        # lazy checkpoint + one aggregate: the agg job computes the round
        # AND persists the label blocks as a side effect, so each round is
        # one action with no convergence join (exact same fixpoint test —
        # any lab != its pre-round value).
        new_labels = new_labels.withColumn(
            "chg", (F.col("lab") != F.col("olab")).cast("int")
        ).localCheckpoint(eager=False)
        # empty graph -> max over zero rows is NULL -> treat as converged
        changed = new_labels.agg(F.max("chg").alias("c")).first()["c"] or 0
        labels = new_labels.select("node", "lab")
        if changed == 0:
            break
    if stats is not None:
        stats["iterations"] = rounds
    return labels.select(F.col("node"), F.col("lab").alias("cluster_id"))



@graded(
    "f20_dedup_clusters",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id < 120
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                     / len(list_distinct(a.t || b.t)) > 0.5
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach(node, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
        )
        SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY 1
    """,
    section="F1,F2,F14",
    description="near-dup clusters: exact-Jaccard pair graph (docs <120) -> "
    "distributed min-label-propagation connected components; oracle = "
    "recursive-CTE transitive closure — pairs become dedup decisions",
)
def f20_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 120)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("t"))
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(jac > 0.5)
        .select("id_a", "id_b")
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def dedup_near(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    target_recall: float | None = None,
) -> DataFrame:
    """The complete near-dup dedup operator: MinHash/LSH pairs →
    connected components → keep the minimum-id doc per cluster.

    This is the composition a pipeline actually runs (pairs alone
    under-delete: A≈B, B≈C with no A≈C edge must still collapse to one
    survivor).  Cost = the pair pipeline (band-key equi-join, no cross
    join) + O(component diameter) label-propagation rounds over just the
    paired nodes — docs with no near-dup never enter the component step.

    Returns the surviving rows of ``df`` (original columns).
    """
    pairs = minhash_near_dups(
        df, text_col, id_col, threshold, n_perm, n_bands,
        target_recall=target_recall,
    )
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# F1/F14 — Bloom-filter membership prefilter for incremental exact dedup
# ---------------------------------------------------------------------------
#
# The incremental-ingest shape at 100 TB: a new batch must be deduped
# against a multi-billion-row history.  A full anti-join shuffles the whole
# batch against the whole history; a Bloom filter built over the history's
# content hashes turns that into
#
#   1. one distributed build pass over history (map-side partial filters,
#      OR-reduced by word index — a groupBy on at most m/64 keys),
#   2. a broadcast of the finished filter (m/64 longs; 2^20 bits = 16 KiB),
#   3. a map-only membership test on the batch — definite-new rows (the
#      vast majority when dup rates are low) never shuffle at all,
#   4. an exact confirm join for the maybe-present candidates only.
#
# Bloom filters have NO false negatives, so step 3 never drops a real
# duplicate and the final result is bit-identical to the exact anti-join —
# which is why the graded query below can be oracle-checked even though a
# probabilistic structure sits in the middle.

BLOOM_NUM_BITS = 1 << 20  # 16 KiB filter for the graded corpus slice
BLOOM_K = 5  # hash probes per key


def _bloom_positions(h, num_bits: int, k: int):
    """k probe positions per hash via double hashing (Kirsch–Mitzenmacher).

    ``h`` is an int64 numpy array (xxhash64 output); arithmetic wraps in
    uint64, mirroring the JVM's two's-complement — deterministic across
    build and probe sides.
    """
    import numpy as np

    hu = h.astype(np.uint64, copy=False)
    h1 = hu % np.uint64(num_bits)
    h2 = ((hu >> np.uint64(33)) | np.uint64(1)) % np.uint64(num_bits)
    return [
        ((h1 + np.uint64(i) * h2) % np.uint64(num_bits)) for i in range(k)
    ]


def bloom_word_contributions(
    hashed: DataFrame,
    hash_col: str = "h",
    num_bits: int = BLOOM_NUM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Distributed Bloom build, as a DataFrame of nonzero (word_idx, word).

    Each partition packs its local bit contributions into 64-bit words via
    ``mapInPandas`` and emits only the NONZERO pairs; a single
    ``groupBy(word_idx).agg(bit_or)`` OR-reduces them.  The result is the
    filter in relational form — persist it (e.g. per ingest epoch) and
    OR-reduce stored contributions later instead of rescanning history.
    """
    import numpy as np

    n_words = num_bits // 64

    def partition_words(batches):
        local = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            h = pdf[hash_col].to_numpy(dtype=np.int64, na_value=0)
            for pos in _bloom_positions(h, num_bits, k):
                np.bitwise_or.at(
                    local, (pos >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (pos & np.uint64(63)),
                )
        idx = np.nonzero(local)[0]
        yield pd.DataFrame(
            {"word_idx": idx.astype("int64"),
             "word": local[idx].view(np.int64)}
        )

    return (
        hashed.select(hash_col)
        .mapInPandas(partition_words, "word_idx long, word long")
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def words_to_filter(rows, num_bits: int = BLOOM_NUM_BITS):
    """Materialize collected (word_idx, word) rows into the uint64 array."""
    import numpy as np

    filt = np.zeros(num_bits // 64, dtype=np.uint64)
    for r in rows:
        filt[r["word_idx"]] |= np.uint64(np.int64(r["word"]))
    return filt


def bloom_build(
    hashed: DataFrame,
    hash_col: str = "h",
    num_bits: int = BLOOM_NUM_BITS,
    k: int = BLOOM_K,
):
    """Build a Bloom filter over an int64 hash column, distributed.

    See :func:`bloom_word_contributions` for the execution shape.  The
    only driver materialization is the finished word table — at most
    ``num_bits/64`` rows regardless of history size (the same bounded-
    collect contract as the k-means centroid matrix).

    Returns a numpy uint64 array of length ``num_bits // 64``.
    """
    return words_to_filter(
        bloom_word_contributions(hashed, hash_col, num_bits, k).collect(),
        num_bits,
    )


def bloom_maybe_contains(
    filt, num_bits: int = BLOOM_NUM_BITS, k: int = BLOOM_K
):
    """Vectorized membership-test pandas UDF over an int64 hash column.

    The filter rides to executors inside the UDF closure (m/64 longs —
    16 KiB at 2^20 bits; for multi-GiB filters switch to
    ``SparkContext.broadcast``).  Guaranteed true for every inserted key;
    false positives at the standard ``(1-e^{-kn/m})^k`` rate.
    """
    import numpy as np

    words = filt.copy()

    @pandas_udf("boolean")
    def maybe(h: pd.Series) -> pd.Series:
        arr = h.to_numpy(dtype=np.int64, na_value=0)
        ok = np.ones(len(arr), dtype=bool)
        for pos in _bloom_positions(arr, num_bits, k):
            bits = (
                words[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))
            ) & np.uint64(1)
            ok &= bits.astype(bool)
        return pd.Series(ok)

    return maybe


def bloom_dedup_incremental(
    new_batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = BLOOM_NUM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Rows of ``new_batch`` whose canonical text does NOT appear in
    ``history`` — exact anti-join semantics at prefiltered cost.

    Definite-new rows pass on the map side; only Bloom-positive candidates
    pay the exact confirm join (left_anti on the canonical text), and the
    history side of that join is filtered by the SAME membership test, so
    both confirm inputs are candidate-sized.  No false negatives ⇒ output
    == plain ``new_batch.join(history, text, "left_anti")``.
    """
    canon = canonical_text(F.col(text_col))
    new_h = new_batch.withColumn("__h", F.xxhash64(canon))
    hist_h = history.withColumn("__h", F.xxhash64(canonical_text(F.col(text_col))))
    filt = bloom_build(hist_h, "__h", num_bits, k)
    maybe = bloom_maybe_contains(filt, num_bits, k)
    flagged = new_h.withColumn("__maybe", maybe(F.col("__h")))
    definite_new = flagged.filter(~F.col("__maybe"))
    candidates = flagged.filter(F.col("__maybe"))
    hist_keys = (
        hist_h.filter(maybe(F.col("__h")))
        .select(canonical_text(F.col(text_col)).alias("__canon"))
        .distinct()
    )
    confirmed_new = candidates.withColumn("__canon", canon).join(
        hist_keys, "__canon", "left_anti"
    )
    return definite_new.drop("__h", "__maybe").unionByName(
        confirmed_new.drop("__h", "__maybe", "__canon")
    )


@graded(
    "f34_bloom_prefilter_dedup",
    oracle="""
        SELECT n.doc_id, n.source, n.n_chars
        FROM documents n
        WHERE n.doc_id % 2 = 1
          AND NOT EXISTS (
              SELECT 1 FROM documents h
              WHERE h.doc_id % 2 = 0
                AND trim(regexp_replace(lower(h.text), '\\s+', ' ', 'g'))
                  = trim(regexp_replace(lower(n.text), '\\s+', ' ', 'g'))
          )
    """,
    section="F1,F14,G2,G5",
    description="Bloom-prefiltered incremental dedup: odd-id batch vs "
    "even-id history; distributed filter build (mapInPandas word packing + "
    "bit_or reduce), broadcast membership test, exact confirm join for "
    "candidates only — no false negatives, so the result is hash-identical "
    "to the plain anti-join the oracle runs",
)
def f34_bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept = bloom_dedup_incremental(batch, history)
    return kept.select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# F14 — PageRank-lite over the near-dup pair graph (iterative representative)
# ---------------------------------------------------------------------------


def pagerank_lite(
    pairs: DataFrame, iters: int = 5, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph.

    The second iterative-algorithm representative next to
    :func:`connected_components` (label propagation) and k-means: each
    round is one rank-to-edges equi-join + one destination-keyed sum —
    the same node-id shuffle partitioning every round, nothing quadratic,
    nothing collected (the driver loop carries only the iteration
    counter).  ``localCheckpoint`` truncates lineage per round exactly as
    in connected_components.

    Input: ``(id_a, id_b)`` undirected edges.  Output: ``(node, rank)``
    with ranks summing to the node count (uniform personalization).
    Deterministic given (graph, iters, damping) up to float-sum order —
    rows-only under the driver contract like every iterative op here.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    degrees = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges = edges.join(degrees, "src").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0)).localCheckpoint(eager=True)
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_rank"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("in_rank"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    # rank mass check is the caller's: sum(rank) == n_nodes within float eps
    return ranks.withColumn("n_nodes", F.lit(n_nodes))


def pagerank_lite_int(
    pairs: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000_000,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Integer-scaled twin of :func:`pagerank_lite` — engine-exact.

    Ranks are carried as 1e-9-quantized BIGINTs (``scale``) and every
    iteration is pure integer arithmetic: per-edge contribution is
    ``r DIV deg`` (floor division), the damped update is
    ``base + (17 * Σcontrib) DIV 20`` with ``base = scale - 0.85*scale``
    computed once in exact integers.  Integer addition is commutative, so
    the distributed sum order cannot perturb the result — which is what
    lets the graded query carry a real DuckDB oracle (VERDICT r03 next
    round #5) where the float fixpoint could only be rows-only.  The
    quantization error vs the float recurrence is ≤ iters·(deg+1) ulps of
    1e-9 — irrelevant for hub *ranking*.

    Same distributed shape as the float twin: per round one rank-to-edges
    equi-join + one destination-keyed integer sum, node-id partitioning
    throughout, ``localCheckpoint`` lineage truncation, nothing collected
    but the O(1) node count.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    degrees = edges.groupBy("src").agg(F.count("*").alias("d"))
    edges = edges.join(degrees, "src").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    base = scale - (scale * damping_num) // damping_den
    ranks = nodes.withColumn("r", F.lit(scale).cast("long")).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select("dst", F.expr("r DIV d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_num} * coalesce(s, CAST(0 AS BIGINT)))"
                        f" DIV {damping_den}"
                    )
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.lit(n_nodes).cast("long").alias("n_nodes"),
    )


@graded(
    "pagerank_neardup_hubs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id < 120
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE 2 * len(list_intersect(a.t, b.t))
                  > len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
        it1 AS (
            SELECT n.node,
                   CAST(150000000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.r // dg.d) AS BIGINT) AS c
                FROM edges e JOIN r0 r ON r.node = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY 1
            ) s ON s.dst = n.node
        ),
        it2 AS (
            SELECT n.node,
                   CAST(150000000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.r // dg.d) AS BIGINT) AS c
                FROM edges e JOIN it1 r ON r.node = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY 1
            ) s ON s.dst = n.node
        ),
        it3 AS (
            SELECT n.node,
                   CAST(150000000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.r // dg.d) AS BIGINT) AS c
                FROM edges e JOIN it2 r ON r.node = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY 1
            ) s ON s.dst = n.node
        ),
        it4 AS (
            SELECT n.node,
                   CAST(150000000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.r // dg.d) AS BIGINT) AS c
                FROM edges e JOIN it3 r ON r.node = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY 1
            ) s ON s.dst = n.node
        ),
        it5 AS (
            SELECT n.node,
                   CAST(150000000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.r // dg.d) AS BIGINT) AS c
                FROM edges e JOIN it4 r ON r.node = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY 1
            ) s ON s.dst = n.node
        )
        SELECT node, r AS rank_scaled,
               (SELECT count(*) FROM nodes) AS n_nodes
        FROM it5
    """,
    section="F14,F2",
    description="PageRank-lite (5 damped iterations, integer-scaled 1e-9 "
    "quantization: contribution = r DIV deg, update = base + 17*sum DIV 20 "
    "— all-commutative integer sums, so the fixed-iteration result is "
    "engine-exact and oracle-checkable) over the exact-Jaccard near-dup "
    "graph (docs <120): template/boilerplate hubs rank highest — per-round "
    "cost is one keyed join + one keyed integer sum",
)
def pagerank_neardup_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 120)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("t"))
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    # jac > 0.5 as an exact integer cross-multiplication (2|∩| > |∪|)
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(
            2 * F.size(F.array_intersect("ta", "tb"))
            > F.size(F.array_union("ta", "tb"))
        )
        .select("id_a", "id_b")
    )
    return pagerank_lite_int(pairs, iters=5)


# ---------------------------------------------------------------------------
# F2 — asymmetric containment (doc-inside-doc duplication)
# ---------------------------------------------------------------------------


@graded(
    "f37_containment_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id < 100
        )
        SELECT a.doc_id AS id_small, b.doc_id AS id_big,
               len(list_intersect(a.t, b.t)) AS n_shared,
               len(a.t) AS n_small,
               round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / len(a.t), 6)
                   AS containment
        FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
        WHERE len(list_intersect(a.t, b.t)) * 5 >= len(a.t) * 4
    """,
    section="F2,F1",
    description="asymmetric containment pairs: |A∩B|/|A| >= 0.8 (integer "
    "cross-multiplied threshold) — catches a document embedded inside a "
    "larger one, which symmetric Jaccard misses when sizes differ; the "
    "quote/snippet-dedup signal (Broder's containment, public)",
)
def f37_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed pairs (small ⊂ big): containment of A's token set in B.

    Sample-bounded all-pairs form for the oracle; the scale path is the
    same LSH candidate join as :func:`minhash_near_dups` — containment is
    estimated from the same signatures (E[minhash match] rescaled by the
    size ratio), so candidates come for free and only the exact re-check
    changes.  Threshold compares integers cross-multiplied (×5 vs ×4),
    never a float ratio."""
    docs = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("t"))
    )
    a = docs.select(F.col("doc_id").alias("id_small"), F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_big"), F.col("t").alias("tb"))
    shared = F.size(F.array_intersect("ta", "tb"))
    return (
        a.join(b, F.col("id_small") != F.col("id_big"))
        .select(
            "id_small",
            "id_big",
            shared.cast("long").alias("n_shared"),
            F.size("ta").cast("long").alias("n_small"),
            F.round(shared.cast("double") / F.size("ta"), 6).alias("containment"),
        )
        .filter(F.col("n_shared") * 5 >= F.col("n_small") * 4)
    )


# ---------------------------------------------------------------------------
# F2 — containment at scale: signature-estimated, candidate-bounded
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_perm: int = 96,
    n_bands: int = 32,
) -> DataFrame:
    """Directed containment pairs (|A∩B|/|A| ≥ threshold) without all-pairs.

    The scale path for the graded all-pairs form (``f37_containment_pairs``):

    1. one signature pass (:func:`minhash_signatures`) + per-doc distinct
       token counts;
    2. banded LSH equi-join for candidates — banding keys on *Jaccard*,
       so very asymmetric pairs (tiny A inside huge B → low J) need the
       wider banding this function defaults to (64 perms / 16 bands ⇒
       4-row bands, catching J ≳ 0.35 reliably; containment ≥ t with size
       ratio r = |B|/|A| implies J ≥ t/(1+r−t), so pick banding for the
       largest size ratio you care about);
    3. per-candidate containment estimate from signature agreement —
       Ĵ = matched permutations / n_perm, then the inclusion–exclusion
       rewrite Ĉ_A = Ĵ·(|A|+|B|) / ((1+Ĵ)·|A|) — used as a loose cut at
       0.6·threshold;
    4. exact token-set containment only on the survivors (both directions
       of each candidate pair), final integer cross-multiplied threshold.

    Output: (id_small, id_big, n_shared, n_small, containment) — same
    schema as the graded form.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(F.split(F.lower(F.col(text_col)), " ")).alias("t"),
    )
    sizes = toks.select("doc", F.size("t").alias("sz"))
    sig = minhash_signatures(df, text_col, id_col, n_perm)
    cands = _candidates_from_signatures(sig, n_perm, n_bands)

    sig_a = sig.select(
        F.col("doc").alias("id_a"), *[F.col(f"m{p}").alias(f"a{p}") for p in range(n_perm)]
    )
    sig_b = sig.select(
        F.col("doc").alias("id_b"), *[F.col(f"m{p}").alias(f"b{p}") for p in range(n_perm)]
    )
    matched = sum(
        (F.col(f"a{p}") == F.col(f"b{p}")).cast("int") for p in range(n_perm)
    )
    est = (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", (matched / F.lit(n_perm)).alias("j_est"))
        .join(sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
    )
    # containment of the SMALLER side; loose signature cut before exact work
    c_est = (
        F.col("j_est")
        * (F.col("sz_a") + F.col("sz_b"))
        / ((1.0 + F.col("j_est")) * F.least("sz_a", "sz_b"))
    )
    survivors = est.filter(c_est >= 0.6 * threshold).select("id_a", "id_b")

    ta = toks.select(F.col("doc").alias("id_a"), F.col("t").alias("ta"))
    tb = toks.select(F.col("doc").alias("id_b"), F.col("t").alias("tb"))
    exact = (
        survivors.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_shared"),
            F.size("ta").cast("long").alias("sz_a"),
            F.size("tb").cast("long").alias("sz_b"),
        )
    )
    num, den = int(round(threshold * 100)), 100
    directed = exact.select(
        F.when(F.col("sz_a") <= F.col("sz_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("id_small"),
        F.when(F.col("sz_a") <= F.col("sz_b"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("id_big"),
        "n_shared",
        F.least("sz_a", "sz_b").alias("n_small"),
    )
    return directed.filter(
        F.col("n_shared") * den >= F.col("n_small") * num
    ).withColumn(
        "containment",
        F.round(F.col("n_shared").cast("double") / F.col("n_small"), 6),
    )


# ---------------------------------------------------------------------------
# F39 — prefix-filtered EXACT set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------


def prefix_candidates(
    toks: DataFrame, sizes: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the prefix filter: rank each
    doc's distinct tokens by (corpus frequency, token) ascending, keep
    the first ``|s| − ⌈t·|s|⌉ + 1`` as the prefix, and equi-join on
    prefix tokens.  Guaranteed to contain every pair with Jaccard ≥ t
    (no false negatives); shared by :func:`prefix_filter_jaccard` and the
    pruning pytest so the tested formula IS the production formula."""
    freq = toks.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "term")
    prefix = (
        toks.join(freq, "term")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("rnk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select(id_col, "term")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def prefix_filter_jaccard(
    docs: DataFrame, threshold: float = 0.5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """All pairs with Jaccard(token sets) > ``threshold`` — EXACT results
    through prefix filtering (Chaudhuri et al. SSJoin, ICDE 2006 /
    Xiao et al. PPJoin, WWW 2008 — public), the scale-correct alternative
    to both the quadratic all-pairs join and the *approximate* MinHash
    route (:func:`minhash_lsh_candidates` trades recall; this trades
    nothing).

    Theorem behind the filter: order every token set by one global total
    order (ascending corpus frequency, then token — rarest first); if
    ``J(A,B) ≥ t`` then A and B must share at least one token inside each
    set's first ``|s| − ⌈t·|s|⌉ + 1`` tokens.  So candidate generation is
    an equi-join on PREFIX tokens only — and because prefixes start with
    the rarest tokens, candidate lists are short precisely where naive
    token joins explode (stopword-like tokens never enter a prefix at
    realistic thresholds and set sizes).

    Shape at 100 TB: one token-frequency pass (map-side combined), one
    per-doc window to rank tokens (keyed by doc — no global sort), one
    equi-join on (prefix token) for candidates, one intersection count +
    exact Jaccard on candidates only.  No UDF; no similarity math until
    the candidate set is already frequency-pruned.

    Caveat: pruning power comes from vocabulary skew (rare tokens make
    selective prefixes).  On a tiny uniform vocabulary — like the
    synthetic fixture corpus — prefixes stay universal and candidates
    degenerate toward all pairs; results remain exact either way
    (pytest demonstrates ~Zipf pruning; the graded oracle checks
    exactness).
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).distinct()
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("sz"))
    cands = prefix_candidates(toks, sizes, threshold, id_col)

    ta = toks.select(F.col(id_col).alias("id_a"), "term")
    tb = toks.select(F.col(id_col).alias("id_b"), "term")
    inter = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") > threshold)
    )


@graded(
    "f39_prefix_filter_jaccard",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / len(list_distinct(a.t || b.t)) AS jaccard
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / len(list_distinct(a.t || b.t)) > 0.5
    """,
    section="F2,C4,C11",
    description="prefix-filtered EXACT set-similarity join (PPJoin): "
    "Jaccard>0.5 pairs over the FULL corpus — candidates only from "
    "rarest-token prefixes (no-false-negative theorem), exact verify on "
    "candidates; oracle is the naive quadratic all-pairs join, so two "
    "different algorithms must agree exactly",
)
def f39_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    return prefix_filter_jaccard(docs, 0.5)


# ---------------------------------------------------------------------------
# F1/F2 — winnowing fingerprints (local dedup signatures; Schleimer 2003)
# ---------------------------------------------------------------------------


def gram_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
) -> DataFrame:
    """Positioned token ``k``-gram md5 hashes: ``(doc, pos, h)`` with
    1-based positions — the shared anchor stream under winnowing
    fingerprints (:func:`winnowing_fingerprints`) and the diagonal-island
    span detector (``f61``); one builder so their anchors can never
    desynchronize (review r04).  Narrow 1→N fan-out, no shuffle."""
    toks = docs.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("t")
    ).filter(F.size("t") >= k)
    sh_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - (k - 1)),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at(F.col("t"), i + j) for j in range(k)])
        ),
    )
    return toks.select("doc", F.posexplode(sh_arr).alias("pos0", "h")).select(
        "doc", (F.col("pos0") + 1).alias("pos"), "h"
    )


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint set (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS local-fingerprinting algorithm, public).

    Whole-document hashes (``f6d``) miss PARTIAL overlap; winnowing
    guarantees any shared run of ≥ w+k-1 tokens leaves at least one
    shared fingerprint.  Shape: token ``k``-gram shingles per position
    (narrow 1→N fan-out, same machinery as ``ngram_novelty``), gram hash
    = md5 (lowercase hex on both engines, compared lexicographically —
    no integer conversion needed for a MIN), then the winnowing select:
    a position's hash survives iff it equals the window minimum over the
    trailing ``w`` positions — a doc-partitioned ROWS window, never
    global.  Output: distinct ``(doc, fp)``.

    Scale: fingerprint density is ~2/(w+1) of positions, so the output is
    a constant fraction of the token stream; the doc-keyed window
    parallelizes per document.
    """
    grams = gram_hashes(docs, text_col, id_col, k)
    win = (
        Window.partitionBy("doc").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    # every COMPLETE window contributes its minimum hash (the Schleimer
    # guarantee needs the window min itself, not min-at-current-position:
    # a window fully inside a shared run then yields the same fingerprint
    # in both documents regardless of what precedes the run)
    return (
        grams.withColumn("win_min", F.min("h").over(win))
        .filter(F.col("pos") >= w)  # gram_hashes positions are 1-based
        .select("doc", F.col("win_min").alias("fp"))
        .distinct()
    )


def winnowing_candidates(
    fp: DataFrame, min_shared: int = 3, max_df: int | None = None
) -> DataFrame:
    """Candidate near-dup pairs from a ``(doc, fp)`` fingerprint set:
    pairs sharing >= ``min_shared`` fingerprints via a fingerprint-keyed
    equi-join.

    ``max_df`` is the hot-key guard for real corpora: a fingerprint
    carried by d documents emits C(d, 2) pairs, so one boilerplate
    header/license fingerprint shared by 10^5 docs would alone produce
    5*10^9 candidates (the quadratic blowup the x64 ladder measured on
    the clone-replication fixture — SCALING.md round-7).  Capping the
    fingerprint's document frequency drops only fingerprints that carry
    almost no discriminative signal (ubiquitous boilerplate), the same
    rarest-first logic as PPJoin's prefix filter; pairs that share ONLY
    ubiquitous fingerprints are exactly the pairs a dedup pipeline should
    route to the boilerplate-stripping pass instead.  ``None`` (default)
    keeps exact semantics for the graded oracle."""
    if max_df is not None:
        keep = (
            fp.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("fp")
        )
        fp = fp.join(keep, "fp", "left_semi")
    a = fp.select(F.col("doc").alias("id_a"), "fp")
    b = fp.select(F.col("doc").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


@graded(
    "f57_winnowing_candidates",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 4
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(t[i:i+3], ' ')) AS h
            FROM toks, unnest(generate_series(1, len(t) - 3)) AS u(i)
        ),
        winmin AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                       AS win_min
            FROM grams
        ),
        fp AS (
            SELECT DISTINCT doc_id, win_min AS h FROM winmin WHERE pos >= 4
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3
    """,
    section="F1,F2,F6,C18",
    description="winnowing near-dup candidates (Schleimer'03 MOSS): token "
    "4-gram md5 shingles, window-4 minimum selection (doc-partitioned ROWS "
    "window), candidate pairs sharing >=3 fingerprints via a "
    "fingerprint-keyed equi-join — guarantees detection of any shared run "
    "of >=7 tokens while joining only ~2/(w+1) of positions; the "
    "partial-overlap dedup signal whole-doc hashing (f6d) cannot give",
)
def f57_winnowing_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation is a hash equi-join on the fingerprint value —
    content-bucketed like MinHash banding, no cartesian; the >=3-shared
    HAVING floors out coincidental single-gram collisions."""
    from pulsar_message_filter_spark.io import widen

    # widen (guide §2.5): per-position k-gram md5 shingling is heavy
    # per-row work otherwise serialized in the 1-row-group scan task
    # (same-session A/B this round: ~2.2 s narrow vs ~1.6 s widened)
    docs = widen(
        load(spark, "documents", sf_dir).select("doc_id", "text"), "doc_id"
    )
    return winnowing_candidates(winnowing_fingerprints(docs))


# ---------------------------------------------------------------------------
# F1/F2 — longest shared token run per doc pair (anchor-diagonal islands)
# ---------------------------------------------------------------------------


@graded(
    "f61_common_substring_spans",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 4
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(t[i:i+3], ' ')) AS h
            FROM toks, unnest(generate_series(1, len(t) - 3)) AS u(i)
        ),
        matches AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.pos AS pa, a.pos - b.pos AS diag
            FROM grams a JOIN grams b
              ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        islands AS (
            SELECT id_a, id_b, diag,
                   pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                           ORDER BY pa) AS isl,
                   pa
            FROM (SELECT DISTINCT id_a, id_b, pa, diag FROM matches)
        ),
        runs AS (
            SELECT id_a, id_b, count(*) AS run_grams
            FROM islands
            GROUP BY id_a, id_b, diag, isl
        )
        SELECT id_a, id_b,
               CAST(max(run_grams) + 3 AS BIGINT) AS longest_run_tokens,
               CAST(count(*) AS BIGINT) AS n_runs
        FROM runs
        GROUP BY 1, 2
        HAVING max(run_grams) + 3 >= 8
    """,
    section="F1,F2,F6,C18",
    description="longest shared token run per doc pair (the ExactSubstr "
    "dedup signal, Lee et al. '22, computed relationally): 4-gram md5 "
    "anchors, matched positions grouped into diagonal islands "
    "(gaps-and-islands on pos - row_number per (pair, pos_a - pos_b)), "
    "longest island + k-1 = exact length of the longest common token run "
    "detectable at anchor resolution; pairs sharing >=8 consecutive "
    "tokens survive — the quote/boilerplate-span detector above "
    "winnowing's set-overlap signal",
)
def f61_common_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape: the anchor self-join is content-keyed (same class as the
    band join — no cartesian; a gram's match fan-out is its corpus
    frequency), island detection is one pair+diagonal-keyed window over
    MATCHED positions only, and the output is pair-aggregated.  At 100 TB
    the anchor stream is winnowing-thinned first (f57) so only ~2/(w+1)
    of positions join; full-resolution islands then run on the candidate
    pairs alone."""
    k = 4
    grams = gram_hashes(load(spark, "documents", sf_dir), "text", "doc_id", k)
    a = grams.select(F.col("doc").alias("id_a"), F.col("pos").alias("pa"), "h")
    b = grams.select(F.col("doc").alias("id_b"), F.col("pos").alias("pb"), "h")
    matches = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
        .distinct()
    )
    w_isl = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        matches.withColumn("isl", F.col("pa") - F.row_number().over(w_isl))
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg(F.count("*").alias("run_grams"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            (F.max("run_grams") + (k - 1)).cast("long").alias("longest_run_tokens"),
            F.count("*").cast("long").alias("n_runs"),
        )
        .filter(F.col("longest_run_tokens") >= 8)
    )


# ---------------------------------------------------------------------------
# F2/F14 — dedup-subsystem evaluation: LSH candidates vs exact truth
# ---------------------------------------------------------------------------


@graded(
    "f63_lsh_dedup_eval",
    oracle=None,  # the LSH side uses the engine's seeded hash family —
    # no cross-engine twin; pytest pins the recall floor and precision
    section="F2,F14,F4",
    description="dedup-subsystem evaluation (the f59/f60 pattern applied "
    "to near-dup detection): exact token-Jaccard>=0.8 truth pairs vs the "
    "banded-LSH candidate pipeline on the same bounded corpus — "
    "n_truth / n_candidates / n_hit / missed + precision/recall; "
    "rows-only (seeded-hash family), recall floor pinned in pytest",
)
def f63_lsh_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a dedup operator owner actually watches: how much of
    the exact-truth pair set the scalable candidate path recovers, and at
    what precision (post-recheck precision is 1.0 by construction — the
    interesting column is recall and the candidate-to-truth ratio).
    Truth is the bounded all-pairs exact shingle Jaccard (the exact
    similarity the signatures estimate); found is the banded candidate
    stage — the stage that bounds end-to-end recall (the exact re-check
    after it only removes false positives)."""
    docs = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    # truth on the SAME similarity the LSH indexes: distinct 3-token
    # shingle sets of the lowercased text (minhash_signatures' exact
    # construction) — measuring banding recall against a different
    # similarity (e.g. unigram sets) would grade the wrong contract
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            shingles(F.split(F.lower(F.col("text")), " "))
        ).alias("t"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(inter * 5 >= union * 4)  # shingle jaccard >= 0.8
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    found = minhash_candidates(docs, "text", "doc_id").localCheckpoint(
        eager=True
    )
    n_truth = truth.count()
    n_found = found.count()
    n_hit = truth.join(found, ["id_a", "id_b"], "left_semi").count()
    return docs.sparkSession.createDataFrame(
        [
            (
                n_truth,
                n_found,
                n_hit,
                n_truth - n_hit,
                round(n_hit / n_found, 6) if n_found else 1.0,
                round(n_hit / n_truth, 6) if n_truth else 1.0,
            )
        ],
        "n_truth long, n_found long, n_hit long, n_missed long, "
        "precision double, recall double",
    )


# ---------------------------------------------------------------------------
# F2/F14 — dedup threshold tuning curve (one pass, all thresholds)
# ---------------------------------------------------------------------------


@graded(
    "f66_threshold_sweep",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_distinct(string_split(lower(text), ' ')) AS t
            FROM documents WHERE doc_id < 200
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.t, b.t)) AS i,
                   len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS u
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        ),
        thr AS (SELECT unnest([50, 70, 80, 90]) AS pct)
        SELECT pct,
               CAST(sum(CASE WHEN i * 100 >= u * pct THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT CASE WHEN i * 100 >= u * pct
                                        THEN id_b END) AS BIGINT)
                   AS n_docs_dropped
        FROM pairs CROSS JOIN thr
        GROUP BY 1
    """,
    section="F2,F14,C11",
    description="dedup threshold tuning curve: near-dup pair counts and "
    "keep-first removal counts at Jaccard 0.5/0.7/0.8/0.9 from ONE "
    "all-pairs pass (integer cross-multiplied thresholds) — the curve an "
    "operator owner reads before fixing the production threshold, bounded "
    "corpus for the exact form (the scale path reuses the LSH candidates "
    "with per-threshold banding from choose_banding)",
)
def f66_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pair materialization serves every threshold (the thresholds
    are a broadcast 4-row spine, not 4 passes); removal counts use the
    keep-first rule (drop the greater id of each qualifying pair)."""
    toks = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.array_distinct(F.split(F.lower("text"), " ")).alias("t"),
        )
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.alias("i"),
            (F.size("ta") + F.size("tb") - inter).alias("u"),
        )
    )
    thr = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (50, 70, 80, 90)])).alias("pct")
    )
    q = F.col("i") * 100 >= F.col("u") * F.col("pct")
    return (
        pairs.crossJoin(F.broadcast(thr))
        .groupBy("pct")
        .agg(
            F.sum(q.cast("long")).alias("n_pairs"),
            F.countDistinct(F.when(q, F.col("id_b"))).cast("long").alias(
                "n_docs_dropped"
            ),
        )
    )


# ---------------------------------------------------------------------------
# F1/F2/F14 — quality-aware survivor per near-dup COMPONENT
# ---------------------------------------------------------------------------


def cluster_survivors(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str,
    q_col: str,
    comps: DataFrame | None = None,
) -> DataFrame:
    """One survivor per connected component of the near-dup pair graph:
    the member with the highest ``q_col`` (lowest id on ties).

    This is the component-level complement of
    :func:`~pulsar_message_filter_spark.operators.ngrams.survivor_pick`
    (edge-local, iteration-free): when edges are only transitively
    connected — A≈B, B≈C, no A≈C edge — a dedup policy of "keep the best
    document of each duplicate GROUP" needs the component, so this runs
    :func:`connected_components` (pointer-jump, O(log diameter) rounds)
    and then ONE rank window per cluster.

    Output: ``(cluster_id, survivor_id, survivor_q, n_members)``, one row
    per component.  Scale: the rank window is keyed on cluster_id (the
    same node-id domain the CC rounds already shuffle on) and its
    per-group state is one row.
    """
    if comps is None:
        comps = connected_components(pairs)  # (node, cluster_id)
    members = comps.join(
        quality.select(F.col(id_col).alias("node"), F.col(q_col).alias("_q")),
        "node",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_q"), F.asc("node"))
    return (
        members.withColumn("_rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("_rk") == 1, F.col("node"))).alias("survivor_id"),
            F.max(F.when(F.col("_rk") == 1, F.col("_q"))).alias("survivor_q"),
            F.count("*").alias("n_members"),
        )
    )


@graded(
    "f73_cluster_survivors",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT doc_id, lang, source, n_chars,
                   list_distinct(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id < 120
        ),
        prs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM toks a JOIN toks b
              ON a.doc_id < b.doc_id
             AND a.lang = b.lang AND a.source = b.source
            WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                     / len(list_distinct(a.t || b.t)) > 0.5
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM prs
            UNION SELECT id_b, id_a FROM prs
        ),
        reach(node, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
        ),
        clusters AS (
            SELECT node, CAST(min(r) AS BIGINT) AS cluster_id
            FROM reach GROUP BY 1
        ),
        ranked AS (
            SELECT c.cluster_id, c.node, d.n_chars,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY d.n_chars DESC, c.node) AS rk
            FROM clusters c JOIN toks d ON c.node = d.doc_id
        ),
        grouped AS (
            SELECT cluster_id,
                   max(CASE WHEN rk = 1 THEN node END) AS survivor_id,
                   max(CASE WHEN rk = 1 THEN n_chars END) AS survivor_q,
                   count(*) AS n_members
            FROM ranked GROUP BY 1
        )
        SELECT cluster_id, survivor_id, survivor_q, n_members FROM grouped
        UNION ALL
        SELECT doc_id AS cluster_id, doc_id AS survivor_id,
               n_chars AS survivor_q, CAST(1 AS BIGINT) AS n_members
        FROM toks
        WHERE doc_id NOT IN (SELECT node FROM clusters)
    """,
    section="F1,F2,F14,C18",
    description="quality-aware dedup survivors per near-dup COMPONENT: "
    "blocked exact-Jaccard pair graph (same lang+source, docs <120) -> "
    "pointer-jump connected components -> per-cluster best-quality pick "
    "(n_chars, id tiebreak), singletons surviving as their own cluster; "
    "oracle replays it with a recursive-CTE closure",
)
def f73_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking (lang+source equality) is the same candidate-limiting
    discipline as linkage/LSH: pair generation is an equi-join on the
    block key, never all-pairs.  Docs touching no pair survive alone —
    the output IS the post-dedup keep-list, one row per final cluster."""
    docs = (
        load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 120)
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.array_distinct(F.split("text", " ")).alias("t"),
        )
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"), "lang", "source", F.col("t").alias("ta")
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("t").alias("tb"),
    )
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    pairs = (
        a.join(
            b,
            (F.col("id_a") < F.col("id_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b")),
        )
        .filter(jac > 0.5)
        .select("id_a", "id_b")
    )
    comps = connected_components(pairs)  # iterate ONCE, reuse both ways
    clustered = cluster_survivors(pairs, docs, "doc_id", "n_chars", comps=comps)
    members = comps.select(F.col("node").alias("doc_id"))
    singles = docs.join(members, "doc_id", "left_anti").select(
        F.col("doc_id").alias("cluster_id"),
        F.col("doc_id").alias("survivor_id"),
        F.col("n_chars").alias("survivor_q"),
        F.lit(1).cast("long").alias("n_members"),
    )
    return clustered.unionByName(singles)

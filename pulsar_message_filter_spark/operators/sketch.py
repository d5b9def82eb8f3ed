"""Count-min sketch, relationally — mergeable approximate counting with a
deterministic, engine-independent hash family.

The classic CMS (Cormode & Muthukrishnan 2005, public) keeps a depth×width
counter matrix; each key increments one cell per row via independent
hashes, and a point query reads the MINIMUM of its cells — an estimate
that can only over-count (one-sided error ≤ 2N/width with probability
1−(1/2)^depth).

The twist here: both the build and the probe are expressed as PLAIN
relational algebra over a multiply-shift hash family
(``(a·key + b) mod p mod width`` with literal constants), so

* the whole sketch stays inside whole-stage codegen — no UDF, no
  driver-side matrix;
* partial sketches from different partitions/days/batches merge by simple
  addition — which in this formulation is just the ``groupBy(row, cell)``
  SUM (the mergeable-partial-aggregate pattern that makes sketches the
  backbone of 100 TB monitoring rollups);
* DuckDB can run the *identical* computation, so the graded query is
  hash-exact — a sketch with an oracle, because the "randomness" is a
  fixed literal hash family, not engine RNG.

``p`` is the Mersenne prime 2^31−1; keys and ``a`` are bounded so every
product stays far inside int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_message_filter_spark.io import load
from pulsar_message_filter_spark.registry import graded

_P = 2_147_483_647  # 2^31 - 1
#: (a, b) per sketch row — fixed literals, independent pairwise hashes
_FAMILY = ((131_071, 524_287), (262_139, 8_191), (524_287, 131_101), (999_983, 262_147))


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    group_cols: list | None = None,
) -> DataFrame:
    """Counter cells ``(*group_cols, row, cell, cnt)`` of the CMS over a
    key column.

    One generator projection (depth cells per input row via a literal
    array + explode) and one ``groupBy(row, cell)`` count — map-side
    combinable, at most ``depth × width`` output rows however large the
    input.  ``group_cols`` (e.g. a day/window column, mirroring
    :func:`hll_registers_by`) builds one PARTIAL sketch per group; merge
    partials by summing ``cnt`` over ``(row, cell)`` — see
    :func:`cms_merge` — because addition is the sketch's merge.
    STRING keys fold to longs first via :func:`hll_key_expr` (the shared
    polynomial char fold — same ~1e8-distinct ceiling documented there;
    CMS heavy-hitter workloads are far below it by construction).
    """
    kv = hll_key_expr(df, key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                ((kv * _FAMILY[i][0] + _FAMILY[i][1]) % _P % width).alias(
                    "cell"
                ),
            )
            for i in range(depth)
        ]
    )
    projected = df.select(*(group_cols or []), F.explode(cells).alias("rc"))
    group_names = [c for c in projected.columns if c != "rc"]
    return (
        projected.select(
            *group_names,
            F.col("rc.row").alias("row"),
            F.col("rc.cell").alias("cell"),
        )
        .groupBy(*group_names, "row", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Merge per-group CMS partials into one sketch: sum ``cnt`` over
    ``(row, cell)``.  Exact — a merged sketch is cell-for-cell identical
    to one built over the concatenated input, which is what makes
    per-day/per-batch CMS partials the frequency symmetric of the HLL
    register rollup (:func:`hll_windowed_merge`)."""
    return partials.groupBy("row", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Point-query estimates: min over rows of each key's cell counters.

    ``keys`` is a (small) frame of distinct keys; each key expands to its
    ``depth`` cells, equi-joins the sketch, and takes the min — estimates
    can only over-count, never under.  String keys fold exactly as in
    :func:`cms_build`, so probes address the same cells."""
    kv = hll_key_expr(keys, key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                ((kv * _FAMILY[i][0] + _FAMILY[i][1]) % _P % width).alias(
                    "cell"
                ),
            )
            for i in range(depth)
        ]
    )
    probes = keys.select(key_col, F.explode(cells).alias("rc")).select(
        key_col, F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell")
    )
    return (
        probes.join(sketch, ["row", "cell"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def _cms_sql(key_expr: str, table: str, where: str, width: int, depth: int) -> str:
    """DuckDB twin of build+estimate fused for the graded query."""
    cell = lambda i: f"(({key_expr}) * {_FAMILY[i][0]} + {_FAMILY[i][1]}) % {_P} % {width}"
    probes = " UNION ALL ".join(
        f"SELECT {key_expr} AS k, {i} AS row, {cell(i)} AS cell FROM {table} {where}"
        for i in range(depth)
    )
    builds = " UNION ALL ".join(
        f"SELECT {i} AS row, {cell(i)} AS cell FROM {table}" for i in range(depth)
    )
    return f"""
        WITH sketch AS (
            SELECT row, cell, count(*) AS cnt FROM ({builds}) GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT k, row, cell FROM ({probes}))
        SELECT p.k AS user_id, CAST(min(s.cnt) AS BIGINT) AS est
        FROM probes p JOIN sketch s USING (row, cell)
        GROUP BY 1
    """


@graded(
    "cms_user_event_counts",
    oracle=_cms_sql("user_id", "events", "WHERE user_id < 40", 1024, 4),
    section="C11,F14,D8",
    description="count-min sketch, relationally: per-user event-count "
    "estimates (users <40) from a 4×1024 counter matrix built with a "
    "literal multiply-shift hash family — no UDF, mergeable by summing "
    "cells, and hash-exact across engines because the 'randomness' is a "
    "fixed literal family (estimates over-count only, pinned in pytest)",
)
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, "events", sf_dir)
    sketch = cms_build(events, "user_id")
    keys = events.filter(F.col("user_id") < 40).select("user_id").distinct()
    return cms_estimate(sketch, keys, "user_id")


# ---------------------------------------------------------------------------
# HyperLogLog, relationally (same deterministic-hash trick as the CMS)
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007, public)
#: linear congruential rounds alone leave the leading-zero statistic badly
#: biased (a*k mod p has structured high bits for consecutive keys, and rho
#: reads exactly those bits) — measured +70%% estimate bias.  The fix is a
#: Wang/Jenkins-style avalanche mix (xor-shift + multiply-mod rounds),
#: which lands the estimator inside its theoretical ±1.04/√m band; every
#: step is exact int64 arithmetic expressible in both engines.
_HLL_A, _HLL_B = 999_983, 524_287
_HLL_MULT = 73_244_475


#: modulus of the string→long fold (same constant as text.py's
#: f6d_rolling_fingerprint — the repo's one polynomial-hash modulus)
_STR_FOLD_MOD = 1_000_000_007


def hll_key_expr(df: DataFrame, key_col: str):
    """The key column as a long for the register hash family.

    Numeric keys pass through untouched (every existing graded HLL query
    keeps its exact plan).  STRING keys fold to a long via the repo's
    char-level polynomial rolling hash ``(acc·31 + code) % 1e9+7`` — pure
    Column algebra, so string-keyed sketches (event types, enum-ish
    dimension values) stay engine-expressible and deterministic.
    ``split(s, '')`` on the empty string yields ``['']`` whose ``ascii``
    is 0, so '' folds to 0.

    **Cardinality ceiling (ADVICE r12).**  The fold maps strings into
    ``[0, 1e9+7)``; birthday collisions make the downstream estimate
    systematically UNDERcount once distinct-string cardinality ``n``
    approaches the modulus — expected surviving distincts are
    ``m·(1−exp(−n/m))``, i.e. ≈2% low at n=4e7, ≈12% low at n=2.6e8,
    saturating near 1e9 — an error floor OUTSIDE the sketch's nominal
    ±1.04/√m band that no register count fixes.  Widening the fold alone
    cannot lift this: the very next step is ``(kv·999983 + b) % (2^31−1)``,
    so a fold modulus beyond ~9.2e12 overflows int64 in the multiply, and
    reducing ``kv`` mod ``p=2^31−1`` first (or splitting the multiply —
    with Mersenne p, ``2^31 ≡ 1 (mod p)``, so the split IS the reduction)
    lands in the same 2^31-point space, which is its own ≈2e9 ceiling for
    the whole deterministic register family, string or numeric keys alike.
    A genuinely wider pipeline needs 128-bit mulmod, which neither engine
    exposes in plain int64 SQL — and engine-expressibility is this
    family's entire reason to exist.  Contract: the deterministic family
    is for ORACLE-CHECKABLE estimates up to ~1e7–1e8 distinct keys
    (≤0.5–5% fold undercount, inside the ±13% band at m=64); beyond that,
    use ``sliding_distinct(method='approx')`` / ``approx_count_distinct``
    — Spark's HLL++ hashes with 64-bit xxhash and has no such ceiling.
    """
    if dict(df.dtypes).get(key_col) != "string":
        return F.col(key_col)
    codes = F.transform(
        F.split(F.col(key_col), ""), lambda c: F.ascii(c).cast("long")
    )
    return F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % _STR_FOLD_MOD
    )


def fold_sql(col: str) -> str:
    """DuckDB fragment of :func:`hll_key_expr`'s string fold over ``col``
    (which may be any string-typed SQL expression).  Single-sourced here
    so every oracle that grades the fold (e2f, e2g, the string-keyed CMS)
    stays locked to the same modulus and shape."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({col}, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {_STR_FOLD_MOD})"
    )


# ---------------------------------------------------------------------------
# C11/D1 — the CMS family on STRING keys, symmetric with what hll_key_expr
# did for the register family: the same scan-side polynomial fold feeds the
# multiply-shift cell family, so string-keyed frequency sketches (event
# types, error codes, enum dimensions) stay engine-expressible and the
# whole build+probe earns a hash grade.
# ---------------------------------------------------------------------------


def _cms_string_sql(label_col: str, table: str, width: int, depth: int) -> str:
    """DuckDB twin of the string-keyed build+probe, carrying the original
    string label through to the output (the fold is cell-addressing only)."""
    cell = (
        lambda i: f"(kv * {_FAMILY[i][0]} + {_FAMILY[i][1]}) % {_P} % {width}"
    )
    builds = " UNION ALL ".join(
        f"SELECT {i} AS row, {cell(i)} AS cell FROM f" for i in range(depth)
    )
    probes = " UNION ALL ".join(
        f"SELECT {label_col}, {i} AS row, {cell(i)} AS cell FROM f"
        for i in range(depth)
    )
    return f"""
        WITH f AS (
            SELECT {label_col}, {fold_sql(label_col)} AS kv FROM {table}
        ),
        sketch AS (
            SELECT row, cell, count(*) AS cnt FROM ({builds}) GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT {label_col}, row, cell FROM ({probes}))
        SELECT p.{label_col}, CAST(min(s.cnt) AS BIGINT) AS est
        FROM probes p JOIN sketch s USING (row, cell)
        GROUP BY 1
    """


@graded(
    "cms_string_key_counts",
    oracle=_cms_string_sql("event_type", "events", 1024, 4),
    section="C11,D1,D8,F14",
    description="count-min sketch on a STRING key: event_type folds to a "
    "long scan-side (the shared polynomial char fold, hll_key_expr) before "
    "the literal multiply-shift cell family — build, fold, probe, and "
    "min-over-rows all inside the hash grade, so string-keyed frequency "
    "sketches (types, error codes) stay oracle-checkable exactly like the "
    "int-keyed form",
)
def cms_string_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-keyed CMS point estimates for every distinct event type.

    100 TB scale shape: identical to the int-keyed CMS — the fold is one
    scan-side projection inside codegen (no UDF), the build is one
    map-side-combinable ``groupBy(row, cell)`` count bounded at
    ``depth × width`` rows regardless of input, and partials merge by
    summing cells.  The probe side is a broadcast-sized distinct-key
    frame joined on (row, cell).
    """
    from pulsar_message_filter_spark.io import widen

    # widen (guide §2.5): the per-char string fold is heavy scan-side
    # work serialized by the 1-row-group fixture scan (same-session A/B
    # this round: ~1.2 s narrow vs ~0.9 s widened)
    events = widen(load(spark, "events", sf_dir), "event_id")
    sketch = cms_build(events, "event_type")
    keys = events.select("event_type").distinct()
    return cms_estimate(sketch, keys, "event_type")


# ---------------------------------------------------------------------------
# C11/E1/F14 — CMS mergeability across time windows, as a graded invariant:
# the frequency symmetric of hll_windowed_merge.  Per-day partial sketches
# (≤ depth×width counter rows per window, however large the day) merge by
# summing cells — EXACTLY, because CMS merge is addition — and point
# estimates off the merged sketch are inside one hash grade together with
# the partial-structure counts, so the rollup read path a 100 TB frequency
# dashboard would use (keep 4×1024 cells per day, sum on read) is itself
# oracle-checked.
# ---------------------------------------------------------------------------


def _cms_windowed_sql(width: int, depth: int) -> str:
    cell = (
        lambda i: f"(user_id * {_FAMILY[i][0]} + {_FAMILY[i][1]}) % {_P} % {width}"
    )
    builds = " UNION ALL ".join(
        f"SELECT CAST(ts AS DATE) AS day, {i} AS row, {cell(i)} AS cell "
        "FROM events"
        for i in range(depth)
    )
    probes = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row, {cell(i)} AS cell FROM events "
        "WHERE user_id < 20"
        for i in range(depth)
    )
    return f"""
        WITH partials AS (
            SELECT day, row, cell, count(*) AS cnt
            FROM ({builds}) GROUP BY 1, 2, 3
        ),
        merged AS (
            SELECT row, cell, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM partials GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT user_id AS k, row, cell FROM ({probes})),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_partial_rows,
                   CAST(count(DISTINCT day) AS BIGINT) AS n_windows
            FROM partials
        )
        SELECT p.k AS user_id, CAST(min(m.cnt) AS BIGINT) AS est,
               s.n_partial_rows, s.n_windows
        FROM probes p JOIN merged m USING (row, cell) CROSS JOIN stats s
        GROUP BY 1, 3, 4
    """


@graded(
    "cms_windowed_merge",
    oracle=_cms_windowed_sql(1024, 4),
    section="C11,E1,D8,F14",
    description="CMS mergeability across time windows: per-day partial "
    "sketches (bounded at depth x width counter rows per window) merged by "
    "summing cells, then per-user point estimates off the MERGED sketch — "
    "the frequency symmetric of hll_windowed_merge, graded hash-exact with "
    "the partial-structure counts so the 100 TB rollup read path (persist "
    "small per-window partials, sum on read) is itself oracle-checked",
)
def cms_windowed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day CMS partials → exact merge-by-sum → point estimates.

    100 TB scale shape: the build is one map-side-combinable
    ``groupBy(day, row, cell)`` count whose output is ≤ depth×width rows
    PER DAY regardless of input volume (the persistable partial); the
    merge is one ``groupBy(row, cell)`` sum over those bounded partials
    (rows = days × 4096, never data-sized); the probe side is a
    broadcast-sized distinct-key frame.  No stage touches raw rows twice.
    """
    events = load(spark, "events", sf_dir)
    partials = cms_build(
        events, "user_id", group_cols=[F.col("ts").cast("date").alias("day")]
    )
    merged = cms_merge(partials)
    keys = events.filter(F.col("user_id") < 20).select("user_id").distinct()
    ests = cms_estimate(merged, keys, "user_id")
    stats = partials.agg(
        F.count("*").alias("n_partial_rows"),
        F.countDistinct("day").alias("n_windows"),
    )
    return ests.crossJoin(stats)


def hll_registers(df: DataFrame, key_col: str, m: int = _HLL_M) -> DataFrame:
    """Register table ``(register, max_rho)`` of an HLL sketch over a key.

    ``hash31 = (a·key+b) mod p``; low bits pick the register, and rho =
    leading-zero rank of the remaining 25 bits (1-based).  ``max`` per
    register is the whole sketch state — mergeable by ``max`` exactly as
    the CMS merges by sum.  floor(log2(w)) on ints ≤ 2^25 is exact in
    double, so every register value is engine-identical.  String keys
    fold to longs first (:func:`hll_key_expr`).
    """
    h = (hll_key_expr(df, key_col) * _HLL_A + _HLL_B) % _P
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = (h * _HLL_MULT) % _P
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = (h * _HLL_MULT) % _P
    h = h.bitwiseXOR(F.shiftright(h, 16))
    w = (h / m).cast("long")
    rho = F.when(w > 0, 25 - F.floor(F.log2(w))).otherwise(F.lit(26))
    return (
        df.select((h % m).alias("register"), rho.cast("long").alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


@graded(
    "hll_distinct_users",
    oracle=f"""
        WITH h0 AS (
            SELECT (user_id * {_HLL_A} + {_HLL_B}) % {_P} AS hv FROM events
        ),
        h1 AS (SELECT (xor(hv, hv >> 16) * {_HLL_MULT}) % {_P} AS hv FROM h0),
        h2 AS (SELECT (xor(hv, hv >> 13) * {_HLL_MULT}) % {_P} AS hv FROM h1),
        h AS (SELECT xor(hv, hv >> 16) AS hv FROM h2),
        regs AS (
            SELECT hv % {_HLL_M} AS register,
                   max(CASE WHEN hv // {_HLL_M} > 0
                            THEN 25 - floor(log2(hv // {_HLL_M}))
                            ELSE 26 END) AS max_rho
            FROM h GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS registers_hit,
               round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                     / (sum(power(2.0, -max_rho)) + ({_HLL_M} - count(*))), 4)
                   AS hll_estimate,
               (SELECT count(DISTINCT user_id) FROM events) AS true_distinct
        FROM regs
    """,
    section="C12,F14,D8",
    description="HyperLogLog, relationally: distinct-user estimate from a "
    "64-register max-rho table built with the same literal hash family as "
    "the CMS — mergeable by per-register max, and hash-exact across "
    "engines (deterministic family, exact int log2) so even the estimate "
    "has an oracle; true count alongside for the error story",
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, "events", sf_dir)
    regs = hll_registers(events, "user_id")
    # the exact count rides the SAME plan as a 1-row aggregate subtree
    # (one action instead of a driver-side count + lit; guide §1.2/§2.4)
    # — count_distinct matches the oracle's count(DISTINCT user_id)
    td = events.agg(
        F.count_distinct("user_id").cast("long").alias("true_distinct")
    )
    # empty registers contribute 2^0 = 1 each (rho 0) to the harmonic sum
    return regs.agg(
        F.count("*").alias("registers_hit"),
        F.round(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
                + (F.lit(_HLL_M) - F.count("*"))
            ),
            4,
        ).alias("hll_estimate"),
    ).crossJoin(td)


def hll_estimate_from_registers(rows, m: int = _HLL_M) -> float:
    """Canonical HLL estimate incl. the small-range linear-counting branch.

    ``rows`` is the collected (register, max_rho) table.  Raw estimate =
    α·m²/Σ2^−Mⱼ (empty registers contribute 2⁰); when the raw estimate is
    ≤ 2.5m and some registers are empty, the standard correction
    ``m·ln(m/V)`` (V = empty registers) replaces it — without it the raw
    estimator over-counts badly for n ≪ m (Flajolet et al. 2007 §4).
    """
    import math

    hit = len(rows)
    s = sum(2.0 ** -r["max_rho"] for r in rows) + (m - hit)
    raw = _HLL_ALPHA * m * m / s
    empty = m - hit
    if raw <= 2.5 * m and empty > 0:
        return m * math.log(m / empty)
    return raw


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram → quantile estimates
# ---------------------------------------------------------------------------

_QH_WIDTH = 4096  # power of two: price/4096 is EXACT in binary floating point


def histogram_bins(df: DataFrame, col: str, width: int = _QH_WIDTH) -> DataFrame:
    """Fixed-width histogram — the simplest mergeable quantile sketch.
    Partial histograms from any partition/day/shard merge by summing bin
    counts (a plain groupBy SUM), which is what makes this the 100 TB
    percentile-monitoring shape: one map-side-combined shuffle of at most
    ``range/width`` rows, no per-row state, no sorted pass."""
    b = F.floor(F.col(col) / width).cast("long").alias("bin")
    return df.groupBy(b).agg(F.count("*").alias("cnt"))


def histogram_quantiles(
    hist: DataFrame, quantiles: list[float], width: int = _QH_WIDTH
) -> DataFrame:
    """Linear-interpolated quantile estimates from a bin histogram.

    Deterministic float math on identical operands (integer cumulative
    counts, one multiply, one divide) — bit-identical across engines, so
    unlike RNG/stream-order sketches this estimator is oracle-checkable
    with no rounding at all.  The bin cum runs through the two-phase
    distributed prefix scan (bin count is bounded at range/width, but the
    scan keeps the plan parallel and WindowExec-warning-free at any bin
    cardinality)."""
    from pulsar_message_filter_spark.functions.prefix import (
        distributed_prefix_sums,
    )

    c = distributed_prefix_sums(
        hist.withColumn("__g", F.lit(0)),
        "__g",
        ["bin"],
        {"cnt": "cum"},
        total_col="n",
    ).select("bin", "cnt", "cum", "n")
    # One pass, not |quantiles| unioned copies: the union form duplicated
    # the whole prefix-scanned subtree per quantile (3x the post-checkpoint
    # stages; 56-Exchange plan in hist_windowed_merge).  Exploding the
    # quantile literals emits the identical row multiset from ONE copy.
    ps = F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("p")
    qs = c.select(ps, "bin", "cnt", "cum", "n")
    target = F.col("p") * F.col("n")
    return (
        qs.filter((F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target))
        .select(
            "p",
            (
                F.col("bin") * width
                + width * (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
            ).alias("est"),
        )
    )


@graded(
    "quantile_histogram_estimate",
    oracle=f"""
        WITH hist AS (
            SELECT CAST(floor(l_extendedprice / {_QH_WIDTH}) AS BIGINT) AS bin,
                   count(*) AS cnt
            FROM lineitem GROUP BY 1
        ),
        c AS (
            SELECT bin, cnt,
                   sum(cnt) OVER (ORDER BY bin) AS cum,
                   sum(cnt) OVER () AS n
            FROM hist
        ),
        q AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
        SELECT p,
               bin * {_QH_WIDTH}
                 + {_QH_WIDTH} * (p * n - (cum - cnt)) / cnt AS est
        FROM q JOIN c ON cum >= p * n AND (cum - cnt) < p * n
    """,
    section="C14,C11,F14",
    description="mergeable fixed-bin histogram quantiles (p50/p90/p99 of "
    "extendedprice): partial histograms merge by summing counts — the "
    "distributed percentile-rollup shape; power-of-two bin width keeps "
    "the float path exact, so estimates are hash-identical cross-engine "
    "with NO rounding",
)
def quantile_histogram_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return histogram_quantiles(histogram_bins(li, "l_extendedprice"), [0.5, 0.9, 0.99])


# ---------------------------------------------------------------------------
# C14/E1/F14 — histogram mergeability across time windows: the quantile leg
# completing the windowed-rollup quartet (HLL merges by per-register MAX,
# CMS by cell SUM, KMV by union-then-re-rank, fixed-bin histograms by plain
# bin SUM — the simplest merge algebra of the four).  Per-day partials are
# the persistable rollup state (≤ range/width bins per window); quantile
# estimates off the merged histogram are bit-identical to a direct
# whole-range build because bin counts merge EXACTLY.
# ---------------------------------------------------------------------------


@graded(
    "hist_windowed_merge",
    oracle=f"""
        WITH partials AS (
            SELECT l_shipdate AS day,
                   CAST(floor(l_extendedprice / {_QH_WIDTH}) AS BIGINT) AS bin,
                   count(*) AS cnt
            FROM lineitem GROUP BY 1, 2
        ),
        merged AS (
            SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM partials GROUP BY 1
        ),
        c AS (
            SELECT bin, cnt,
                   sum(cnt) OVER (ORDER BY bin) AS cum,
                   sum(cnt) OVER () AS n
            FROM merged
        ),
        q AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_partial_rows,
                   CAST(count(DISTINCT day) AS BIGINT) AS n_windows
            FROM partials
        )
        SELECT p,
               bin * {_QH_WIDTH}
                 + {_QH_WIDTH} * (p * n - (cum - cnt)) / cnt AS est,
               s.n_partial_rows, s.n_windows
        FROM q JOIN c ON cum >= p * n AND (cum - cnt) < p * n
        CROSS JOIN stats s
    """,
    section="C14,E1,C11,F14",
    description="histogram mergeability across time windows: per-shipdate "
    "fixed-bin partials merged by bin SUM give whole-range p50/p90/p99 "
    "bit-identical to a direct build (exact merge algebra, power-of-two "
    "width keeps the float path exact — NO rounding) — the quantile leg "
    "of the windowed-merge quartet, partial-structure counts inside the "
    "hash grade",
)
def hist_windowed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day histogram partials → merge-by-sum → quantile estimates.

    100 TB scale shape: the build is one map-side-combinable
    ``groupBy(day, bin)`` count bounded at range/width rows PER DAY (the
    persistable partial); the merge is a ``groupBy(bin)`` sum over those
    bounded partials (days × bins rows, never data-sized); the quantile
    read runs the two-phase distributed prefix scan over ≤ range/width
    merged bins.  Unlike the HLL/CMS/KMV legs the merge here is EXACT —
    the graded estimates equal ``quantile_histogram_estimate``'s direct
    build to the bit.
    """
    li = load(spark, "lineitem", sf_dir)
    partials = li.groupBy(
        F.col("l_shipdate").alias("day"),
        F.floor(F.col("l_extendedprice") / _QH_WIDTH).cast("long").alias("bin"),
    ).agg(F.count("*").alias("cnt"))
    merged = partials.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    ests = histogram_quantiles(merged, [0.5, 0.9, 0.99])
    stats = partials.agg(
        F.count("*").alias("n_partial_rows"),
        F.countDistinct("day").alias("n_windows"),
    )
    return ests.crossJoin(stats)


def hll_registers_by(df: DataFrame, key_col: str, group_cols: list, m: int = _HLL_M) -> DataFrame:
    """Per-group HLL register tables — one tiny (≤ m rows) sketch per
    group, built in a single grouped pass.  Same hash family as
    :func:`hll_registers`; string keys fold to longs first
    (:func:`hll_key_expr`)."""
    h = (hll_key_expr(df, key_col) * _HLL_A + _HLL_B) % _P
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = (h * _HLL_MULT) % _P
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = (h * _HLL_MULT) % _P
    h = h.bitwiseXOR(F.shiftright(h, 16))
    w = (h / m).cast("long")
    rho = F.when(w > 0, 25 - F.floor(F.log2(w))).otherwise(F.lit(26))
    projected = df.select(
        *group_cols, (h % m).alias("register"), rho.cast("long").alias("rho")
    )
    group_names = [c for c in projected.columns if c not in ("register", "rho")]
    return projected.groupBy(*group_names, "register").agg(
        F.max("rho").alias("max_rho")
    )


def _hll_estimate_cols(registers_hit, rho_harmonic_sum, m: int = _HLL_M):
    """α·m² / (Σ2^−Mⱼ + empty) on already-aggregated columns."""
    return F.round(
        F.lit(_HLL_ALPHA * m * m) / (rho_harmonic_sum + (F.lit(m) - registers_hit)), 4
    )


@graded(
    "hll_windowed_merge",
    oracle=f"""
        WITH h0 AS (
            SELECT CAST(ts AS DATE) AS day,
                   (user_id * {_HLL_A} + {_HLL_B}) % {_P} AS hv FROM events
        ),
        h1 AS (SELECT day, (xor(hv, hv >> 16) * {_HLL_MULT}) % {_P} AS hv FROM h0),
        h2 AS (SELECT day, (xor(hv, hv >> 13) * {_HLL_MULT}) % {_P} AS hv FROM h1),
        h AS (SELECT day, xor(hv, hv >> 16) AS hv FROM h2),
        day_regs AS (
            SELECT day, hv % {_HLL_M} AS register,
                   max(CASE WHEN hv // {_HLL_M} > 0
                            THEN 25 - floor(log2(hv // {_HLL_M}))
                            ELSE 26 END) AS max_rho
            FROM h GROUP BY 1, 2
        ),
        merged AS (
            SELECT register, max(max_rho) AS max_rho FROM day_regs GROUP BY 1
        )
        SELECT (SELECT count(*) FROM day_regs) AS n_partial_rows,
               (SELECT count(DISTINCT day) FROM day_regs) AS n_windows,
               (SELECT round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                       / (sum(power(2.0, -max_rho)) + ({_HLL_M} - count(*))), 4)
                FROM merged) AS merged_estimate,
               (SELECT count(DISTINCT user_id) FROM events) AS true_distinct
    """,
    section="C12,E1,F14",
    description="HLL mergeability across time windows, as a graded "
    "invariant: per-day register tables (one tiny sketch per window) "
    "merged by per-register MAX give the whole-range estimate — the "
    "rollup shape that lets 100 TB distinct-count dashboards keep only "
    "m-row partials per window instead of raw keys; deterministic family "
    "so the merged estimate itself is oracle-checked",
)
def hll_windowed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, "events", sf_dir)
    day_regs = hll_registers_by(
        events, "user_id", [F.col("ts").cast("date").alias("day")]
    )
    merged = day_regs.groupBy("register").agg(F.max("max_rho").alias("max_rho"))
    # exact count as a 1-row aggregate subtree in the same plan — one
    # action instead of a driver count + lit (count_distinct == the
    # oracle's count(DISTINCT user_id))
    td = events.agg(
        F.count_distinct("user_id").cast("long").alias("true_distinct")
    )
    est = merged.agg(
        F.count("*").alias("__hit"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("__hsum"),
    ).select(_hll_estimate_cols(F.col("__hit"), F.col("__hsum")).alias("merged_estimate"))
    counts = day_regs.agg(
        F.count("*").alias("n_partial_rows"),
        F.countDistinct("day").alias("n_windows"),
    )
    return (
        counts.crossJoin(est)
        .crossJoin(td)
        .select("n_partial_rows", "n_windows", "merged_estimate", "true_distinct")
    )


# ---------------------------------------------------------------------------
# Weighted order statistics (weighted median)
# ---------------------------------------------------------------------------


def weighted_median(
    df: DataFrame, group_col: str, value_cents, weight
) -> DataFrame:
    """Per-group weighted median: the smallest value whose cumulative
    weight reaches half the group's total weight.

    Scale shape, in order of importance:

    1. **Pre-aggregate per (group, value)** — the median only depends on
       total weight per distinct value, so the heavy lift is one
       map-side-combined groupBy (q1-class), shrinking the sorted scan
       from row count to distinct-value count (~14× on the fixtures).
       This also makes (group, value) a total order — no tiebreak needed.
    2. **Distributed prefix sum** over the aggregated values
       (``functions.prefix.distributed_prefix_sum``) — NOT a plain keyed
       window: median groups are typically low-cardinality (here: 3
       return flags) and a keyed window serializes each group into one
       task (the x64 ladder measured exponent 0.90 before these fixes).

    Integer weights keep it exact; the mergeable approximation for
    dashboards is :func:`histogram_quantiles`.  Delegates to
    :func:`weighted_quantiles` at q=0.5 — one pipeline to maintain."""
    return weighted_quantiles(df, group_col, value_cents, weight, [0.5]).select(
        group_col, F.col("weighted_q_cents").alias("weighted_median_cents")
    )


@graded(
    "agg_weighted_median",
    oracle="""
        WITH staged AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                   sum(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                                l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING) AS cw,
                   sum(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag) AS tw
            FROM lineitem
        )
        SELECT l_returnflag, min(v) AS weighted_median_cents
        FROM staged WHERE cw >= 0.5 * tw GROUP BY 1
    """,
    section="C14,C20,C11",
    description="quantity-weighted median price per returnflag: per-value "
    "weight pre-aggregation then a two-phase distributed prefix sum (no "
    "single-task keyed window) — exact weighted order statistic, "
    "deterministic cross-engine (mergeable approx twin: "
    "quantile_histogram_estimate)",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    from pulsar_message_filter_spark.operators.parity import cents

    return weighted_median(
        li,
        "l_returnflag",
        cents("l_extendedprice"),
        F.col("l_quantity").cast("long"),
    )


# ---------------------------------------------------------------------------
# HLL audience overlap (inclusion–exclusion on mergeable sketches)
# ---------------------------------------------------------------------------


def _hll_regs_sql(where: str) -> str:
    """Register-table SQL over filtered events (same avalanche chain)."""
    return f"""(
        WITH h0 AS (
            SELECT (user_id * {_HLL_A} + {_HLL_B}) % {_P} AS hv
            FROM events {where}
        ),
        h1 AS (SELECT (xor(hv, hv >> 16) * {_HLL_MULT}) % {_P} AS hv FROM h0),
        h2 AS (SELECT (xor(hv, hv >> 13) * {_HLL_MULT}) % {_P} AS hv FROM h1),
        h AS (SELECT xor(hv, hv >> 16) AS hv FROM h2)
        SELECT hv % {_HLL_M} AS register,
               max(CASE WHEN hv // {_HLL_M} > 0
                        THEN 25 - floor(log2(hv // {_HLL_M}))
                        ELSE 26 END) AS max_rho
        FROM h GROUP BY 1
    )"""


_HLL_EST_SQL = (
    f"round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / "
    f"(sum(power(2.0, -max_rho)) + ({_HLL_M} - count(*))), 4)"
)


def hll_estimate_col(regs: DataFrame) -> DataFrame:
    """Single-row estimate frame from a register table."""
    return regs.agg(
        _hll_estimate_cols(F.count("*"), F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))))
        .alias("est")
    )


@graded(
    "hll_audience_overlap",
    oracle=f"""
        WITH est_a AS (SELECT {_HLL_EST_SQL} AS e FROM {_hll_regs_sql("WHERE event_type = 'click'")}),
        est_b AS (SELECT {_HLL_EST_SQL} AS e FROM {_hll_regs_sql("WHERE event_type = 'purchase'")}),
        est_u AS (SELECT {_HLL_EST_SQL} AS e FROM {_hll_regs_sql("WHERE event_type IN ('click', 'purchase')")}),
        truth AS (
            SELECT CAST(count(*) AS BIGINT) AS true_overlap FROM (
                SELECT user_id FROM events WHERE event_type = 'click'
                INTERSECT
                SELECT user_id FROM events WHERE event_type = 'purchase'
            )
        )
        SELECT (SELECT e FROM est_a) AS est_click,
               (SELECT e FROM est_b) AS est_purchase,
               (SELECT e FROM est_u) AS est_union,
               round((SELECT e FROM est_a) + (SELECT e FROM est_b)
                     - (SELECT e FROM est_u), 4) AS est_overlap,
               (SELECT true_overlap FROM truth) AS true_overlap
    """,
    section="C12,C24,F14",
    description="audience overlap by inclusion-exclusion on HLL sketches: "
    "est(click)+est(purchase)-est(click∪purchase) — the sketch-union trick "
    "that answers intersection questions from per-segment partials alone "
    "(no raw-key join at query time); deterministic family so the "
    "estimates themselves are oracle-checked, exact INTERSECT alongside",
)
def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, "events", sf_dir)
    clicks = events.filter(F.col("event_type") == "click")
    buys = events.filter(F.col("event_type") == "purchase")
    both = events.filter(F.col("event_type").isin("click", "purchase"))
    est_a = hll_estimate_col(hll_registers(clicks, "user_id")).withColumnRenamed("est", "est_click")
    est_b = hll_estimate_col(hll_registers(buys, "user_id")).withColumnRenamed("est", "est_purchase")
    est_u = hll_estimate_col(hll_registers(both, "user_id")).withColumnRenamed("est", "est_union")
    # exact INTERSECT count as a 1-row aggregate subtree in the same plan
    # (one action instead of a driver count + lit; guide §1.2/§2.4)
    truth = (
        clicks.select("user_id")
        .intersect(buys.select("user_id"))
        .agg(F.count("*").cast("long").alias("true_overlap"))
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(truth)
        .select(
            "est_click",
            "est_purchase",
            "est_union",
            F.round(
                F.col("est_click") + F.col("est_purchase") - F.col("est_union"), 4
            ).alias("est_overlap"),
            "true_overlap",
        )
    )


def weighted_quantiles(
    df: DataFrame, group_col: str, value_cents, weight, quantiles: list
) -> DataFrame:
    """Generalizes :func:`weighted_median` to any quantile list: one
    per-value weight aggregation + ONE distributed prefix sum, then each
    requested quantile reads the same cum table (a literal-array explode,
    not another scan).  Exact integer cum weights; smallest value whose
    inclusive cumulative weight reaches ``q·total`` per group."""
    from pulsar_message_filter_spark.functions.prefix import distributed_prefix_sum

    per_value = (
        df.select(F.col(group_col), value_cents.alias("__v"), weight.alias("__w"))
        .groupBy(group_col, "__v")
        .agg(F.sum("__w").alias("__w"))
    )
    cum = distributed_prefix_sum(per_value, group_col, ["__v"], "__w", out_col="__cw")
    qs = cum.select(
        group_col,
        "__v",
        "__cw",
        "group_total",
        F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("p"),
    )
    return (
        qs.filter(F.col("__cw") >= F.col("p") * F.col("group_total"))
        .groupBy(group_col, "p")
        .agg(F.min("__v").alias("weighted_q_cents"))
    )


@graded(
    "agg_weighted_quantiles",
    oracle="""
        WITH per_value AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                   sum(CAST(l_quantity AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2
        ),
        c AS (
            SELECT l_returnflag, v,
                   sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cw,
                   sum(w) OVER (PARTITION BY l_returnflag) AS tw
            FROM per_value
        ),
        q AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p)
        SELECT l_returnflag, p, min(v) AS weighted_q_cents
        FROM c CROSS JOIN q
        WHERE cw >= p * tw
        GROUP BY 1, 2
    """,
    section="C14,C20,F14",
    description="quantity-weighted price quantiles (p25/p50/p75/p90) per "
    "returnflag: one per-value aggregation + one distributed prefix sum "
    "serves ALL quantile points — exact integer order statistics at "
    "mergeable-histogram cost",
)
def agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_message_filter_spark.operators.parity import cents

    li = load(spark, "lineitem", sf_dir)
    return weighted_quantiles(
        li,
        "l_returnflag",
        cents("l_extendedprice"),
        F.col("l_quantity").cast("long"),
        [0.25, 0.5, 0.75, 0.9],
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — mergeable distinct + Jaccard estimates
# ---------------------------------------------------------------------------

_KMV_K = 32


@graded(
    "kmv_distinct_jaccard",
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   CAST(list_sum(list_transform(generate_series(1, 8), i ->
                        (strpos('0123456789abcdef',
                                substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                        * (16 ** (8 - i)))) AS BIGINT) AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
            FROM hashed
        ),
        bottomk AS (SELECT * FROM ranked WHERE rk <= {_KMV_K}),
        per_type AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS k_used,
                   max(h) AS r_k
            FROM bottomk GROUP BY 1
        ),
        est AS (
            SELECT event_type, k_used,
                   round(CAST(k_used - 1 AS DOUBLE) * 4294967296.0 / r_k, 2)
                       AS est_distinct
            FROM per_type
        ),
        pair_union AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b, u.h
            FROM (SELECT DISTINCT event_type FROM bottomk) a
            JOIN (SELECT DISTINCT event_type FROM bottomk) b
              ON a.event_type < b.event_type
            JOIN (SELECT DISTINCT h, event_type FROM bottomk) u
              ON u.event_type IN (a.event_type, b.event_type)
        ),
        pair_ranked AS (
            SELECT type_a, type_b, h,
                   row_number() OVER (PARTITION BY type_a, type_b
                                      ORDER BY h) AS rk
            FROM (SELECT DISTINCT type_a, type_b, h FROM pair_union)
        ),
        xk AS (SELECT * FROM pair_ranked WHERE rk <= {_KMV_K}),
        inter AS (
            SELECT x.type_a, x.type_b,
                   CAST(sum(CASE WHEN ba.h IS NOT NULL AND bb.h IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                   CAST(count(*) AS BIGINT) AS k_union
            FROM xk x
            LEFT JOIN bottomk ba ON ba.event_type = x.type_a AND ba.h = x.h
            LEFT JOIN bottomk bb ON bb.event_type = x.type_b AND bb.h = x.h
            GROUP BY 1, 2
        )
        SELECT e.event_type, e.k_used, e.est_distinct,
               i.type_b AS jaccard_with,
               round(CAST(i.n_both AS DOUBLE) / i.k_union, 4) AS est_jaccard
        FROM est e
        LEFT JOIN inter i ON i.type_a = e.event_type
    """,
    section="C12,F14,D8",
    description="KMV (k-minimum-values / bottom-k) sketch over distinct "
    "users per event type: distinct-count estimate (k-1)*2^32/R_k from "
    "the k smallest md5-32 hash positions, PLUS the estimator HLL cannot "
    "give — pairwise Jaccard between types from the bottom-k of the "
    "union (|X ∩ A ∩ B| / k, Bar-Yossef et al. '02 / Beyer et al. '07). "
    "Mergeable by construction (union the bottom-k sets, re-take "
    "bottom-k), and ORACLE-EXACT unlike the xxhash HLL/CMS twins: every "
    "hash position is an md5 prefix both engines compute identically",
)
def kmv_distinct_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-side work is one DISTINCT (type, user) aggregation;
    everything after runs on ≤ k rows per type (the sketch), so the
    pairwise stage is |types|²·k broadcast-sized.  Bottom-k is TWO-LEVEL
    (bottom-k of per-salt bottom-k's — identical result by min-set
    algebra): a window over (type, salt % 32) keeps every sort task at
    ~1/32 of a type's distinct hashes, then the final window ranks only
    the 32·k survivors per type — no per-type serial sort of the full
    hash set at any corpus size."""
    from pyspark.sql import Window

    ev = load(spark, "events", sf_dir)
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    hashed = ev.select("event_type", h32.alias("h")).distinct()
    w_local = Window.partitionBy(
        "event_type", (F.col("h") % 32).alias("salt")
    ).orderBy("h")
    survivors = (
        hashed.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= _KMV_K)
        .drop("lrk")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    bottomk = (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
    )
    est = bottomk.groupBy("event_type").agg(
        F.count("*").alias("k_used"),
        F.round(
            (F.count("*") - 1).cast("double") * F.lit(4294967296.0) / F.max("h"),
            2,
        ).alias("est_distinct"),
    )
    types = bottomk.select("event_type").distinct()
    tb = types.select(F.col("event_type").alias("type_b"))
    pair_union = (
        types.select(F.col("event_type").alias("type_a"))
        .join(F.broadcast(tb), F.col("type_a") < F.col("type_b"))
        .join(
            F.broadcast(bottomk.select("event_type", "h")),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    xk = (
        pair_union.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= _KMV_K)
    )
    ba = bottomk.select(
        F.col("event_type").alias("type_a"), F.col("h").alias("ha")
    )
    bb = bottomk.select(
        F.col("event_type").alias("type_b"), F.col("h").alias("hb")
    )
    inter = (
        xk.join(
            F.broadcast(ba),
            (xk.type_a == ba.type_a) & (xk.h == F.col("ha")),
            "left",
        )
        .drop(ba.type_a)
        .join(
            F.broadcast(bb),
            (xk.type_b == bb.type_b) & (xk.h == F.col("hb")),
            "left",
        )
        .drop(bb.type_b)
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.when(
                    F.col("ha").isNotNull() & F.col("hb").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_both"),
            F.count("*").alias("k_union"),
        )
    )
    return est.join(
        inter.select(
            F.col("type_a").alias("event_type"),
            F.col("type_b").alias("jaccard_with"),
            F.round(F.col("n_both").cast("double") / F.col("k_union"), 4).alias(
                "est_jaccard"
            ),
        ),
        "event_type",
        "left",
    ).select("event_type", "k_used", "est_distinct", "jaccard_with", "est_jaccard")


# ---------------------------------------------------------------------------
# C12/E1/F14 — KMV mergeability across time windows: the third leg of the
# windowed-merge trilogy (HLL merges by per-register MAX, CMS by cell SUM,
# KMV by union-then-re-take-bottom-k — min-set algebra: every hash in the
# whole-range bottom-k is in its own day's bottom-k, so merging the ≤ k-row
# per-day partials loses nothing).  Per-day partials are the persistable
# rollup state (≤ k rows per window however large the day); the merged
# estimate plus the partial-structure counts sit inside one hash grade,
# md5-exact across engines like kmv_distinct_jaccard.
# ---------------------------------------------------------------------------


@graded(
    "kmv_windowed_merge",
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day,
                   CAST(list_sum(list_transform(generate_series(1, 8), i ->
                        (strpos('0123456789abcdef',
                                substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                        * (16 ** (8 - i)))) AS BIGINT) AS h
            FROM events
        ),
        ranked AS (
            SELECT day, h,
                   row_number() OVER (PARTITION BY day ORDER BY h) AS rk
            FROM hashed
        ),
        partials AS (SELECT day, h FROM ranked WHERE rk <= {_KMV_K}),
        merged AS (
            SELECT h FROM (SELECT DISTINCT h FROM partials)
            ORDER BY h LIMIT {_KMV_K}
        ),
        est AS (
            SELECT CAST(count(*) AS BIGINT) AS k_used,
                   round(CAST(count(*) - 1 AS DOUBLE) * 4294967296.0 / max(h), 2)
                       AS est_distinct
            FROM merged
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_partial_rows,
                   CAST(count(DISTINCT day) AS BIGINT) AS n_windows
            FROM partials
        ),
        td AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
            FROM events
        )
        SELECT s.n_partial_rows, s.n_windows, e.k_used, e.est_distinct,
               t.true_distinct
        FROM stats s CROSS JOIN est e CROSS JOIN td t
    """,
    section="C12,E1,D8,F14",
    description="KMV mergeability across time windows: per-day bottom-k "
    "hash partials (≤ k rows per window) merged by union-then-re-rank give "
    "the whole-range distinct estimate — the rank-merge leg of the "
    "windowed-merge trilogy (HLL max, CMS sum, KMV rank), md5-exact across "
    "engines with the partial-structure counts inside the hash grade",
)
def kmv_windowed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day KMV partials → union + re-take bottom-k → estimate.

    100 TB scale shape: the corpus-side work is one distinct (day, hash)
    aggregation; the per-day bottom-k uses the same two-level salt window
    as ``kmv_distinct_jaccard`` (no per-day serial sort of the full hash
    set), and every stage after the partials runs on ≤ k rows per day —
    the merge's TakeOrderedAndProject sees days × k rows, never data.
    """
    ev = load(spark, "events", sf_dir)
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    hashed = ev.select(
        F.col("ts").cast("date").alias("day"), h32.alias("h")
    ).distinct()
    w_local = Window.partitionBy(
        "day", (F.col("h") % 32).alias("salt")
    ).orderBy("h")
    survivors = (
        hashed.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= _KMV_K)
        .drop("lrk")
    )
    w_day = Window.partitionBy("day").orderBy("h")
    partials = (
        survivors.withColumn("rk", F.row_number().over(w_day))
        .filter(F.col("rk") <= _KMV_K)
        .select("day", "h")
    )
    merged = partials.select("h").distinct().orderBy("h").limit(_KMV_K)
    est = merged.agg(
        F.count("*").alias("k_used"),
        F.round(
            (F.count("*") - 1).cast("double") * F.lit(4294967296.0) / F.max("h"),
            2,
        ).alias("est_distinct"),
    )
    stats = partials.agg(
        F.count("*").alias("n_partial_rows"),
        F.countDistinct("day").alias("n_windows"),
    )
    # exact count as a 1-row aggregate subtree in the same plan — one
    # action instead of a driver count + lit (count_distinct == the
    # oracle's count(DISTINCT user_id))
    td = ev.agg(F.count_distinct("user_id").cast("long").alias("true_distinct"))
    return (
        stats.crossJoin(est)
        .crossJoin(td)
        .select(
            "n_partial_rows", "n_windows", "k_used", "est_distinct",
            "true_distinct",
        )
    )


# ---------------------------------------------------------------------------
# Sample-quantile sketch — bottom-k reservoir quantiles with error vs truth
# ---------------------------------------------------------------------------

_SQ_K = 256
_SQ_PS = (0.25, 0.5, 0.75)  # dyadic fractions: p*n is float-exact


@graded(
    "sketch_sample_quantiles",
    oracle=f"""
        WITH hashed AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                   CAST(l_orderkey AS VARCHAR) || '-' ||
                       CAST(l_linenumber AS VARCHAR) AS rid,
                   CAST(list_sum(list_transform(generate_series(1, 8), i ->
                        (strpos('0123456789abcdef',
                                substr(md5(CAST(l_orderkey AS VARCHAR)
                                           || '-' ||
                                           CAST(l_linenumber AS VARCHAR)),
                                       i, 1)) - 1)
                        * (16 ** (8 - i)))) AS BIGINT) AS h
            FROM lineitem
        ),
        samp AS (
            SELECT * FROM (
                SELECT l_returnflag, v,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY h, rid, v) AS srk
                FROM hashed)
            WHERE srk <= {_SQ_K}
        ),
        samp_cum AS (
            SELECT l_returnflag, v,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY v, srk) AS vrk,
                   count(*) OVER (PARTITION BY l_returnflag) AS k_used
            FROM samp
        ),
        q AS (SELECT CAST(unnest([{", ".join(str(p) for p in _SQ_PS)}])
                          AS DOUBLE) AS p),
        samp_q AS (
            SELECT l_returnflag, p, min(v) AS sample_q_cents,
                   min(k_used) AS k_used
            FROM samp_cum CROSS JOIN q
            WHERE vrk >= p * k_used
            GROUP BY 1, 2
        ),
        per_value AS (
            SELECT l_returnflag, v, CAST(count(*) AS BIGINT) AS w
            FROM hashed GROUP BY 1, 2
        ),
        c AS (
            SELECT l_returnflag, v,
                   sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cw,
                   sum(w) OVER (PARTITION BY l_returnflag) AS tw
            FROM per_value
        ),
        exact_q AS (
            SELECT l_returnflag, p, min(v) AS exact_q_cents
            FROM c CROSS JOIN q
            WHERE cw >= p * tw
            GROUP BY 1, 2
        )
        SELECT s.l_returnflag, s.p, CAST(s.k_used AS BIGINT) AS k_used,
               s.sample_q_cents, e.exact_q_cents,
               s.sample_q_cents - e.exact_q_cents AS err_cents
        FROM samp_q s
        JOIN exact_q e ON e.l_returnflag = s.l_returnflag AND e.p = s.p
    """,
    section="C12,C14,C26,F14",
    description="sample-quantile sketch: per-returnflag p25/p50/p75 of "
    "price estimated from a k=256 bottom-k-by-md5 reservoir (the "
    "mergeable-sample quantile estimator — union reservoirs, re-take "
    "bottom-k, re-read quantiles), reported NEXT TO the exact "
    "prefix-scan order statistics with the signed error in cents — the "
    "sketch, its ground truth, and its observed error in one result; "
    "oracle-exact because the reservoir is content-addressed, not RNG",
)
def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-side cost: one two-level bottom-k (each stratum's sort tasks
    see ~1/32 of its rows) for the sample + one per-value agg + prefix
    scan for the truth column.  At 100 TB only the truth column grows —
    drop it and the sketch path alone is the production form: k rows per
    stratum, quantiles read driver-side from 256-row state."""
    from pulsar_message_filter_spark.functions.prefix import (
        distributed_prefix_sum,
    )
    from pulsar_message_filter_spark.operators.parity import cents
    from pulsar_message_filter_spark.operators.sampling import (
        reservoir_bottom_k,
    )

    li = load(spark, "lineitem", sf_dir)
    keyed = li.select(
        "l_returnflag",
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        cents("l_extendedprice").alias("v"),
    )
    samp = reservoir_bottom_k(
        keyed, "l_returnflag", "rid", k=_SQ_K, carry=("v",), tiebreak=("v",)
    ).withColumnRenamed("rk", "srk")
    w_v = Window.partitionBy("l_returnflag").orderBy("v", "srk")
    w_k = Window.partitionBy("l_returnflag")
    samp_cum = samp.select(
        "l_returnflag",
        "v",
        F.row_number().over(w_v).alias("vrk"),
        F.count("*").over(w_k).alias("k_used"),
    )
    ps = F.explode(F.array(*[F.lit(float(p)) for p in _SQ_PS])).alias("p")
    samp_q = (
        samp_cum.select("l_returnflag", "v", "vrk", "k_used", ps)
        .filter(F.col("vrk") >= F.col("p") * F.col("k_used"))
        .groupBy("l_returnflag", "p")
        .agg(
            F.min("v").alias("sample_q_cents"),
            F.min("k_used").cast("long").alias("k_used"),
        )
    )
    per_value = keyed.groupBy("l_returnflag", "v").agg(
        F.count("*").alias("w")
    )
    cum = distributed_prefix_sum(
        per_value, "l_returnflag", ["v"], "w", out_col="cw"
    )
    exact_q = (
        cum.select("l_returnflag", "v", "cw", "group_total", ps)
        .filter(F.col("cw") >= F.col("p") * F.col("group_total"))
        .groupBy("l_returnflag", "p")
        .agg(F.min("v").alias("exact_q_cents"))
    )
    return samp_q.join(exact_q, ["l_returnflag", "p"]).select(
        "l_returnflag",
        "p",
        "k_used",
        "sample_q_cents",
        "exact_q_cents",
        (F.col("sample_q_cents") - F.col("exact_q_cents")).alias("err_cents"),
    )


# ---------------------------------------------------------------------------
# KLL-lite quantile sketch — the mergeable-state quantile family next to
# HLL (distinct), CMS (frequency), and KMV (distinct/Jaccard).
# ---------------------------------------------------------------------------

_KLL_K = 200  # level-capacity parameter: rank error ~ O(1/k) per merge depth


class KLLLite:
    """Deterministic KLL-style quantile compactor (pure Python + numpy).

    Classic KLL (Karnin-Lang-Liberty 2016, public paper) keeps a ladder of
    compactors; level ``l`` items carry weight ``2**l``.  When a level
    overflows its capacity the buffer is sorted and every other item is
    promoted to the next level.  Two deliberate deviations make this
    "lite" variant safe inside Spark tasks:

    - **No RNG.**  The promotion offset alternates with a per-level
      compaction counter instead of a coin flip, so a task retry (or a
      recomputed stage) reproduces the identical sketch — Spark requires
      deterministic task output for correct retries.  Alternating offsets
      keep the promoted sample unbiased over pairs of compactions.
    - **Uniform level capacity** ``k`` (true KLL shrinks lower levels by
      c**depth).  Memory is O(k log(n/k)) instead of O(k), irrelevant at
      k=200, and the rank-error bound only tightens.

    Mergeable state: ``merge`` concatenates ladders level-wise then
    re-compacts — the same associative-up-to-error contract every other
    sketch in this module provides (estimates from any merge tree agree
    within the error bound; test_round10_ops pins this).
    """

    __slots__ = ("k", "levels", "flips", "n", "dropped")

    def __init__(self, k: int = _KLL_K):
        self.k = k
        self.levels: list[list[float]] = [[]]
        self.flips: list[int] = [0]
        self.n = 0  # total weight (count of raw updates) represented
        self.dropped = 0  # non-finite inputs rejected (NULL/NaN/inf)

    def update_many(self, values) -> None:
        """Fold a batch of values into level 0, dropping non-finite inputs.

        NULLs reaching a pandas batch arrive as NaN (and a bare Python
        ``None`` would raise in ``float()``); NaN inside the ladder breaks
        ``list.sort`` total ordering — every NaN comparison is False, so
        compaction order (and therefore the promoted sample, the rank-error
        bound, and deterministic replay) becomes arbitrary.  Quantiles are
        defined over the finite domain, so non-finite inputs are dropped
        and counted in ``self.dropped`` for observability.
        """
        import numpy as np

        arr = np.asarray(values, dtype="float64")  # None -> NaN
        finite = arr[np.isfinite(arr)]
        self.dropped += int(arr.size - finite.size)
        self.levels[0].extend(finite.tolist())
        self.n += int(finite.size)
        self._compress()

    def merge(self, other: "KLLLite") -> "KLLLite":
        while len(self.levels) < len(other.levels):
            self.levels.append([])
            self.flips.append(0)
        for lvl, buf in enumerate(other.levels):
            self.levels[lvl].extend(buf)
        self.n += other.n
        self.dropped += other.dropped
        self._compress()
        return self

    def _compress(self) -> None:
        lvl = 0
        while lvl < len(self.levels):
            buf = self.levels[lvl]
            if len(buf) > self.k:
                buf.sort()
                if lvl + 1 == len(self.levels):
                    self.levels.append([])
                    self.flips.append(0)
                offset = self.flips[lvl] & 1
                self.flips[lvl] += 1
                self.levels[lvl + 1].extend(buf[offset::2])
                self.levels[lvl] = []
            lvl += 1

    # --- queries ---------------------------------------------------------

    def _weighted_points(self):
        pts = [
            (v, 1 << lvl) for lvl, buf in enumerate(self.levels) for v in buf
        ]
        pts.sort()
        return pts

    def quantile(self, p: float) -> float:
        pts = self._weighted_points()
        if not pts:
            return float("nan")
        total = sum(w for _, w in pts)
        target = p * total
        cum = 0
        for v, w in pts:
            cum += w
            if cum >= target:
                return v
        return pts[-1][0]

    # --- serialization (sketch rows between Spark stages) -----------------

    def dumps(self) -> str:
        import json

        return json.dumps({"k": self.k, "n": self.n, "levels": self.levels,
                           "flips": self.flips, "dropped": self.dropped})

    @classmethod
    def loads(cls, s: str) -> "KLLLite":
        import json

        d = json.loads(s)
        sk = cls(d["k"])
        sk.levels = [list(map(float, b)) for b in d["levels"]]
        sk.flips = list(d["flips"])
        sk.n = d["n"]
        sk.dropped = d.get("dropped", 0)  # absent in pre-r07 payloads
        return sk


def kll_group_quantiles(
    df: DataFrame, group_col: str, value_col: str, ps: list, k: int = _KLL_K
) -> DataFrame:
    """Distributed KLL-lite: partition-local build → per-group sketch merge.

    100 TB shape: stage 1 (``mapInPandas``) folds each *partition's* rows
    into one sketch per group — raw values never shuffle; only serialized
    sketches (O(k·log n) floats each) move.  Stage 2 groups the sketch rows
    by key and merges ladders (``applyInPandas`` over ~#partitions rows per
    group).  The same two stages run as a streaming foreachBatch fold:
    sketch state is a mergeable parquet column like the HLL registers.
    """
    ps = [float(p) for p in ps]

    def build(batches):
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            for g, vals in pdf.groupby(group_col, sort=False)[value_col]:
                acc.setdefault(g, KLLLite(k)).update_many(vals.to_numpy())
        if acc:
            yield pd.DataFrame(
                {group_col: list(acc), "sketch": [s.dumps() for s in acc.values()]}
            )

    def merge_and_query(pdf):
        import pandas as pd

        sk = KLLLite(k)
        for s in pdf["sketch"]:
            sk.merge(KLLLite.loads(s))
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[0],
                "p": ps,
                "est_cents": [int(sk.quantile(p)) for p in ps],
                "sketch_n": sk.n,
            }
        )

    # Derive the group-key type from the input schema: a numeric id key
    # hardcoded as ``string`` would silently coerce (or crash the Arrow
    # batch) — the stage schemas must carry the real type through.
    gtype = df.schema[group_col].dataType.simpleString()
    sketches = df.select(group_col, value_col).mapInPandas(
        build, schema=f"{group_col} {gtype}, sketch string"
    )
    return sketches.groupBy(group_col).applyInPandas(
        merge_and_query,
        schema=f"{group_col} {gtype}, p double, est_cents long, sketch_n long",
    )


@graded(
    "sketch_kll_quantiles",
    oracle=None,  # iterative compaction: not SQL-expressible (rows-only);
    # the exact twin ships IN the result: exact_cents + rank_error columns,
    # and test_round10_ops pins the error bound + merge associativity.
    section="C14,F14,G4,G5",
    description="KLL-lite mergeable quantile sketch: partition-local build + "
    "per-group ladder merge; output carries exact-quantile twin and measured "
    "rank error (rows-only)",
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimates p25/p50/p75/p90 of l_extendedprice (cents) per returnflag
    and joins the EXACT twin computed relationally, emitting the measured
    rank error |rank(est)/n - p| — the sketch grades itself against ground
    truth in one plan, the KMV/sample-quantile pattern."""
    from pulsar_message_filter_spark.operators.parity import cents

    # (measured this round: widening the 1-partition scan before the
    # mapInPandas build was SLOWER — the raw-row exchange + worker fan-out
    # costs more than the vectorized single-worker build saves at sf0.1;
    # at scale the scan arrives wide on its own, so nothing to do here)
    li = load(spark, "lineitem", sf_dir).select(
        "l_returnflag", cents("l_extendedprice").alias("v")
    )
    est = kll_group_quantiles(li, "l_returnflag", "v", [0.25, 0.5, 0.75, 0.9])
    # exact rank of each estimate: broadcast the 12 estimate rows against
    # the scan — one pass, no sort, no quadratic anything
    ranked = (
        li.join(
            F.broadcast(est),
            "l_returnflag",
        )
        .groupBy("l_returnflag", "p", "est_cents", "sketch_n")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est_cents"), 1).otherwise(0)).alias(
                "n_le"
            ),
            F.count("*").alias("n"),
        )
    )
    return ranked.select(
        "l_returnflag",
        "p",
        "est_cents",
        "sketch_n",
        F.round(
            F.abs(F.col("n_le").cast("double") / F.col("n") - F.col("p")), 4
        ).alias("rank_error"),
    ).orderBy("l_returnflag", "p")


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — the mergeable FREQUENT-ITEMS summary next to
# CMS (point frequency), HLL/KMV (distinct), KLL (quantiles).
# ---------------------------------------------------------------------------

_MG_K = 16  # counters kept per summary: estimate error <= n / (k+1)
_MG_SALTS = 8  # stage-1 sub-summaries (stand-ins for executor partials)


def mg_compress(
    df: DataFrame, key_col: str, weight_col: str, k: int, by=()
) -> DataFrame:
    """Misra-Gries COMPRESS of a ``(*by, key, weight)`` counter table, per
    ``by`` group: subtract the (k+1)-th largest weight (ties broken by key)
    and keep the positive remainders — at most k rows per group, returned as
    ``(*by, key_col, weight_col)``.

    The rank AND the threshold come from ONE pass: the unordered window
    over the same ``by`` partitioning adds no exchange, so the compress is a
    single shuffle on ``by`` — no threshold re-aggregation, no recompute of
    the input.  With ``by=()`` it is a single-partition window, sized for
    inputs that are already bounded (salts·k merged counters, one epoch's
    distinct keys)."""
    w_rank = Window.partitionBy(*by).orderBy(F.desc(weight_col), F.asc(key_col))
    w_group = Window.partitionBy(*by)
    return (
        df.withColumn("rk", F.row_number().over(w_rank))
        .withColumn(
            "t",
            F.coalesce(
                F.max(F.when(F.col("rk") == k + 1, F.col(weight_col))).over(w_group),
                F.lit(0),
            ),
        )
        .filter((F.col("rk") <= k) & (F.col(weight_col) - F.col("t") > 0))
        .select(*by, key_col, (F.col(weight_col) - F.col("t")).alias(weight_col))
    )


@graded(
    "sketch_misra_gries",
    oracle=f"""
        WITH salted AS (
            SELECT user_id,
                   CAST(list_sum(list_transform(generate_series(1, 8), i ->
                        (strpos('0123456789abcdef',
                                substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1)
                        * (16 ** (8 - i)))) AS BIGINT) % {_MG_SALTS} AS salt
            FROM events
        ),
        counts AS (
            SELECT salt, user_id, count(*) AS c
            FROM salted GROUP BY 1, 2
        ),
        ranked AS (
            SELECT salt, user_id, c,
                   row_number() OVER (PARTITION BY salt
                                      ORDER BY c DESC, user_id) AS rk
            FROM counts
        ),
        thresh AS (
            SELECT salt,
                   coalesce(max(CASE WHEN rk = {_MG_K} + 1 THEN c END), 0) AS t
            FROM ranked GROUP BY 1
        ),
        partials AS (
            SELECT r.user_id, r.c - t.t AS w
            FROM ranked r JOIN thresh t USING (salt)
            WHERE r.rk <= {_MG_K} AND r.c - t.t > 0
        ),
        merged AS (
            SELECT user_id, sum(w) AS w FROM partials GROUP BY 1
        ),
        mranked AS (
            SELECT user_id, w,
                   row_number() OVER (ORDER BY w DESC, user_id) AS rk
            FROM merged
        ),
        mthresh AS (
            SELECT coalesce(max(CASE WHEN rk = {_MG_K} + 1 THEN w END), 0) AS t
            FROM mranked
        ),
        kept AS (
            SELECT user_id, w - (SELECT t FROM mthresh) AS est
            FROM mranked
            WHERE rk <= {_MG_K} AND w - (SELECT t FROM mthresh) > 0
        ),
        truth AS (SELECT user_id, count(*) AS true_count FROM events GROUP BY 1)
        SELECT CAST(k.user_id AS BIGINT) AS user_id,
               CAST(k.est AS BIGINT) AS est_count,
               CAST(t.true_count AS BIGINT) AS true_count,
               CAST(t.true_count - k.est AS BIGINT) AS undercount
        FROM kept k JOIN truth t USING (user_id)
        ORDER BY est_count DESC, user_id
    """,
    section="C12,F14",
    description="Misra-Gries mergeable heavy hitters: per-salt MG compress "
    "-> counter-sum merge -> final compress, exact-twin join emits the "
    "undercount (bounded by n/(k+1) per level, pytest-pinned) — hash-graded "
    "end to end, no approximation outside the MG identity itself",
)
def sketch_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Misra-Gries (Agarwal et al.'s mergeable formulation,
    public paper): a summary is k (key, weight) counters; COMPRESS
    subtracts the (k+1)-th largest weight and drops non-positives; MERGE
    sums counters key-wise then compresses.  Error is one-sided
    (underestimate), at most n/(k+1) per compress level.

    100 TB shape: stage 1 is a (salt, key) count — map-side combinable —
    followed by a k-row-per-salt window; the merge stage sees at most
    salts*k counter rows.  At cluster scale 'salt' is the executor
    partial; here it is a deterministic md5-derived spray so the oracle
    can replay it bit-exactly."""
    ev = load(spark, "events", sf_dir)
    salt = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % _MG_SALTS
    ).alias("salt")

    counts = ev.select(salt, "user_id").groupBy("salt", "user_id").agg(
        F.count("*").alias("w")
    )
    # per-salt compress: one shuffle on salt
    partials = mg_compress(counts, "user_id", "w", _MG_K, by=("salt",))
    merged = partials.groupBy("user_id").agg(F.sum("w").alias("est"))
    # final compress over at most salts*k rows — single-partition by design
    # and size (bounded-collect class)
    kept = (
        mg_compress(merged, "user_id", "est", _MG_K)
        # <= k rows by construction: pin them so the truth-filter branch and
        # the final join read ONE materialization instead of re-running the
        # whole sketch pipeline (same bounded-intermediate discipline as
        # functions/prefix.py)
        .localCheckpoint(eager=True)
    )
    # exact-twin pass: semi-filter the re-scan by the <=k kept keys so the
    # truth side aggregates only the heavy hitters' rows
    truth = (
        ev.join(F.broadcast(kept.select("user_id")), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").alias("true_count"))
    )
    return (
        kept.join(truth, "user_id")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("est").cast("long").alias("est_count"),
            F.col("true_count").cast("long").alias("true_count"),
            (F.col("true_count") - F.col("est")).cast("long").alias("undercount"),
        )
        .orderBy(F.desc("est_count"), "user_id")
    )


# ---------------------------------------------------------------------------
# KMV set-difference estimation — |A \ B| from the same bottom-k sketches
# that power the Jaccard estimate (theta-sketch style A-NOT-B).
# ---------------------------------------------------------------------------


@graded(
    "kmv_set_difference",
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   CAST(list_sum(list_transform(generate_series(1, 8), i ->
                        (strpos('0123456789abcdef',
                                substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                        * (16 ** (8 - i)))) AS BIGINT) AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
            FROM hashed
        ),
        bottomk AS (SELECT * FROM ranked WHERE rk <= {_KMV_K}),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b
            FROM (SELECT DISTINCT event_type FROM bottomk) a
            JOIN (SELECT DISTINCT event_type FROM bottomk) b
              ON a.event_type < b.event_type
        ),
        pair_union AS (
            SELECT DISTINCT p.type_a, p.type_b, u.h
            FROM pairs p
            JOIN bottomk u ON u.event_type IN (p.type_a, p.type_b)
        ),
        pair_ranked AS (
            SELECT type_a, type_b, h,
                   row_number() OVER (PARTITION BY type_a, type_b
                                      ORDER BY h) AS rk
            FROM pair_union
        ),
        xk AS (
            SELECT type_a, type_b, h,
                   count(*) OVER (PARTITION BY type_a, type_b) AS k_union,
                   max(h) OVER (PARTITION BY type_a, type_b) AS tau
            FROM pair_ranked WHERE rk <= {_KMV_K}
        ),
        tagged AS (
            SELECT x.type_a, x.type_b, x.h, x.k_union, x.tau,
                   max(CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END) AS in_a,
                   max(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS in_b
            FROM xk x
            LEFT JOIN bottomk a ON a.event_type = x.type_a AND a.h = x.h
            LEFT JOIN bottomk b ON b.event_type = x.type_b AND b.h = x.h
            GROUP BY x.type_a, x.type_b, x.h, x.k_union, x.tau
        ),
        est AS (
            SELECT type_a, type_b,
                   round(CAST(k_union - 1 AS DOUBLE) * 4294967296.0
                         / max(tau), 2) AS est_union,
                   sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
                       AS n_only_a,
                   sum(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END)
                       AS n_only_b,
                   max(k_union) AS k_union
            FROM tagged GROUP BY type_a, type_b, k_union
        ),
        exact AS (
            SELECT p.type_a, p.type_b,
                   sum(CASE WHEN ib.h IS NULL THEN 1 ELSE 0 END)
                       AS exact_a_minus_b
            FROM pairs p
            JOIN hashed ia ON ia.event_type = p.type_a
            LEFT JOIN hashed ib
              ON ib.event_type = p.type_b AND ib.h = ia.h
            GROUP BY p.type_a, p.type_b
        )
        SELECT e.type_a, e.type_b,
               CAST(e.k_union AS BIGINT) AS k_union,
               e.est_union,
               round(e.est_union * e.n_only_a / e.k_union, 2)
                   AS est_a_minus_b,
               round(e.est_union * e.n_only_b / e.k_union, 2)
                   AS est_b_minus_a,
               CAST(x.exact_a_minus_b AS BIGINT) AS exact_a_minus_b
        FROM est e JOIN exact x
          ON e.type_a = x.type_a AND e.type_b = x.type_b
        ORDER BY e.type_a, e.type_b
    """,
    section="C12,C24,F14",
    description="KMV set-difference (theta-style A-NOT-B): |A\\\\B| estimated "
    "as est_union x (fraction of the union's bottom-k seen only in A), "
    "exact twin joined in-result — the sketches are the SAME bottom-k rows "
    "the Jaccard estimate uses, so a monitoring store keeps one sketch per "
    "set and answers union/intersection/difference from it; hash-graded",
)
def kmv_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-side work is the one DISTINCT (type, hash) aggregation;
    everything downstream runs on <= k rows per type.  The union's
    threshold tau (k-th smallest of A union B's hashes) defines a uniform
    sample of the union; membership tags against each side's bottom-k are
    exact within the sample, so est(|A\\\\B|) = est(|A u B|) x n_onlyA/k —
    the standard theta-sketch A-NOT-B estimator (public Apache DataSketches
    formulation) expressed relationally."""
    from pyspark.sql import Window

    ev = load(spark, "events", sf_dir)
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    hashed = ev.select("event_type", h32.alias("h")).distinct()
    w_local = Window.partitionBy(
        "event_type", (F.col("h") % 32).alias("salt")
    ).orderBy("h")
    survivors = (
        hashed.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= _KMV_K)
        .drop("lrk")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    bottomk = (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .select("event_type", "h")
        .localCheckpoint(eager=True)  # <= k x |types| rows: pin once, reuse 4x
    )
    types = bottomk.select("event_type").distinct()
    pairs = types.select(F.col("event_type").alias("type_a")).join(
        F.broadcast(types.select(F.col("event_type").alias("type_b"))),
        F.col("type_a") < F.col("type_b"),
    )
    pair_union = (
        pairs.join(
            F.broadcast(bottomk),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    wpa = Window.partitionBy("type_a", "type_b")
    xk = (
        pair_union.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= _KMV_K)
        .withColumn("k_union", F.count("*").over(wpa))
        .withColumn("tau", F.max("h").over(wpa))
    )
    ba = bottomk.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha"))
    bb = bottomk.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    tagged = (
        xk.join(
            F.broadcast(ba),
            (xk.type_a == ba.type_a) & (xk.h == F.col("ha")),
            "left",
        )
        .drop(ba.type_a)
        .join(
            F.broadcast(bb),
            (xk.type_b == bb.type_b) & (xk.h == F.col("hb")),
            "left",
        )
        .drop(bb.type_b)
    )
    est = tagged.groupBy("type_a", "type_b", "k_union").agg(
        F.round(
            (F.col("k_union") - 1).cast("double") * F.lit(4294967296.0) / F.max("tau"),
            2,
        ).alias("est_union"),
        F.sum(
            F.when(F.col("ha").isNotNull() & F.col("hb").isNull(), 1).otherwise(0)
        ).alias("n_only_a"),
        F.sum(
            F.when(F.col("hb").isNotNull() & F.col("ha").isNull(), 1).otherwise(0)
        ).alias("n_only_b"),
    )
    # exact twin: per-pair |A \ B| on the full distinct hash sets
    ia = hashed.select(F.col("event_type").alias("type_a"), "h")
    ib = hashed.select(F.col("event_type").alias("tb2"), F.col("h").alias("hb2"))
    exact = (
        pairs.join(ia, "type_a")
        .join(
            ib,
            (F.col("type_b") == F.col("tb2")) & (F.col("h") == F.col("hb2")),
            "left",
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.when(F.col("hb2").isNull(), 1).otherwise(0)).alias(
                "exact_a_minus_b"
            )
        )
    )
    return (
        est.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("k_union").cast("long").alias("k_union"),
            "est_union",
            F.round(
                F.col("est_union") * F.col("n_only_a") / F.col("k_union"), 2
            ).alias("est_a_minus_b"),
            F.round(
                F.col("est_union") * F.col("n_only_b") / F.col("k_union"), 2
            ).alias("est_b_minus_a"),
            F.col("exact_a_minus_b").cast("long").alias("exact_a_minus_b"),
        )
        .orderBy("type_a", "type_b")
    )


def hll_corrected_estimate(registers_hit, rho_harmonic_sum, m: int = _HLL_M):
    """Register-table estimate WITH the Flajolet et al. 2007 small-range
    correction: linear counting ``m·ln(m/V)`` over the empty-register
    count V when the raw harmonic-mean estimate is ≤ 2.5m (where it
    saturates near α·m), the raw estimate otherwise.  Both branches are
    deterministic cross-engine: the harmonic sum is an exact dyadic sum,
    the quotient one IEEE division, and the 63 possible correction
    values (V ∈ 1..m−1) are probed equal at 4dp in the round-16 oracle
    work.  Rounded to 4dp like :func:`_hll_estimate_cols`.
    """
    from pyspark.sql import functions as F

    v_empty = F.lit(m) - registers_hit
    raw = F.lit(_HLL_ALPHA * m * m) / (rho_harmonic_sum + v_empty)
    return F.when(
        (v_empty > 0) & (raw <= 2.5 * m),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty), 4),
    ).otherwise(F.round(raw, 4))

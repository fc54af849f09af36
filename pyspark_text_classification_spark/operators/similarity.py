"""Similarity search over embedding columns (array<float>).

Extension surface (SURVEY.md §7.2 layer 7 / BASELINE.json north star):
brute-force cosine top-k as the exact ground-truth baseline, sign-random-
projection LSH bucketing as the scale path, cosine near-duplicate pairs and
clusters driven by the LSH candidates, and an IVF coarse-quantize index.

Float determinism strategy: every exported cosine is a double computed by a
SEQUENTIAL left fold (Spark ``aggregate``/``zip_with``; DuckDB
``list_reduce``/``list_transform``) so both engines execute the identical
IEEE op sequence — bit-equal before rounding, ties broken by neighbor id.

LSH determinism strategy: bucket signs come from INTEGER dot products —
vector components floor-quantized to 2^20 (exact in double: a float times a
power of two only shifts the exponent) against LCG-derived integer
hyperplane components. Integer sums are order-independent, so Spark may
compute them as hash-aggregate partial sums (whole-stage codegen over an
exploded (vec_id, dim, q) form — no interpreted higher-order folds on the
hot path) while DuckDB folds sequentially, and the buckets still match
bit-for-bit. Quantization merely perturbs each hyperplane by <2^-20 — the
Charikar sign-LSH guarantees are unaffected.

Scale notes (100 TB): brute-force is O(n^2) pairs and exists as ground
truth + small-n recall oracle (pytest); everything else is bucket-local.
The candidate join is an equi-join on (table, bucket) — AQE handles skewed
buckets — and near-dup pair generation + clustering consume those
candidates, never a cross join. For 1000-executor scale, raise
NUM_HYPERPLANES (more buckets -> smaller buckets) and NUM_TABLES or add
multi-probe (flip one sign) to recover recall — config knobs, not new
plumbing.

Algorithms follow the published formulations: sign-random-projection LSH
for cosine (Charikar, STOC 2002; multi-table OR-amplification per
Indyk/Motwani 1998), and the IVF coarse-quantize-then-probe shape of
Jégou/Douze/Schmid ("Product quantization for nearest neighbor search",
TPAMI 2011) with the quantizer swapped for a deterministic sample so the
whole index is oracle-checkable.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_text_classification_spark.functions.text import (
    round_half_up,
    sql_round_half_up,
)
from pyspark_text_classification_spark.plans.shared import shared_intermediate
from pyspark_text_classification_spark.registry import query
from pyspark_text_classification_spark.sources.parquet import fan_out, load_table

# LCG-style deterministic pseudo-random integer hyperplane component:
#   h(g, d) = ((1103515245 * (g * 64 + d) + 12345) mod 2^31) - 2^30
# centered in [-2^30, 2^30), where g = table * NUM_HYPERPLANES + j is the
# global plane index and d the dimension. Multi-table OR-amplification: a
# pair is a candidate if it shares a bucket in ANY of the NUM_TABLES
# independent tables — recall 1-(1-p^b)^L instead of the single-table p^b,
# the standard trade for near-orthogonal vectors.
NUM_HYPERPLANES = 6   # bits per table -> 64 buckets
NUM_TABLES = 8
NUM_PLANES = NUM_TABLES * NUM_HYPERPLANES  # 48 global planes
_LCG_A = 1_103_515_245
_LCG_C = 12_345
_LCG_M = 2_147_483_648  # 2^31
_LCG_HALF = 1_073_741_824  # 2^30, centering offset
# Component quantizer: q = floor(v * 2^20). v is a float widened to double,
# and multiplying by a power of two is exact, so floor is identical in both
# engines. |q| <= 2^21, |h| < 2^30 => |q*h| < 2^51; 64-dim sums stay < 2^57,
# far inside int64.
QUANT_SCALE = 1 << 20

NEAR_DUP_THRESHOLD = 0.45
TOP_K = 5
# Hard input cap for the O(n^2) exact-baseline query ONLY (the ANN paths
# are uncapped): 20k vectors = 200M folded pairs, a bounded worst case a
# correctness sweep can always afford. Applied as vec_id < cap on both
# engines so the oracle hash is unaffected.
EXACT_TOPK_MAX_VECTORS = 20_000

# Hard input cap for the FIXED-CELL baselines (similarity_ann_ivf,
# dedup_semantic, similarity_ivf_pq + its recall/rerank consumers): with a
# CONSTANT {IVF_CELLS}-cell coarse layer, in-cell pair work grows n^2/cells
# — the round-5 10x audit measured 10.4x/22x/5.9x cost ratios.  4096 vectors
# x 16 cells = ~256/cell = ~1M in-cell pairs worst case, bounded forever.
# Applied as vec_id < cap on BOTH engines, so below the cap (every bundled
# sf: 500 at sf0.01, 2000 at sf0.1) results and hashes are unchanged.  The
# UNCAPPED scale paths are the _auto twins (cells = max(16, floor(sqrt(n))),
# the FAISS sizing rule) — the originals stay registered as the small-corpus
# oracle baselines the recall gates measure against.
FIXED_CELL_MAX_VECTORS = 4096

# Absolute cap on the QUERY side of the *_auto serving queries
# (similarity_ann_ivf_auto, similarity_ivf_pq_auto + its rerank/recall
# consumers).  The INDEX side of those queries is uncapped — sqrt-sized
# cells keep the build ~n^1.5 — but a registered query whose query batch
# is the corpus itself (or a fixed fraction of it) re-grows a quadratic
# term: total probe work ~ |queries| x nprobe x n/cells ~ n^(7/4) once
# nprobe correctly scales (~n^(1/4)); the round-7 10x audit measured
# 14.9x/8.5x cost at 10x vectors.  Capping the batch at an ABSOLUTE
# constant restores the serving asymptotic the per-query cost already
# had (~n^(3/4) per query, index build linear-ish) — a production
# deployment prices queries per batch anyway.  The batch is the cap
# LOWEST vec_ids present (TakeOrdered, no dense-id assumption),
# mirrored in the oracles via sql_query_batch; below the cap — every
# bundled sf — the batch is the full former query set, so results and
# hashes are unchanged (the FIXED_CELL_MAX_VECTORS pattern).
#
# AUDIT PIN (round 10, VERDICT r9 #1): the env override lets the scale
# audit pin the batch to the SAME ABSOLUTE id set at two corpus scales.
# The bundled sfs sit far below 4096, so a 10x fixture's query batch
# grows 10x with the corpus and the measured ratio conflates query-set
# growth with build/serve scaling; setting the cap to the BASE scale's
# sample size makes the 10x batch the base batch exactly (replica key
# offsets keep copy 0's ids lowest).  Read once at import so the Spark
# plans and every oracle f-string share one value; never set outside
# `scale_audit.py --pin-batch` / `pq_decomposition.py` runs.
import os as _os

QUERY_BATCH_MAX = int(_os.environ.get("SPARK_GRAFT_QUERY_BATCH_CAP", "4096"))


def query_batch_ids(src: "DataFrame", cap: int = QUERY_BATCH_MAX) -> "DataFrame":
    """(vec_id): the cap LOWEST vec_ids present in ``src`` — the *_auto
    serving queries' bounded query batch.  orderBy+limit compiles to a
    distributed TakeOrdered (no full sort), and the result is a <=cap-row
    frame the probe side broadcast-joins against."""
    return src.orderBy("vec_id").limit(cap).select("vec_id")


def sql_query_batch(src: str, cap: int = QUERY_BATCH_MAX) -> str:
    """The DuckDB twin of query_batch_ids, as an IN-subquery body."""
    return f"(SELECT vec_id FROM {src} ORDER BY vec_id LIMIT {cap})"


def with_n_indexed(out: "DataFrame", raw: "DataFrame", cap: int) -> "DataFrame":
    """Stamp every result row with the number of vectors the capped index
    actually covers, so a capped baseline's output CARRIES its own
    coverage: above the cap a consumer sees n_indexed < the corpus count
    and cannot mistake the capped answer for full-corpus output (ADVICE
    r6 — the caps were documented in docstrings only).  The stamp counts
    the CAPPED frame itself (vec_id < cap — the exact predicate the
    capped baselines index under), so sparse or offset id spaces report
    the true covered count rather than least(n, cap)'s dense-id estimate
    (ADVICE r7; identical below the cap with dense-from-0 ids, i.e. every
    bundled sf, so hashes are unchanged).  The stamp is a 1-row aggregate
    crossJoin-broadcast, no driver action; sql_n_indexed is the oracle
    twin."""
    ni = raw.filter(F.col("vec_id") < cap).agg(
        F.count("*").cast("long").alias("n_indexed")
    )
    return out.crossJoin(F.broadcast(ni))


def sql_n_indexed(cap: int, src: str = "embeddings") -> str:
    return (
        f"(SELECT CAST(count(*) AS BIGINT) FROM {src} WHERE vec_id < {cap})"
    )


def _as_double_vec(col: str = "embedding") -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# When True (production / the driver's sequential verify session), finalize
# eagerly: checkpoint the small result and release the working caches.
# Plan-contract tests flip this off to inspect the lazy plan.
EAGER_RELEASE = True


def _finalize(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize the (small, O(n·k)-row) result and release working caches.

    The driver's verify runs every query sequentially in ONE session; a
    persisted pair matrix left behind by a finished query crowds the
    storage pool for everything after it. Eagerly checkpointing the final
    rows cuts their lineage from the caches, so unpersisting is safe."""
    if not EAGER_RELEASE:
        return result
    out = result.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum — deterministic IEEE order."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _sql_fold_sum(arr: str) -> str:
    """The F.expr twin of _fold_sum — same aggregate/lambda expression,
    parsed in ONE Py4J call instead of the lambda-conversion round trips
    (r12: the Column-API builders cost 60-160 ms of serial driver time
    PER CALL; the SQL string parses in ~10 ms and analyzes to the same
    expression tree, so results are bit-identical).  Literal discipline:
    float literals carry the D suffix (plain 0.5 parses as DECIMAL in
    Spark SQL and would change arithmetic)."""
    return f"aggregate({arr}, 0.0D, (acc, x) -> acc + x)"


# (vec_id, v double[], nrm) projection: built once at import, reused by
# every with_norms call (guide §1.2 per-task work — here per-PLAN work)
_NORMS_V = "transform(embedding, x -> CAST(x AS DOUBLE))"
_NORMS_EXPRS = (
    "vec_id",
    f"{_NORMS_V} AS v",
    f"sqrt({_sql_fold_sum(f'transform({_NORMS_V}, x -> x * x)')}) AS nrm",
)


def with_norms(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v double[], nrm): precomputed L2 norms.

    Fanned out to cluster parallelism first: the single-file scan would
    otherwise leave every downstream pair fold (and the entire cartesian
    product of pairwise_cosine — the streamed side of a nested-loop join
    inherits the left side's partitioning) in ONE task.
    """
    return fan_out(embeddings).selectExpr(*_NORMS_EXPRS)


def pairwise_cosine(e: DataFrame) -> DataFrame:
    """(vec_id, neighbor_id, cos): all ordered pairs, exact double cosine.

    O(n^2) BRUTE FORCE — the ground-truth baseline for recall tests and a
    small-n fallback, never the scale path (the registered near-dup/cluster
    queries consume LSH candidates instead)."""
    a, b = e.alias("a"), e.alias("b")
    dot = _fold_sum(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y))
    return (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
        )
    )


_SQL_NORMED = """
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_reduce(
             list_prepend(0.0, list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)),
             (acc, x) -> acc + x)) AS nrm
    FROM embeddings
"""

# Fold cost is the oracle's dominant term, and cos(a,b) = cos(b,a): fold
# only the n(n-1)/2 unordered pairs (h), mirror to the ordered form (p).
_SQL_HALF_COS = """
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           list_reduce(
             list_prepend(0.0, list_transform(
               range(1, length(a.v) + 1), i -> a.v[i] * b.v[i])),
             (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
"""

_SQL_MIRROR = """
    SELECT vec_id, neighbor_id, cos FROM h
    UNION ALL
    SELECT neighbor_id AS vec_id, vec_id AS neighbor_id, cos FROM h
"""

_SQL_TOPK_TAIL = f"""
    SELECT vec_id, neighbor_id, {sql_round_half_up('cos', 4)} AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (
      SELECT vec_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
             ) AS rnk
      FROM p
    ) WHERE rnk <= {TOP_K}
"""


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH n AS (
      SELECT * FROM ({_SQL_NORMED}) WHERE vec_id < {EXACT_TOPK_MAX_VECTORS}
    ),
    h AS ({_SQL_HALF_COS}),
    p AS ({_SQL_MIRROR})
    {_SQL_TOPK_TAIL}
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 neighbors for every vector.

    DELIBERATELY O(n^2) and DELIBERATELY CAPPED: this is the declared
    exact ground truth (ANN recall is measured against it in tests) and
    the small-n fallback, NOT a scale path — similarity_ann_lsh /
    similarity_ann_ivf are. To keep a driver sweep at any sf from
    stalling on it, the input is capped at EXACT_TOPK_MAX_VECTORS
    ({EXACT_TOPK_MAX_VECTORS}) vectors via the deterministic predicate
    vec_id < cap (identical in the oracle, so hashes still match); below
    the cap — every bundled test sf — results are unchanged. cos(a,b) =
    cos(b,a), so the fold — the dominant cost — runs only for the
    n(n-1)/2 unordered pairs; the persisted half-matrix (3 scalars per
    pair, no vectors) is then mirrored to the ordered form the
    per-vector window needs."""
    e = with_norms(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < EXACT_TOPK_MAX_VECTORS
        )
    ).persist()
    a, b = e.alias("a"), e.alias("b")
    dot = _fold_sum(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y))
    half = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
        )
        .persist(StorageLevel.DISK_ONLY)  # O(n^2) rows: keep off-heap
    )
    topk = _rank_topk(_mirror(half))
    return _finalize(topk, e, half)


def _mirror(half: DataFrame) -> DataFrame:
    """Unordered (vec_id < neighbor_id) pair cosines -> ordered pairs."""
    return half.unionByName(
        half.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cos",
        )
    )


# round_half_up(cos, 4) and the top-k rank window as parsed expressions
# (r12, see _sql_fold_sum): 10000.0D/0.5D double literals match the old
# F.lit floats exactly; DESC defaults to NULLS LAST like Column.desc()
_COS4_EXPR = "floor(cos * 10000.0D + 0.5D) / 10000.0D"
_RANK_EXPR = (
    "row_number() OVER (PARTITION BY vec_id"
    f" ORDER BY {_COS4_EXPR} DESC, neighbor_id)"
)


def _rank_topk(pairs: DataFrame, k: int = TOP_K) -> DataFrame:
    return (
        pairs.withColumn("rank", F.expr(_RANK_EXPR))
        .filter(F.col("rank") <= k)
        .selectExpr(
            "vec_id", "neighbor_id", f"{_COS4_EXPR} AS cos_sim", "rank"
        )
    )


# ---------------------------------------------------------------------------
# Sign-LSH over quantized-integer dots
# ---------------------------------------------------------------------------


def lsh_plane_dots(e: DataFrame) -> DataFrame:
    """(vec_id, h0..h47): integer dots against all hyperplanes at once.

    Explode each vector to (vec_id, d, q) rows and compute the 48 dots as
    codegen'd long ``sum()`` aggregates — one hash aggregate whose partial
    sums complete map-side (each vector's rows never leave their
    partition), so the shuffle carries 48 longs per vector. This replaces
    48 interpreted higher-order folds per vector (~1-2 µs/element) with
    whole-stage-codegen multiply-adds — the same reformulation that bought
    30% on MinHash signatures and 2.2x on SimHash (operators/dedup.py).

    Each aggregate is ONE parsed SQL string: building 48 expressions from
    chained Column operators costs ~400 Py4J round-trips (~2s of driver
    time per call site, measured); 48 ``F.expr`` parses cost ~0.2s. The
    CAST keeps the seed arithmetic in BIGINT — the plane index times the
    LCG multiplier overflows 32-bit INT."""
    q = F.transform("v", lambda x: F.floor(x * F.lit(float(QUANT_SCALE))))
    exploded = e.select("vec_id", F.posexplode(q).alias("d", "q"))
    return exploded.groupBy("vec_id").agg(
        *[
            F.expr(
                f"sum(q * (((CAST({g * 64} AS BIGINT) + d) * {_LCG_A}"
                f" + {_LCG_C}) % {_LCG_M} - {_LCG_HALF})) AS h{g}"
            )
            for g in range(NUM_PLANES)
        ]
    )


def _bucket_of_table(t: int) -> Column:
    """64-bucket sign key for table t: bit j set iff dot(v, plane) > 0."""
    bits = " + ".join(
        f"IF(h{t * NUM_HYPERPLANES + j} > 0, {1 << j}, 0)"
        for j in range(NUM_HYPERPLANES)
    )
    return F.expr(f"CAST({bits} AS INT)")


def lsh_bucket_table(e: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket): one row per vector per LSH table."""
    dots = lsh_plane_dots(e)
    buckets = F.array(*[_bucket_of_table(t) for t in range(NUM_TABLES)])
    return dots.select("vec_id", F.posexplode(buckets).alias("tbl", "bucket"))


def lsh_candidate_pairs(bk: DataFrame, multi_probe: bool = False) -> DataFrame:
    """Unordered distinct candidate pairs: share a bucket in ANY table.

    ``multi_probe=True`` additionally probes every single-bit-flipped
    bucket (the Lv et al., VLDB 2007 trade: ~7x probe rows buys the recall
    of ~NUM_HYPERPLANES extra tables without recomputing any plane dots or
    storing a bigger index — the flip happens on the PROBE side only, so
    the stored bucket table is unchanged). similarity_ann_lsh registers
    the multi-probe form (recall tracked per round as ann_macro_recall);
    the near-dup/cluster family uses the plain index, whose tighter
    candidate set is the right precision trade for threshold
    verification."""
    if not multi_probe:
        a, b = bk.alias("a"), bk.alias("b")
        return (
            a.join(
                b,
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_id"),
                F.col("b.vec_id").alias("neighbor_id"),
            )
            .distinct()
        )
    flips = F.array(
        F.col("bucket"),
        *[
            F.expr(f"CAST(bucket ^ {1 << j} AS INT)")
            for j in range(NUM_HYPERPLANES)
        ],
    )
    probe = bk.select("vec_id", "tbl", F.explode(flips).alias("bucket"))
    # probing is asymmetric (only the probe side flips bits), so both
    # orientations must join; least/greatest re-normalizes to unordered
    a, b = probe.alias("a"), bk.alias("b")
    pairs = a.join(
        b,
        (F.col("a.tbl") == F.col("b.tbl"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id"),
        F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("neighbor_id"),
    )
    return pairs.distinct()


def lsh_query_candidates(bk: DataFrame, is_query: Column) -> DataFrame:
    """Directed multi-probe candidates (vec_id, neighbor_id) for QUERY
    rows only — set-identical to
    ``_mirror-style union of lsh_candidate_pairs(bk, multi_probe=True)
    filtered to is_query(vec_id)`` but with the restriction applied
    BEFORE the bucket joins (guide §2.3: shuffle/join the 1/k query
    sample, not the corpus).

    Multi-probe candidacy is asymmetric-or: (q, y) is a candidate iff a
    bit-flipped probe of q hits y's stored bucket OR a bit-flipped probe
    of y hits q's stored bucket.  The two joins below carry exactly one
    disjunct each, with the query predicate restricting one side of each
    join — candidate mass drops from O(sum |bucket|^2) to the query
    sample's share of it, and the distinct dedup shuffles only that
    share.  similarity_recall_eval's oracle is unchanged: the produced
    SET equals the mirrored-filtered form by the disjunction above
    (round-11 optimization; hash-verified at sf0.001/sf0.01/sf0.1)."""
    flips = F.array(
        F.col("bucket"),
        *[
            F.expr(f"CAST(bucket ^ {1 << j} AS INT)")
            for j in range(NUM_HYPERPLANES)
        ],
    )
    probe = bk.select("vec_id", "tbl", F.explode(flips).alias("bucket"))
    on = ["tbl", "bucket"]
    d1 = (
        probe.filter(is_query)
        .alias("a")
        .join(bk.alias("b"), on)
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
    )
    d2 = (
        probe.alias("a")
        .join(bk.filter(is_query).alias("b"), on)
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("neighbor_id"),
        )
    )
    return d1.unionByName(d2).distinct()


def recall_at_k(
    truth: DataFrame, ann: DataFrame, k: int, bounded: bool = False
) -> DataFrame:
    """One-row recall@k summary (n_queries, k, macro_recall,
    perfect_frac) of an ANN answer ``ann(vec_id, neighbor_id)`` against
    the exact ``truth(vec_id, neighbor_id)`` — the Spark twin of every
    recall oracle's perq + summary tail, shared by every recall gate.

    Per-query hits are ONE left join + ONE aggregate, the exact shape of
    the oracles' ``ext LEFT JOIN annq .. GROUP BY vec_id``; counting the
    joined marker is exact while ``ann`` is (vec_id, neighbor_id)-unique
    (tests/test_operators_unit.py pins that for the served frames).

    ``bounded=True`` broadcasts the ANN side — legitimate ONLY for gates
    whose served answers are capped by construction (QUERY_BATCH_MAX x k
    rows of two longs); unbounded 1/16-sample gates keep the shuffled
    join, which is the scale-correct plan for them.

    Integer sums THEN one division: avg() over hits/k would sum inexact
    doubles in partition order, and 0.2-step values can land exactly on
    the rounding boundary — int64 sums are order-free, and one IEEE
    divide is correctly rounded on both engines."""
    annm = ann.select("vec_id", "neighbor_id", F.lit(1).alias("hit"))
    if bounded:
        annm = F.broadcast(annm)
    perq = (
        truth.select("vec_id", "neighbor_id")
        .join(annm, ["vec_id", "neighbor_id"], "left")
        .groupBy("vec_id")
        .agg(F.count("hit").alias("hits"))
    )
    n = F.count("*").cast("double")
    return perq.agg(
        F.count("*").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        round_half_up(
            F.sum("hits").cast("double") / (float(k) * n), 4
        ).alias("macro_recall"),
        round_half_up(
            F.sum(F.when(F.col("hits") == k, 1).otherwise(0)).cast("double")
            / n,
            4,
        ).alias("perfect_frac"),
    )


# exact pair cosine over the joined (xv, xn, yv, yn) columns — one parsed
# expression per plan instead of ~85 ms of Py4J lambda construction (r12)
_COS_PAIR_EXPR = (
    f"{_sql_fold_sum('zip_with(xv, yv, (p, q) -> p * q)')} / (xn * yn)"
)


def candidate_cosines(
    e: DataFrame,
    cand: DataFrame,
    query_ids: DataFrame | None = None,
    cand_bounded: bool = False,
) -> DataFrame:
    """Exact sequential-fold cosine for each candidate pair: ``cand``'s
    columns plus ``cos`` (extra columns, such as nprobe_sweep's
    entry_rk, pass through).

    Default shape: two shuffled corpus joins (x on vec_id, y on
    neighbor_id) — correct for unbounded candidate sets (the LSH pair
    families, the 1/16-sample gates), where neither side may broadcast.

    ``query_ids``: the caller ASSERTS (explicitly — the r11 ADVICE
    lesson on inferred boundedness) that ``cand.vec_id`` is drawn from
    this bounded id frame (<= QUERY_BATCH_MAX rows by construction, the
    batch-capped serving family).  The query-vector side then restricts
    to the batch and BROADCASTS (<= cap rows of one vector each), so the
    corpus frame no longer shuffles to meet the query side — at scale
    this halves the corpus-side exchanges of every capped serving query
    (guide §3.1).  Restricting x to a superset of cand.vec_id cannot
    change the inner join's result.

    ``cand_bounded=True``: the caller asserts the CANDIDATE set itself
    is bounded by construction (e.g. the rerank shortlists:
    <= batch x RERANK_POOL rows of two longs).  The pair frame then
    broadcasts against the corpus neighbor side and the query side
    derives its bounded id frame from ``cand`` itself, so the corpus is
    only SCANNED — zero corpus-side exchanges.  Join reorder
    ((cand JOIN y) JOIN x vs (cand JOIN x) JOIN y) is exact: inner
    equi-joins on key-distinct corpus sides commute, and the cosine
    expression references the same post-join columns in the same fold
    order either way."""
    x = e.select(
        F.col("vec_id"), F.col("v").alias("xv"), F.col("nrm").alias("xn")
    )
    if cand_bounded and query_ids is None:
        query_ids = cand.select("vec_id").distinct()
    if query_ids is not None:
        x = F.broadcast(x.join(F.broadcast(query_ids), "vec_id"))
    y = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("yv"),
        F.col("nrm").alias("yn"),
    )
    if cand_bounded:
        joined = F.broadcast(cand).join(y, "neighbor_id").join(x, "vec_id")
    else:
        joined = cand.join(x, "vec_id").join(y, "neighbor_id")
    return joined.select(*cand.columns, F.expr(_COS_PAIR_EXPR).alias("cos"))


def exact_topk(queries: DataFrame, universe: DataFrame, k: int) -> DataFrame:
    """(vec_id, neighbor_id, cos, rank): the exact cosine top-``k`` of
    every ``queries`` row over ``universe``, self pair excluded — the
    ground truth every recall gate and the kNN family score against.
    Both inputs are with_norms-shaped ``(vec_id, v, nrm)``.

    The query side BROADCASTS (a sample or a capped batch), so the
    |queries| x |universe| fold is one map-side pass over the universe
    and never a CartesianProduct.  The cosine is candidate_cosines'
    parsed sequential fold (bit-equal to the DuckDB twins' list_reduce),
    ranked by (4-decimal cosine DESC, neighbor_id) like _rank_topk.
    ``cos`` stays unrounded, so a derived integer weight (pq's
    ``floor(cos * 10000 + 0.5)``) reads the raw value, as its oracle
    does."""
    x = queries.selectExpr("vec_id", "v AS xv", "nrm AS xn")
    y = universe.selectExpr("vec_id AS neighbor_id", "v AS yv", "nrm AS yn")
    return (
        y.crossJoin(F.broadcast(x))
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", F.expr(_COS_PAIR_EXPR).alias("cos"))
        .withColumn("rank", F.expr(_RANK_EXPR))
        .filter(F.col("rank") <= k)
    )


def _sql_int_dot(v_expr: str, g: int) -> str:
    """DuckDB twin of one integer plane dot (order-independent int64 sum)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        f"range(1, length({v_expr}) + 1), "
        f"d -> CAST(floor({v_expr}[d] * {float(QUANT_SCALE)}) AS BIGINT)"
        f" * (((({g} * 64 + (d - 1)) * {_LCG_A} + {_LCG_C}) % {_LCG_M})"
        f" - {_LCG_HALF}))), (acc, x) -> acc + x)"
    )


def _sql_int_bucket(v_expr: str, t: int) -> str:
    terms = [
        f"CASE WHEN {_sql_int_dot(v_expr, t * NUM_HYPERPLANES + j)} > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(NUM_HYPERPLANES)
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


_SQL_BK = (
    f"SELECT vec_id, unnest(range(0, {NUM_TABLES})) AS tbl, unnest(["
    + ", ".join(_sql_int_bucket("v", t) for t in range(NUM_TABLES))
    + "]) AS bucket FROM n"
)

_SQL_CAND = """
    SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
    FROM bk a JOIN bk b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
"""

_SQL_CAND_COS = """
    SELECT c.vec_id, c.neighbor_id,
           list_reduce(
             list_prepend(0.0, list_transform(
               range(1, length(x.v) + 1), i -> x.v[i] * y.v[i])),
             (acc, q) -> acc + q) / (x.nrm * y.nrm) AS cos
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_id
    JOIN n y ON y.vec_id = c.neighbor_id
"""

_SQL_LSH_PRELUDE = f"""
    n AS ({_SQL_NORMED}),
    bk AS ({_SQL_BK}),
    cand AS ({_SQL_CAND}),
    h AS ({_SQL_CAND_COS})
"""

# Multi-probe twin (Lv et al., VLDB 2007): the probe side additionally
# visits every single-bit-flipped bucket. xor() mirrors Spark's `bucket ^
# (1 << j)` exactly on DuckDB's int32 buckets.
_SQL_PROBE = (
    "SELECT vec_id, tbl, unnest([bucket"
    + "".join(f", xor(bucket, {1 << j})" for j in range(NUM_HYPERPLANES))
    + "]) AS bucket FROM bk"
)

_SQL_CAND_MP = """
    SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_id,
           greatest(a.vec_id, b.vec_id) AS neighbor_id
    FROM probe a JOIN bk b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
"""

_SQL_LSH_MP_PRELUDE = f"""
    n AS ({_SQL_NORMED}),
    bk AS ({_SQL_BK}),
    probe AS ({_SQL_PROBE}),
    cand AS ({_SQL_CAND_MP}),
    h AS ({_SQL_CAND_COS})
"""


@query(
    "similarity_lsh_buckets",
    oracle=f"""
    WITH n AS ({_SQL_NORMED})
    SELECT vec_id, {_sql_int_bucket('v', 0)} AS bucket FROM n
    """,
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sign-LSH bucket assignment (the ANN partition key);
    table 0 of the multi-table index."""
    e = with_norms(load_table(spark, sf_dir, "embeddings"))
    return lsh_plane_dots(e).select(
        "vec_id", _bucket_of_table(0).alias("bucket")
    )


@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH {_SQL_LSH_MP_PRELUDE},
    p AS ({_SQL_MIRROR})
    {_SQL_TOPK_TAIL}
    """,
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table sign-LSH WITH single-bit
    multi-probe: candidates are pairs sharing a bucket in ANY of the 8
    tables, where the probe side also visits every 1-bit-flipped bucket
    (Lv et al., VLDB 2007) — measured at sf0.1 this lifts recall@5 from
    0.32 to 0.73 for ~3x candidate pairs, with the exact cosine + rank
    still restricted to candidates only.

    This is the 100 TB execution shape: the bucket equi-join replaces the
    O(n^2) cross join; recall vs the brute-force baseline is asserted in
    tests AND tracked per round in the bench artifact. Raising NUM_TABLES
    buys further recall linearly in join cost without new plumbing."""
    # e feeds the plane dots + both sides of the cosine join and bk feeds
    # both sides of the candidate self-join; persist so neither subtree
    # recomputes (the checkpointed result releases both).
    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    bk = lsh_bucket_table(e).persist()
    half = candidate_cosines(e, lsh_candidate_pairs(bk, multi_probe=True)).persist(
        StorageLevel.DISK_ONLY
    )
    topk = _rank_topk(_mirror(half))
    return _finalize(topk, e, bk, half)


# shared with the streaming twin (streaming/similarity.py): on a drained
# full replay the stream-vs-static-index join must equal this batch result
NEAR_DUP_ORACLE_SQL = f"""
    WITH {_SQL_LSH_PRELUDE}
    SELECT vec_id, neighbor_id, {sql_round_half_up('cos', 4)} AS cos_sim
    FROM h
    WHERE {sql_round_half_up('cos', 4)} >= {NEAR_DUP_THRESHOLD}
    """


def rowwise_bucket_array_sql(qv_col: str = "qv") -> str:
    """Spark-SQL expression: the 8-table bucket array computed PER ROW by
    interpreted integer folds over the quantized vector — for stateless
    contexts (a streaming row can't go through the exploded hash
    aggregate). Integer sums are order-independent, so these buckets are
    bit-identical to lsh_plane_dots' aggregate form and to the DuckDB
    oracle. Cost ~1-2 µs/element x 48 planes: fine for per-batch stream
    volumes, wrong for corpus-scale batch (use lsh_plane_dots there)."""

    def dot(g: int) -> str:
        return (
            f"aggregate(zip_with({qv_col}, sequence(0, size({qv_col}) - 1), "
            f"(q, d) -> q * (((CAST({g * 64} AS BIGINT) + d) * {_LCG_A}"
            f" + {_LCG_C}) % {_LCG_M} - {_LCG_HALF})), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    buckets = ", ".join(
        "CAST("
        + " + ".join(
            f"IF({dot(t * NUM_HYPERPLANES + j)} > 0, {1 << j}, 0)"
            for j in range(NUM_HYPERPLANES)
        )
        + " AS INT)"
        for t in range(NUM_TABLES)
    )
    return f"array({buckets})"


@query("similarity_near_dup", oracle=NEAR_DUP_ORACLE_SQL)
def similarity_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine high-similarity pairs (cos >= 0.45, unordered) over
    LSH candidates — the linear-cost scale path; the brute-force twin
    (``pairwise_cosine``) stays a pytest-only recall oracle.

    At a production near-dup threshold (cos >= 0.9) the 8-table index
    surfaces ~98% of true pairs; the synthetic embeddings carry no planted
    near-dups (max pair cosine ~0.6), so the registered threshold sits
    where real pairs exist at every scale factor and recall (~0.5 at
    cos 0.45-0.6, near-orthogonal regime) is characterized in tests."""
    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    bk = lsh_bucket_table(e).persist()
    cos4 = round_half_up(F.col("cos"), 4)
    near = (
        candidate_cosines(e, lsh_candidate_pairs(bk))
        .select("vec_id", "neighbor_id", cos4.alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
    )
    return _finalize(near, e, bk)


def lsh_near_dup_pairs(e: DataFrame) -> DataFrame:
    """(doc_a, doc_b): LSH-candidate pairs with cos >= threshold — the
    lazily-plannable edge generator shared by the cluster query (plan
    contract: bucket equi-join, no cartesian product)."""
    bk = lsh_bucket_table(e)
    return (
        candidate_cosines(e, lsh_candidate_pairs(bk))
        .filter(round_half_up(F.col("cos"), 4) >= NEAR_DUP_THRESHOLD)
        .select(
            F.col("vec_id").alias("doc_a"), F.col("neighbor_id").alias("doc_b")
        )
    )


@query(
    "similarity_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_LSH_PRELUDE},
    near AS (
      SELECT vec_id AS a, neighbor_id AS b FROM h
      WHERE {sql_round_half_up('cos', 4)} >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (SELECT a AS src, b AS dst FROM near
              UNION SELECT b, a FROM near),
    reach(id, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """,
)
def similarity_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate CLUSTERS: the LSH-candidate cosine
    graph (>= 0.45, the similarity_near_dup surface) closed into connected
    components via the two-star algorithm — the semantic-dedup composition
    (embed -> bucket -> pair -> cluster -> keep one per cluster) used for
    near-identical training examples that exact/minhash dedup misses.
    Pair generation is the LSH bucket equi-join, never a cross join.
    Oracle: recursive-CTE transitive closure over the same candidate
    edges, an independent formulation of the same fixpoint."""
    from pyspark_text_classification_spark.operators.dedup import (
        two_star_components,
    )

    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    pairs = lsh_near_dup_pairs(e).localCheckpoint(eager=True)  # pin edges ONCE
    e.unpersist()
    return two_star_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantize -> probe nearest cells
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_NPROBE = 2

_SQL_IVF_DOT = (
    "list_reduce(list_prepend(0.0, list_transform("
    "range(1, length({a}) + 1), i -> {a}[i] * {b}[i])), (acc, q) -> acc + q)"
)


@query(
    "similarity_ann_ivf",
    oracle=f"""
    WITH n AS (
      SELECT * FROM ({_SQL_NORMED}) WHERE vec_id < {FIXED_CELL_MAX_VECTORS}
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM n ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    ac AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_IVF_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents c
    ),
    ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id)
               AS rk
      FROM ac
    ),
    members AS (SELECT vec_id, cent_id FROM ranked WHERE rk = 1),
    probes  AS (SELECT vec_id, cent_id FROM ranked WHERE rk <= {IVF_NPROBE}),
    cand AS (
      SELECT DISTINCT p.vec_id, m.vec_id AS neighbor_id
      FROM probes p JOIN members m
        ON p.cent_id = m.cent_id AND p.vec_id != m.vec_id
    ),
    p AS (
      SELECT c.vec_id, c.neighbor_id,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    )
    SELECT t.*, {sql_n_indexed(FIXED_CELL_MAX_VECTORS)} AS n_indexed
    FROM ({_SQL_TOPK_TAIL}) t
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 16 coarse
    cells, probe the query's 2 nearest cells, exact-rank the candidates.

    Coarse centers here are a deterministic sample (the 16 lowest vec_ids)
    so the whole index is DuckDB-oracle-checkable end to end; production
    swaps in seeded KMeans centroids — same three joins, better cells. The
    scale shape: assignment is a broadcast of O(cells) centroids against
    the corpus (no shuffle of the big side), the candidate join is
    cell-local, and nprobe trades recall for cost without new plumbing.

    FIXED-CELL BASELINE, capped at FIXED_CELL_MAX_VECTORS (the constant
    cell count makes in-cell pair work n^2/cells — measured 10.4x at the
    10x fixture); the uncapped scale path is similarity_ann_ivf_auto."""
    e = with_norms(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < FIXED_CELL_MAX_VECTORS
        )
    ).persist()
    cents = (
        e.orderBy("vec_id")
        .limit(IVF_CELLS)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    ranked = ivf_assignment(e, cents, IVF_NPROBE).persist()
    members = ranked.filter(F.col("rk") == 1).select("vec_id", "cent_id")
    cand = cell_candidates(ranked.select("vec_id", "cent_id"), members)
    pairs = candidate_cosines(e, cand)
    topk = with_n_indexed(
        _rank_topk(pairs),
        load_table(spark, sf_dir, "embeddings"),
        FIXED_CELL_MAX_VECTORS,
    )
    return _finalize(topk, e, ranked)


INT8_MAX = 127


@query(
    "similarity_quantize_int8",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, v,
             list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
      FROM e
    ),
    q AS (
      SELECT vec_id, v,
             CASE WHEN mx / {INT8_MAX} > 0 THEN mx / {INT8_MAX}
                  ELSE 1.0 END AS scale,
             list_transform(v, x ->
               CASE WHEN mx / {INT8_MAX} > 0
                    THEN floor(x / (mx / {INT8_MAX}) + 0.5) ELSE 0.0 END) AS qv
      FROM m
    )
    SELECT vec_id,
           {sql_round_half_up('scale', 6)} AS scale_r,
           {sql_round_half_up(
               'sqrt(list_reduce(list_prepend(0.0, '
               'list_transform(range(1, length(v) + 1), '
               'i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale))), '
               '(acc, x) -> acc + x))', 6)} AS l2_err,
           CAST(length(list_filter(qv, x -> abs(x) >= {INT8_MAX}))
                AS BIGINT) AS n_sat
    FROM q
    """,
)
def similarity_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the 4x storage/bandwidth
    compressor a 100 TB embedding corpus stores and ships): per-vector
    scale = max|v| / 127, components floor(v/scale + 0.5). Emits the
    scale, the L2 reconstruction error, and the saturated-component
    count per vector — the audit columns a quantization rollout monitors.

    Fully in-row (no joins, no shuffle); quantize/dequantize are exact
    IEEE double ops in both engines, and the error fold is sequential, so
    every exported double is bit-equal before rounding. The int64 LSH
    pipeline above uses the same trick at 2^20 resolution
    (QUANT_SCALE); this is the storage-precision variant."""
    e = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double_vec().alias("v")
    )
    mx = F.array_max(F.transform("v", F.abs))
    m = e.select("vec_id", "v", mx.alias("mx"))
    # guard on the SCALE being positive, not the max: a subnormal max can
    # underflow mx/127 to exactly 0.0, and dividing by it would overflow
    # (caught by the quantization property test)
    s_pos = F.col("mx") / INT8_MAX > 0
    scale = F.when(s_pos, F.col("mx") / INT8_MAX).otherwise(F.lit(1.0))
    qv = F.transform(
        "v",
        lambda x: F.when(
            s_pos, F.floor(x / (F.col("mx") / INT8_MAX) + 0.5)
        ).otherwise(F.lit(0).cast("long")),
    )
    q = m.select("vec_id", "v", scale.alias("scale"), qv.alias("qv"))
    err = F.sqrt(
        _fold_sum(
            F.zip_with(
                F.col("v"),
                F.col("qv"),
                lambda x, qc: (x - qc * F.col("scale"))
                * (x - qc * F.col("scale")),
            )
        )
    )
    n_sat = F.size(F.filter("qv", lambda x: F.abs(x) >= INT8_MAX))
    return q.select(
        "vec_id",
        round_half_up(F.col("scale"), 6).alias("scale_r"),
        round_half_up(err, 6).alias("l2_err"),
        n_sat.cast("long").alias("n_sat"),
    )


HARD_NEG_LO = 0.05  # below this the pair is trivially unrelated, not "hard"
HARD_NEG_K = 3


@query(
    "similarity_hard_negatives",
    oracle=f"""
    WITH {_SQL_LSH_PRELUDE},
    p AS ({_SQL_MIRROR})
    SELECT vec_id, neighbor_id, {sql_round_half_up('cos', 4)} AS cos_sim,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT vec_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
             ) AS rnk
      FROM p
      WHERE {sql_round_half_up('cos', 4)} >= {HARD_NEG_LO}
        AND {sql_round_half_up('cos', 4)} < {NEAR_DUP_THRESHOLD}
    ) WHERE rnk <= {HARD_NEG_K}
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per vector,
    the top-3 most similar neighbors that are NOT near-dups
    (cos in [0.05, 0.45)) — similar enough to be
    informative, dissimilar enough to be true negatives.

    Rides the same LSH candidate generator as the near-dup family (bucket
    equi-join, no cross join): hard negatives are by definition the
    near-misses an LSH index surfaces, so the candidate set that finds
    duplicates finds the negatives for free. One extra window over the
    already-small candidate pair table."""
    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    bk = lsh_bucket_table(e).persist()
    pairs = _mirror(candidate_cosines(e, lsh_candidate_pairs(bk)))
    cos4 = round_half_up(F.col("cos"), 4)
    hard = pairs.filter((cos4 >= HARD_NEG_LO) & (cos4 < NEAR_DUP_THRESHOLD))
    w = Window.partitionBy("vec_id").orderBy(cos4.desc(), "neighbor_id")
    out = (
        hard.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HARD_NEG_K)
        .select("vec_id", "neighbor_id", cos4.alias("cos_sim"), "rnk")
    )
    return _finalize(out, e, bk)


KM_SCALE = 1_000_000  # micro-unit quantization for order-independent means
_SQL_KM_DOT = _SQL_IVF_DOT


@query(
    "similarity_kmeans_step",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM n ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    ac AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_KM_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents c
    ),
    ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id)
               AS rk
      FROM ac
    ),
    members AS (SELECT vec_id, cent_id FROM ranked WHERE rk = 1),
    x AS (
      SELECT cent_id, u.dim AS dim,
             CAST(floor(u.val * {KM_SCALE}.0 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT m.cent_id,
               unnest(list_transform(range(1, length(n.v) + 1),
                 i -> {{'dim': i - 1, 'val': n.v[i]}})) AS u
        FROM members m JOIN n ON n.vec_id = m.vec_id
      )
    )
    SELECT cent_id, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n_members,
           {sql_round_half_up(
               f'CAST(sum(q) AS DOUBLE) / ({KM_SCALE}.0 * count(*))', 4)}
             AS centroid_val
    FROM x GROUP BY cent_id, dim
    """,
)
def similarity_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration of distributed k-means over the
    embedding column: assign every vector to its nearest of {IVF_CELLS}
    coarse centers (same deterministic init as similarity_ann_ivf — the
    {IVF_CELLS} lowest vec_ids — so the whole step is oracle-checkable),
    then recompute each cell's mean, emitted relationally as one row per
    (cent_id, dim).  Iterating this step IS k-means; production seeds with
    k-means|| and loops to convergence, re-broadcasting the tiny centroid
    table each round.

    Scale shape — the textbook distributed-kmeans plan (what MLlib's
    KMeans does per iteration, expressed declaratively):
    - assignment is MAP-SIDE ONLY: the {IVF_CELLS}-row centroid table
      collapses to one array row, broadcasts, and the argmax-cosine fold
      runs inside the scan projection — the corpus is never shuffled to
      be assigned;
    - the mean recompute shuffles quantized (cent_id, dim, q) partial
      sums with map-side combine, so the exchange carries
      O(cells x dims) aggregated rows per mapper, not O(vectors x dims);
    - per-dim means quantize each component to integer micro-units BEFORE
      summing (sums of int64 are order-independent; double sums are not),
      the same cross-engine determinism discipline as the LSH plane dots.
    Assignment ties (equal cos) break to the lowest cent_id: the argmax
    fold scans an array_sort'ed centroid list with strict '>', matching
    the oracle's (cos DESC, cent_id) ranking."""
    e = with_norms(load_table(spark, sf_dir, "embeddings"))
    cents = (
        e.orderBy("vec_id")
        .limit(IVF_CELLS)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    x = _km_assigned_dims(e, cents)
    return x.groupBy("cent_id", "dim").agg(
        F.count("*").alias("n_members"),
        round_half_up(
            F.sum("q").cast("double") / (F.lit(float(KM_SCALE)) * F.count("*")), 4
        ).alias("centroid_val"),
    )


QUERY_MOD = 37     # every 37th vector stands in for the external query set
SEARCH_SALTS = 8   # fan-out of the partial top-k stage


@query(
    "similarity_search_topk",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
      FROM n WHERE vec_id % {QUERY_MOD} = 0
    ),
    c AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % {QUERY_MOD} <> 0),
    p AS (
      SELECT q.query_id AS vec_id, c.vec_id AS neighbor_id,
             {_SQL_IVF_DOT.format(a='q.qv', b='c.v')} / (q.qnrm * c.nrm) AS cos
      FROM q CROSS JOIN c
    )
    {_SQL_TOPK_TAIL}
    """,
)
def similarity_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-serving exact top-k: score a SMALL query set (every
    {QUERY_MOD}th vector stands in for externally-supplied queries)
    against the full corpus and return each query's {TOP_K} nearest
    neighbors — the brute-force serving baseline the indexed paths
    (similarity_ann_lsh / similarity_ann_ivf) trade recall against.

    Scale shape (the asymmetric case the all-pairs family can't cover):
    - the query side BROADCASTS (query batches are KB-MB, the corpus is
      the 100 TB side), so scoring is one map-side pass over the corpus —
      no shuffle of corpus vectors, no cross-join of corpus with itself;
    - top-k extraction is TWO-LEVEL: a partial top-k per (query, salt)
      bucket — {SEARCH_SALTS}-way fan-out keyed on pmod(neighbor_id) —
      then the final top-k over the <= {SEARCH_SALTS}x{TOP_K} survivors.
      A single window per query would funnel every scored row for a hot
      query through ONE reducer; the salted stage bounds per-reducer rows
      at |corpus|/{SEARCH_SALTS} and the final stage sees only survivors.
      Any global top-k member is a member of its salt bucket's top-k, so
      the two-level result is exactly the global result.
    - cosines are sequential-fold doubles (bit-equal on both engines),
      ranked on the rounded value with neighbor_id tie-breaks."""
    e = with_norms(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.filter(F.col("vec_id") % QUERY_MOD != 0)
    dot = _fold_sum(F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y))
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col("query_id").alias("qid"),
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    cos4 = round_half_up(F.col("cos"), 4)
    w1 = Window.partitionBy(
        "qid", F.pmod(F.col("neighbor_id"), F.lit(SEARCH_SALTS))
    ).orderBy(cos4.desc(), "neighbor_id")
    survivors = (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= TOP_K)
        .drop("r1")
    )
    w2 = Window.partitionBy("qid").orderBy(cos4.desc(), "neighbor_id")
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            cos4.alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# ANN quality: recall@k of the LSH index against exact top-k
# ---------------------------------------------------------------------------

RECALL_SAMPLE_MOD = 16  # evaluate every 16th vector as a query


# Depth of the shared sample truth, the largest k any reader may slice:
# pq's kNN family reads KNN_SERVE_K = 9, the recall gates TOP_K.
SAMPLE_TRUTH_K = 9


def sample_exact_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """(vec_id, neighbor_id, cos, rank), rank <= ``k`` (at most
    {SAMPLE_TRUTH_K}): the exact cosine top-k of the deterministic
    1/{RECALL_SAMPLE_MOD} query sample over the whole corpus — the one
    uncapped ground truth every sample recall gate, pq's uncapped recall
    gates and the kNN family read.

    One session slot (plans.shared) holds the top-{SAMPLE_TRUTH_K}
    superset, |sample| x {SAMPLE_TRUTH_K} rows, so a session pays the
    |sample| x n D-dim fold once: a gate takes its rank <= k slice, and
    pq's 1/PQ_QUERY_MOD consumers also filter vec_id (that sample is a
    subset of this one, PQ_QUERY_MOD being a multiple of
    RECALL_SAMPLE_MOD).  Per-query ranks do not depend on which queries
    share the fold, so every slice equals its own direct build."""

    def build() -> DataFrame:
        e = with_norms(load_table(spark, sf_dir, "embeddings"))
        sampled = F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0
        return exact_topk(e.filter(sampled), e, SAMPLE_TRUTH_K)

    truth = shared_intermediate(
        spark, sf_dir, f"sample_exact_topk{SAMPLE_TRUTH_K}", build
    )
    return truth.filter(F.col("rank") <= k)


# DuckDB twin of sample_exact_topk(k=TOP_K) over the normed view ``n``
# (ex -> ext), and the perq + summary tail twin of recall_at_k: shared
# verbatim by the 1/{RECALL_SAMPLE_MOD}-sample recall oracles
_SQL_SAMPLE_EXACT_CTES = f"""ex AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_reduce(
               list_prepend(0.0, list_transform(
                 range(1, length(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b
        ON a.vec_id % {RECALL_SAMPLE_MOD} = 0 AND a.vec_id <> b.vec_id
    ),
    ext AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM ex
      ) WHERE rnk <= {TOP_K}
    )"""

_SQL_RECALL_SUMMARY = f"""perq AS (
      SELECT ext.vec_id,
             CAST(count(annq.neighbor_id) AS BIGINT) AS hits
      FROM ext LEFT JOIN annq
        ON ext.vec_id = annq.vec_id AND ext.neighbor_id = annq.neighbor_id
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           {sql_round_half_up(
               f'CAST(sum(hits) AS DOUBLE) / ({TOP_K}.0 * count(*))', 4)}
             AS macro_recall,
           {sql_round_half_up(
               f'CAST(sum(CASE WHEN hits = {TOP_K} THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 4)}
             AS perfect_frac
    FROM perq"""


@query(
    "similarity_recall_eval",
    oracle=f"""
    WITH {_SQL_LSH_MP_PRELUDE},
    p AS ({_SQL_MIRROR}),
    annq AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM p WHERE vec_id % {RECALL_SAMPLE_MOD} = 0
      ) WHERE rnk <= {TOP_K}
    ),
    {_SQL_SAMPLE_EXACT_CTES},
    {_SQL_RECALL_SUMMARY}
    """,
)
def similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-LSH ANN index, measured ON-ENGINE against the
    exact top-k for a deterministic 1/16 sample of query vectors — the
    measure-don't-guess loop for index tuning (NUM_TABLES / hyperplane
    count trade against this number).

    Cost shape: the exact side restricts the expensive fold to
    |sample| x n pairs (a broadcast-able filtered side, NOT the all-pairs
    cross join), and the ANN side reuses the linear bucket-join
    candidates restricted to the same sample; both top-k ranks share one
    deterministic tie-break (4-decimal cosine, then neighbor_id), so
    recall is exact and engine-stable.  Output is a single summary row —
    macro recall plus the fraction of queries whose ANN top-k is
    perfect."""
    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    sampled = F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0

    # ANN side: multi-probe bucket-join candidates (matching the
    # registered similarity_ann_lsh index), QUERY-RESTRICTED BEFORE the
    # bucket joins (lsh_query_candidates — set-identical to mirroring the
    # full pair table and filtering after, but the joins and the distinct
    # carry only the 1/{RECALL_SAMPLE_MOD} sample's candidate share)
    bk = lsh_bucket_table(e).persist()
    # materialize the bucket table BEFORE the two bucket joins read it 4x:
    # a lazily-persisted frame races when parallel subtree stages scan it
    # concurrently (each recomputes the 48-sum plane-dot aggregate until
    # the cache fills — measured 12s vs 2s warm); one cheap count() fills
    # the cache (and e's, which bk reads through) exactly once.  Gated on
    # EAGER_RELEASE (ADVICE r11): plan capture flips that switch
    # precisely so builders stay build-only — the warm-up action is an
    # executed-run concern, like the finalize checkpoint it pairs with
    if EAGER_RELEASE:
        bk.count()
    cand = lsh_query_candidates(bk, sampled)
    ann = _rank_topk(candidate_cosines(e, cand)).select("vec_id", "neighbor_id")

    # exact side: the session-cached sample truth (|sample| x k rows; the
    # |sample| x n fold that builds it runs once per corpus snapshot).
    # Sample-scale x sample-scale: both sides grow with the corpus, so
    # the hit join stays shuffled (no broadcast) — the scale-correct plan
    out = recall_at_k(sample_exact_topk(spark, sf_dir), ann, TOP_K)
    return _finalize(out, e, bk)


# --------------------------------------------------------------------------
# SemDeDup: semantic deduplication inside coarse embedding clusters
# (Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication", arXiv 2303.09540) — cluster the corpus, compare
# pairs ONLY within a cluster, drop all but one of each near-identical
# group.  The within-cluster restriction is the method's entire scale
# story: pair work is sum(|cell|^2), not n^2, and production picks the
# cell count proportional to n (the paper runs 50k clusters on LAION) so
# the per-cell quadratic stays bounded.  Cells here reuse the IVF coarse
# quantizer's deterministic 16-seed layout so the whole pipeline stays
# oracle-checkable; the drop rule is the deterministic greedy "keep the
# lowest vec_id of any duplicate pair".
# --------------------------------------------------------------------------


@query(
    "dedup_semantic",
    oracle=f"""
    WITH n AS (
      SELECT * FROM ({_SQL_NORMED}) WHERE vec_id < {FIXED_CELL_MAX_VECTORS}
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM n ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    ac AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_IVF_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents c
    ),
    members AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
        FROM ac
      ) WHERE rk = 1
    ),
    m AS (
      SELECT members.vec_id, members.cent_id, n.v, n.nrm
      FROM members JOIN n ON members.vec_id = n.vec_id
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id, b.cent_id
      FROM m a JOIN m b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE {sql_round_half_up(
          _SQL_IVF_DOT.format(a='a.v', b='b.v') + ' / (a.nrm * b.nrm)', 4)}
          >= {NEAR_DUP_THRESHOLD}
    )
    SELECT m.cent_id AS cell_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(dropped.vec_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(dropped.vec_id) AS BIGINT) AS n_kept,
           {sql_n_indexed(FIXED_CELL_MAX_VECTORS)} AS n_indexed
    FROM m LEFT JOIN dropped
      ON m.vec_id = dropped.vec_id AND m.cent_id = dropped.cent_id
    GROUP BY 1
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: assign each vector to its
    nearest coarse cell (broadcast argmax — the corpus never shuffles for
    assignment), find near-identical pairs (cos >= {NEAR_DUP_THRESHOLD})
    ONLY within each cell via a cell-local equi-join, greedily keep the
    lowest vec_id of any duplicate pair, and report per-cell keep/drop
    counts — the audit a semantic-dedup run publishes before dropping
    data.

    Scale notes: the pair join is an equi-join on cell id (never a
    cartesian), so total pair work is sum(|cell|^2); production scales
    the cell count with n (SemDeDup uses ~50k clusters) to bound it,
    while {IVF_CELLS} deterministic seed cells keep this instance
    oracle-checkable end to end.  The greedy lowest-id rule makes the
    kept set deterministic without iterating to a fixpoint (duplicates
    of duplicates still drop: any member of a dup pair with a lower
    partner is dropped).

    FIXED-CELL BASELINE, capped at FIXED_CELL_MAX_VECTORS (constant cell
    count -> n^2/cells pair work — measured 22x at the 10x fixture); the
    uncapped scale path is dedup_semantic_auto (sqrt-sized cells)."""
    e = with_norms(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < FIXED_CELL_MAX_VECTORS
        )
    ).persist()
    cents = (
        e.orderBy("vec_id")
        .limit(IVF_CELLS)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    dot_ac = _fold_sum(F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x * y))
    ac = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        (dot_ac / (F.col("nrm") * F.col("cnrm"))).alias("cos"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), "cent_id"
    )
    m = (
        ac.select(
            "vec_id", "cent_id", F.row_number().over(w_assign).alias("rk")
        )
        .filter(F.col("rk") == 1)
        .join(e, "vec_id")
        .select("vec_id", "cent_id", "v", "nrm")
        .persist()
    )
    a = m.alias("a")
    b = m.alias("b")
    dot_ab = _fold_sum(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y)
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            round_half_up(
                dot_ab / (F.col("a.nrm") * F.col("b.nrm")), 4
            )
            >= NEAR_DUP_THRESHOLD
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    out = (
        m.join(dropped, "vec_id", "left")
        .groupBy(F.col("cent_id").alias("cell_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            (
                F.count("*")
                - F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            )
            .cast("long")
            .alias("n_kept"),
        )
    )
    out = with_n_indexed(
        out, load_table(spark, sf_dir, "embeddings"), FIXED_CELL_MAX_VECTORS
    )
    return _finalize(out, e, m)


# --------------------------------------------------------------------------
# k-means iterated to (fixed-round) convergence: similarity_kmeans_step's
# assign+update dataflow looped KM_ITERS times with the centroid table
# re-broadcast each round — the full distributed Lloyd loop (MLlib
# KMeans' per-iteration plan), expressed relationally and oracle-unrolled
# like graph_pagerank_iter3 / the PQ codebook refinement.
# --------------------------------------------------------------------------
KM_ITERS = 3


def _km_assigned_dims(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(cent_id, dim, q): each vector's nearest-centroid assignment (the
    shared argmax_cell in-row fold — array_sort'ed centroid list, strict
    '>', ties to the lowest cent_id) exploded to quantized per-dimension
    components."""
    return argmax_cell(e, cents).select(
        "cent_id", F.posexplode("v")
    ).select(
        "cent_id",
        F.col("pos").alias("dim"),
        F.floor(F.col("col") * KM_SCALE + F.lit(0.5)).cast("long").alias("q"),
    )


def _sql_km_round(r: int) -> str:
    """CTEs for Lloyd round ``r``: assign against cents{r}, quantized
    per-dim stats, rebuilt cents{r+1} (empty cells keep their centroid)."""
    return f"""
    ac{r} AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_KM_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents{r} c
    ),
    members{r} AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
        FROM ac{r}
      ) WHERE rk = 1
    ),
    x{r} AS (
      SELECT cent_id, u.dim AS dim,
             CAST(floor(u.val * {KM_SCALE}.0 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT m.cent_id,
               unnest(list_transform(range(1, length(n.v) + 1),
                 i -> {{'dim': i - 1, 'val': n.v[i]}})) AS u
        FROM members{r} m JOIN n ON n.vec_id = m.vec_id
      )
    ),
    newv{r} AS (
      SELECT cent_id, list(val ORDER BY dim) AS cv FROM (
        SELECT cent_id, dim,
               CAST(sum(q) AS DOUBLE) / ({KM_SCALE}.0 * count(*)) AS val
        FROM x{r} GROUP BY 1, 2
      ) GROUP BY 1
    ),
    cents{r + 1} AS (
      SELECT c.cent_id,
             COALESCE(nv.cv, c.cv) AS cv,
             sqrt(list_reduce(
               list_prepend(0.0, list_transform(
                 COALESCE(nv.cv, c.cv), x -> x * x)),
               (acc, x) -> acc + x)) AS cnrm
      FROM cents{r} c LEFT JOIN newv{r} nv ON c.cent_id = nv.cent_id
    )"""


@query(
    "similarity_kmeans_iter3",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    cents0 AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM n ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    {','.join(_sql_km_round(r) for r in range(KM_ITERS - 1))},
    acF AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_KM_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents{KM_ITERS - 1} c
    ),
    membersF AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
        FROM acF
      ) WHERE rk = 1
    ),
    xF AS (
      SELECT cent_id, u.dim AS dim,
             CAST(floor(u.val * {KM_SCALE}.0 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT m.cent_id,
               unnest(list_transform(range(1, length(n.v) + 1),
                 i -> {{'dim': i - 1, 'val': n.v[i]}})) AS u
        FROM membersF m JOIN n ON n.vec_id = m.vec_id
      )
    )
    SELECT cent_id, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n_members,
           {sql_round_half_up(
               f'CAST(sum(q) AS DOUBLE) / ({KM_SCALE}.0 * count(*))', 4)}
             AS centroid_val
    FROM xF GROUP BY cent_id, dim
    """,
)
def similarity_kmeans_iter3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full distributed Lloyd loop: {KM_ITERS} assign+update rounds
    from the deterministic seed centers, reporting the final round's
    per-(centroid, dim) member counts and means — k-means iterated to
    (fixed-round) convergence, the loop similarity_kmeans_step documents
    as "iterating this step IS k-means".

    Per round the {IVF_CELLS}-row centroid table is rebuilt from the
    previous round's quantized integer component sums (one exact double
    division per component — identical bits on both engines), empty
    cells keep their centroid (the PQ refinement's convention), and the
    new table is eagerly checkpointed so each round's lineage is cut —
    the loop count never compounds the plan (the k-core/BFS discipline).
    Assignment stays map-side-only every round (the centroid table
    re-broadcasts), and the update shuffle carries O(cells x dims)
    partial sums.  Rounds are FIXED so the DuckDB oracle unrolls the
    identical recurrence; production loops the same dataflow to a
    movement threshold."""
    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    cents = e.orderBy("vec_id").limit(IVF_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    ).localCheckpoint(eager=True)
    for _ in range(KM_ITERS - 1):
        x = _km_assigned_dims(e, cents)
        comp = x.groupBy("cent_id", "dim").agg(
            (
                F.sum("q").cast("double")
                / (F.lit(float(KM_SCALE)) * F.count("*"))
            ).alias("val")
        )
        newv = comp.groupBy("cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("new_cv")
        )
        cv = F.coalesce(F.col("new_cv"), F.col("cv"))
        cents = (
            cents.join(newv, "cent_id", "left")
            .select(
                "cent_id",
                cv.alias("cv"),
                F.sqrt(
                    F.aggregate(
                        cv, F.lit(0.0), lambda acc, v: acc + v * v
                    )
                ).alias("cnrm"),
            )
            .localCheckpoint(eager=True)
        )
    x = _km_assigned_dims(e, cents)
    out = x.groupBy("cent_id", "dim").agg(
        F.count("*").alias("n_members"),
        round_half_up(
            F.sum("q").cast("double") / (F.lit(float(KM_SCALE)) * F.count("*")),
            4,
        ).alias("centroid_val"),
    )
    return _finalize(out, e)


# --- farthest-first k-center initialization ----------------------------------
# Integer squared distance between quantized vectors: |q| <= 2^21 =>
# diff^2 <= 2^44, 64-dim sum <= 2^50 — exact int64, no float anywhere.
_SQL_QVEC = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    f" * {float(QUANT_SCALE)}) AS BIGINT))"
)
_SQL_IDIST = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
    "range(1, length({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, q) -> acc + q)"
)
KC_ROUNDS = 3


@query(
    "similarity_kcenter_init",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_QVEC} AS q FROM embeddings),
    c0 AS (SELECT vec_id AS cid, q AS cq FROM e ORDER BY vec_id LIMIT 1),
    d1 AS (
      SELECT e.vec_id, e.q,
             {_SQL_IDIST.format(a="e.q", b="c0.cq")} AS d
      FROM e CROSS JOIN c0
    ),
    c1 AS (SELECT vec_id AS cid, q AS cq, d FROM d1
           ORDER BY d DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT d1.vec_id,
             least(d1.d, {_SQL_IDIST.format(a="d1.q", b="c1.cq")}) AS d
      FROM d1 CROSS JOIN c1
    ),
    c2 AS (SELECT vec_id AS cid, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1)
    SELECT 0 AS round, (SELECT cid FROM c0) AS center_id,
           CAST(0 AS BIGINT) AS sep_dist
    UNION ALL
    SELECT 1, (SELECT cid FROM c1), (SELECT d FROM c1)
    UNION ALL
    SELECT 2, (SELECT cid FROM c2), (SELECT d FROM c2)
    """,
)
def similarity_kcenter_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-first traversal (Gonzalez 1985; the k-center /
    k-means++-style seeding): start from the lowest vec_id, then
    {KC_ROUNDS - 1} rounds of "add the point farthest from the chosen
    set" — the deterministic seeding step ahead of the Lloyd loop
    (similarity_kmeans_step / _iter3 use a positional sample; this is
    the quality-seeking alternative, and Gonzalez proves it 2-optimal
    for the k-center objective).

    Distances are integer squared L2 over 2^20-quantized components
    (exact int64 by the bound in _SQL_IDIST's comment), so every argmax
    is a total order (d desc, vec_id) — bit-reproducible.  Scale: each
    round broadcasts ONE new center into a full-scan min-update and
    takes a global top-1 (TakeOrdered, no window, no shuffle of the
    corpus) — the k-means|| oversampling shape with per-round work
    O(n*dim); the running min-distance column is the only state carried
    between rounds, checkpointed like the Lloyd loop's centroids."""
    e = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform(
            _as_double_vec(), lambda x: F.floor(x * float(QUANT_SCALE)).cast("long")
        ).alias("q"),
    )
    idist = (
        lambda a, b: F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    )
    c0 = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    d1 = (
        e.crossJoin(F.broadcast(c0))
        .select("vec_id", "q", idist(F.col("q"), F.col("cq")).alias("d"))
        .localCheckpoint(eager=True)
    )
    c1 = d1.orderBy(F.col("d").desc(), "vec_id").limit(1).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq"),
        F.col("d").alias("cd"),
    )
    d2 = (
        d1.crossJoin(F.broadcast(c1))
        .select(
            "vec_id",
            F.least(F.col("d"), idist(F.col("q"), F.col("cq"))).alias("d"),
        )
    )
    c2 = d2.orderBy(F.col("d").desc(), "vec_id").limit(1)
    out = (
        c0.select(
            F.lit(0).alias("round"),
            F.col("cid").alias("center_id"),
            F.lit(0).cast("long").alias("sep_dist"),
        )
        .unionByName(
            c1.select(
                F.lit(1).alias("round"),
                F.col("cid").alias("center_id"),
                F.col("cd").alias("sep_dist"),
            )
        )
        .unionByName(
            c2.select(
                F.lit(2).alias("round"),
                F.col("vec_id").alias("center_id"),
                F.col("d").alias("sep_dist"),
            )
        )
    )
    return _finalize(out.selectExpr(
        "CAST(round AS INT) AS round",
        "CAST(center_id AS BIGINT) AS center_id",
        "CAST(sep_dist AS BIGINT) AS sep_dist",
    ), d1)


# --- IVF with corpus-sized cell count (the scale-correct variant) ------------
IVF_AUTO_MIN_CELLS = 16
# Probe count for the *_auto paths SCALES WITH THE CELL COUNT:
# nprobe = max(floor_, mult * isqrt(cells)).  A constant nprobe probes a
# fraction nprobe/cells -> 0 as the corpus grows (round-6 measured the
# collapse: candidate recall@5 fell to 0.19 at sf0.1 with nprobe fixed at
# {IVF_NPROBE}); nprobe ~ sqrt(cells) = n^(1/4) keeps per-query probe work
# at nprobe * n/cells ~ n^(3/4) — still strongly sublinear — while the
# probed FRACTION shrinks only as n^(-1/4).  The multiplier is measured,
# not guessed (DuckDB sweep at sf0.1, 2026-08-16, mirrored by the
# registered similarity_nprobe_sweep table): candidate-layer recall@5 =
# 0.357 at 1x isqrt(cells), 0.584 at 2x, 0.723 at 3x vs the fixed-cell
# baseline's 0.5016 — 2x is the knee that clears the baseline for the
# candidate layer; the composed IVF+PQ system needs 3x (end-to-end 0.470
# at 2x, 0.543 at 3x) because PQ reconstruction error stacks on IVF
# pruning.  Both rules derive from the SAME single count(*) as the cell
# count itself, so the DuckDB twins cannot fork.
IVF_AUTO_NPROBE_MULT = 2
IVF_AUTO_NPROBE_MIN = 4
IVFPQ_AUTO_NPROBE_MULT = 3
IVFPQ_AUTO_NPROBE_MIN = 6


def auto_nprobe(
    cells: int,
    mult: int = IVF_AUTO_NPROBE_MULT,
    floor_: int = IVF_AUTO_NPROBE_MIN,
) -> int:
    """max(floor_, mult * isqrt(cells)) — the Python twin of
    sql_auto_nprobe; both consume the cell count produced by the shared
    sizing rule (auto_cells / the cc CTE) so the probe count cannot fork
    between engines."""
    return max(floor_, mult * math.isqrt(cells))


def sql_auto_nprobe(
    mult: int = IVF_AUTO_NPROBE_MULT,
    floor_: int = IVF_AUTO_NPROBE_MIN,
) -> str:
    """The DuckDB twin of auto_nprobe, referencing the shared cc CTE's
    cell count c.  floor(sqrt(BIGINT)) is correctly rounded identically
    to Python's isqrt for counts < 2^52."""
    return (
        f"GREATEST({floor_}, {mult} * "
        "CAST(floor(sqrt((SELECT c FROM cc))) AS BIGINT))"
    )


def sql_auto_cells_cte(src: str) -> str:
    """The shared cc + cents CTE pair for the corpus-sized coarse layer:
    cells = max({IVF_AUTO_MIN_CELLS}, floor(sqrt(n))), centroids = the c
    lowest vec_ids PRESENT in ``src`` (ORDER BY/LIMIT — the fixed-cell
    twins' semantics, no dense-id assumption).  One definition serves
    similarity_ann_ivf_auto, dedup_semantic_auto and the IVF+PQ auto
    oracle so the sizing rule can never fork between them."""
    return f"""cc AS (
      SELECT GREATEST({IVF_AUTO_MIN_CELLS},
                      CAST(floor(sqrt(count(*))) AS BIGINT)) AS c
      FROM {src}
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM {src} ORDER BY vec_id LIMIT (SELECT c FROM cc)
    )"""


# centroid cosine over the crossJoin's (v, nrm, cv, cnrm) columns — one
# parsed expression per plan (r12, see _sql_fold_sum)
_IVF_COS_EXPR = (
    f"{_sql_fold_sum('zip_with(v, cv, (x, y) -> x * y)')} / (nrm * cnrm)"
)


def ivf_assignment(e: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, cent_id, rk): each vector's nprobe NEAREST centroids —
    the shared coarse-assignment stage of the IVF family (ann_ivf,
    ann_ivf_auto, the IVF+PQ composition).

    The rk <= nprobe filter sits DIRECTLY on the row_number window, so
    Spark 4 plans ``WindowGroupLimit ..., row_number(), nprobe, Partial``
    BEFORE the exchange: each mapper forwards at most nprobe rows per
    vec_id, so the assignment shuffle carries ~n x nprobe rows
    (~n^(5/4) under the auto sizing rules), NOT the n x cells ~ n^(3/2)
    cosine stream.  tests/test_plans.py pins this contract — persist the
    RESULT of this builder, never the unfiltered rank stream.

    Rank semantics (cos DESC, cent_id) match the oracle CTEs exactly;
    members (rk = 1) and probes (rk <= nprobe) are both slices of the
    returned frame, so one persisted pass serves both consumers."""
    ac = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        F.expr(_IVF_COS_EXPR).alias("cos"),
    )
    return ac.select(
        "vec_id",
        "cent_id",
        F.expr(
            "row_number() OVER (PARTITION BY vec_id"
            " ORDER BY cos DESC, cent_id)"
        ).alias("rk"),
    ).filter(F.col("rk") <= nprobe)


def cell_candidates(
    probes: DataFrame, members: DataFrame, *keys: str
) -> DataFrame:
    """(vec_id, neighbor_id): the IVF candidate pairs — probes
    (vec_id, cent_id) equi-joined with members (vec_id, cent_id) on the
    cell plus any extra ``keys`` both sides carry (filtered_ann's
    label), self-pairs dropped; the member's vec_id comes out as
    neighbor_id.  Callers whose probes are bounded pass
    ``F.broadcast(probes)`` so the member table never shuffles.

    No .distinct(): members is rank-1 (one cell per neighbor) and
    probes carries distinct cells per query, so the cell equi-join
    emits each (query, neighbor) pair AT MOST ONCE; the oracle's
    DISTINCT is equally a no-op on unique input, so dropping the dedup
    exchange cannot change the result set."""
    return (
        probes.join(
            members.withColumnRenamed("vec_id", "neighbor_id"),
            ["cent_id", *keys],
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
    )


# strict-'>' argmax-cosine fold over a cent_id-sorted (cent_id, cv, cnrm)
# struct array ``cs`` next to (v, nrm) — the shared in-row assignment of
# argmax_cell and two_level_members, as one parsed expression (r12)
_ARGMAX_CELL_EXPR = (
    "aggregate("
    "transform(cs, c -> named_struct("
    "'cent_id', c.cent_id, "
    f"'cos', {_sql_fold_sum('zip_with(v, c.cv, (x, y) -> x * y)')}"
    " / (nrm * c.cnrm))), "
    "named_struct('cent_id', -1L, 'cos', -2.0D), "
    "(acc, c) -> CASE WHEN c.cos > acc.cos THEN c ELSE acc END"
    ").cent_id"
)


def _argmax_over_cs(withc: DataFrame) -> DataFrame:
    """(vec_id, cent_id, v, nrm): the in-row argmax-cosine fold over a
    frame that already carries a ``cs`` column — an array_sort'ed array
    of (cent_id, cv, cnrm) structs — next to (vec_id, v, nrm).  The
    fold's strict '>' over the cent_id-sorted list reproduces the
    oracles' (cos DESC, cent_id) rank-1 exactly (hash-verified by
    similarity_kmeans_step since round 5).  Shared by argmax_cell (one
    global centroid array) and two_level_members (one member-cell array
    per super-cell, joined in by super_id)."""
    # named_struct, not struct(...).alias: field aliases are dropped when
    # built inside a higher-order-function lambda (the fields come out as
    # col1/col2), which breaks the acc.cos access in the fold below.
    # One parsed expression per plan (r12, see _sql_fold_sum); the CASE
    # WHEN analyzes to the same CaseWhen the old F.when/otherwise built,
    # and every literal is type-suffixed (-1L long, -2.0D double) so the
    # parsed tree matches the old F.lit types exactly.
    return withc.select(
        "vec_id", F.expr(_ARGMAX_CELL_EXPR).alias("cent_id"), "v", "nrm"
    )


def argmax_cell(e: DataFrame, cents: DataFrame) -> DataFrame:
    """e's rows + their argmax-cosine cent_id via the IN-ROW FOLD: the
    centroid table collapses to one array row (collect_list is
    runtime-sized, so a data-derived k costs nothing), broadcasts, and
    the argmax runs inside the scan projection with v STILL ON THE ROW —
    assignment is map-side only, with no window exchange and no
    corpus-by-corpus join to fetch v back.  The rank-1-only consumers
    (kmeans mean recompute, SemDeDup cell-local dedup) use this; the
    nprobe > 1 consumers use ivf_assignment's WindowGroupLimit form.

    Tie semantics: see _argmax_over_cs (lowest cent_id wins, matching
    the oracles' row_number ORDER BY cos DESC, cent_id)."""
    cs = cents.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv", "cnrm"))).alias(
            "cs"
        )
    )
    return _argmax_over_cs(e.crossJoin(F.broadcast(cs)))


def auto_cells(count_src: DataFrame) -> int:
    """cells = max({IVF_AUTO_MIN_CELLS}, floor(sqrt(n))) from ONE bounded
    count() action — the Python twin of the cc CTE.  Callers that also
    need the probe count derive it from THIS value via auto_nprobe so
    one count serves both sizing decisions."""
    return max(IVF_AUTO_MIN_CELLS, math.isqrt(count_src.count()))


def auto_centroids(
    e: DataFrame,
    count_src: DataFrame | None = None,
    cells: int | None = None,
) -> DataFrame:
    """(cent_id, cv, cnrm): the corpus-sized SEED centroid set — the
    Spark twin of sql_auto_cells_cte.  kmeans_auto and the ivf_append
    trilogy consume it directly; ivf_auto_index (the round-9 *_auto
    family) seeds from it inside refined_centroids and serves the
    Lloyd-refined result.

    c = max({IVF_AUTO_MIN_CELLS}, floor(sqrt(count))) comes from ONE
    bounded count() action (math.isqrt == the engines' correctly-rounded
    floor(sqrt(double)) for counts < 2^52), and the centroids are the c
    LOWEST ids actually present via a distributed TakeOrdered — ids need
    not start at 0 or be dense, matching the fixed twins' orderBy/limit
    rather than a ``vec_id < c`` filter that would silently shrink (or
    empty) the centroid set on offset or gappy id spaces.

    ``count_src``: run the count against this frame instead of ``e``
    (callers pass the RAW pruned scan so the count action does not
    serially materialize e's freshly-pinned norms cache before the
    first real job — the job overlap the pre-count layout had).

    ``cells``: a precomputed auto_cells() value — callers that also
    size nprobe pass it so the corpus is counted exactly once."""
    c = (
        cells
        if cells is not None
        else auto_cells(count_src if count_src is not None else e)
    )
    return (
        e.orderBy("vec_id")
        .limit(c)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )


# --- Two-level coarse quantizer + Lloyd-refined seeds (round 9) --------------
# The *_auto SERVING family's index build had one superlinear term left:
# assigning every vector an exact distance to all sqrt(n) cells is n^1.5
# work (round-8 verdict's named scale-killer).  The fix is FAISS's
# IVF-in-IVF recipe: group the cells into ~sqrt(cells) SUPER-cells, route
# each vector to its nearest super first, then rank only that super's
# member cells — ~n x 4·n^(1/4) distance work instead of n x n^(1/2).
# Only the CORPUS-sized build assignment goes two-level; the QUERY side
# (nprobe cells per probe) ranks all cells exactly, because the batch is
# already capped at QUERY_BATCH_MAX — batch x cells ~ 4096·sqrt(n) is
# sublinear and exact coarse ranking costs recall nothing.
#
# The seeds also stop being raw lowest-id vectors: ONE deterministic
# Lloyd round over a bounded stride sample (~{LLOYD_SAMPLE_PER_CELL}
# vectors per cell, the FAISS train-on-a-sample recipe) refines them
# before any assignment — the cheapest recall lever the round-8 verdict
# named, at strictly linear cost (|sample| x cells = ~16·sqrt(n) x
# sqrt(n) = 16n fold steps).  Every rule below derives from the same
# single count(*) both engines share, so the DuckDB twins cannot fork.
IVF_SUPER_MIN = 4
LLOYD_SAMPLE_PER_CELL = 16
# How many nearest super-cells the BUILD assignment unions before ranking
# member cells.  Routing through 1 super loses real recall to super-
# boundary errors; measured at sf0.1 against the flat argmax's 0.6512
# candidate-layer recall: S=1 -> 0.5584, S=2 -> 0.6048, S=3 -> 0.6432 —
# S=3 recovers all but 0.8 points while per-vector distance work stays
# supers + 3 x (cells/supers) ~ 4·n^(1/4), a constant factor on the
# two-level asymptotic (the flat term this replaces was n^(1/2)).
BUILD_SUPER_PROBES = 3


def auto_supers(cells: int) -> int:
    """max({IVF_SUPER_MIN}, isqrt(cells)) — the super-cell count; the
    cells sizing rule applied one level up."""
    return max(IVF_SUPER_MIN, math.isqrt(cells))


def lloyd_stride(n: int, cells: int) -> int:
    """Stride of the deterministic Lloyd-refinement sample: keeps
    ~{LLOYD_SAMPLE_PER_CELL} vectors per cell (exact integer ceil-div,
    mirrored verbatim in SQL; stride 1 — the full corpus — below
    cells x {LLOYD_SAMPLE_PER_CELL} rows, i.e. every bundled sf)."""
    d = cells * LLOYD_SAMPLE_PER_CELL
    return max(1, (n + d - 1) // d)


def refined_centroids(e: DataFrame, n_total: int, cells: int) -> DataFrame:
    """(cent_id, cv, cnrm): the lowest-id seed centroids refined by ONE
    deterministic Lloyd round over the stride sample — the kmeans_auto
    machinery (quantized integer per-dim sums, so cross-engine means are
    exact; round_half_up to 4 decimals) applied as index TRAINING.
    Seeds whose sample slice is empty keep their seed vector (COALESCE,
    both engines), and so does a seed whose refined mean rounds to the
    ALL-ZERO vector (near-opposed members cancelling per-dim): a
    zero-norm centroid would make every cosine against it NaN (0/0),
    and the engines order NaN differently (the in-row strict-'>' folds
    skip it, window/ORDER BY sort it first) — the guard keeps both the
    Spark fold and the DuckDB cents CTE on real nonzero vectors, the
    invariant the seed-only layout had for free (seeds are corpus
    vectors; ADVICE r9).  Norms are recomputed from the refined vectors
    with the shared sqrt-of-fold formula."""
    seeds = auto_centroids(e, cells=cells)
    stride = lloyd_stride(n_total, cells)
    samp = e.filter(F.pmod(F.col("vec_id"), F.lit(stride)) == 0)
    dims = (
        argmax_cell(samp, seeds)
        .select("cent_id", F.posexplode("v"))
        .select(
            "cent_id",
            F.col("pos").alias("dim"),
            F.floor(F.col("col") * KM_SCALE + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
    )
    means = dims.groupBy("cent_id", "dim").agg(
        round_half_up(
            F.sum("q").cast("double")
            / (F.lit(float(KM_SCALE)) * F.count("*")),
            4,
        ).alias("val")
    )
    rv = means.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))),
            lambda s: s["val"],
        ).alias("rv")
    )
    # zero-norm guard: a refined vector that rounded to all zeros falls
    # back to its (nonzero, corpus-vector) seed — mirrored in the cents
    # CTE of sql_two_level_cells_cte
    rnorm0 = _fold_sum(F.transform(F.col("rv"), lambda x: x * x)) == 0
    cv = F.when(F.col("rv").isNull() | rnorm0, F.col("cv")).otherwise(
        F.col("rv")
    )
    # rv is cells-sized: explicit broadcast so the refine join never
    # becomes a shuffle join of the (equally small) seed table
    return seeds.join(F.broadcast(rv), "cent_id", "left").select(
        "cent_id",
        cv.alias("cv"),
        F.sqrt(_fold_sum(F.transform(cv, lambda x: x * x))).alias("cnrm"),
    )


def super_centroids(cents: DataFrame, supers: int) -> DataFrame:
    """(super_id, sv, snrm): the supers lowest cent_ids of the refined
    centroid table — the coarse layer's own coarse layer (same
    lowest-id-present rule, distributed TakeOrdered)."""
    return (
        cents.orderBy("cent_id")
        .limit(supers)
        .select(
            F.col("cent_id").alias("super_id"),
            F.col("cv").alias("sv"),
            F.col("cnrm").alias("snrm"),
        )
    )


def cell_to_super(cents: DataFrame, sup: DataFrame) -> DataFrame:
    """(cent_id, super_id): each refined cell's nearest super-centroid,
    with supers FORCED to map to themselves — a pure-rank-1 map could in
    principle leave a super with zero member cells (self-cosine is not
    exactly 1.0 in floating point), which would strand any vector whose
    rank-1 super it is; the forced self-edge guarantees every super has
    at least one member cell.  cells x supers work — negligible."""
    assigned = argmax_cell(
        cents.select(
            F.col("cent_id").alias("vec_id"),
            F.col("cv").alias("v"),
            F.col("cnrm").alias("nrm"),
        ),
        sup.select(
            F.col("super_id").alias("cent_id"),
            F.col("sv").alias("cv"),
            F.col("snrm").alias("cnrm"),
        ),
    ).select(
        F.col("vec_id").alias("cent_id"), F.col("cent_id").alias("super_id")
    )
    sup_ids = sup.select(
        F.col("super_id").alias("cent_id"), F.lit(1).alias("is_super")
    )
    return assigned.join(F.broadcast(sup_ids), "cent_id", "left").select(
        "cent_id",
        F.when(F.col("is_super").isNotNull(), F.col("cent_id"))
        .otherwise(F.col("super_id"))
        .alias("super_id"),
    )


def two_level_index(cents: DataFrame, cells: int) -> DataFrame:
    """ONE ROW (ss, cmap): the broadcastable two-level coarse index —
    the cent_id-sorted super-centroid array plus a map<super_id,
    cent_id-sorted member-cell array>; together exactly one copy of the
    centroid table (the same broadcast budget as the flat layout).
    Bounded by construction (cells rows of payload), so the *_auto
    serving family session-caches it via plans.shared exactly like the
    PQ codebook — a production deployment builds this artifact once at
    index time and ships it to the query fleet."""
    sup = super_centroids(cents, auto_supers(cells))
    c2s = cell_to_super(cents, sup)
    sarr = sup.agg(
        F.array_sort(
            F.collect_list(F.struct("super_id", "sv", "snrm"))
        ).alias("ss")
    )
    cmap = (
        c2s.join(F.broadcast(cents), "cent_id")
        .groupBy("super_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "cv", "cnrm"))
            ).alias("cs")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("super_id", "cs"))
            ).alias("cmap")
        )
    )
    return sarr.crossJoin(cmap)


# the two-level member-cell union: score supers in-row, keep the
# BUILD_SUPER_PROBES nearest by the exact (cos DESC, super_id) comparator,
# flatten those supers' member-cell arrays, cent_id-sort for the argmax
# fold — one parsed expression per plan (r12)
_TWO_LEVEL_CS_EXPR = (
    "array_sort(flatten(transform("
    "slice(array_sort("
    "transform(ss, s -> named_struct("
    f"'cos', {_sql_fold_sum('zip_with(v, s.sv, (x, y) -> x * y)')}"
    " / (nrm * s.snrm), "
    "'super_id', s.super_id)), "
    "(l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1"
    " WHEN l.super_id < r.super_id THEN -1"
    " WHEN l.super_id > r.super_id THEN 1 ELSE 0 END"
    f"), 1, {BUILD_SUPER_PROBES}), "
    "t -> element_at(cmap, t.super_id))))"
)


def two_level_members(e: DataFrame, idx: DataFrame) -> DataFrame:
    """(vec_id, cent_id, v, nrm): each vector's cell under the TWO-LEVEL
    coarse quantizer — rank the super-centroids in-row, keep the
    {BUILD_SUPER_PROBES} nearest, then rank-1 among the UNION of those
    supers' member cells.  Everything happens INSIDE the scan
    projection: ``idx`` (two_level_index's one-row ss + cmap frame)
    broadcasts, the top-S supers come from an array_sort with an exact
    (cos DESC, super_id) comparator, and the final cell is the shared
    strict-'>' argmax fold over the flattened, cent_id-sorted member
    union — the corpus is never shuffled to be assigned.  Total
    distance work is n x (supers + S x cells/supers) ~ n x 4·n^(1/4)
    instead of the flat argmax's n x cells ~ n^(3/2).  Tie semantics
    match the oracle's (cos DESC, id) ranks at both levels.  The
    comparator and the member fold both treat NaN as unordered, which
    is safe because no cosine here can BE NaN: corpus vectors are
    nonzero by fixture contract and refined_centroids' zero-norm guard
    keeps every centroid nonzero (ADVICE r9)."""
    # One parsed expression per plan (r12, see _sql_fold_sum): the CASE
    # chain analyzes to the same CaseWhen tree the old F.when ladder
    # built — exact (cos DESC, super_id ASC) IEEE comparator semantics,
    # tie behavior (including ±0.0 equality) unchanged.
    withs = e.crossJoin(F.broadcast(idx))
    return _argmax_over_cs(
        withs.withColumn("cs", F.expr(_TWO_LEVEL_CS_EXPR))
    )


@dataclass(frozen=True)
class IvfIndex:
    """The sqrt-sized two-level IVF index the *_auto family serves from.

    - ``raw``: the embeddings scan;
    - ``e``: (vec_id, v, nrm), PERSISTED — the caller releases it
      through ``_finalize``;
    - ``cells``: max({IVF_AUTO_MIN_CELLS}, isqrt(n)) from one count;
    - ``cents``: the Lloyd-refined centroids (cent_id, cv, cnrm);
    - ``idx``: two_level_index's one-row (ss, cmap) frame;
    - ``members``: (vec_id, cent_id), each vector's two-level cell.

    ``cents``, ``idx`` and ``members`` are plans.shared slots, so the
    serving and maintenance queries of one session read one copy."""

    raw: DataFrame
    e: DataFrame
    cells: int
    cents: DataFrame
    idx: DataFrame
    members: DataFrame


def ivf_auto_index(spark: SparkSession, sf_dir: str) -> IvfIndex:
    """Load -> norms -> ONE count -> cells -> refined centroids ->
    two-level index -> member table, the build every *_auto query
    shares.  The three index artifacts are deterministic session slots:
    the first query of a session (or of a perfbench pass, which clears
    the slots) pays the full build, later ones read it — build the
    partition-local index once, serve top-k from it (REPOSE).  The
    member table is corpus-rank (two longs per row, the relational form
    of FAISS's inverted lists): plans.shared's one admitted persisted-
    index exception."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = with_norms(raw).persist()
    n_total = raw.count()
    cells = max(IVF_AUTO_MIN_CELLS, math.isqrt(n_total))
    cents = shared_intermediate(
        spark,
        sf_dir,
        "ivf_auto_refined_cents",
        lambda: refined_centroids(e, n_total, cells),
    )
    idx = shared_intermediate(
        spark,
        sf_dir,
        "ivf_auto_two_level_index",
        lambda: two_level_index(cents, cells),
    )
    members = shared_intermediate(
        spark,
        sf_dir,
        "ivf_auto_members",
        lambda: two_level_members(e, idx).select("vec_id", "cent_id"),
    )
    return IvfIndex(raw, e, cells, cents, idx, members)


def sql_two_level_cells_cte(src: str) -> str:
    """The DuckDB twin of refined_centroids + two_level_members as one
    CTE chain: cc (count + cell count) -> tlseed (lowest-id seeds) ->
    tlst/tlsamp (stride sample) -> tlsa (sample -> nearest seed) ->
    tlsq/tlrm/tlrv (quantized Lloyd means) -> cents (refined centroids,
    empty seeds keep their vector) -> sup (super-centroids) -> c2s
    (cell -> super, supers self-mapped) -> v2s (vector -> its
    {BUILD_SUPER_PROBES} nearest supers) -> members (vector -> nearest
    cell within those supers' member union).  Internal names
    are tl-prefixed so the chain composes with the PQ prelude (which
    already owns ``st`` and ``seeds``); sql_auto_nprobe's
    ``(SELECT c FROM cc)`` reference keeps working."""
    dot = _SQL_IVF_DOT
    return f"""cc AS (
      SELECT count(*) AS nn,
             GREATEST({IVF_AUTO_MIN_CELLS},
                      CAST(floor(sqrt(count(*))) AS BIGINT)) AS c
      FROM {src}
    ),
    tlseed AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM {src} ORDER BY vec_id LIMIT (SELECT c FROM cc)
    ),
    tlst AS (
      SELECT GREATEST(1, (nn + c * {LLOYD_SAMPLE_PER_CELL} - 1)
                         // (c * {LLOYD_SAMPLE_PER_CELL})) AS s
      FROM cc
    ),
    tlsamp AS (
      SELECT * FROM {src} WHERE vec_id % (SELECT s FROM tlst) = 0
    ),
    tlsa AS (
      SELECT vec_id, cent_id FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {dot.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm) DESC,
                 c.cent_id) AS rk
        FROM tlsamp a CROSS JOIN tlseed c
      ) WHERE rk = 1
    ),
    tlsq AS (
      SELECT cent_id, u.dim AS dim,
             CAST(floor(u.val * {KM_SCALE}.0 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT tlsa.cent_id,
               unnest(list_transform(range(1, length(n2.v) + 1),
                 i -> {{'dim': i - 1, 'val': n2.v[i]}})) AS u
        FROM tlsa JOIN {src} n2 ON n2.vec_id = tlsa.vec_id
      )
    ),
    tlrm AS (
      SELECT cent_id, dim,
             {sql_round_half_up(
                 f'CAST(sum(q) AS DOUBLE) / ({KM_SCALE}.0 * count(*))', 4)}
               AS val
      FROM tlsq GROUP BY cent_id, dim
    ),
    tlrv AS (
      SELECT cent_id, list(val ORDER BY dim) AS rv FROM tlrm GROUP BY cent_id
    ),
    cents AS (
      -- zero-norm guard (ADVICE r9): a refined vector that rounded to
      -- all zeros falls back to its nonzero seed, like an empty slice
      SELECT cent_id, cv,
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(cv, x -> x * x)),
               (acc, x) -> acc + x)) AS cnrm
      FROM (
        SELECT s.cent_id,
               CASE WHEN r.rv IS NULL
                      OR list_reduce(list_prepend(0.0,
                           list_transform(r.rv, x -> x * x)),
                           (acc, x) -> acc + x) = 0
                    THEN s.cv ELSE r.rv END AS cv
        FROM tlseed s LEFT JOIN tlrv r ON r.cent_id = s.cent_id
      )
    ),
    sup AS (
      SELECT cent_id AS super_id, cv AS sv, cnrm AS snrm
      FROM cents ORDER BY cent_id
      LIMIT (SELECT GREATEST({IVF_SUPER_MIN},
                             CAST(floor(sqrt(c)) AS BIGINT)) FROM cc)
    ),
    c2s AS (
      SELECT a.cent_id,
             CASE WHEN a.cent_id IN (SELECT super_id FROM sup)
                  THEN a.cent_id ELSE a.super_id END AS super_id
      FROM (
        SELECT cent_id, super_id FROM (
          SELECT c.cent_id, s.super_id,
                 row_number() OVER (PARTITION BY c.cent_id ORDER BY
                   {dot.format(a='c.cv', b='s.sv')} / (c.cnrm * s.snrm) DESC,
                   s.super_id) AS rk
          FROM cents c CROSS JOIN sup s
        ) WHERE rk = 1
      ) a
    ),
    v2s AS (
      SELECT vec_id, super_id FROM (
        SELECT a.vec_id, s.super_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {dot.format(a='a.v', b='s.sv')} / (a.nrm * s.snrm) DESC,
                 s.super_id) AS rk
        FROM {src} a CROSS JOIN sup s
      ) WHERE rk <= {BUILD_SUPER_PROBES}
    ),
    members AS (
      SELECT vec_id, cent_id FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {dot.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm) DESC,
                 c.cent_id) AS rk
        FROM {src} a
        JOIN v2s ON v2s.vec_id = a.vec_id
        JOIN c2s ON c2s.super_id = v2s.super_id
        JOIN cents c ON c.cent_id = c2s.cent_id
      ) WHERE rk = 1
    )"""


@query(
    "similarity_ann_ivf_auto",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    probes AS (
      SELECT vec_id, cent_id FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_SQL_IVF_DOT.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm)
                   DESC, c.cent_id) AS rk
        FROM n a CROSS JOIN cents c
        WHERE a.vec_id IN {sql_query_batch('n')}
      ) WHERE rk <= {sql_auto_nprobe()}
    ),
    cand AS (
      SELECT DISTINCT p.vec_id, m.vec_id AS neighbor_id
      FROM probes p JOIN members m
        ON p.cent_id = m.cent_id AND p.vec_id != m.vec_id
    ),
    p AS (
      SELECT c.vec_id, c.neighbor_id,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    )
    {_SQL_TOPK_TAIL}
    """,
)
def similarity_ann_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the cell count SIZED FROM THE CORPUS (cells =
    max({IVF_AUTO_MIN_CELLS}, floor(sqrt(n))), the FAISS rule), the
    seeds REFINED by one deterministic Lloyd round over a bounded
    stride sample, and the build assignment TWO-LEVEL (route to the
    nearest of ~sqrt(cells) super-cells, then rank only that super's
    member cells) — the round-9 shape that removes the last superlinear
    build term: flat assignment was n x cells ~ n^1.5 distance work,
    two-level is ~n x 4·n^(1/4), and both in-row folds are MAP-SIDE
    against broadcast arrays, so the corpus is never shuffled to be
    assigned (round-7/8 shape kept).

    The QUERY side is exact-coarse: each of the <= QUERY_BATCH_MAX
    ({QUERY_BATCH_MAX}, lowest ids present, mirrored in the oracle)
    batch queries ranks ALL cells and probes its auto_nprobe nearest —
    batch x cells ~ 4096·sqrt(n) is sublinear, so the index-quality
    probe ranking costs nothing at scale and recall is not charged for
    the build optimization.  nprobe keeps the measured max(4,
    2*isqrt(cells)) rule.  Every sizing rule (cells, sample stride,
    supers, nprobe, batch) derives from ONE count(*) shared with the
    DuckDB twin, so the oracle cannot fork.  Candidates are cell-local
    equi-joins; final cosines are exact on the true vectors."""
    index = ivf_auto_index(spark, sf_dir)
    qb = query_batch_ids(index.raw)
    eb = index.e.join(F.broadcast(qb), "vec_id")
    # probes is a persisted two-long-column frame: the window pipeline
    # materializes ONCE with exact stats instead of living under the
    # candidate join
    probes = (
        ivf_assignment(eb, index.cents, auto_nprobe(index.cells))
        .select("vec_id", "cent_id")
        .persist()
    )
    # broadcast the PROBES side (guide §3.1): it is batch-capped
    # (<= QUERY_BATCH_MAX x nprobe rows of two longs) while members is
    # corpus-scale — the candidate join runs map-side over members
    cand = cell_candidates(F.broadcast(probes), index.members)
    # cand.vec_id ⊆ qb by construction (probes derive from eb = e ⋈ qb):
    # broadcast the batch's query vectors so the exact-cosine stage
    # shuffles the corpus once (y side), not twice (guide §3.1, r12)
    pairs = candidate_cosines(index.e, cand, query_ids=qb)
    return _finalize(_rank_topk(pairs), index.e, probes)


# --- Lloyd step with corpus-sized k (the sizing rule applied to clustering) --
@query(
    "similarity_kmeans_auto",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_auto_cells_cte('n')},
    ac AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_KM_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents c
    ),
    ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id)
               AS rk
      FROM ac
    ),
    members AS (SELECT vec_id, cent_id FROM ranked WHERE rk = 1),
    x AS (
      SELECT cent_id, u.dim AS dim,
             CAST(floor(u.val * {KM_SCALE}.0 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT m.cent_id,
               unnest(list_transform(range(1, length(n.v) + 1),
                 i -> {{'dim': i - 1, 'val': n.v[i]}})) AS u
        FROM members m JOIN n ON n.vec_id = m.vec_id
      )
    )
    SELECT cent_id, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n_members,
           {sql_round_half_up(
               f'CAST(sum(q) AS DOUBLE) / ({KM_SCALE}.0 * count(*))', 4)}
             AS centroid_val
    FROM x GROUP BY cent_id, dim
    """,
)
def similarity_kmeans_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration with the cluster count SIZED FROM THE CORPUS:
    k = max({IVF_AUTO_MIN_CELLS}, floor(sqrt(n))) — the same rule every
    *_auto operator sizes with (and the rule the round-9 serving family
    SEEDS from before its sample-bounded Lloyd refinement; this query
    IS that refinement step at full-corpus grain), applied to the clustering
    family: similarity_kmeans_step runs the fixed-{IVF_CELLS} small
    oracle, this is the shape a web-scale partitioner actually trains
    (SemDeDup's ~50k clusters on LAION is exactly sqrt-order sizing).

    The plan is kmeans_step's VERBATIM with a runtime-sized broadcast:
    the k centroids collapse to one array row (collect_list is
    runtime-sized by construction — k being data-derived costs nothing),
    broadcast, and the argmax-cosine fold runs inside the scan
    projection with v STILL ON THE ROW, so assignment is map-side only
    and the posexplode feeds the mean recompute without any corpus-by-
    corpus join.  The exchange carries only O(k x dims) map-side-
    combined integer partial sums.  At k = sqrt(n) the single array row
    is k x dims doubles (~50 MB at n = 1e10) — the same broadcast budget
    as the centroid table itself; past that, assignment shards the
    centroid array.  The fold's strict '>' over the array_sort'ed
    centroid list reproduces the oracle's (cos DESC, cent_id) ranking
    exactly, as similarity_kmeans_step already hash-verifies."""
    e = with_norms(load_table(spark, sf_dir, "embeddings"))
    cents = auto_centroids(e, load_table(spark, sf_dir, "embeddings"))
    x = _km_assigned_dims(e, cents)
    return x.groupBy("cent_id", "dim").agg(
        F.count("*").alias("n_members"),
        round_half_up(
            F.sum("q").cast("double") / (F.lit(float(KM_SCALE)) * F.count("*")),
            4,
        ).alias("centroid_val"),
    )


# --- Incremental index maintenance: append without rebuild ------------------
@query(
    "similarity_ivf_append",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    hn AS (SELECT count(*) // 2 AS h FROM n),
    ex AS (SELECT * FROM n WHERE vec_id < (SELECT h FROM hn)),
    cc AS (
      SELECT GREATEST({IVF_AUTO_MIN_CELLS},
                      CAST(floor(sqrt(count(*))) AS BIGINT)) AS c
      FROM ex
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM ex ORDER BY vec_id LIMIT (SELECT c FROM cc)
    ),
    ac AS (
      SELECT n.vec_id, n.vec_id < (SELECT h FROM hn) AS is_old, c.cent_id,
             {_SQL_IVF_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents c
    ),
    m AS (
      SELECT vec_id, is_old, cent_id FROM (
        SELECT vec_id, is_old, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY cos DESC, cent_id
               ) AS rk
        FROM ac
      ) WHERE rk = 1
    )
    SELECT cent_id,
           CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT)
             AS n_existing,
           CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT)
             AS n_appended,
           CAST(count(*) AS BIGINT) AS n_total
    FROM m GROUP BY cent_id
    """,
)
def similarity_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: ingest a NEW vector batch into an
    EXISTING coarse index without re-clustering — the daily-append shape
    a 100 TB serving deployment actually runs (FAISS add_with_ids /
    Milvus insert semantics: the cell layout is fixed at build time and
    new vectors are routed to their nearest existing centroid; periodic
    re-trains are a separate, rarer job — similarity_kmeans_auto here).

    The fixture splits the corpus deterministically at half = n // 2
    (one count, mirrored in the oracle): vec_id < half is the standing
    index — its centroids are the sqrt-sized SEED rule (auto_centroids,
    the lowest ids of the existing half; deliberately NOT round 9's
    Lloyd-refined serving layout — the append trilogy's premise is
    serving a stale standing index, and migrating it is deferred on
    recheck-slot budget, SURVEY round-9 note 8) — and
    vec_id >= half is the arriving batch.  Output is the per-cell
    balance after the append (n_existing / n_appended / n_total), the
    report an operator reads to decide when drift or skew warrants a
    re-train.

    Scale shape — the whole point of appending: routing is the in-row
    argmax fold (argmax_cell) against a broadcast centroid array, so
    the arriving batch is assigned MAP-SIDE with no shuffle of either
    the batch or the standing index; the only exchange is the (cent_id,
    partial-count) aggregate, ~cells rows.  In production the
    n_existing side is read from the stored cell table rather than
    recomputed — this registered twin re-derives it with the same
    argmax so the DuckDB oracle can check the full balance exactly."""
    e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    half = load_table(spark, sf_dir, "embeddings").count() // 2
    ex = e.filter(F.col("vec_id") < half)
    assigned = argmax_cell(e, auto_centroids(ex))  # sized by auto_cells(ex)
    out = assigned.groupBy("cent_id").agg(
        F.sum(F.when(F.col("vec_id") < half, 1).otherwise(0))
        .cast("long")
        .alias("n_existing"),
        F.sum(F.when(F.col("vec_id") < half, 0).otherwise(1))
        .cast("long")
        .alias("n_appended"),
        F.count("*").alias("n_total"),
    )
    return _finalize(out, e)


# --- Metadata-filtered ANN serving ------------------------------------------
@query(
    "similarity_filtered_ann",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    lmembers AS (
      SELECT m.vec_id, m.cent_id, e.label
      FROM members m JOIN embeddings e ON e.vec_id = m.vec_id
    ),
    probes AS (
      SELECT r.vec_id, r.cent_id, e.label
      FROM (
        SELECT vec_id, cent_id FROM (
          SELECT a.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   {_SQL_IVF_DOT.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm)
                     DESC, c.cent_id) AS rk
          FROM n a CROSS JOIN cents c
          WHERE a.vec_id % {RECALL_SAMPLE_MOD} = 0
            AND a.vec_id IN {sql_query_batch(
                f'(SELECT vec_id FROM n WHERE vec_id % {RECALL_SAMPLE_MOD} = 0)'
            )}
        ) WHERE rk <= {sql_auto_nprobe()}
      ) r JOIN embeddings e ON e.vec_id = r.vec_id
    ),
    cand AS (
      SELECT DISTINCT p.vec_id, m.vec_id AS neighbor_id
      FROM probes p JOIN lmembers m
        ON p.cent_id = m.cent_id AND p.label = m.label
       AND p.vec_id != m.vec_id
    ),
    p AS (
      SELECT c.vec_id, c.neighbor_id,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    )
    {_SQL_TOPK_TAIL}
    """,
)
def similarity_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search — top-{TOP_K} cosine neighbors
    restricted to vectors whose ``label`` matches the query's — the
    production ANN feature every serving stack grows next (Milvus/
    Qdrant filtered search; in a training-data pipeline: nearest
    neighbors within the same language / domain / quality band).

    This is PRE-filtering, the scale-correct variant: the label
    predicate joins INTO the cell-local candidate join (probes and
    members both carry their label, candidates require equality), so
    non-matching vectors never reach the distance fold — post-filtering
    a plain top-k would instead return fewer than k survivors whenever
    the filter is selective.  The index layout and probe rule are
    similarity_ann_ivf_auto's verbatim; the query batch is
    QUERY_BATCH_MAX lowest ids OF THE 1/{RECALL_SAMPLE_MOD} SAMPLE (the
    IVF+PQ auto path's convention — capping before sampling would serve
    a 16x smaller batch above the cap); labels ride the existing
    assignment rows, so the only added cost is the equality predicate
    inside the candidate join.  Queries whose probed
    cells hold fewer than {TOP_K} same-label vectors return fewer rows
    — visible, deterministic, and exactly what a deployment sees when a
    filter is too selective for its nprobe."""
    index = ivf_auto_index(spark, sf_dir)
    labels = index.raw.select("vec_id", "label")
    sampled = F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0
    # batch over the SAMPLE (the pq auto path's convention), so the
    # served batch is QUERY_BATCH_MAX sampled queries — not the
    # 1/RECALL_SAMPLE_MOD survivors of a full-corpus batch
    qb = query_batch_ids(index.raw.filter(sampled))
    eb = index.e.join(F.broadcast(qb), "vec_id")
    probes = (
        ivf_assignment(eb, index.cents, auto_nprobe(index.cells))
        .join(labels, "vec_id")
        .select("vec_id", "cent_id", "label")
    )
    # probes is batch-capped (sampled batch x nprobe): broadcast it so
    # the label-carrying member table never shuffles (guide §3.1); the
    # label is a second equi-join key, the oracle's p.label = m.label
    cand = cell_candidates(
        F.broadcast(probes), index.members.join(labels, "vec_id"), "label"
    )
    # cand.vec_id ⊆ qb (probes derive from eb = e ⋈ qb): broadcast the
    # batch's query vectors — one corpus shuffle, not two (r12)
    topk = _rank_topk(candidate_cosines(index.e, cand, query_ids=qb))
    return _finalize(topk, index.e)


# --- Staleness gate for the appended index ----------------------------------
@query(
    "similarity_ivf_append_recall",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    hn AS (SELECT count(*) // 2 AS h FROM n),
    exh AS (SELECT * FROM n WHERE vec_id < (SELECT h FROM hn)),
    cc AS (
      SELECT GREATEST({IVF_AUTO_MIN_CELLS},
                      CAST(floor(sqrt(count(*))) AS BIGINT)) AS c
      FROM exh
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM exh ORDER BY vec_id LIMIT (SELECT c FROM cc)
    ),
    ac AS (
      SELECT n.vec_id, c.cent_id,
             {_SQL_IVF_DOT.format(a='n.v', b='c.cv')} / (n.nrm * c.cnrm) AS cos
      FROM n CROSS JOIN cents c
    ),
    ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id)
               AS rk
      FROM ac
    ),
    members AS (SELECT vec_id, cent_id FROM ranked WHERE rk = 1),
    probes  AS (
      SELECT vec_id, cent_id FROM ranked
      WHERE rk <= {sql_auto_nprobe()} AND vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    cand AS (
      SELECT DISTINCT p.vec_id, m.vec_id AS neighbor_id
      FROM probes p JOIN members m
        ON p.cent_id = m.cent_id AND p.vec_id != m.vec_id
    ),
    p AS (
      SELECT c.vec_id, c.neighbor_id,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    ),
    annq AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM p
      ) WHERE rnk <= {TOP_K}
    ),
    {_SQL_SAMPLE_EXACT_CTES},
    {_SQL_RECALL_SUMMARY}
    """,
)
def similarity_ivf_append_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the APPENDED index — the candidate layer served
    off the STALE coarse layout (centroids and cell count sized from
    the first half of the corpus only, per similarity_ivf_append's
    split) with the full doubled corpus routed into it.  Read against
    similarity_ann_ivf_auto_recall (the same corpus under a
    freshly-sized layout) this measures the append/retrain trade, and
    the measured direction is instructive: at sf0.1 the stale layout
    scores 0.6128 vs fresh 0.584, because a 2x append leaves cells ~√2
    too FEW for the corpus — bigger cells prune less, so recall drifts
    UP while per-query candidate mass (~n/cells x nprobe) drifts up
    LINEARLY with the appended volume.  The price of postponing a
    retrain is therefore serving COST, not quality, and the retrain
    restores the sqrt cost contract at a small recall give-back — this
    gate plus the per-cell balance from similarity_ivf_append is what
    turns that into a measured decision.  Same sample, exact ground
    truth, tie-breaks, and auto-nprobe rule (computed from the STALE
    cell count, as a deployment serving that layout would) as every
    other recall gate."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = with_norms(raw).persist()
    half = raw.count() // 2
    exh = e.filter(F.col("vec_id") < half)
    cells = auto_cells(exh)
    cents = auto_centroids(exh, cells=cells)
    ranked = ivf_assignment(e, cents, auto_nprobe(cells)).persist()
    members = ranked.filter(F.col("rk") == 1).select("vec_id", "cent_id")
    probes = ranked.filter(
        F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0
    ).select("vec_id", "cent_id")
    cand = cell_candidates(probes, members)
    ann = _rank_topk(candidate_cosines(e, cand)).select(
        "vec_id", "neighbor_id"
    )
    # 1/16-sample gate: both sides corpus-proportional, so the hit join
    # stays shuffled
    out = recall_at_k(sample_exact_topk(spark, sf_dir), ann, TOP_K)
    return _finalize(out, e, ranked)


# --- Candidate-layer recall gate for the sqrt-sized IVF path -----------------
@query(
    "similarity_ann_ivf_auto_recall",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    probes AS (
      SELECT vec_id, cent_id FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_SQL_IVF_DOT.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm)
                   DESC, c.cent_id) AS rk
        FROM n a CROSS JOIN cents c
        WHERE a.vec_id % {RECALL_SAMPLE_MOD} = 0
          AND a.vec_id IN {sql_query_batch('n')}
      ) WHERE rk <= {sql_auto_nprobe()}
    ),
    cand AS (
      SELECT DISTINCT p.vec_id, m.vec_id AS neighbor_id
      FROM probes p JOIN members m
        ON p.cent_id = m.cent_id AND p.vec_id != m.vec_id
    ),
    p AS (
      SELECT c.vec_id, c.neighbor_id,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    ),
    annq AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM p
      ) WHERE rnk <= {TOP_K}
    ),
    ex AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_reduce(
               list_prepend(0.0, list_transform(
                 range(1, length(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b
        ON a.vec_id % {RECALL_SAMPLE_MOD} = 0 AND a.vec_id <> b.vec_id
       AND a.vec_id IN {sql_query_batch('n')}
    ),
    ext AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM ex
      ) WHERE rnk <= {TOP_K}
    ),
    {_SQL_RECALL_SUMMARY}
    """,
)
def similarity_ann_ivf_auto_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SQRT-SIZED IVF candidate layer against the exact
    top-k for the deterministic 1/{RECALL_SAMPLE_MOD} query sample —
    the candidate-layer twin of similarity_ivf_pq_auto_recall's
    composed-system gate: together they separate how much recall the
    sqrt sizing rule costs at the pruning stage vs what PQ compression
    adds on top.  similarity_recall_eval plays the same role for the
    sign-LSH index; all three share the session-cached exact ground
    truth and the (4-decimal cosine, neighbor_id) tie-break.

    Per-query independence means filtering the registered ann_ivf_auto
    OUTPUT to the sample equals restricting its probes to the sample
    (the oracle does the latter — cheaper), so this gate measures
    exactly the plan users run.  The served output is BOUNDED
    (<= QUERY_BATCH_MAX x k rows) so it takes a plans.shared session
    slot: in a sequential sweep or bench the gate re-reads the index's
    answers instead of rebuilding the index — exactly how a quality
    dashboard consumes a served snapshot."""
    ann = (
        shared_intermediate(
            spark,
            sf_dir,
            "ann_ivf_auto_served",
            lambda: similarity_ann_ivf_auto(spark, sf_dir),
        )
        .filter(F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0)
        .select("vec_id", "neighbor_id")
    )
    # the exact side is restricted to the SERVED batch (a no-op below
    # QUERY_BATCH_MAX, i.e. every bundled sf): against the unrestricted
    # sample the gate would measure batch COVERAGE above the cap, not
    # index quality — the same principle as the capped gates' max_vec
    ext = sample_exact_topk(spark, sf_dir).join(
        F.broadcast(query_batch_ids(load_table(spark, sf_dir, "embeddings"))),
        "vec_id",
        "left_semi",
    )
    # served snapshot + batch-capped ground truth: both bounded at
    # QUERY_BATCH_MAX x k rows by construction, so the ANN side broadcasts
    return recall_at_k(ext, ann, TOP_K, bounded=True)


# --- SemDeDup with corpus-sized cell count (the scale-correct variant) -------
@query(
    "dedup_semantic_auto",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    m AS (
      SELECT members.vec_id, members.cent_id, n.v, n.nrm
      FROM members JOIN n ON members.vec_id = n.vec_id
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id, b.cent_id
      FROM m a JOIN m b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE {sql_round_half_up(
          _SQL_IVF_DOT.format(a='a.v', b='b.v') + ' / (a.nrm * b.nrm)', 4)}
          >= {NEAR_DUP_THRESHOLD}
    )
    SELECT m.cent_id AS cell_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(dropped.vec_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(dropped.vec_id) AS BIGINT) AS n_kept
    FROM m LEFT JOIN dropped
      ON m.vec_id = dropped.vec_id AND m.cent_id = dropped.cent_id
    GROUP BY 1
    """,
)
def dedup_semantic_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the cell count SIZED FROM THE CORPUS: cells =
    max({IVF_AUTO_MIN_CELLS}, floor(sqrt(n))) — the same FAISS-style
    sizing rule similarity_ann_ivf_auto registered for ANN, applied to
    dedup_semantic's fixed {IVF_CELLS}-cell layout.  SemDeDup's scale
    story IS the cell count: pair work is sum(|cell|^2), so a fixed cell
    count degrades toward n^2/cells as the corpus grows (the paper runs
    ~50k clusters on LAION for exactly this reason), while cells ~ sqrt(n)
    bounds expected in-cell pair work at ~n^1.5 total.

    Round 9 (second pass): assignment now rides the SERVING family's
    two-level Lloyd-refined layout (ivf_auto_index's two-level index,
    re-applied by two_level_members because the pair fold needs v and
    nrm on each member row — the sample-bounded Lloyd round plus
    top-3-super routing, all in-row map-side folds), killing the flat
    n x cells ~ n^1.5 assignment term this query still carried
    (audited 4.2x at 10x on the seed layout) and sharing the
    session-cached index artifacts with ANN/IVF-PQ/filtered search — SemDeDup on the SAME
    partition the store serves, which is exactly how the paper deploys
    it.  Every sizing rule still derives from ONE count(*) mirrored in
    the oracle chain (sql_two_level_cells_cte), so the twin stays
    hash-checkable with no literal to keep in sync.  Near-identical
    pairs (cos >= {NEAR_DUP_THRESHOLD}) are found ONLY via the
    cell-local equi-join, greedy lowest-vec_id keep, per-cell keep/drop
    audit counts out."""
    index = ivf_auto_index(spark, sf_dir)
    m = two_level_members(index.e, index.idx).persist()
    a = m.alias("a")
    b = m.alias("b")
    dot_ab = _fold_sum(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y)
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            round_half_up(
                dot_ab / (F.col("a.nrm") * F.col("b.nrm")), 4
            )
            >= NEAR_DUP_THRESHOLD
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    out = (
        m.join(dropped, "vec_id", "left")
        .groupBy(F.col("cent_id").alias("cell_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            (
                F.count("*")
                - F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            )
            .cast("long")
            .alias("n_kept"),
        )
    )
    return _finalize(out, m, index.e)


# --- nprobe sweep: the table that justifies the auto probe rule ---------------
SWEEP_LEVELS = (1, 2, 4, 8, 16)
_SWEEP_MAX = max(SWEEP_LEVELS)


@query(
    "similarity_nprobe_sweep",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    probes AS (
      SELECT vec_id, cent_id, rk FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_SQL_IVF_DOT.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm)
                   DESC, c.cent_id) AS rk
        FROM n a CROSS JOIN cents c
        WHERE a.vec_id % {RECALL_SAMPLE_MOD} = 0
      ) WHERE rk <= {_SWEEP_MAX}
    ),
    cand AS (
      SELECT p.vec_id, m.vec_id AS neighbor_id,
             CAST(min(p.rk) AS BIGINT) AS entry_rk
      FROM probes p JOIN members m
        ON p.cent_id = m.cent_id AND p.vec_id != m.vec_id
      GROUP BY 1, 2
    ),
    pr AS (
      SELECT c.vec_id, c.neighbor_id, c.entry_rk,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    ),
    lv AS (SELECT unnest([{', '.join(str(x) for x in SWEEP_LEVELS)}]) AS nprobe),
    annq AS (
      SELECT nprobe, vec_id, neighbor_id FROM (
        SELECT lv.nprobe, pr.vec_id, pr.neighbor_id,
               row_number() OVER (
                 PARTITION BY lv.nprobe, pr.vec_id
                 ORDER BY {sql_round_half_up('pr.cos', 4)} DESC, pr.neighbor_id
               ) AS rnk
        FROM pr JOIN lv ON pr.entry_rk <= lv.nprobe
      ) WHERE rnk <= {TOP_K}
    ),
    {_SQL_SAMPLE_EXACT_CTES},
    tl AS (SELECT lv.nprobe, ext.vec_id, ext.neighbor_id FROM lv CROSS JOIN ext),
    perq AS (
      SELECT tl.nprobe, tl.vec_id,
             CAST(count(annq.neighbor_id) AS BIGINT) AS hits
      FROM tl LEFT JOIN annq
        ON annq.nprobe = tl.nprobe AND annq.vec_id = tl.vec_id
       AND annq.neighbor_id = tl.neighbor_id
      GROUP BY 1, 2
    ),
    nc AS (
      SELECT lv.nprobe, CAST(count(*) AS BIGINT) AS n_candidates
      FROM cand JOIN lv ON cand.entry_rk <= lv.nprobe
      GROUP BY 1
    )
    SELECT CAST(perq.nprobe AS INT) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(max(nc.n_candidates) AS BIGINT) AS n_candidates,
           {sql_round_half_up(
               f'CAST(sum(perq.hits) AS DOUBLE) / ({TOP_K}.0 * count(*))', 4)}
             AS macro_recall
    FROM perq JOIN nc ON nc.nprobe = perq.nprobe
    GROUP BY perq.nprobe
    """,
)
def similarity_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} and candidate mass per nprobe level — the measured
    table that justifies the auto probe rule (auto_nprobe's
    2*isqrt(cells) multiplier), the IVF twin of dedup_threshold_sweep:
    one row per nprobe in {SWEEP_LEVELS} with the candidate-layer
    macro recall on the shared 1/{RECALL_SAMPLE_MOD} query sample and
    the candidate-pair count that recall costs.  Reading it top-down
    shows the knee a deployment tunes to; since round 9's second pass
    the sweep measures the SERVED layout — the two-level Lloyd-refined
    index the *_auto serving family actually runs (measured at sf0.1:
    recall .158/.218/.328/.523/.720 at nprobe 1/2/4/8/16, the whole
    curve ~5-6 points above the seed layout at equal candidate mass) —
    so the probe rule's justification and the production plan can no
    longer drift apart.

    One pass prices every level: candidates are built ONCE at the
    maximum level with their ENTRY RANK (the smallest nprobe that
    admits the pair = min over shared cells of the probe's rank), so a
    level's candidate set is just entry_rk <= nprobe — no per-level
    re-probing; member assignment is the shared map-side two-level
    fold, and only the 1/{RECALL_SAMPLE_MOD} SAMPLE ranks all cells
    for its probe superset (WindowGroupLimit-Partial shape).  The
    level table is a 5-row broadcast; the exact ground truth is the
    session-cached sample top-{TOP_K} every recall gate shares."""
    index = ivf_auto_index(spark, sf_dir)
    e = index.e
    members = index.members.withColumnRenamed("vec_id", "neighbor_id")
    es = e.filter(F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0)
    ranked = ivf_assignment(es, index.cents, _SWEEP_MAX).persist()
    probes = ranked.select("vec_id", "cent_id", "rk")
    cand = (
        probes.join(members, "cent_id")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .groupBy("vec_id", "neighbor_id")
        .agg(F.min("rk").cast("long").alias("entry_rk"))
    )
    pr = candidate_cosines(e, cand)
    levels = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(x_)) for x_ in SWEEP_LEVELS])
        ).alias("nprobe")
    )
    swept = pr.join(F.broadcast(levels), F.col("entry_rk") <= F.col("nprobe"))
    cos4 = round_half_up(F.col("cos"), 4)
    w = Window.partitionBy("nprobe", "vec_id").orderBy(
        cos4.desc(), "neighbor_id"
    )
    ann = (
        swept.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("nprobe", "vec_id", "neighbor_id")
    )
    truth_lv = (
        sample_exact_topk(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(levels))
    )
    # per-level hit counts in ONE left join + ONE aggregate (the oracle
    # perq CTE's exact shape) — replaces the semi-join + distinct +
    # outer-join chain and its extra exchanges; ann rows are unique per
    # (nprobe, vec_id, neighbor_id) by the row_number, so the outer join
    # cannot inflate counts
    perq = (
        truth_lv.join(
            ann.withColumn("hit", F.lit(1)),
            ["nprobe", "vec_id", "neighbor_id"],
            "left",
        )
        .groupBy("nprobe", "vec_id")
        .agg(F.count("hit").alias("hits"))
        .select("nprobe", "hits")
    )
    ncand = (
        cand.join(F.broadcast(levels), F.col("entry_rk") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_candidates"))
    )
    rec = perq.groupBy("nprobe").agg(
        F.count("*").alias("n_queries"),
        round_half_up(
            F.sum("hits").cast("double")
            / (float(TOP_K) * F.count("*").cast("double")),
            4,
        ).alias("macro_recall"),
    )
    out = rec.join(ncand, "nprobe").select(
        F.col("nprobe").cast("int").alias("nprobe"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        "macro_recall",
    )
    return _finalize(out, e, ranked)


# --- Index maintenance: deletions (tombstones) -------------------------------
# The build / append / measure / retrain loop (rounds 7-9) closed every
# lifecycle stage except the one a production store runs daily: DELETES
# (faiss remove_ids, Milvus delete).  The tombstone set is deterministic
# and oracle-mirrored: vec_id % DELETE_MOD == DELETE_REM — ~10% of the
# corpus, chosen so it intersects the 1/RECALL_SAMPLE_MOD query sample
# (x % 16 == 0 and x % 10 == 4 has solutions, x == 64 mod 80), making
# the gate's deleted-queries-don't-query arm load-bearing in both
# engines, while staying disjoint from nothing else by construction.
DELETE_MOD = 10
DELETE_REM = 4
COMPACT_PCT = 30  # compaction trigger: tombstones exceed 30% of a cell


@query(
    "similarity_ivf_delete",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    tomb AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id % {DELETE_MOD} = {DELETE_REM}
    )
    SELECT m.cent_id AS cell_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(t.vec_id) AS BIGINT) AS n_deleted,
           CAST(count(*) - count(t.vec_id) AS BIGINT) AS n_remaining,
           CAST(CASE WHEN count(t.vec_id) * 100 >= count(*) * {COMPACT_PCT}
                     THEN 1 ELSE 0 END AS INT) AS needs_compaction
    FROM members m LEFT JOIN tomb t ON t.vec_id = m.vec_id
    GROUP BY 1
    """,
)
def similarity_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone a deterministic ~1/{DELETE_MOD} id subset from the
    STANDING two-level layout and report the per-cell balance — the
    deletion stage of the index-maintenance lifecycle (FAISS
    ``remove_ids`` / Milvus delete semantics: the cell layout is fixed;
    deletes only remove entries from inverted lists, and a later
    COMPACTION rewrites lists whose tombstone fraction crosses the
    trigger).  Output per cell: n_members (pre-delete), n_deleted,
    n_remaining, and needs_compaction — the compaction trigger is
    n_deleted >= {COMPACT_PCT}% of the cell (integer arithmetic,
    oracle-exact): below it a cell serves through its tombstones, above
    it the rewrite is cheaper than the wasted scan work, which is how
    FAISS/Milvus deployments schedule compaction.

    Scale shape: the member table is READ from the index value
    (ivf_auto_index's members slot — the stored artifact a production
    store keeps, the same one the serving queries probe), the tombstone
    set stays an ID FRAME joined by key, not a filter predicate —
    production deletes arrive as id lists, so the plan must be the
    anti-join/flag-join plan, ~n x 16B rows through one equi-join and a
    cells-row aggregate.  No vectors move: deletion touches only the
    (vec_id, cent_id) payload."""
    index = ivf_auto_index(spark, sf_dir)
    tomb = index.raw.filter(
        F.pmod(F.col("vec_id"), F.lit(DELETE_MOD)) == DELETE_REM
    ).select("vec_id", F.lit(1).alias("is_del"))
    flagged = index.members.join(tomb, "vec_id", "left")
    out = flagged.groupBy(F.col("cent_id").alias("cell_id")).agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("is_del").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_deleted"),
    ).select(
        "cell_id",
        "n_members",
        "n_deleted",
        (F.col("n_members") - F.col("n_deleted")).alias("n_remaining"),
        (F.col("n_deleted") * 100 >= F.col("n_members") * COMPACT_PCT)
        .cast("int")
        .alias("needs_compaction"),
    )
    return _finalize(out, index.e)


def _delete_served_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, neighbor_id): top-{TOP_K} answers served AFTER the
    delete — probes from the surviving sampled query batch against the
    stale (pre-delete) coarse layout, candidates drawn from the member
    table ANTI-JOINED with the tombstone set, exact cosine rescore.
    Split out of the recall gate so tests can pin the delete-then-query
    correctness trap directly: no tombstoned id may ever be emitted."""
    index = ivf_auto_index(spark, sf_dir)
    e = index.e
    tomb = index.raw.filter(
        F.pmod(F.col("vec_id"), F.lit(DELETE_MOD)) == DELETE_REM
    ).select("vec_id")
    samp = (
        e.filter(F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0)
        .join(tomb, "vec_id", "left_anti")  # deleted queries don't query
    )
    qb_ids = query_batch_ids(samp)
    probes = ivf_assignment(
        e.join(F.broadcast(qb_ids), "vec_id"),
        index.cents,
        auto_nprobe(index.cells),
    ).select("vec_id", "cent_id")
    # the trap the oracle pins: every candidate flows through the
    # members-vs-tombstones anti-join, so a deleted id can never be
    # emitted as a neighbor; probes is batch-capped, so it broadcasts
    # and the member table never shuffles (guide §3.1)
    cand = cell_candidates(
        F.broadcast(probes), index.members.join(tomb, "vec_id", "left_anti")
    )
    # cand.vec_id ⊆ qb_ids (probes derive from e ⋈ qb_ids): broadcast the
    # batch's query vectors — one corpus shuffle, not two (r12)
    ann = _rank_topk(candidate_cosines(e, cand, query_ids=qb_ids)).select(
        "vec_id", "neighbor_id"
    )
    return _finalize(ann, e)


@query(
    "similarity_ivf_delete_recall",
    oracle=f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    tomb AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id % {DELETE_MOD} = {DELETE_REM}
    ),
    surv AS (
      SELECT * FROM n
      WHERE vec_id NOT IN (SELECT vec_id FROM tomb)
    ),
    smem AS (
      SELECT vec_id AS neighbor_id, cent_id FROM members
      WHERE vec_id NOT IN (SELECT vec_id FROM tomb)
    ),
    qs AS (
      SELECT vec_id FROM surv WHERE vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    probes AS (
      SELECT vec_id, cent_id FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_SQL_IVF_DOT.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm)
                   DESC, c.cent_id) AS rk
        FROM n a CROSS JOIN cents c
        WHERE a.vec_id IN {sql_query_batch('qs')}
      ) WHERE rk <= {sql_auto_nprobe()}
    ),
    cand AS (
      SELECT DISTINCT p.vec_id, m.neighbor_id
      FROM probes p JOIN smem m
        ON p.cent_id = m.cent_id AND p.vec_id != m.neighbor_id
    ),
    pr AS (
      SELECT c.vec_id, c.neighbor_id,
             {_SQL_IVF_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm) AS cos
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_id
      JOIN n y ON y.vec_id = c.neighbor_id
    ),
    annq AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM pr
      ) WHERE rnk <= {TOP_K}
    ),
    ex AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_reduce(
               list_prepend(0.0, list_transform(
                 range(1, length(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN surv b
        ON a.vec_id <> b.vec_id
       AND a.vec_id IN {sql_query_batch('qs')}
    ),
    ext AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM ex
      ) WHERE rnk <= {TOP_K}
    ),
    perq AS (
      SELECT ext.vec_id,
             CAST(count(annq.neighbor_id) AS BIGINT) AS hits
      FROM ext LEFT JOIN annq
        ON ext.vec_id = annq.vec_id AND ext.neighbor_id = annq.neighbor_id
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           {sql_round_half_up(
               f'CAST(sum(hits) AS DOUBLE) / ({TOP_K}.0 * count(*))', 4)}
             AS macro_recall,
           {sql_round_half_up(
               f'CAST(sum(CASE WHEN hits = {TOP_K} THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 4)}
             AS perfect_frac,
           (SELECT CAST(count(*) AS BIGINT) FROM tomb) AS n_deleted
    FROM perq
    """,
)
def similarity_ivf_delete_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the index AFTER the tombstone delete, measured
    against the exact top-{TOP_K} over the SURVIVING corpus — the gate
    that closes the delete stage the way append_recall closed appends.
    Three delete-specific semantics, each pinned by the oracle:

    - deleted ids must NEVER be emitted: every served candidate flows
      through the members-vs-tombstones anti-join, so one leaked id is
      a hash mismatch (the delete-then-query correctness trap);
    - deleted queries don't query: the 1/{RECALL_SAMPLE_MOD} sample is
      re-drawn from survivors (DELETE_REM is chosen so the sample DOES
      lose members — the exclusion arm is load-bearing);
    - the ground truth moves: exact top-k is recomputed over survivors,
      because a delete PROMOTES new true neighbors — scoring against
      the pre-delete truth would punish the index for correctly
      serving them.

    The coarse layout itself stays STALE (pre-delete centroids and
    cell map — tombstones don't retrain, same premise as the append
    trilogy); n_deleted is stamped on the output so the gate carries
    its own coverage.  The embedded exact ground truth is the declared
    measurement class every recall gate shares (|batch| x n_surv fold,
    linear in n at fixed batch), and both sides take plans.shared
    snapshot slots (bounded at |batch| x k rows each) exactly like
    similarity_ann_ivf_auto_recall: a quality dashboard re-reads the
    served answers and the corpus-snapshot ground truth, it does not
    re-run the index per refresh."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = with_norms(raw).persist()
    tomb = raw.filter(
        F.pmod(F.col("vec_id"), F.lit(DELETE_MOD)) == DELETE_REM
    ).select("vec_id")
    ann = shared_intermediate(
        spark,
        sf_dir,
        "ivf_delete_served",
        lambda: _delete_served_ann(spark, sf_dir),
    )

    def build_ext() -> DataFrame:
        surv = e.join(tomb, "vec_id", "left_anti")
        samp = surv.filter(
            F.pmod(F.col("vec_id"), F.lit(RECALL_SAMPLE_MOD)) == 0
        )
        queries = e.join(F.broadcast(query_batch_ids(samp)), "vec_id")
        return exact_topk(queries, surv, TOP_K).select("vec_id", "neighbor_id")

    ext = shared_intermediate(
        spark, sf_dir, "ivf_delete_exact_topk", build_ext
    )
    # both snapshot slots are batch-capped (|batch| x k rows): broadcast
    nd = tomb.agg(F.count("*").cast("long").alias("n_deleted"))
    out = recall_at_k(ext, ann, TOP_K, bounded=True).crossJoin(
        F.broadcast(nd)
    )
    return _finalize(out, e)

"""Product quantization (PQ): compressed-domain vector codes + ADC search.

The 100 TB ANN storage/scoring path (Jegou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011): split each vector into M
subspaces, quantize each subvector to its nearest of K codewords, store M
small codes per vector (here 32 x 6 bits = 24 bytes instead of 256 bytes
of float32 — a 10.7x compression), and answer queries with Asymmetric
Distance Computation: a per-query lookup table of |M| x |K| exact subspace
distances, so scoring a candidate costs M table lookups instead of a D-dim
fold.

Engine discipline matches the sign-LSH family (operators/similarity.py):
components are quantized to integers (floor(x * 2^20) — exact IEEE in both
engines), every distance is an int64 sum, and argmins are taken over the
single integer key ``d2 * K + code_id`` so ties break identically on both
engines with no float comparison anywhere.  Codebooks start from the
deterministic modulo-spread seed sample (every (n div K)-th vec_id — see
pq_codebook) and are then refined by PQ_LLOYD_STEPS Lloyd steps (a
measured knob, 2 since round 10 — see its comment) whose centroid update is
pure 64-bit integer arithmetic: the floored mean via explicit positive
modulus — ``(s - ((s % n) + n) % n) / n`` — written out identically on
both engines.  (Spark's ``div`` and DuckDB's ``//`` in fact BOTH
truncate toward zero — verified -7/2 -> -3 on each — so the explicit
formula is belt-and-braces determinism, pinning flooring semantics
rather than relying on either engine's operator.)  The whole trained
index stays DuckDB-oracle-
checkable end to end.  Measured macro-recall@5 of the deployed index at
sf0.1: 0.349 (IVF-composed) with the M=16/SUB=4 lowest-id-seed layout
shipped first, 0.654/0.502 with the M=32/SUB=2 spread-seed one-step
layout, 0.6984 full-ADC / 0.5238 IVF-composed with the current
two-Lloyd-step training (similarity_pq_recall and
similarity_ivf_pq_recall track both per round in the bench summary).

Scale shape: the codebook is M x K rows and BROADCASTS; code assignment is
a map-side broadcast-join argmin (the corpus never shuffles to build the
index); ADC scoring joins the (vec_id, m, code) table with the broadcast
per-query LUT on (m, code) and reduces with one integer-sum aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_text_classification_spark.functions.text import (
    round_half_up,
    sql_round_half_up,
)
from pyspark_text_classification_spark.operators.similarity import (
    FIXED_CELL_MAX_VECTORS,
    IVF_CELLS,
    IVFPQ_AUTO_NPROBE_MIN,
    IVFPQ_AUTO_NPROBE_MULT,
    QUANT_SCALE,
    QUERY_BATCH_MAX,
    _SQL_IVF_DOT,
    _SQL_NORMED,
    _as_double_vec,
    _finalize,
    _rank_topk,
    auto_nprobe,
    candidate_cosines,
    cell_candidates,
    exact_topk,
    ivf_assignment,
    ivf_auto_index,
    probe,
    query_batch_ids,
    recall_at_k,
    sample_exact_topk,
    sql_auto_nprobe,
    sql_n_indexed,
    sql_query_batch,
    sql_two_level_cells_cte,
    with_n_indexed,
    with_norms,
)
from pyspark_text_classification_spark.plans.shared import shared_intermediate
from pyspark_text_classification_spark.registry import ORACLES as _PQ_ORACLES
from pyspark_text_classification_spark.registry import query
from pyspark_text_classification_spark.sources.parquet import fan_out, load_table

# Quantizer layout — measured macro-recall@5 at sf0.1 (full ADC / IVF
# nprobe=6): M=16/SUB=4/K=64 lowest-id seeds 0.422/0.349; the same
# layout with spread seeds 0.391/0.324; M=32/SUB=2/K=64 spread seeds
# 0.654/0.502 — finer subspaces beat more codewords at equal code budget
# per Jegou TPAMI'11 §IV, and K=256 would 4x the streaming twin's
# literal-codebook codegen for less gain than halving SUB.  Codes are
# 32 x 6 bits = 24 bytes/vector (10.7x vs 256 B of float32).
PQ_M = 32         # subspaces
PQ_K = 64         # codewords per subspace (6-bit codes)
PQ_SUB = 2        # dims per subspace (embeddings are 64-dim)
PQ_QUERY_MOD = 32  # deterministic 1/32 query sample for ADC search
PQ_NN_K = 5       # neighbors returned per query
# Cells probed by the composed IVF+PQ system (ann_ivf keeps 2).  The
# measured recall@5 curve at sf0.1 (M=32/SUB=2 spread-seed quantizer):
# 4 -> ~0.43, 6 -> 0.502, 8 -> ~0.53 at equal warm cost; 6 is the
# chosen balance — beyond it the probe fraction (8/16) halves the very
# pruning IVF exists to provide.  At production cell counts (~sqrt(n))
# the same knob probes a few percent.
IVFPQ_NPROBE = 6


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv long[]) — integer-quantized vectors (exact both engines)."""
    qv = F.transform(
        _as_double_vec(), lambda x: F.floor(x * QUANT_SCALE).cast("long")
    )
    return fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", qv.alias("qv")
    )


def _subspaces(df: DataFrame, vec_col: str = "qv") -> DataFrame:
    """Explode each vector into its M quantized subvectors: (.., m, sq)."""
    slices = F.array(
        *[F.slice(vec_col, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )
    return df.select("*", F.posexplode(slices).alias("m", "sq")).drop(vec_col)


def pq_codebook(e: DataFrame) -> DataFrame:
    """(m, code_id, cq): the broadcastable M x K codebook from K seed
    vectors SPREAD over the id space — every (n div K)-th vec_id (one
    map-side count, a modulo filter, then a top-K sort over ~K rows; no
    global sort of the corpus).  Spread seeds cover the data distribution
    far better than the K lowest ids (measured +0.15-0.23 recall@5 with
    the M=32 layout) and degrade gracefully to lowest-K when n < K
    (step clamps to 1).  Deterministic, oracle-checkable."""
    step = e.agg(
        F.greatest(F.lit(1).cast("long"), F.expr(f"count(*) div {PQ_K}"))
        .alias("step")
    )
    w = Window.orderBy("vec_id")  # K rows — single-partition window is fine
    seeds = (
        e.crossJoin(F.broadcast(step))
        .filter(F.pmod(F.col("vec_id"), F.col("step")) == 0)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select((F.row_number().over(w) - 1).cast("long").alias("code_id"), "qv")
    )
    return _subspaces(seeds).select("m", "code_id", F.col("sq").alias("cq"))


def _d2(a: str, b: str) -> F.Column:
    """Integer squared L2 distance between two quantized subvectors.

    Unrolled over the fixed PQ_SUB dims instead of a
    zip_with + aggregate fold: higher-order functions are interpreted
    per element, while the unrolled element_at sum is whole-stage
    codegen'd — bit-identical (exact int64 arithmetic, same add order
    starting from 0) and measured ~20% faster on the pq_assign stage,
    which runs inside every PQ serving/recall query (guide §4.1: prefer
    codegen'd built-ins over interpreted lambdas in hot loops)."""
    out: F.Column = F.lit(0).cast("long")
    for i in range(PQ_SUB):
        d = F.element_at(F.col(a), i + 1) - F.element_at(F.col(b), i + 1)
        out = out + d * d
    return out


# Lloyd step count — a measured quality/cost knob, re-measured per layout.
# History: with the r3 LOWEST-ID seeds, extra steps didn't transfer at
# sf0.1 (pq 0.4222 -> 0.4127, rerank flat) — the seed geometry was the
# binding constraint, so the knob stayed at 1.  The r7 SPREAD seeds
# changed that constraint, and re-measuring under them (round 10, sf0.1)
# inverted the old null: steps 1 -> 2 lifts pq_recall 0.654 -> 0.6984,
# ivf_pq_recall 0.5016 -> 0.5238, and the composed serving gate
# ivf_pq_auto_recall 0.5651 -> 0.6159 (clearing the 0.60 bar), with the
# exact-rerank gates flat (0.6349 / 0.7556 — rerank quality is bounded
# by the candidate shortlist, not ADC precision) for one extra
# assign/mean round of linear training cost.  A THIRD step was measured
# and rejected in the same round: pq_recall 0.6984 -> 0.6889 and
# ivf_pq_auto_recall 0.6159 -> 0.6095 both regress (only the capped
# fixed-cell gate inches up, 0.5238 -> 0.5397) — with K=64 codewords
# per 2-dim subspace the codebook is near its representational ceiling
# and further steps overfit the assignment to the quantized grid, so 2
# is the measured knee.  The loop below supports any count; the oracle
# unrolls the identical recurrence via _sql_lloyd_step.
PQ_LLOYD_STEPS = 2


def pq_codebook_refined(e: DataFrame) -> DataFrame:
    """(m, code_id, cq): the seed codebook after {PQ_LLOYD_STEPS} Lloyd
    steps.

    Each step assigns every subvector to its nearest codeword (the same
    integer-key argmin as pq_assign), then replaces each codeword with
    the floored integer mean of its assigned subvectors; codewords that
    attracted nothing keep their previous value.  The floored mean is
    computed with an explicit positive modulus — ``(s - ((s % n) + n)
    % n) div n`` — which pins FLOOR semantics explicitly for negative
    component sums: both engines' bare integer division TRUNCATES toward
    zero (verified -7 div 2 = -3 = DuckDB -7 // 2), which is not the
    floored mean on negatives; the remainder sign convention IS shared
    (dividend-signed) in both engines, so the formula is exact.

    Scale shape: assignment is the broadcast-join argmin (corpus never
    shuffles for it); the centroid update aggregates at (m, code) grain —
    M x K output rows — and each step's codebook checkpoint is 2048
    rows.  The exploded subvector table is checkpointed ONCE and reused
    by every step's two jobs.  Step count is a measured quality knob —
    see the PQ_LLOYD_STEPS comment for why it stays at 1; the oracle
    unrolls the identical recurrence."""
    cb = pq_codebook(e)
    sub = _subspaces(e).localCheckpoint(eager=True)
    aggs = [
        F.sum(F.element_at("sq", i + 1)).alias(f"s{i}") for i in range(PQ_SUB)
    ] + [F.count("*").alias("cnt")]
    comp = [
        F.expr(f"(s{i} - ((s{i} % cnt) + cnt) % cnt) div cnt")
        for i in range(PQ_SUB)
    ]
    for _ in range(PQ_LLOYD_STEPS):
        key = _d2("sq", "cq") * PQ_K + F.col("code_id")
        assigned = (
            sub.join(F.broadcast(cb), "m")
            .groupBy("vec_id", "m")
            .agg(F.min(key).alias("key"))
            .select("vec_id", "m", (F.col("key") % PQ_K).alias("code"))
        )
        means = (
            sub.join(assigned, ["vec_id", "m"])
            .groupBy("m", F.col("code").alias("code_id"))
            .agg(*aggs)
        )
        # 1024 rows; checkpoint so each step's broadcast reuses rows
        # instead of re-running all previous steps' training scans
        cb = (
            cb.join(F.broadcast(means), ["m", "code_id"], "left")
            .select(
                "m",
                "code_id",
                F.when(F.col("cnt").isNull(), F.col("cq"))
                .otherwise(F.array(*comp))
                .alias("cq"),
            )
            .localCheckpoint(eager=True)
        )
    return cb


def trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed codebook, session-cached (plans.shared): exactly
    M x K = 1024 rows by construction, while training it costs the
    module's most expensive scans (the exploded subvector checkpoint +
    one assign/mean round per Lloyd step).  Five serving/recall queries
    consume the identical codebook — the offline-trained artifact an ANN
    service loads, not a per-query computation."""
    return shared_intermediate(
        spark,
        sf_dir,
        "pq_codebook",
        lambda: pq_codebook_refined(_quantized(spark, sf_dir)),
    )


def pq_assign(e: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code, d2): nearest codeword per (vector, subspace).

    The argmin is min over the single integer key ``d2 * K + code_id`` —
    one deterministic comparison, ties to the lowest code_id.  The
    codebook side broadcasts; the corpus side never shuffles for the
    argmin itself (map-side join + partial min)."""
    key = _d2("sq", "cq") * PQ_K + F.col("code_id")
    return (
        _subspaces(e)
        .join(F.broadcast(cb), "m")
        .groupBy("vec_id", "m")
        .agg(F.min(key).alias("key"))
        .select(
            "vec_id",
            "m",
            (F.col("key") % PQ_K).alias("code"),
            F.expr(f"key div {PQ_K}").alias("d2"),
        )
    )


# ---- shared oracle fragments ----------------------------------------------

_SQL_QUANT = f"""
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))
             AS qv
    FROM embeddings
"""

_SQL_D2 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, {n} + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
    "(acc, x) -> acc + x)"
)

_SQL_FLOOR_MEAN = "({s} - (({s} % cnt) + cnt) % cnt) // cnt"

def _sql_lloyd_step(i: int) -> str:
    """CTEs for Lloyd step ``i``: assign against cb{i}, mean into
    cb{i+1} — the oracle unroll of one pq_codebook_refined iteration."""
    prev = f"cb{i}"
    return f"""
    assigned{i} AS (
      SELECT sub.vec_id, sub.m,
             min({_SQL_D2.format(n=PQ_SUB, a='sub.sq', b=f'{prev}.cq')}
                 * {PQ_K} + {prev}.code_id) AS key
      FROM sub JOIN {prev} ON sub.m = {prev}.m
      GROUP BY 1, 2
    ),
    means{i} AS (
      SELECT sub.m, assigned{i}.key % {PQ_K} AS code_id,
             {', '.join(
                 f'CAST(sum(sub.sq[{j + 1}]) AS BIGINT) AS s{j}'
                 for j in range(PQ_SUB))},
             CAST(count(*) AS BIGINT) AS cnt
      FROM sub JOIN assigned{i}
        ON sub.vec_id = assigned{i}.vec_id AND sub.m = assigned{i}.m
      GROUP BY 1, 2
    ),
    cb{i + 1} AS (
      SELECT {prev}.m, {prev}.code_id,
             CASE WHEN means{i}.cnt IS NULL THEN {prev}.cq ELSE
               [{', '.join(
                   _SQL_FLOOR_MEAN.format(s=f's{j}')
                   for j in range(PQ_SUB))}]
             END AS cq
      FROM {prev} LEFT JOIN means{i}
        ON {prev}.m = means{i}.m AND {prev}.code_id = means{i}.code_id
    )"""


_SQL_PQ_PRELUDE = f"""
    WITH q AS ({_SQL_QUANT}),
    ms AS (SELECT CAST(unnest(range({PQ_M})) AS BIGINT) AS m),
    st AS (SELECT greatest(1, count(*) // {PQ_K}) AS step FROM q),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
               AS code_id, qv
      FROM (SELECT q.vec_id, q.qv FROM q, st
            WHERE q.vec_id % st.step = 0
            ORDER BY q.vec_id LIMIT {PQ_K})
    ),
    cb0 AS (
      SELECT ms.m, seeds.code_id,
             list_slice(seeds.qv, ms.m * {PQ_SUB} + 1,
                        ms.m * {PQ_SUB} + {PQ_SUB}) AS cq
      FROM seeds CROSS JOIN ms
    ),
    sub AS (
      SELECT q.vec_id, ms.m,
             list_slice(q.qv, ms.m * {PQ_SUB} + 1,
                        ms.m * {PQ_SUB} + {PQ_SUB}) AS sq
      FROM q CROSS JOIN ms
    ),
    {','.join(_sql_lloyd_step(i) for i in range(PQ_LLOYD_STEPS))},
    cb AS (SELECT * FROM cb{PQ_LLOYD_STEPS}),
    assigned AS (
      SELECT sub.vec_id, sub.m,
             min({_SQL_D2.format(n=PQ_SUB, a='sub.sq', b='cb.cq')}
                 * {PQ_K} + cb.code_id) AS key
      FROM sub JOIN cb ON sub.m = cb.m
      GROUP BY 1, 2
    )
"""


_SQL_CODE_COLS = ",\n           ".join(
    f"CAST(max(CASE WHEN m = {m} THEN key % {PQ_K} END) AS BIGINT) AS code_{m}"
    for m in range(PQ_M)
)


@query(
    "similarity_pq_codes",
    oracle=f"""
    {_SQL_PQ_PRELUDE}
    SELECT vec_id,
           {_SQL_CODE_COLS},
           CAST(sum(key // {PQ_K}) AS BIGINT) AS qerr
    FROM assigned
    GROUP BY 1
    """,
)
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code assignment: each vector's 32 x 6-bit codes plus its total
    integer squared quantization error (the per-vector audit column a PQ
    rollout monitors, the analogue of similarity_quantize_int8's l2_err),
    against the Lloyd-trained codebook (pq_codebook_refined,
    PQ_LLOYD_STEPS steps).

    One broadcast join + two aggregates; the corpus shuffles once at
    (vec_id, m) grain carrying ~24 bytes/row.  At 100 TB the emitted
    codes ARE the stored index: 24 bytes/vector versus 256 for raw
    float32."""
    e = _quantized(spark, sf_dir)
    cb = trained_codebook(spark, sf_dir)
    a = pq_assign(e, cb)
    code_cols = [
        F.max(F.when(F.col("m") == m, F.col("code"))).alias(f"code_{m}")
        for m in range(PQ_M)
    ]
    return a.groupBy("vec_id").agg(*code_cols, F.sum("d2").alias("qerr"))


def _sql_adc_qb() -> str:
    """The flat ADC scan's absolute query-batch cap as an IN-set over
    the prelude's quantized view ``q`` — the same QUERY_BATCH_MAX rule
    the *_auto serving family uses (round 10: the uncapped 1/32 sample
    made the flat scan's pair work n^2/32, measured 33x at the 10x
    fixture; the cap restores |batch| x n ~ linear.  Below the cap —
    every bundled sf — the batch IS the full sample, hashes unchanged)."""
    return sql_query_batch(
        f"(SELECT vec_id FROM q WHERE vec_id % {PQ_QUERY_MOD} = 0)",
        QUERY_BATCH_MAX,
    )


@query(
    "similarity_pq_adc_topk",
    oracle=f"""
    {_SQL_PQ_PRELUDE},
    codes AS (
      SELECT vec_id, m, key % {PQ_K} AS code FROM assigned
    ),
    lut AS (
      SELECT sub.vec_id AS q_id, sub.m, cb.code_id,
             {_SQL_D2.format(n=PQ_SUB, a='sub.sq', b='cb.cq')} AS d2
      FROM sub JOIN cb ON sub.m = cb.m
      WHERE sub.vec_id % {PQ_QUERY_MOD} = 0
        AND sub.vec_id IN {_sql_adc_qb()}
    ),
    scored AS (
      SELECT lut.q_id, codes.vec_id AS neighbor_id,
             CAST(sum(lut.d2) AS BIGINT) AS adc_d2
      FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code_id
      WHERE codes.vec_id != lut.q_id
      GROUP BY 1, 2
    )
    SELECT q_id, neighbor_id, adc_d2, CAST(rnk AS INT) AS rank
    FROM (
      SELECT q_id, neighbor_id, adc_d2,
             row_number() OVER (
               PARTITION BY q_id ORDER BY adc_d2, neighbor_id
             ) AS rnk
      FROM scored
    ) WHERE rnk <= {PQ_NN_K}
    """,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k search over the PQ index: for a deterministic 1/32 query
    sample, build the per-query |M| x |K| exact-subspace-distance lookup
    table, score every stored code by M integer lookups, and rank the
    k nearest by approximate squared distance (ties to lowest id).

    Scale shape: the LUT is |queries| x M x K rows and BROADCASTS (each
    query contributes 64 longs); the stored-code table joins it on
    (m, code) — a map-side hash join — and one integer-sum aggregate at
    (q_id, neighbor_id) grain produces the scores.  The corpus's raw
    vectors are never touched at query time — only their 2-byte codes —
    which is exactly why PQ is the 100 TB scoring path.  The final top-k
    window runs at |queries| x n grain; for query fleets large enough to
    skew a reducer, swap in similarity_search_topk's salted two-level
    top-k (same contract).

    The query side is capped at the *_auto family's absolute
    QUERY_BATCH_MAX (round 10): uncapped, the 1/32 sample grows with
    the corpus FOREVER and the scan's pair work is n^2/32 — measured
    33x at the 10x fixture; the cap bounds it at |batch| x n above
    ~131k vectors, the honest LINEAR cost of a flat ADC sweep (the
    pinned-batch audit — SPARK_GRAFT_QUERY_BATCH_CAP=63 — measures the
    fixed-batch growth directly).  Below the cap — every bundled sf —
    the batch is the full sample, so results are unchanged."""
    e = _quantized(spark, sf_dir)
    cb = trained_codebook(spark, sf_dir)
    codes = pq_assign(e, cb).select("vec_id", "m", "code")
    sample = e.filter(F.pmod(F.col("vec_id"), F.lit(PQ_QUERY_MOD)) == 0)
    queries = sample.join(
        F.broadcast(query_batch_ids(sample)), "vec_id"
    )
    lut = (
        _subspaces(queries)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(cb), "m")
        .select("q_id", "m", "code_id", _d2("sq", "cq").alias("d2"))
    )
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.code_id),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.select(
            "q_id", "neighbor_id", "adc_d2", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= PQ_NN_K)
    )


def _exact_topk_ground_truth(
    spark: SparkSession, sf_dir: str, max_vec: int | None = None
) -> DataFrame:
    """(vec_id, neighbor_id): exact cosine top-{PQ_NN_K} for the
    deterministic 1/{PQ_QUERY_MOD} query sample — the ground truth every
    recall gate in this module (the five _recall_vs_exact callers)
    measures against.

    An index-quality dashboard computes this once per corpus snapshot
    and scores every index variant against it: the UNCAPPED truth is the
    1/{PQ_QUERY_MOD}, rank <= {PQ_NN_K} slice of similarity's shared
    sample truth (sample_exact_topk), the slot the LSH/IVF gates and the
    kNN family read too.

    ``max_vec``: restrict BOTH the query sample and the neighbor universe
    to vec_id < max_vec — the ground truth for the CAPPED fixed-cell
    baselines (their index only covers the capped corpus, so scoring them
    against uncapped truth would measure coverage, not quality, above the
    cap).  It is not a slice of the shared truth, so it takes its own
    session slot.  Below the cap — every bundled sf — the two truths are
    identical."""
    sampled = F.pmod(F.col("vec_id"), F.lit(PQ_QUERY_MOD)) == 0
    if max_vec is None:
        return (
            sample_exact_topk(spark, sf_dir, PQ_NN_K)
            .filter(sampled)
            .select("vec_id", "neighbor_id")
        )

    def build() -> DataFrame:
        e = with_norms(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < max_vec
            )
        )
        return exact_topk(e.filter(sampled), e, PQ_NN_K).select(
            "vec_id", "neighbor_id"
        )

    return shared_intermediate(
        spark, sf_dir, f"pq_exact_topk_lt{max_vec}", build
    )


def _recall_vs_exact(
    spark: SparkSession,
    sf_dir: str,
    ann: DataFrame,
    max_vec: int | None = None,
    batch_cap: bool = False,
    ann_bounded: bool = False,
) -> DataFrame:
    """One-row recall@k summary (similarity.recall_at_k) of ANY
    (vec_id, neighbor_id) ANN result against the exact cosine top-k for
    the deterministic 1/32 query sample — the Spark twin of
    _sql_recall_tail, shared by every recall query in this module.
    ``max_vec`` selects the capped ground truth — pass it for ANN
    results whose index covers only vec_id < max_vec.  ``batch_cap``
    restricts the exact side's QUERIES to the *_auto serving queries'
    QUERY_BATCH_MAX batch (a no-op below the cap): against the
    unrestricted sample, a batch-capped ANN result would be measured on
    coverage, not quality, above the cap.  ``ann_bounded`` is the
    caller's EXPLICIT assertion that the ``ann`` frame it supplies is
    bounded by construction (<= |capped query set| x k rows of two
    longs) and may broadcast into the hit join — the ext-side caps say
    nothing about the ann frame's size, so boundedness is declared where
    the frame is built, never inferred here (ADVICE r11)."""
    ext = _exact_topk_ground_truth(spark, sf_dir, max_vec=max_vec)
    if batch_cap:
        sampled = load_table(spark, sf_dir, "embeddings").filter(
            F.pmod(F.col("vec_id"), F.lit(PQ_QUERY_MOD)) == 0
        )
        ext = ext.join(
            F.broadcast(query_batch_ids(sampled)), "vec_id", "left_semi"
        )
    return recall_at_k(ext, ann, PQ_NN_K, bounded=ann_bounded)


# Exact-ground-truth CTEs (n -> ex -> ext): the DuckDB twin of
# _exact_topk_ground_truth, shared by every recall oracle in this module
# so the exact side is defined once.
def _sql_exact_topk_ctes(
    max_vec: int | None = None, batch_cap: bool = False
) -> str:
    """The n/ex/ext exact-ground-truth CTEs; ``max_vec`` emits the capped
    variant (queries AND neighbors restricted to vec_id < max_vec) — the
    DuckDB twin of _exact_topk_ground_truth(max_vec=...).  ``batch_cap``
    additionally restricts the query side to the *_auto serving batch
    (the _recall_vs_exact twin; no-op below QUERY_BATCH_MAX)."""
    src = "embeddings" if max_vec is None else (
        f"(SELECT * FROM embeddings WHERE vec_id < {max_vec})"
    )
    batch_pred = (
        " AND a.vec_id IN "
        + sql_query_batch(
            f"(SELECT vec_id FROM {src} WHERE vec_id % {PQ_QUERY_MOD} = 0)",
            QUERY_BATCH_MAX,
        )
        if batch_cap
        else ""
    )
    return f"""
    n AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_reduce(
               list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
      FROM {src}
    ),
    ex AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_reduce(
               list_prepend(0.0, list_transform(
                 range(1, length(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b
        ON a.vec_id % {PQ_QUERY_MOD} = 0 AND a.vec_id <> b.vec_id{batch_pred}
    ),
    ext AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM ex
      ) WHERE rnk <= {PQ_NN_K}
    )
"""


# Generic on-engine recall evaluation: compares an ``annq(vec_id,
# neighbor_id)`` CTE against the exact cosine top-k for the same
# deterministic query sample.  ``max_vec`` selects the capped ground
# truth for the fixed-cell baselines.
def _sql_recall_tail(
    max_vec: int | None = None, batch_cap: bool = False
) -> str:
    return f"""
    {_sql_exact_topk_ctes(max_vec, batch_cap)},
    perq AS (
      SELECT ext.vec_id, CAST(count(annq.neighbor_id) AS BIGINT) AS hits
      FROM ext LEFT JOIN annq
        ON ext.vec_id = annq.vec_id AND ext.neighbor_id = annq.neighbor_id
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({PQ_NN_K} AS BIGINT) AS k,
           {sql_round_half_up(
               f'CAST(sum(hits) AS DOUBLE) / ({PQ_NN_K}.0 * count(*))', 4)}
             AS macro_recall,
           {sql_round_half_up(
               f'CAST(sum(CASE WHEN hits = {PQ_NN_K} THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 4)}
             AS perfect_frac
    FROM perq
"""


@query(
    "similarity_pq_recall",
    oracle=f"""
    {_SQL_PQ_PRELUDE},
    codes AS (
      SELECT vec_id, m, key % {PQ_K} AS code FROM assigned
    ),
    lut AS (
      SELECT sub.vec_id AS q_id, sub.m, cb.code_id,
             {_SQL_D2.format(n=PQ_SUB, a='sub.sq', b='cb.cq')} AS d2
      FROM sub JOIN cb ON sub.m = cb.m
      WHERE sub.vec_id % {PQ_QUERY_MOD} = 0
        AND sub.vec_id IN {_sql_adc_qb()}
    ),
    scored AS (
      SELECT lut.q_id, codes.vec_id AS neighbor_id,
             CAST(sum(lut.d2) AS BIGINT) AS adc_d2
      FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code_id
      WHERE codes.vec_id != lut.q_id
      GROUP BY 1, 2
    ),
    annq AS (
      SELECT q_id AS vec_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY adc_d2, neighbor_id
               ) AS rnk
        FROM scored
      ) WHERE rnk <= {PQ_NN_K}
    ),
    {_sql_recall_tail(batch_cap=True)}
    """,
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC index against the exact cosine top-k for the
    same deterministic query sample — the quality dial for (M, K) tuning,
    mirroring similarity_recall_eval's contract for the sign-LSH index.

    The exact side restricts the D-dim fold to |sample| x n pairs (never
    the full cross product); the ADC side is the same broadcast-LUT
    scoring similarity_pq_adc_topk serves.  Note the two sides rank under
    different geometries (ADC = quantized L2, exact = cosine), so this
    measures the deployed index end to end, reconstruction loss
    included.  The evaluated query set is the flat scan's batch-capped
    sample (round 10, a no-op below QUERY_BATCH_MAX): against the
    unrestricted sample the gate would measure batch coverage above the
    cap, not index quality.  The ANN side takes a plans.shared snapshot
    slot (bounded at |batch| x k rows) like the sibling gates — a
    dashboard scores the SERVED answers, it does not re-run the scan
    per refresh."""
    ann = shared_intermediate(
        spark,
        sf_dir,
        "pq_adc_served",
        lambda: similarity_pq_adc_topk(spark, sf_dir),
    ).select(F.col("q_id").alias("vec_id"), "neighbor_id")
    return _recall_vs_exact(
        spark, sf_dir, ann, batch_cap=True, ann_bounded=True
    )


# --------------------------------------------------------------------------
# IVF + PQ: coarse cell pruning over compressed ADC scoring — the two
# index components composed into the canonical large-scale serving shape
# (FAISS's IVFADC layout, Jegou et al. TPAMI 2011 §V; this variant scores
# raw-vector PQ codes rather than residuals so both halves stay exactly
# the already-oracle-checked components).
# --------------------------------------------------------------------------


def _ivf_pq_scored(spark: SparkSession, sf_dir: str, auto_cells: bool = False):
    """The composed system's ADC-scored candidate pairs (q_id,
    neighbor_id, adc_d2).  Returns (scored, persisted): ``_adc_topk``
    ranks and checkpoints the top-k, then releases each frame in
    ``persisted``; the plan scripts read the pair itself.  Shared by
    similarity_ivf_pq (top-k straight off ADC) and the rerank paths
    (wider shortlist, exact rescore).

    ``auto_cells`` swaps the fixed {IVF_CELLS}-cell coarse layer for the
    corpus-sized cells = max(16, floor(sqrt(n))) rule (see
    similarity_ann_ivf_auto); the fine PQ layer is identical.  The
    fixed-cell path is the capped small-corpus baseline (vec_id <
    FIXED_CELL_MAX_VECTORS on both engines — constant cells make in-cell
    pair work n^2/cells, measured 5.9x at the 10x fixture; below the cap,
    i.e. every bundled sf, results are unchanged); auto is uncapped."""
    # ---- coarse layer: cosine cells (auto: Lloyd-refined + two-level) ----
    sampled = F.pmod(F.col("vec_id"), F.lit(PQ_QUERY_MOD)) == 0
    if auto_cells:
        # The shared *_auto index value, probed at max(6, 3*isqrt(cells))
        # cells: PQ loss stacks on IVF pruning (similarity.py's
        # IVFPQ_AUTO_NPROBE_* rationale).  The query batch is capped
        # ABSOLUTELY at the QUERY_BATCH_MAX lowest sample ids (mirrored
        # in the oracle; the full sample at every bundled sf): an
        # uncapped 1/PQ_QUERY_MOD sample re-grows total probe work
        # ~n^(7/4) once nprobe scales (round-7 audit: 8.5x at 10x).
        index = ivf_auto_index(spark, sf_dir)
        qb = query_batch_ids(index.raw.filter(sampled))
        nprobe = auto_nprobe(
            index.cells, IVFPQ_AUTO_NPROBE_MULT, IVFPQ_AUTO_NPROBE_MIN
        )
        probes = probe(index, qb, nprobe)
        members, persisted = index.members, [index.e]
    else:
        n = with_norms(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < FIXED_CELL_MAX_VECTORS
            )
        ).persist()
        cents = (
            n.orderBy("vec_id")
            .limit(IVF_CELLS)
            .select(
                F.col("vec_id").alias("cent_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cnrm"),
            )
        )
        ranked = ivf_assignment(n, cents, IVFPQ_NPROBE).persist()
        members = ranked.filter(F.col("rk") == 1).select("vec_id", "cent_id")
        probes = ranked.filter(sampled).select("vec_id", "cent_id")
        persisted = [ranked, n]
    # probes is bounded on both paths (auto: QUERY_BATCH_MAX batch;
    # fixed: 1/PQ_QUERY_MOD sample of the capped corpus): broadcast it
    # so the member table never shuffles for the probe (guide §3.1)
    cand = cell_candidates(F.broadcast(probes), members).withColumnRenamed(
        "vec_id", "q_id"
    )

    # ---- fine layer: PQ codes + per-query LUT (trained codebook) ----
    e = _quantized(spark, sf_dir)
    cb = trained_codebook(spark, sf_dir)
    codes = pq_assign(e, cb).select(
        F.col("vec_id").alias("neighbor_id"), "m", "code"
    )
    queries_q = e.filter(sampled)
    if auto_cells:
        queries_q = queries_q.join(F.broadcast(qb), "vec_id")
    lut = (
        _subspaces(queries_q)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(cb), "m")
        .select("q_id", "m", "code_id", _d2("sq", "cq").alias("d2"))
    )
    scored = (
        cand.join(codes, "neighbor_id")
        .join(
            F.broadcast(lut),
            (cand.q_id == lut.q_id)
            & (codes.m == lut.m)
            & (codes.code == lut.code_id),
        )
        .groupBy(cand.q_id, "neighbor_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    return scored, persisted


def _adc_topk(
    spark: SparkSession, sf_dir: str, k: int, auto_cells: bool = False
) -> DataFrame:
    """(q_id, neighbor_id, adc_d2, rank): the composed system's ADC
    top-``k`` per query, ranked by (adc_d2, neighbor_id) — the one
    rank -> checkpoint -> release step of the IVF+PQ queries.
    ``_finalize`` checkpoints the small result, then unpersists the
    frames ``_ivf_pq_scored`` persisted."""
    scored, persisted = _ivf_pq_scored(spark, sf_dir, auto_cells)
    w = Window.partitionBy("q_id").orderBy("adc_d2", "neighbor_id")
    topk = scored.select(
        "q_id", "neighbor_id", "adc_d2", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)
    return _finalize(topk, *persisted)


@query(
    "similarity_ivf_pq",
    oracle=None,  # assembled below from the PQ prelude + the IVF CTEs
)
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving with BOTH index layers: assign every vector to its
    nearest of 16 coarse cells (broadcast argmax, corpus never shuffles),
    then answer each sampled query by ADC-scoring ONLY the PQ codes
    inside its {IVFPQ_NPROBE} probed cells — the candidate set shrinks
    by ~nprobe/cells before any distance work, and the scored payload is
    24-byte codes, not vectors.

    At 100 TB this is the architecture that serves: the cell assignment
    and code tables are both written once at index-build; a query fleet
    broadcasts (probes, LUT) and touches a quarter of the code table.
    Cost vs similarity_pq_adc_topk: the scored pair count drops ~4x for the
    price of the coarse probe — recall loss is exactly the IVF pruning
    (vectors whose true neighbors live outside the probed cells)."""
    return with_n_indexed(
        _adc_topk(spark, sf_dir, PQ_NN_K),
        load_table(spark, sf_dir, "embeddings"),
        FIXED_CELL_MAX_VECTORS,
    )


def _sql_ivf_pq_ctes(auto_cells: bool = False) -> str:
    # The auto path's absolute query-batch cap (the Spark twin joins
    # query_batch_ids): the QUERY_BATCH_MAX lowest ids of the 1/MOD
    # sample.  Below the cap — every bundled sf — the IN-set is the full
    # sample, so the predicate is a no-op and hashes are unchanged.
    qb_sample = (
        f"(SELECT vec_id FROM embeddings "
        f"WHERE vec_id % {PQ_QUERY_MOD} = 0)"
    )
    qb_set = sql_query_batch(qb_sample, QUERY_BATCH_MAX)
    qb_pred_lut = f" AND sub.vec_id IN {qb_set}" if auto_cells else ""
    if auto_cells:
        # Round-9 coarse layer: Lloyd-refined centroids + two-level
        # member assignment (sql_two_level_cells_cte over nv emits
        # cents/members); the bounded query batch ranks ALL cells.
        nprobe_sql = sql_auto_nprobe(
            IVFPQ_AUTO_NPROBE_MULT, IVFPQ_AUTO_NPROBE_MIN
        )
        coarse_sql = f"""{sql_two_level_cells_cte('nv')},
    mem AS (SELECT vec_id AS neighbor_id, cent_id FROM members),
    probes AS (
      SELECT vec_id AS q_id, cent_id FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_SQL_IVF_DOT.format(a='a.v', b='c.cv')} / (a.nrm * c.cnrm)
                   DESC, c.cent_id) AS rk
        FROM nv a CROSS JOIN cents c
        WHERE a.vec_id % {PQ_QUERY_MOD} = 0 AND a.vec_id IN {qb_set}
      ) WHERE rk <= {nprobe_sql}
    )"""
        nv_sql = _SQL_NORMED
    else:
        coarse_sql = f"""cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM nv ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    ac AS (
      SELECT nv.vec_id, c.cent_id,
             {_SQL_IVF_DOT.format(a='nv.v', b='c.cv')} / (nv.nrm * c.cnrm) AS cos
      FROM nv CROSS JOIN cents c
    ),
    rankedc AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id)
               AS rk
      FROM ac
    ),
    mem AS (SELECT vec_id AS neighbor_id, cent_id FROM rankedc WHERE rk = 1),
    probes AS (
      SELECT vec_id AS q_id, cent_id FROM rankedc
      WHERE rk <= {IVFPQ_NPROBE} AND vec_id % {PQ_QUERY_MOD} = 0
    )"""
        nv_sql = (
            f"SELECT * FROM ({_SQL_NORMED}) "
            f"WHERE vec_id < {FIXED_CELL_MAX_VECTORS}"
        )

    return f"""
    {_SQL_PQ_PRELUDE},
    codes AS (
      SELECT vec_id AS neighbor_id, m, key % {PQ_K} AS code FROM assigned
    ),
    nv AS ({nv_sql}),
    {coarse_sql},
    cand AS (
      SELECT DISTINCT p.q_id, mem.neighbor_id
      FROM probes p JOIN mem ON p.cent_id = mem.cent_id
      WHERE p.q_id != mem.neighbor_id
    ),
    lut AS (
      SELECT sub.vec_id AS q_id, sub.m, cb.code_id,
             {_SQL_D2.format(n=PQ_SUB, a='sub.sq', b='cb.cq')} AS d2
      FROM sub JOIN cb ON sub.m = cb.m
      WHERE sub.vec_id % {PQ_QUERY_MOD} = 0{qb_pred_lut}
    ),
    scored AS (
      SELECT c.q_id, c.neighbor_id, CAST(sum(lut.d2) AS BIGINT) AS adc_d2
      FROM cand c
      JOIN codes ON codes.neighbor_id = c.neighbor_id
      JOIN lut ON lut.q_id = c.q_id AND lut.m = codes.m
              AND lut.code_id = codes.code
      GROUP BY 1, 2
    )
    """


def _sql_ivf_pq() -> str:
    return f"""
    {_sql_ivf_pq_ctes()}
    SELECT q_id, neighbor_id, adc_d2, CAST(rnk AS INT) AS rank,
           {sql_n_indexed(FIXED_CELL_MAX_VECTORS)} AS n_indexed
    FROM (
      SELECT q_id, neighbor_id, adc_d2,
             row_number() OVER (
               PARTITION BY q_id ORDER BY adc_d2, neighbor_id
             ) AS rnk
      FROM scored
    ) WHERE rnk <= {PQ_NN_K}
    """


_PQ_ORACLES["similarity_ivf_pq"] = _sql_ivf_pq()


@query("similarity_ivf_pq_auto", oracle=None)  # assembled below
def similarity_ivf_pq_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_ivf_pq with the coarse layer SIZED FROM THE CORPUS:
    cells = max(16, floor(sqrt(n))) — the third and last fixed-cell
    operator closed by the sizing rule (after similarity_ann_ivf_auto
    and dedup_semantic_auto).  The composed system's scale term is the
    candidate mass |batch| x nprobe x n/cells: with a query batch that
    scales with the corpus and cells FIXED, that is ~n^2; cells ~ sqrt(n)
    cuts it, but a FRACTIONAL batch (1/{PQ_QUERY_MOD} of the corpus)
    still re-grows ~n^(7/4) once nprobe scales — so the batch is capped
    ABSOLUTELY at QUERY_BATCH_MAX (the lowest sample ids, mirrored in
    the oracle; below the cap — every bundled sf — it is the full
    sample).  The registered query now prices exactly what a deployment
    runs: a bounded batch at ~n^(3/4) per query against the uncapped
    sqrt-cell index.  The fine PQ layer (trained codebook, 24-byte
    codes, per-query LUT) is byte-identical to the fixed-cell twin —
    sizing moves only WHERE candidates come from."""
    return _adc_topk(spark, sf_dir, PQ_NN_K, auto_cells=True)


def _sql_ivf_pq_auto() -> str:
    return f"""
    {_sql_ivf_pq_ctes(auto_cells=True)}
    SELECT q_id, neighbor_id, adc_d2, CAST(rnk AS INT) AS rank
    FROM (
      SELECT q_id, neighbor_id, adc_d2,
             row_number() OVER (
               PARTITION BY q_id ORDER BY adc_d2, neighbor_id
             ) AS rnk
      FROM scored
    ) WHERE rnk <= {PQ_NN_K}
    """


_PQ_ORACLES["similarity_ivf_pq_auto"] = _sql_ivf_pq_auto()


@query("similarity_ivf_pq_recall", oracle=None)  # assembled below
def similarity_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the COMPOSED serving system (IVF cell pruning + PQ/ADC
    scoring) against the exact cosine top-k — the end-to-end quality
    number a deployment quotes, folding in BOTH loss sources: neighbors
    outside the probed cells (IVF pruning) and code-reconstruction error
    (PQ).  similarity_recall_eval isolates the candidate layer and
    similarity_pq_recall the compression layer; this closes the
    triangle.  Tracked per round in the bench summary line.

    Measured against the CAPPED ground truth (vec_id <
    FIXED_CELL_MAX_VECTORS, matching the capped fixed-cell index) so it
    reports index QUALITY at any scale — against uncapped truth, queries
    above the cap would get zero candidates by construction and the
    number would measure coverage instead.  Below the cap (every bundled
    sf) the two truths are identical."""
    ann = similarity_ivf_pq(spark, sf_dir).select(
        F.col("q_id").alias("vec_id"), "neighbor_id"
    )
    return _recall_vs_exact(
        spark, sf_dir, ann, max_vec=FIXED_CELL_MAX_VECTORS,
        ann_bounded=True,
    )


def _sql_ivf_pq_recall(auto_cells: bool = False) -> str:
    """The fixed-cell gate scores against the capped truth, the auto
    gate against the batch-capped one."""
    cap = None if auto_cells else FIXED_CELL_MAX_VECTORS
    return f"""
    {_sql_ivf_pq_ctes(auto_cells=auto_cells)},
    annq AS (
      SELECT q_id AS vec_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY adc_d2, neighbor_id
               ) AS rnk
        FROM scored
      ) WHERE rnk <= {PQ_NN_K}
    ),
    {_sql_recall_tail(cap, batch_cap=auto_cells)}
    """


_PQ_ORACLES["similarity_ivf_pq_recall"] = _sql_ivf_pq_recall()


@query("similarity_ivf_pq_auto_recall", oracle=None)  # assembled below
def similarity_ivf_pq_auto_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SCALE-PATH serving system (sqrt-sized IVF cells +
    PQ/ADC) against the exact cosine top-k — the quality gate that keeps
    the sizing rule honest: similarity_ivf_pq_recall tracks the capped
    fixed-cell baseline, this tracks the uncapped cells =
    max(16, floor(sqrt(n))) variant a 100 TB deployment actually runs.
    More cells at fixed nprobe prune harder, so this bound is expected
    at-or-below the fixed-cell recall at small n and is the number to
    watch when tuning nprobe upward with corpus growth.  The served
    output is BOUNDED (<= QUERY_BATCH_MAX x k rows), so it takes a
    plans.shared session slot: the gate re-reads the index's answers
    instead of rebuilding the index when the serving query already ran
    this session."""
    ann = shared_intermediate(
        spark,
        sf_dir,
        "ivf_pq_auto_served",
        lambda: similarity_ivf_pq_auto(spark, sf_dir),
    ).select(F.col("q_id").alias("vec_id"), "neighbor_id")
    return _recall_vs_exact(
        spark, sf_dir, ann, batch_cap=True, ann_bounded=True
    )


_PQ_ORACLES["similarity_ivf_pq_auto_recall"] = _sql_ivf_pq_recall(
    auto_cells=True
)


# --------------------------------------------------------------------------
# IVF + PQ + exact re-rank: the full two-stage serving stack.  ADC keeps a
# wider shortlist, then the TRUE vectors rescore only those pairs — the
# standard production recipe (FAISS refine / IndexRefineFlat) that buys
# back most of the compression + pruning recall loss for a per-query cost
# of RERANK_POOL exact distance evaluations.
# --------------------------------------------------------------------------
# ADC shortlist width fed to the exact re-ranker.  Measured at sf0.1:
# 32 -> 0.473 recall@5, 64 -> 0.4857, 96 -> 0.4857 (saturated — the
# remaining misses are outside ADC's ranking entirely), at equal warm
# cost; 64 is the knee.
RERANK_POOL = 64


def _reranked(
    spark: SparkSession, sf_dir: str, auto_cells: bool = False
) -> DataFrame:
    """(vec_id, neighbor_id, cos_sim, rank): the ADC top-{RERANK_POOL}
    shortlist rescored by exact cosine, top-{PQ_NN_K} — the second stage
    both rerank paths share.  The shortlist is bounded by construction
    (<= |query batch| x RERANK_POOL rows of two longs), so it broadcasts
    against the corpus neighbor side with the shortlist-derived query
    vectors: the exact rescore never shuffles the corpus (r12)."""
    shortlist = _adc_topk(spark, sf_dir, RERANK_POOL, auto_cells).select(
        F.col("q_id").alias("vec_id"), "neighbor_id"
    )
    e = with_norms(load_table(spark, sf_dir, "embeddings"))
    return _rank_topk(
        candidate_cosines(e, shortlist, cand_bounded=True), PQ_NN_K
    )


@query("similarity_ivf_pq_rerank", oracle=None)  # assembled below
def similarity_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage serving: the composed IVF+PQ system keeps its ADC top-
    {RERANK_POOL} per query (cheap, compressed), then the exact cosine
    rescores ONLY that shortlist and the final top-{PQ_NN_K} ranks on
    the true geometry.  The exact stage touches RERANK_POOL true vectors per
    query — a bounded, broadcastable join — so the 100 TB cost profile
    is still ADC's, while the ranking error of quantized-L2-vs-cosine
    affects only candidates BELOW the shortlist boundary."""
    return with_n_indexed(
        _reranked(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        FIXED_CELL_MAX_VECTORS,
    )


def _sql_rerank_ctes(auto_cells: bool = False) -> str:
    return f"""
    {_sql_ivf_pq_ctes(auto_cells=auto_cells)},
    shortlist AS (
      SELECT q_id AS vec_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY adc_d2, neighbor_id
               ) AS rnk
        FROM scored
      ) WHERE rnk <= {RERANK_POOL}
    ),
    rcos AS (
      SELECT s.vec_id, s.neighbor_id,
             list_reduce(
               list_prepend(0.0, list_transform(
                 range(1, length(x.v) + 1), i -> x.v[i] * y.v[i])),
               (acc, q) -> acc + q) / (x.nrm * y.nrm) AS cos
      FROM shortlist s
      JOIN nv x ON x.vec_id = s.vec_id
      JOIN nv y ON y.vec_id = s.neighbor_id
    )
    """


_PQ_ORACLES["similarity_ivf_pq_rerank"] = f"""
    {_sql_rerank_ctes()}
    SELECT vec_id, neighbor_id,
           {sql_round_half_up('cos', 4)} AS cos_sim, CAST(rnk AS INT) AS rank,
           {sql_n_indexed(FIXED_CELL_MAX_VECTORS)} AS n_indexed
    FROM (
      SELECT vec_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
             ) AS rnk
      FROM rcos
    ) WHERE rnk <= {PQ_NN_K}
    """


@query("similarity_rerank_recall", oracle=None)  # assembled below
def similarity_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the FULL two-stage stack (IVF probe -> ADC shortlist
    -> exact re-rank) against the exact top-k — the number that shows
    what re-ranking buys back over similarity_ivf_pq_recall's raw
    composition.  Tracked per round in the bench summary line.
    Measured against the CAPPED ground truth (see
    similarity_ivf_pq_recall) — the rerank stack serves the capped
    fixed-cell index, so its quality gate must share that corpus."""
    ann = similarity_ivf_pq_rerank(spark, sf_dir).select(
        "vec_id", "neighbor_id"
    )
    return _recall_vs_exact(
        spark, sf_dir, ann, max_vec=FIXED_CELL_MAX_VECTORS,
        ann_bounded=True,
    )


def _sql_rerank_recall(auto_cells: bool = False) -> str:
    """Capped truth for the fixed-cell stack, batch-capped for auto."""
    cap = None if auto_cells else FIXED_CELL_MAX_VECTORS
    return f"""
    {_sql_rerank_ctes(auto_cells=auto_cells)},
    annq AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM rcos
      ) WHERE rnk <= {PQ_NN_K}
    ),
    {_sql_recall_tail(cap, batch_cap=auto_cells)}
    """


_PQ_ORACLES["similarity_rerank_recall"] = _sql_rerank_recall()


@query("similarity_auto_rerank_recall", oracle=None)  # assembled below
def similarity_auto_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the COMPLETE SCALE-PATH serving stack — sqrt-sized IVF
    cells + corpus-scaled nprobe (max(6, 3*isqrt(cells))) + PQ/ADC
    shortlist + exact re-rank — against the exact cosine top-k, UNCAPPED.
    similarity_rerank_recall tracks the capped fixed-cell stack; this is
    the number a 100 TB deployment actually quotes: the sizing rules
    decide WHERE candidates come from, ADC compresses the scoring, and
    the RERANK_POOL-deep exact rescore buys back quantization error.
    Closing the symmetry also keeps the nprobe rule honest end-to-end —
    a probe count tuned only for the un-reranked gate could overfit it."""
    ann = _reranked(spark, sf_dir, auto_cells=True).select(
        "vec_id", "neighbor_id"
    )
    return _recall_vs_exact(
        spark, sf_dir, ann, batch_cap=True, ann_bounded=True
    )


_PQ_ORACLES["similarity_auto_rerank_recall"] = _sql_rerank_recall(
    auto_cells=True
)


# --------------------------------------------------------------------------
# kNN label-vote classification over the exact neighbor ground truth — the
# weak-labeling / label-propagation primitive of a training-data pipeline
# (label new or unlabeled documents by their nearest labeled neighbors)
# evaluated here as leave-self-out accuracy on the deterministic query
# sample.
# --------------------------------------------------------------------------


# kNN-classify label derivation: the stored `label` column of the
# synthetic embeddings carries NO geometric signal (kNN accuracy on it is
# exactly chance, useless as a quality tracker), so the classifier target
# is DERIVED from the geometry itself: label = argmax of the first
# KNN_LABEL_DIMS components (ties -> lowest index; pure comparisons on
# identical float32 values, so bit-reproducible cross-engine).  Cosine
# neighbors share dominant components, so measured accuracy sits ~2.8x
# above the 1/8 chance line (0.35 vs 0.125 at sf0.1) — real drift in the
# neighbor pipeline now moves the tracked metric.
KNN_LABEL_DIMS = 8


# kNN sweep grid (similarity_knn_sweep prices every config off one
# superset) and the integer vote weight: floor(cos * 10000 + 0.5) — the
# same half-up 4-decimal quantization every cosine rank in this module
# uses, kept as an exact BIGINT so weighted-vote sums are bit-reproducible
# cross-engine (summing raw doubles would differ in ulps by add order).
KNN_SWEEP_KS = (1, 3, 5, 9)
KNN_WEIGHT_SCALE = 10_000
# Served kNN configuration: round 8's sweep (similarity_knn_sweep) priced
# k x vote-rule off one superset and measured weighted@9 = 0.4127 vs the
# then-served majority@5's 0.3492 at sf0.1 — nearer neighbors deserve more
# weight and k=5 was too small.  Round 9 adopts the measured winner as THE
# served config (VERDICT r8 #3); the sweep stays registered so future
# drift away from weighted@9 is visible in bench's knn_best_* fields.
KNN_SERVE_K = max(KNN_SWEEP_KS)


def _sql_knn_superset_ctes() -> str:
    """n/ex/ext CTEs for the served top-{KNN_SERVE_K} superset with rank
    and integer weight — the DuckDB twin of _knn_neighbors, shared
    by the served classifier/regressor and the sweep oracle."""
    return f"""n AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_reduce(
               list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
      FROM embeddings
    ),
    ex AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_reduce(
               list_prepend(0.0, list_transform(
                 range(1, length(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b
        ON a.vec_id % {PQ_QUERY_MOD} = 0 AND a.vec_id <> b.vec_id
    ),
    ext AS (
      SELECT vec_id, neighbor_id, rnk,
             CAST(floor(cos * {KNN_WEIGHT_SCALE} + 0.5) AS BIGINT) AS wt
      FROM (
        SELECT vec_id, neighbor_id, cos,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up('cos', 4)} DESC, neighbor_id
               ) AS rnk
        FROM ex
      ) WHERE rnk <= {KNN_SERVE_K}
    )"""


@query(
    "similarity_knn_classify",
    oracle=f"""
    WITH {_sql_knn_superset_ctes()},
    labs AS (
      SELECT vec_id,
             CAST(list_position(embedding[1:{KNN_LABEL_DIMS}],
                  list_max(embedding[1:{KNN_LABEL_DIMS}])) - 1 AS BIGINT)
               AS label
      FROM embeddings
    ),
    votes AS (
      SELECT ext.vec_id, labs.label AS nlabel,
             CAST(sum(ext.wt) AS BIGINT) AS ws
      FROM ext JOIN labs ON ext.neighbor_id = labs.vec_id
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT vec_id, nlabel AS pred FROM (
        SELECT vec_id, nlabel,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY ws DESC, nlabel
               ) AS rnk
        FROM votes
      ) WHERE rnk = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({KNN_SERVE_K} AS BIGINT) AS k,
           {sql_round_half_up(
               'CAST(sum(CASE WHEN pred.pred = labs.label THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 4)}
             AS accuracy
    FROM pred JOIN labs ON pred.vec_id = labs.vec_id
    """,
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-vote classifier SERVING THE SWEPT WINNER: predict each
    sampled vector's geometry-derived label (argmax of the first
    {KNN_LABEL_DIMS} embedding components — see KNN_LABEL_DIMS above for
    why the stored label column is unusable) as the DISTANCE-WEIGHTED
    vote of its exact top-{KNN_SERVE_K} cosine neighbors — integer
    cosine weights (floor(cos x {KNN_WEIGHT_SCALE} + 0.5), exact
    cross-engine sums), ties to the lowest label, leave-self-out.
    Round 8's similarity_knn_sweep measured this config at 0.4127
    accuracy vs the previously-served majority@{PQ_NN_K}'s 0.3492; the
    sweep remains registered so bench's knn_best_* fields would expose
    any future config drift.

    Scale shape: the neighbor lists come from the session-cached exact
    top-{KNN_SERVE_K} superset (|sample| x k rows — in production, from
    the served ANN index, same contract); labels join in at neighbor
    grain, weighted votes aggregate at (query, label) grain, and the
    argmax window partitions by query — every stage is bounded by
    |sample| x k."""
    ext = _knn_neighbors(spark, sf_dir)
    sl = F.slice("embedding", 1, KNN_LABEL_DIMS)
    labs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.array_position(sl, F.array_max(sl)) - 1)
        .cast("long")
        .alias("label"),
    )
    votes = (
        ext.join(
            labs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "nlabel")
        .agg(F.sum("wt").alias("ws"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ws").desc(), "nlabel")
    pred = (
        votes.select(
            "vec_id", "nlabel", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("nlabel").alias("pred"))
    )
    return pred.join(labs, "vec_id").agg(
        F.count("*").alias("n_queries"),
        F.lit(KNN_SERVE_K).cast("long").alias("k"),
        round_half_up(
            F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
            .cast("double")
            / F.count("*").cast("double"),
            4,
        ).alias("accuracy"),
    )


# kNN regression target: the first embedding component in integer micro
# units — like the classifier's derived label, a geometry-correlated
# target (neighbors share dominant components), so the tracked MAE sits
# well below the blind-guess baseline and detects neighbor-quality drift.
KNN_REG_SCALE = 1_000_000


@query(
    "similarity_knn_regression",
    oracle=f"""
    WITH {_sql_knn_superset_ctes()},
    tgt AS (
      SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * {KNN_REG_SCALE})
                  AS BIGINT) AS t
      FROM embeddings
    ),
    pred AS (
      SELECT ext.vec_id,
             CAST(sum(GREATEST(ext.wt, 1) * nt.t) AS BIGINT)
               // CAST(sum(GREATEST(ext.wt, 1)) AS BIGINT) AS pred
      FROM ext JOIN tgt nt ON ext.neighbor_id = nt.vec_id
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({KNN_SERVE_K} AS BIGINT) AS k,
           CAST(sum(abs(pred.pred - tgt.t)) // count(*) AS BIGINT)
             AS mae_micro
    FROM pred JOIN tgt ON pred.vec_id = tgt.vec_id
    """,
)
def similarity_knn_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN regression SERVING THE SWEPT CONFIG: predict each sampled
    vector's first embedding component (quantized to integer
    micro-units) as the DISTANCE-WEIGHTED truncated mean of its exact
    top-{KNN_SERVE_K} cosine neighbors' components — the same
    weighted@{KNN_SERVE_K} rule round 8's sweep measured best for the
    classifier, applied to its value-propagation twin (impute a numeric
    field from embedding neighbors: quality scores, toxicity,
    timestamps).  Each weight is the classifier's integer cosine weight
    CLAMPED to >= 1 (GREATEST(wt, 1), both engines): cosines can be
    negative in this corpus, and an unclamped weight sum could reach
    zero — the clamp keeps the divisor positive and every neighbor
    minimally counted, and is a no-op for the positive-cosine neighbors
    that dominate every top-k list.

    Every arithmetic step is integer (quantize -> weight -> sum ->
    truncating div; DuckDB's // and Spark's div both truncate toward
    zero), so the MAE is bit-reproducible.  Scale shape: identical to
    the classifier — neighbor lists from the session-cached exact
    top-{KNN_SERVE_K} superset (in production, the served ANN index),
    one join at neighbor grain, one bounded aggregate per query."""
    ext = _knn_neighbors(spark, sf_dir)
    tgt = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.floor(F.col("embedding")[0].cast("double") * KNN_REG_SCALE)
        .cast("long")
        .alias("t"),
    )
    pred = (
        ext.join(
            tgt.select(
                F.col("vec_id").alias("neighbor_id"), F.col("t").alias("nt")
            ),
            "neighbor_id",
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "CAST(sum(GREATEST(wt, 1) * nt) AS BIGINT)"
                " div CAST(sum(GREATEST(wt, 1)) AS BIGINT)"
            ).alias("pred")
        )
    )
    return pred.join(tgt, "vec_id").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(KNN_SERVE_K).cast("long").alias("k"),
        F.expr(
            "CAST(sum(abs(pred - t)) div count(*) AS BIGINT)"
        ).alias("mae_micro"),
    )


# --------------------------------------------------------------------------
# kNN configuration sweep: price k and the vote rule from ONE candidate
# superset — the nprobe_sweep pattern applied to the classifier (the one
# tracked quality metric no round had moved: majority@5 = 0.3492 at
# sf0.1 since round 4).  One exact top-max(k) pass serves every (k,
# weighting) configuration; a deployment reads the table top-down to
# pick the operating point.
# --------------------------------------------------------------------------
def _knn_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, neighbor_id, rank, wt): exact cosine top-{KNN_SERVE_K}
    per 1/{PQ_QUERY_MOD}-sampled query with its integer vote weight —
    the one candidate superset every kNN configuration slices, read from
    similarity's shared sample truth (sample_exact_topk).  The weight
    derives from the RAW cosine, floor(cos x {KNN_WEIGHT_SCALE} + 0.5),
    as the oracle's does — not from the 4-decimal rounded value."""
    return (
        sample_exact_topk(spark, sf_dir, KNN_SERVE_K)
        .filter(F.pmod(F.col("vec_id"), F.lit(PQ_QUERY_MOD)) == 0)
        .select(
            "vec_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * KNN_WEIGHT_SCALE + F.lit(0.5))
            .cast("long")
            .alias("wt"),
        )
    )


@query(
    "similarity_knn_sweep",
    oracle=f"""
    WITH {_sql_knn_superset_ctes()},
    labs AS (
      SELECT vec_id,
             CAST(list_position(embedding[1:{KNN_LABEL_DIMS}],
                  list_max(embedding[1:{KNN_LABEL_DIMS}])) - 1 AS BIGINT)
               AS label
      FROM embeddings
    ),
    ks AS (SELECT unnest([{', '.join(str(k) for k in KNN_SWEEP_KS)}]) AS k),
    votes AS (
      SELECT ks.k, ext.vec_id, labs.label AS nlabel,
             CAST(count(*) AS BIGINT) AS c, CAST(sum(ext.wt) AS BIGINT) AS ws
      FROM ext
      JOIN labs ON ext.neighbor_id = labs.vec_id
      JOIN ks ON ext.rnk <= ks.k
      GROUP BY 1, 2, 3
    ),
    pm AS (
      SELECT k, vec_id, nlabel AS pred FROM (
        SELECT k, vec_id, nlabel,
               row_number() OVER (
                 PARTITION BY k, vec_id ORDER BY c DESC, nlabel
               ) AS rn
        FROM votes
      ) WHERE rn = 1
    ),
    pw AS (
      SELECT k, vec_id, nlabel AS pred FROM (
        SELECT k, vec_id, nlabel,
               row_number() OVER (
                 PARTITION BY k, vec_id ORDER BY ws DESC, nlabel
               ) AS rn
        FROM votes
      ) WHERE rn = 1
    ),
    preds AS (
      SELECT 'majority' AS method, k, vec_id, pred FROM pm
      UNION ALL
      SELECT 'weighted' AS method, k, vec_id, pred FROM pw
    )
    SELECT CAST(preds.k AS INT) AS k, preds.method,
           CAST(count(*) AS BIGINT) AS n_queries,
           {sql_round_half_up(
               'CAST(sum(CASE WHEN preds.pred = labs.label THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 4)}
             AS accuracy
    FROM preds JOIN labs ON preds.vec_id = labs.vec_id
    GROUP BY 1, 2
    """,
)
def similarity_knn_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier configuration sweep: leave-self-out accuracy of
    the geometry-derived-label vote (see similarity_knn_classify) for
    every (k, vote rule) in {KNN_SWEEP_KS} x (majority,
    distance-weighted) — one row per configuration, all priced from ONE
    exact top-{max(KNN_SWEEP_KS)} candidate superset (the nprobe_sweep
    pattern: a configuration's neighbor set is just rnk <= k, so no
    per-k re-scoring).  The weighted rule votes with the quantized
    cosine itself (integer weights, exact cross-engine sums) — nearer
    neighbors count more, the standard fix when the far tail of a large
    k dilutes the majority.

    Scale shape: the superset is the session-cached |sample| x k_max
    frame (in production, the served ANN index's output); the level
    table is a {len(KNN_SWEEP_KS)}-row broadcast; votes aggregate at
    (k, query, label) grain — every stage bounded by |sample| x k_max x
    |ks|."""
    ext = _knn_neighbors(spark, sf_dir)
    sl = F.slice("embedding", 1, KNN_LABEL_DIMS)
    labs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.array_position(sl, F.array_max(sl)) - 1)
        .cast("long")
        .alias("label"),
    )
    levels = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(k)) for k in KNN_SWEEP_KS])
        ).alias("k")
    )
    votes = (
        ext.join(
            labs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(levels), F.col("rank") <= F.col("k"))
        .groupBy("k", "vec_id", "nlabel")
        .agg(F.count("*").alias("c"), F.sum("wt").alias("ws"))
    )

    def argmax(order_col: str, method: str) -> DataFrame:
        w = Window.partitionBy("k", "vec_id").orderBy(
            F.col(order_col).desc(), "nlabel"
        )
        return (
            votes.select(
                "k", "vec_id", "nlabel", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select(
                F.lit(method).alias("method"),
                "k",
                "vec_id",
                F.col("nlabel").alias("pred"),
            )
        )

    preds = argmax("c", "majority").unionByName(argmax("ws", "weighted"))
    return (
        preds.join(labs, "vec_id")
        .groupBy("k", "method")
        .agg(
            F.count("*").alias("n_queries"),
            round_half_up(
                F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
                .cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("accuracy"),
        )
        .select(F.col("k").cast("int").alias("k"), "method", "n_queries",
                "accuracy")
    )

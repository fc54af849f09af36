"""Graph analytics over the customer-supplier bipartite graph.

The synthetic schema induces a natural bipartite graph: an edge
(customer, supplier) whenever a customer's order contains a line item
from that supplier.  Six operators cover the graph-analytics surface a
relational engine can express:

- graph_degree_stats: per-side degree histogram (graph profiling);
- graph_pagerank_step: ONE power-iteration step of PageRank (d = 0.85)
  in pure int64 micro-units;
- graph_pagerank_iter3: the step LOOPED (driver-side loop, per-step
  eager localCheckpoint — the relational Pregel-superstep pattern, same
  persist-and-loop discipline as dedup_clusters' label propagation),
  held to a CTE-chain oracle with the recurrence unrolled;
- graph_adamic_adar: link-prediction scores between supplier pairs
  sharing customers (Adamic & Adar 2003), hub-capped;
- graph_triangle_count: ordered-edge triangle census on the top-weight
  co-purchase backbone (dense-projection guard);
- graph_kcore_peel: bounded k-core peeling rounds on the same backbone
  (degeneracy trajectory; flat on the complete small-sf projection,
  1000 -> 880 nodes at sf0.1).

Determinism: PageRank ranks are integer micro-units (initial rank =
10^12 // N; per-edge contribution = 85 * rank // (100 * outdeg)) — all
operands positive, where floor == truncate (both engines' integer
division in fact truncates toward zero; verified -7 div 2 = -3 = -7 // 2).  Adamic-Adar's 1/ln(deg) weight is NOT computed with
engine libm at query time: the hub cap bounds deg to [2, 64], so the 63
possible weights are precomputed ONCE in Python (floor(1e6/ln(d)+0.5))
and embedded in BOTH engines as a literal lookup table — bit-identical
by construction, the same motivation as the repo's micro-nat ln
quantization but with zero runtime transcendentals.

Scale shape (100 TB): the edge list is one fact-sized distinct (orders
joined to lineitem, projected to the two keys); degree and rank
aggregates are map-side-combined integer sums; the PageRank contribution
join is src-to-src (the aggregate's own partitioning is reused); the
Adamic-Adar self-join runs only on hub-capped customers, bounding pair
fan-out at C(64, 2) per customer — the standard mitigation for the
quadratic hot-key blowup in common-neighbor joins.  Output is top-k via
TakeOrdered, never a global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_text_classification_spark.plans.shared import shared_intermediate
from pyspark_text_classification_spark.registry import query
from pyspark_text_classification_spark.sources.parquet import fan_out, load_table

PR_DAMP_NUM = 85  # d = 0.85 as the rational 85/100
PR_DAMP_DEN = 100
PR_SCALE = 1_000_000_000_000  # ranks in integer micro-micro units (1e12)

AA_HUB_CAP = 64   # drop customers with more distinct suppliers than this
AA_TOPK = 100

# 1/ln(deg) in integer micro-units for every degree the hub cap admits —
# computed once HERE so both engines read the same literal table and no
# engine-side ln() (whose last ulp may differ between JVM and libm) ever
# runs. deg=1 rows are filtered out (a single-supplier customer adds no
# pair), so the table starts at 2.
AA_WEIGHTS: list[tuple[int, int]] = [
    (d, int(math.floor(1_000_000.0 / math.log(float(d)) + 0.5)))
    for d in range(2, AA_HUB_CAP + 1)
]
_SQL_AA_WEIGHTS = ", ".join(f"({d}, {w})" for d, w in AA_WEIGHTS)

_SQL_EDGES = """
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, supplier) pairs observed in the fact tables.

    Session-cached (plans.shared): six graph operators consume the same
    edge list, and its row count is bounded by |customers| x hub degree
    — the persist-the-graph step every iterative engine does first."""
    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        return (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .distinct()
        )

    return shared_intermediate(spark, sf_dir, "graph_edges", build)


# Supplier-pair packing for the co-purchase projection: one int64 key
# u * 2^31 + v (suppkeys < 2^31) so the pair aggregate hashes a single
# long instead of a struct; k's order == (u, v) lexicographic, so sorts
# on k are sorts on (u, v).
_PAIR_BASE = 1 << 31
# In-row ordered-pair generation over the hub-capped, SORTED supplier
# set: x at index i pairs with every later y, giving u < v for free.
# Bounded at C(AA_HUB_CAP, 2) = 2016 pairs per customer by the cap.
_PAIR_EXPLODE = (
    "flatten(transform(ss, (x, i) -> "
    f"transform(slice(ss, i + 2, size(ss)), y -> x * {_PAIR_BASE}L + y)))"
)


def _pair_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer hub-capped sorted supplier sets (c, ss), fanned out.

    This replaces the classic ``small a JOIN small b ON a.c = b.c AND
    a.s < b.s`` self-join: ONE aggregate on c builds the set (its size IS
    the degree, so the hub-cap filter needs no separate degree join), and
    the C(deg, 2) pairs are generated IN-ROW by codegen'd array lambdas.
    The explicit repartition matters: the list table is tiny (one row per
    customer) so AQE coalesces it to a couple of partitions, and the
    ~750x row multiplication of the pair explode would then run on two
    cores — fan the rows out BEFORE exploding (measured 3x on the
    backbone build at sf0.1).

    Session-cached (plans.shared): one row per hub-capped customer with
    a <= AA_HUB_CAP-element set; the triangle census, Adamic-Adar and
    the k-core backbone all start here."""
    def build() -> DataFrame:
        e = _bipartite_edges(spark, sf_dir)
        return fan_out(
            e.groupBy("c")
            .agg(F.sort_array(F.collect_set("s")).alias("ss"))
            .filter((F.size("ss") >= 2) & (F.size("ss") <= AA_HUB_CAP)),
            2,
        )

    return shared_intermediate(spark, sf_dir, "graph_pair_lists", build)


def _pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence projection (k, w, aa_micro): for every supplier pair
    (packed as one long k), the shared-customer count w AND the
    Adamic-Adar weight sum — ONE explode + ONE map-side-combined int64
    aggregate feeding Adamic-Adar, the triangle/k-core backbone, and any
    other co-purchase consumer in the session.

    Session-cached (plans.shared): the projection's grain is distinct
    co-occurring supplier PAIRS — bounded by C(|suppliers|, 2) rows of
    three longs (dimension-squared, NOT fact-scale; ~500k rows at
    sf0.1).  On a corpus whose supplier dimension itself is huge, this
    slot is the one to demote back to per-query aggregation — the
    queries only ever take bounded top-k slices of it."""
    def build() -> DataFrame:
        warr = F.array(*[F.lit(w) for _, w in AA_WEIGHTS])
        lists = _pair_lists(spark, sf_dir).withColumn(
            "w_micro", F.element_at(warr, F.size("ss") - 1)
        )
        pairs = lists.select(
            F.explode(F.expr(_PAIR_EXPLODE)).alias("k"), "w_micro"
        )
        return pairs.groupBy("k").agg(
            F.count("*").alias("w"),
            F.sum("w_micro").alias("aa_micro"),
        )

    return shared_intermediate(spark, sf_dir, "graph_pair_stats", build)


@query(
    "graph_degree_stats",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY 1),
    sdeg AS (SELECT s, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY 1)
    SELECT 'customer' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM cdeg GROUP BY 1, 2
    UNION ALL
    SELECT 'supplier' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM sdeg GROUP BY 1, 2
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of each side of the bipartite graph — the
    profiling pass that sizes hub caps and skew mitigations before any
    graph algorithm runs.  Two aggregates over the edge list; the
    histogram regroup is |degrees|-bounded."""
    e = _bipartite_edges(spark, sf_dir)
    cdeg = e.groupBy("c").agg(F.count("*").alias("degree"))
    sdeg = e.groupBy("s").agg(F.count("*").alias("degree"))
    return (
        cdeg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.lit("customer").alias("side"), "degree", "n_nodes")
        .unionByName(
            sdeg.groupBy("degree")
            .agg(F.count("*").alias("n_nodes"))
            .select(F.lit("supplier").alias("side"), "degree", "n_nodes")
        )
    )


@query(
    "graph_pagerank_step",
    oracle=f"""
    WITH e0 AS ({_SQL_EDGES}),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
              UNION ALL SELECT s * 2 + 1, c * 2 FROM e0),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM outdeg),
    contrib AS (
      SELECT e.dst AS node,
             ({PR_DAMP_NUM} * ({PR_SCALE} // nn.n))
               // ({PR_DAMP_DEN} * o.deg) AS ci
      FROM edges e JOIN outdeg o ON o.src = e.src CROSS JOIN nn
    )
    SELECT c.node,
           CAST(({PR_DAMP_DEN} - {PR_DAMP_NUM}) * ({PR_SCALE} // nn.n)
             // {PR_DAMP_DEN} + sum(c.ci) AS BIGINT) AS rank_micro
    FROM contrib c CROSS JOIN nn
    GROUP BY c.node, nn.n
    """,
)
def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step (d = 0.85) over the symmetrized
    bipartite graph, from the uniform start vector, in pure int64.

    The edge list feeds three consumers (both union branches and the
    contribution join), so it is eagerly localCheckpointed — computed
    once, exactly what an iterative PageRank loop would persist anyway.
    Node ids are disjointly encoded (customer -> 2k, supplier -> 2k+1).
    Both edge directions are materialized, so every node has out-degree
    >= 1 — no dangling-mass correction is needed and N is just the
    out-degree table's row count.  rank1(v) = (1-d)*R/N + d * sum over
    in-edges of rank0(u)/outdeg(u), all in integer micro-units with
    truncating division (identical on both engines; the truncation loses
    < 1 micro-unit per edge, irrelevant for ranking and identical
    cross-engine).  Full PageRank is THIS dataflow looped with the rank
    table persisted between steps — each step is one src-side join (the
    out-degree aggregate's partitioning is reused) plus one dst-side
    aggregate."""
    e0 = _bipartite_edges(spark, sf_dir)
    edges = (
        e0.select(
            (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
        )
        .unionByName(
            e0.select(
                (F.col("s") * 2 + 1).alias("src"),
                (F.col("c") * 2).alias("dst"),
            )
        )
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nn = outdeg.agg(F.count("*").alias("n"))
    contrib = (
        edges.join(outdeg, "src")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("dst").alias("node"),
            F.expr(
                f"({PR_DAMP_NUM} * ({PR_SCALE} div n))"
                f" div ({PR_DAMP_DEN} * deg)"
            ).alias("ci"),
            "n",
        )
    )
    return contrib.groupBy("node", "n").agg(
        (
            F.expr(
                f"({PR_DAMP_DEN} - {PR_DAMP_NUM}) * ({PR_SCALE} div n)"
                f" div {PR_DAMP_DEN}"
            )
            + F.sum("ci")
        ).alias("rank_micro")
    ).select("node", "rank_micro")


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    w(deg, w_micro) AS (VALUES {_SQL_AA_WEIGHTS}),
    small AS (
      SELECT e.c, e.s, w.w_micro
      FROM e JOIN cdeg ON e.c = cdeg.c
      JOIN w ON w.deg = cdeg.deg
    ),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2,
             sum(a.w_micro) AS aa_micro,
             CAST(count(*) AS BIGINT) AS common_customers
      FROM small a JOIN small b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT s1, s2, CAST(aa_micro AS BIGINT) AS aa_micro, common_customers
    FROM pairs
    ORDER BY aa_micro DESC, s1, s2
    LIMIT {AA_TOPK}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{AA_TOPK} supplier pairs by Adamic-Adar link-prediction score:
    sum over shared customers of 1/ln(customer degree), hub-capped.

    The weight join against the precomputed [2, {AA_HUB_CAP}] lookup
    table does double duty: it attaches the integer weight AND drops both
    degree-1 customers (no pairs to contribute) and hub customers above
    the cap — the standard guard that bounds the common-neighbor
    self-join's fan-out at C({AA_HUB_CAP}, 2) rows per customer instead
    of letting one hot customer emit |suppliers|^2 pairs.  The self-join
    is generated IN-ROW from the per-customer sorted supplier set
    (_pair_lists — the set's size IS the degree, so the weight is an
    array-literal lookup, join-free), the pair aggregate is map-side-
    combined int64 on a packed long key, and top-k is TakeOrdered on
    (score, k) — k's order is (s1, s2) lexicographic, a deterministic
    total order."""
    agg = _pair_stats(spark, sf_dir).withColumnRenamed(
        "w", "common_customers"
    )
    return (
        agg.orderBy(F.col("aa_micro").desc(), "k")
        .limit(AA_TOPK)
        .select(
            F.expr(f"k div {_PAIR_BASE}L").alias("s1"),
            F.expr(f"k % {_PAIR_BASE}L").alias("s2"),
            "aa_micro",
            "common_customers",
        )
    )


TRI_MIN_COMMON = 2  # supplier-graph edge: pairs sharing >= this many customers
# Dense-projection guard: co-occurrence projections of uniform bipartite
# data are near-COMPLETE graphs (every supplier pair shares customers),
# and a complete graph has Theta(n^3) triangles — no enumeration algorithm
# escapes that. The census therefore runs on the BACKBONE: the top-K
# heaviest edges by shared-customer count (deterministic total order on
# (weight desc, u, v) — the disparity-filter idea of Serrano et al. 2009
# with a rank cap instead of a significance test). Bounds the wedge join
# at O(K^1.5) regardless of projection density.
TRI_EDGE_TOPK = 10_000


def _copurchase_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TRI_EDGE_TOPK} heaviest co-purchase edges (u, v), u < v, among
    hub-capped supplier pairs sharing >= {TRI_MIN_COMMON} customers —
    the shared input of the triangle census and the k-core peel.  Pairs
    come from the in-row explode (_pair_lists) keyed as one packed long;
    the top-k is TakeOrderedAndProject on (w desc, k), never a global
    sort, and k's order makes the tiebreak (u, v) lexicographic.

    Session-cached (plans.shared): <= TRI_EDGE_TOPK rows by definition,
    shared by the triangle census and the k-core peel."""
    def build() -> DataFrame:
        return (
            _pair_stats(spark, sf_dir)
            .filter(F.col("w") >= TRI_MIN_COMMON)
            .orderBy(F.col("w").desc(), "k")
            .limit(TRI_EDGE_TOPK)
            .select(
                F.expr(f"k div {_PAIR_BASE}L").alias("u"),
                F.expr(f"k % {_PAIR_BASE}L").alias("v"),
            )
        )

    return shared_intermediate(spark, sf_dir, "graph_backbone", build)


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    small AS (
      SELECT e.c, e.s FROM e JOIN cdeg ON e.c = cdeg.c
      WHERE cdeg.deg BETWEEN 2 AND {AA_HUB_CAP}
    ),
    se0 AS (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS w
      FROM small a JOIN small b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_COMMON}
    ),
    se AS (
      SELECT u, v FROM (
        SELECT u, v, row_number() OVER (ORDER BY w DESC, u, v) AS rnk
        FROM se0
      ) WHERE rnk <= {TRI_EDGE_TOPK}
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM se UNION ALL SELECT v FROM se
      ) GROUP BY 1
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM se e1
      JOIN se e2 ON e2.u = e1.v
      JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM se) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-purchase BACKBONE (top-
    {TRI_EDGE_TOPK} heaviest edges among pairs sharing >=
    {TRI_MIN_COMMON} hub-capped customers): node/edge counts, wedge
    count, and exact triangle count — the inputs to the global
    clustering coefficient 3*triangles/wedges (kept as the two
    integers; the division is the report's job).

    The standard two-round relational triangle enumeration (e.g. Suri &
    Vassilvitskii, WWW 2011): orient every edge low->high, join edges on
    the shared middle vertex to enumerate wedges (u < v < w), then
    semi-check the closing edge (u, w) with a third equi-join.  Vertex
    ordering counts each triangle exactly once.  The backbone cap (see
    TRI_EDGE_TOPK) is what makes the census tractable on DENSE
    co-occurrence projections: without it a near-complete projection has
    Theta(n^3) triangles and 28s of wedge enumeration at sf0.1; on the
    top-K backbone the wedge join is bounded at O(K^1.5) — and the cap
    is the repo's salted-top-k away from being fully scalable (here a
    single window suffices because se0 is already an aggregate output).
    At 100 TB the joins are hash-partitioned on their keys and AQE
    handles residual skew; the final census is a single-row aggregate."""
    se = _copurchase_backbone(spark, sf_dir).localCheckpoint(
        eager=True
    )  # feeds deg + the 3-way triangle join
    deg = (
        se.select(F.col("u").alias("node"))
        .unionByName(se.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e2 = se.select(F.col("u").alias("m"), F.col("v").alias("w"))
    e3 = se.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    tri = (
        se.join(e2, se.v == e2.m)
        .join(e3, (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")))
        .agg(F.count("*").alias("n_triangles"))
    )
    counts = se.agg(F.count("*").alias("n_edges"))
    nodes = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    return (
        nodes.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


PR_ITERS = 3


def _sql_pr_step(prev: str) -> str:
    return f"""
      SELECT e.dst AS node,
             ({PR_DAMP_DEN} - {PR_DAMP_NUM}) * ({PR_SCALE} // nn.n)
               // {PR_DAMP_DEN}
               + sum({PR_DAMP_NUM} * {prev}.r
                     // ({PR_DAMP_DEN} * o.deg)) AS r
      FROM edges e JOIN {prev} ON {prev}.node = e.src
      JOIN outdeg o ON o.src = e.src CROSS JOIN nn
      GROUP BY e.dst, nn.n
    """


@query(
    "graph_pagerank_iter3",
    oracle=f"""
    WITH e0 AS ({_SQL_EDGES}),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
              UNION ALL SELECT s * 2 + 1, c * 2 FROM e0),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM outdeg),
    r0 AS (SELECT src AS node, {PR_SCALE} // nn.n AS r
           FROM outdeg CROSS JOIN nn),
    r1 AS ({_sql_pr_step('r0')}),
    r2 AS ({_sql_pr_step('r1')}),
    r3 AS ({_sql_pr_step('r2')})
    SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3
    """,
)
def graph_pagerank_iter3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS} PageRank power iterations (d = 0.85) as a driver-side
    loop over the one-step dataflow, each iteration's rank table eagerly
    localCheckpointed — THE iterative-algorithm pattern on Spark:
    lineage is truncated per step (otherwise the plan tree doubles per
    iteration and the optimizer re-derives every prior step), the edge
    and out-degree tables are materialized once and reused, and the
    DuckDB oracle is the same recurrence unrolled as a CTE chain.

    Every node has out- and in-edges (both directions materialized), so
    the node set is closed under iteration and no rank mass leaks to
    dangling nodes; total mass stays {PR_SCALE} minus bounded truncation
    dust.  At 100 TB each iteration is one src-side join against the
    persisted rank table plus one dst-side aggregate — the classic
    Pregel superstep expressed relationally."""
    e0 = _bipartite_edges(spark, sf_dir)
    edges = (
        e0.select(
            (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
        )
        .unionByName(
            e0.select(
                (F.col("s") * 2 + 1).alias("src"),
                (F.col("c") * 2).alias("dst"),
            )
        )
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=True
    )
    nn = outdeg.agg(F.count("*").alias("n"))
    ranks = (
        outdeg.crossJoin(F.broadcast(nn))
        .select(
            F.col("src").alias("node"),
            F.expr(f"{PR_SCALE} div n").alias("r"),
            "n",
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(PR_ITERS):
        ranks = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .groupBy(F.col("dst").alias("node"), F.col("n"))
            .agg(
                (
                    F.expr(
                        f"({PR_DAMP_DEN} - {PR_DAMP_NUM})"
                        f" * ({PR_SCALE} div n) div {PR_DAMP_DEN}"
                    )
                    + F.sum(
                        F.expr(
                            f"{PR_DAMP_NUM} * r div ({PR_DAMP_DEN} * deg)"
                        )
                    )
                ).alias("r")
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


KCORE_K = 8       # degeneracy threshold
KCORE_ROUNDS = 3  # bounded peeling rounds (fixed so the oracle unrolls)


def _sql_peel(prev: str) -> str:
    """One peeling round as a CTE body: drop nodes with degree < k in the
    edge set induced by ``{prev}``'s surviving nodes.

    The body reads ``{prev}`` three times, so the oracle declares every
    round ``AS MATERIALIZED``: inlined, each round would re-expand its
    predecessor three times over and DuckDB runs out of memory."""
    return f"""
      SELECT e.u, e.v FROM {prev} e
      JOIN (
        SELECT node FROM (
          SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
          ) GROUP BY 1
        ) WHERE d >= {KCORE_K}
      ) su ON su.node = e.u
      JOIN (
        SELECT node FROM (
          SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
          ) GROUP BY 1
        ) WHERE d >= {KCORE_K}
      ) sv ON sv.node = e.v
    """


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    small AS (
      SELECT e.c, e.s FROM e JOIN cdeg ON e.c = cdeg.c
      WHERE cdeg.deg BETWEEN 2 AND {AA_HUB_CAP}
    ),
    se0 AS (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS w
      FROM small a JOIN small b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_COMMON}
    ),
    g0 AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT u, v, row_number() OVER (ORDER BY w DESC, u, v) AS rnk
        FROM se0
      ) WHERE rnk <= {TRI_EDGE_TOPK}
    ),
    g1 AS MATERIALIZED ({_sql_peel('g0')}),
    g2 AS MATERIALIZED ({_sql_peel('g1')}),
    g3 AS MATERIALIZED ({_sql_peel('g2')})
    SELECT 0 AS round,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
             (SELECT u AS node FROM g0 UNION ALL SELECT v FROM g0)) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM g0) AS n_edges
    UNION ALL SELECT 1,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
             (SELECT u AS node FROM g1 UNION ALL SELECT v FROM g1)),
           (SELECT CAST(count(*) AS BIGINT) FROM g1)
    UNION ALL SELECT 2,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
             (SELECT u AS node FROM g2 UNION ALL SELECT v FROM g2)),
           (SELECT CAST(count(*) AS BIGINT) FROM g2)
    UNION ALL SELECT 3,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
             (SELECT u AS node FROM g3 UNION ALL SELECT v FROM g3)),
           (SELECT CAST(count(*) AS BIGINT) FROM g3)
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS} rounds of {KCORE_K}-core peeling on the co-purchase
    backbone: repeatedly remove nodes of degree < k and report the
    shrinking (round, n_nodes, n_edges) trajectory — the degeneracy
    decomposition that locates the graph's dense kernel (community
    seeds, influence cores) and, run before pair-generating algorithms,
    bounds THEIR worst case.

    The driver-side loop with per-round eager localCheckpoint is the
    repo's standard iterative pattern (pagerank_iter3, dedup_clusters);
    each round is one degree aggregate plus two semi-joins of the edge
    list against the survivor set, all hash-partitioned on node ids.
    Rounds are FIXED at {KCORE_ROUNDS} so the DuckDB oracle unrolls the
    recurrence exactly; a production run loops to fixpoint with the
    identical per-round dataflow."""
    g = _copurchase_backbone(spark, sf_dir)  # session-cached checkpoint

    def census(edges: DataFrame, rnd: int) -> DataFrame:
        nodes = edges.select(F.col("u").alias("node")).unionByName(
            edges.select(F.col("v").alias("node"))
        )
        return nodes.agg(
            F.lit(rnd).alias("round"),
            F.count_distinct("node").alias("n_nodes"),
            (F.count("*") / 2).cast("long").alias("n_edges"),
        )

    out = census(g, 0)
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = (
            g.select(F.col("u").alias("node"))
            .unionByName(g.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        survivors = deg.filter(F.col("d") >= KCORE_K).select("node")
        # the survivor set is <= the backbone's node count (bounded by
        # TRI_EDGE_TOPK edges) — broadcast both semi-joins so a round
        # shuffles nothing but the degree aggregate
        g = (
            g.join(
                F.broadcast(survivors.withColumnRenamed("node", "u")),
                "u",
                "left_semi",
            )
            .join(
                F.broadcast(survivors.withColumnRenamed("node", "v")),
                "v",
                "left_semi",
            )
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(census(g, rnd))
    return out


JACCARD_TOPK = 100


@query(
    "graph_jaccard_links",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    fe AS (
      SELECT e.c, e.s FROM e JOIN cdeg ON e.c = cdeg.c
      WHERE cdeg.deg BETWEEN 2 AND {AA_HUB_CAP}
    ),
    sdeg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM fe GROUP BY 1),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS w
      FROM fe a JOIN fe b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT s1, s2, w,
             (1000000 * w) // (d1.deg + d2.deg - w) AS j_micro
      FROM pairs
      JOIN sdeg d1 ON d1.s = pairs.s1
      JOIN sdeg d2 ON d2.s = pairs.s2
    )
    SELECT s1, s2, w AS common_customers, j_micro
    FROM scored
    ORDER BY j_micro DESC, s1, s2
    LIMIT {JACCARD_TOPK}
    """,
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{JACCARD_TOPK} supplier pairs by Jaccard link-prediction score:
    |shared customers| / |union of customers|, over the same hub-capped
    co-purchase projection as Adamic-Adar — the second classic
    common-neighbor predictor, sensitive to RELATIVE overlap where
    Adamic-Adar rewards absolute rare-neighbor counts.

    Reuses the session-cached pair-stats projection (shared-customer
    count w per packed pair key) and adds only a per-supplier degree
    aggregate over the SAME filtered edge set — a dimension-bounded
    table that broadcasts into the pair grain.  j_micro =
    1e6 * w div (deg1 + deg2 - w) is pure int64 (w <= {AA_HUB_CAP}-cap
    bounded), and top-k is TakeOrdered on (score desc, packed key) —
    (s1, s2) lexicographic, a deterministic total order."""
    sdeg = (
        _pair_lists(spark, sf_dir)
        .select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("deg"))
    )
    pairs = _pair_stats(spark, sf_dir).select(
        F.expr(f"k div {_PAIR_BASE}L").alias("s1"),
        F.expr(f"k % {_PAIR_BASE}L").alias("s2"),
        "w",
        "k",
    )
    scored = (
        pairs.join(
            F.broadcast(sdeg.select(F.col("s").alias("s1"),
                                    F.col("deg").alias("d1"))),
            "s1",
        )
        .join(
            F.broadcast(sdeg.select(F.col("s").alias("s2"),
                                    F.col("deg").alias("d2"))),
            "s2",
        )
        .select(
            "s1",
            "s2",
            F.col("w").alias("common_customers"),
            F.expr("(1000000 * w) div (d1 + d2 - w)").alias("j_micro"),
            "k",
        )
    )
    return (
        scored.orderBy(F.col("j_micro").desc(), "k")
        .limit(JACCARD_TOPK)
        .select("s1", "s2", "common_customers", "j_micro")
    )


BFS_ROUNDS = 3


@query(
    "graph_bfs_3hop",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    small AS (
      SELECT e.c, e.s FROM e JOIN cdeg ON e.c = cdeg.c
      WHERE cdeg.deg BETWEEN 2 AND {AA_HUB_CAP}
    ),
    se0 AS (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS w
      FROM small a JOIN small b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_COMMON}
    ),
    se AS (
      SELECT u, v FROM (
        SELECT u, v, row_number() OVER (ORDER BY w DESC, u, v) AS rnk
        FROM se0
      ) WHERE rnk <= {TRI_EDGE_TOPK}
    ),
    edges2 AS (SELECT u, v FROM se UNION ALL SELECT v AS u, u AS v FROM se),
    r0 AS (SELECT min(u) AS node FROM se),
    n1 AS (SELECT DISTINCT e2.v AS node
           FROM edges2 e2 JOIN r0 ON e2.u = r0.node),
    r1 AS (SELECT node FROM r0 UNION SELECT node FROM n1),
    n2 AS (SELECT DISTINCT e2.v AS node
           FROM edges2 e2 JOIN r1 ON e2.u = r1.node),
    r2 AS (SELECT node FROM r1 UNION SELECT node FROM n2),
    n3 AS (SELECT DISTINCT e2.v AS node
           FROM edges2 e2 JOIN r2 ON e2.u = r2.node),
    appear AS (
      SELECT node, 0 AS d FROM r0
      UNION ALL SELECT node, 1 FROM n1
      UNION ALL SELECT node, 2 FROM n2
      UNION ALL SELECT node, 3 FROM n3
    )
    SELECT node, CAST(min(d) AS INT) AS dist FROM appear GROUP BY 1
    """,
)
def graph_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first traversal: min-hop distance (<= {BFS_ROUNDS}) from
    the lowest backbone supplier to every node it reaches over the
    co-purchase backbone — the graph-traversal primitive (reachability,
    ego networks, influence radii) the family was missing.

    Each round joins the previous FRONTIER (new nodes only, broadcast —
    it is bounded by the backbone's node count) against the symmetric
    edge list and anti-joins the already-reached set, so a node's
    distance is the first round that discovers it; the oracle unrolls
    the identical recurrence and takes min-round-of-appearance, which is
    the same function.  Rounds are FIXED at {BFS_ROUNDS} so the unroll
    is exact; a production traversal loops the identical per-round
    dataflow to frontier exhaustion, checkpointing each round the way
    the k-core peel does (every round's lineage is cut, so the loop
    count never compounds the plan)."""
    g = _copurchase_backbone(spark, sf_dir)
    edges2 = g.unionByName(
        g.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    seeds = g.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).alias("dist")
    )
    reached = seeds.localCheckpoint(eager=True)
    frontier = reached.select("node")
    for d in range(1, BFS_ROUNDS + 1):
        nxt = (
            edges2.join(
                F.broadcast(frontier.withColumnRenamed("node", "u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(
                F.broadcast(reached.select("node")), "node", "left_anti"
            )
            .select("node", F.lit(d).alias("dist"))
            .localCheckpoint(eager=True)
        )
        reached = reached.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select("node")
    return reached


# ---------------------------------------------------------------------------
# Connected components / HITS / label propagation — the remaining classic
# iterative-graph primitives, each expressed as the relational Pregel
# superstep with the recurrence unrolled in the oracle.
# ---------------------------------------------------------------------------

# The full bipartite graph is one giant component (every supplier serves
# many customers), so component structure only appears on the REPEAT-
# relationship subgraph: keep (c, s) edges observed in >= CC_MIN_ORDERS
# distinct orders.  At sf0.01 this yields ~19 components after 4 rounds —
# a real partition of the graph, not a trivial singleton.
CC_MIN_ORDERS = 3
CC_ROUNDS = 4

_SQL_REPEAT_EDGES = f"""
      SELECT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
      HAVING count(DISTINCT o.o_orderkey) >= {CC_MIN_ORDERS}
"""


def _repeat_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c, s) pairs with >= {CC_MIN_ORDERS} distinct orders —
    the sparsified relationship graph.  Session-cached: bounded by the
    full edge list, shared by the CC and label-propagation operators."""
    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        return (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .agg(F.count_distinct("o_orderkey").alias("k"))
            .filter(F.col("k") >= CC_MIN_ORDERS)
            .select("c", "s")
        )

    return shared_intermediate(spark, sf_dir, "graph_repeat_edges", build)


def _sym_nodes_edges(e0: DataFrame):
    """Symmetrized disjoint-encoded edges + distinct node set."""
    edges = (
        e0.select(
            (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
        )
        .unionByName(
            e0.select(
                (F.col("s") * 2 + 1).alias("src"),
                (F.col("c") * 2).alias("dst"),
            )
        )
        .localCheckpoint(eager=True)
    )
    nodes = edges.select("src").distinct().select(F.col("src").alias("node"))
    return edges, nodes


def _sql_cc_step(prev: str) -> str:
    return f"""
      SELECT n.node, least(n.lab, COALESCE(m.minlab, n.lab)) AS lab
      FROM {prev} n LEFT JOIN (
        SELECT e.dst AS node, min({prev}.lab) AS minlab
        FROM edges e JOIN {prev} ON e.src = {prev}.node
        GROUP BY 1
      ) m USING (node)
    """


@query(
    "graph_connected_components",
    oracle=f"""
    WITH e0 AS ({_SQL_REPEAT_EDGES}),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
              UNION ALL SELECT s * 2 + 1, c * 2 FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
    {', '.join(
        f'l{i + 1} AS ({_sql_cc_step(f"l{i}")})' for i in range(CC_ROUNDS)
    )}
    SELECT CAST(lab AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{CC_ROUNDS} GROUP BY 1
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the repeat-relationship graph by
    {CC_ROUNDS} bounded rounds of min-label propagation (label = node
    id, each round every node takes the min of its own and its
    neighbors' labels), reported as the component-size histogram.  The
    round count is a FIXED trajectory bound, the kcore_peel convention:
    both engines run exactly {CC_ROUNDS} rounds, so the output is
    deterministic whether or not the diameter has been exhausted (label
    counts then upper-bound the true component count).

    At 100 TB this is the standard hash-join Pregel CC: each round is
    one src-side join against the persisted label table plus a dst-side
    min-aggregate, lineage truncated per round by eager localCheckpoint
    — the two-star variant in dedup_clusters converges in fewer rounds
    but shuffles star edges; this one reuses one partitioning end to
    end (doubling rounds, halving data movement per round)."""
    e0 = _repeat_edges(spark, sf_dir)
    edges, nodes = _sym_nodes_edges(e0)
    labels = nodes.select("node", F.col("node").alias("lab")).localCheckpoint(
        eager=True
    )
    for _ in range(CC_ROUNDS):
        neigh_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("minlab"))
        )
        labels = (
            labels.join(neigh_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce(F.col("minlab"), F.col("lab"))
                ).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.groupBy(F.col("lab").alias("component")).agg(
        F.count("*").cast("long").alias("n_nodes")
    ).select(F.col("component").cast("long"), "n_nodes")


HITS_TOP_K = 20


@query(
    "graph_hits_step",
    oracle=f"""
    WITH e AS ({_SQL_EDGES}),
    auth AS (
      SELECT s, CAST(count(*) AS BIGINT) AS auth
      FROM e GROUP BY 1
    ),
    hub AS (
      SELECT e.c, CAST(sum(auth.auth) AS BIGINT) AS hub,
             CAST(count(*) AS BIGINT) AS degree
      FROM e JOIN auth ON e.s = auth.s
      GROUP BY 1
    )
    SELECT c AS customer, degree, hub
    FROM hub
    ORDER BY hub DESC, customer
    LIMIT {HITS_TOP_K}
    """,
)
def graph_hits_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS iteration (Kleinberg 1999) on the DIRECTED bipartite
    customer -> supplier graph from the uniform start: authority(s) =
    sum of hub scores over in-edges = in-degree after step one, then
    hub(c) = sum of authority over c's suppliers — the top-{HITS_TOP_K}
    hub customers are the ones buying from the most-bought-from
    suppliers.  Scores stay RAW integer sums: HITS's usual L2
    normalization only rescales (ranking-invariant) and would drag a
    sqrt into the cross-engine contract for nothing.

    Scale: two integer aggregates and one join on the supplier key
    (bounded by the supplier dimension, broadcast-able); the top-k is
    TakeOrdered on the customer aggregate, never a global sort.  Full
    HITS is this dataflow looped with the two score tables checkpointed
    per round, exactly the pagerank_iter3 pattern."""
    e = _bipartite_edges(spark, sf_dir)
    auth = e.groupBy("s").agg(F.count("*").cast("long").alias("auth"))
    hub = (
        e.join(F.broadcast(auth), "s")
        .groupBy(F.col("c").alias("customer"))
        .agg(
            F.count("*").cast("long").alias("degree"),
            F.sum("auth").cast("long").alias("hub"),
        )
    )
    return (
        hub.orderBy(F.col("hub").desc(), "customer")
        .limit(HITS_TOP_K)
        .select("customer", "degree", "hub")
    )


LPA_SEED_COLORS = 16  # initial community colors (node id mod 16)


@query(
    "graph_label_prop_step",
    oracle=f"""
    WITH e0 AS ({_SQL_REPEAT_EDGES}),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
              UNION ALL SELECT s * 2 + 1, c * 2 FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src % {LPA_SEED_COLORS} AS lab
           FROM edges),
    votes AS (
      SELECT e.dst AS node, l0.lab, CAST(count(*) AS BIGINT) AS cnt
      FROM edges e JOIN l0 ON e.src = l0.node
      GROUP BY 1, 2
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS new_label
    FROM (
      SELECT node, lab,
             row_number() OVER (
               PARTITION BY node ORDER BY cnt DESC, lab
             ) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
)
def graph_label_prop_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One label-propagation step (Raghavan et al. 2007) for community
    detection on the repeat-relationship graph, seeded with
    {LPA_SEED_COLORS} hash colors (node id mod {LPA_SEED_COLORS} — with
    identity seeds every vote count is 1 and the mode degenerates to
    min-neighbor-id, i.e. connected components): each node adopts the
    most frequent label among its neighbors, ties to the smallest label.

    Scale: one src-side join against the label table, a (node, label)
    vote aggregate, and a per-node argmax window whose partition is
    bounded by the color count — the LPA superstep; full LPA loops this
    with per-round checkpoints like pagerank_iter3."""
    e0 = _repeat_edges(spark, sf_dir)
    edges, nodes = _sym_nodes_edges(e0)
    l0 = nodes.select(
        "node", (F.col("node") % LPA_SEED_COLORS).alias("lab")
    )
    votes = (
        edges.join(l0, edges.src == l0.node)
        .groupBy(F.col("dst").alias("node"), "lab")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "lab")
    return (
        votes.select(
            "node", "lab", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("node").cast("long"),
            F.col("lab").cast("long").alias("new_label"),
        )
    )


# --- Boruvka MST step + local clustering coefficients ------------------------
# Weighted backbone: the triangle/k-core backbone WITH its edge weight
# (shared-customer count) kept — Boruvka needs weights, the coefficient
# query reuses the same slice.  Shared CTE text for the two oracles.
_SQL_BACKBONE_W = f"""
    e AS ({_SQL_EDGES}),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    small AS (
      SELECT e.c, e.s FROM e JOIN cdeg ON e.c = cdeg.c
      WHERE cdeg.deg BETWEEN 2 AND {AA_HUB_CAP}
    ),
    se0 AS (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS w
      FROM small a JOIN small b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_COMMON}
    ),
    sew AS (
      SELECT u, v, w FROM (
        SELECT u, v, w, row_number() OVER (ORDER BY w DESC, u, v) AS rnk
        FROM se0
      ) WHERE rnk <= {TRI_EDGE_TOPK}
    )
"""


def _backbone_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, w): the co-purchase backbone with weights — same top-K
    slice as _copurchase_backbone (identical order key), w retained.

    Session-cached: <= TRI_EDGE_TOPK rows; derives from the already-
    cached _pair_stats, so the build is a bounded top-k, not a scan."""
    def build() -> DataFrame:
        return (
            _pair_stats(spark, sf_dir)
            .filter(F.col("w") >= TRI_MIN_COMMON)
            .orderBy(F.col("w").desc(), "k")
            .limit(TRI_EDGE_TOPK)
            .select(
                F.expr(f"k div {_PAIR_BASE}L").alias("u"),
                F.expr(f"k % {_PAIR_BASE}L").alias("v"),
                "w",
            )
        )

    return shared_intermediate(spark, sf_dir, "graph_backbone_w", build)


@query(
    "graph_boruvka_step",
    oracle=f"""
    WITH {_SQL_BACKBONE_W},
    sym AS (
      SELECT u AS node, v AS nbr, w FROM sew
      UNION ALL
      SELECT v AS node, u AS nbr, w FROM sew
    ),
    best AS (
      SELECT node, nbr, w FROM (
        SELECT node, nbr, w,
               row_number() OVER (PARTITION BY node
                                  ORDER BY w DESC, nbr) AS rk
        FROM sym
      ) WHERE rk = 1
    )
    SELECT DISTINCT least(node, nbr) AS u, greatest(node, nbr) AS v, w
    FROM best
    """,
)
def graph_boruvka_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Boruvka round of MAXIMUM-spanning-forest construction on the
    weighted co-purchase backbone: every node selects its single
    heaviest incident edge (ties to the smallest neighbor id), and the
    distinct selected edges are the round's forest additions — the
    classic parallel MST/MSF building block (Boruvka 1926; the
    GraphX/Pregel formulation selects per-vertex minima exactly like
    this, then contracts components and repeats).

    The step is fully relational: symmetrize the edge list, ONE
    per-node top-1 window (partition = node, bounded by the node's
    degree), then a distinct on the canonical (min, max) edge form —
    each chosen edge appears at most twice (once per endpoint), so the
    dedup grain is 2.  At 100 TB each round shuffles edges once on the
    node key and the output is <= |V| rows; full MSF loops this with
    hash-min component contraction (graph_connected_components'
    pointer-jumping) between rounds."""
    ew = _backbone_weighted(spark, sf_dir)
    sym = ew.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), "w"
    ).unionByName(
        ew.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "w")
    )
    wsel = Window.partitionBy("node").orderBy(F.col("w").desc(), "nbr")
    best = (
        sym.withColumn("rk", F.row_number().over(wsel))
        .filter(F.col("rk") == 1)
    )
    return best.select(
        F.least("node", "nbr").alias("u"),
        F.greatest("node", "nbr").alias("v"),
        "w",
    ).distinct()


CC_TOPK = 50


@query(
    "graph_clustering_coeff",
    oracle=f"""
    WITH {_SQL_BACKBONE_W},
    se AS (SELECT u, v FROM sew),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM se UNION ALL SELECT v FROM se
      ) GROUP BY 1
    ),
    tris AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM se e1
      JOIN se e2 ON e2.u = e1.v
      JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corner AS (
      SELECT a AS node FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    ),
    ntri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
             FROM corner GROUP BY 1),
    coeff AS (
      SELECT d.node, d.d, COALESCE(t.n_tri, 0) AS n_tri,
             COALESCE(t.n_tri, 0) * 1000000
               // (d.d * (d.d - 1) // 2) AS coeff_micro
      FROM deg d LEFT JOIN ntri t ON t.node = d.node
      WHERE d.d >= 2
    )
    SELECT node, d AS degree, n_tri, coeff_micro
    FROM (
      SELECT node, d, n_tri, coeff_micro,
             row_number() OVER (ORDER BY coeff_micro DESC, node) AS rk
      FROM coeff
    ) WHERE rk <= {CC_TOPK}
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficients (Watts & Strogatz 1998) on the
    backbone: per node, triangles_at_node / C(degree, 2) in integer
    micro-units, top-{CC_TOPK} by coefficient — the per-node refinement
    of graph_triangle_count's global census (which reports the same
    quantities corpus-wide).

    Triangle corners come from the SAME ordered-edge enumeration as the
    census (each triangle u<v<w found once, then unpivoted to its three
    corners — one UNION ALL, no per-node re-enumeration); wedges per
    node are d*(d-1)/2 straight from the degree aggregate.  All-integer
    division (positive operands) and a (coeff desc, node) top-k keep it
    bit-reproducible.  Scale: bounded by the backbone cap exactly like
    the census; the corner unpivot triples triangle rows, nothing
    else."""
    se = _copurchase_backbone(spark, sf_dir)
    deg = (
        se.select(F.col("u").alias("node"))
        .unionByName(se.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e2 = se.select(F.col("u").alias("m"), F.col("v").alias("w2"))
    e3 = se.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    tris = (
        se.join(e2, se.v == e2.m)
        .join(
            e3, (F.col("u") == F.col("cu")) & (F.col("w2") == F.col("cw"))
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"),
                F.col("w2").alias("c"))
    )
    corner = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
    )
    ntri = corner.groupBy("node").agg(F.count("*").alias("n_tri"))
    coeff = (
        deg.filter(F.col("d") >= 2)
        .join(ntri, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.expr(
                "coalesce(n_tri, 0) * 1000000 div (d * (d - 1) div 2)"
            ).alias("coeff_micro"),
        )
    )
    # top-k via TakeOrderedAndProject (orderBy+limit), not a global
    # window — the input is bounded by the backbone cap anyway, but the
    # plan shape stays the scalable one.
    return (
        coeff.orderBy(F.col("coeff_micro").desc(), "node")
        .limit(CC_TOPK)
        .select(
            "node",
            F.col("d").alias("degree"),
            "n_tri",
            "coeff_micro",
        )
    )

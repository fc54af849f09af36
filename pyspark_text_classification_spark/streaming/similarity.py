"""Streaming near-duplicate detection: incoming embedding vectors checked
against a STATIC LSH index of the corpus — the online admission filter a
training-data pipeline runs on fresh crawl batches ("is this example a
near-dup of something we already hold?").

Execution shape (all stateless except the final pair dedup):

- stream side: per-row quantized-integer bucket array (interpreted folds —
  order-independent int64 sums, so the buckets are bit-identical to the
  batch index's exploded hash-aggregate form), exploded to (tbl, bucket);
- stream-static equi-join against the persisted bucket index, then against
  the vector table for the exact sequential-fold cosine (no shuffle of the
  static side per batch beyond the join itself — at cluster scale the
  static index would be a bucketed table, making the join co-located);
- a pair surfacing in several tables is collapsed by ``dropDuplicates``
  AFTER the threshold filter, so streaming state holds only true near-dup
  pairs (tiny), not the candidate set.

Held to the batch ``similarity_near_dup`` oracle: on a drained full replay
every vector streams once, and pair (a, b), a < b, is emitted exactly when
a streams (the a < b guard kills the mirrored match when b streams), so
the drained table equals the batch result row-for-row.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_text_classification_spark.functions.text import round_half_up
from pyspark_text_classification_spark.operators.similarity import (
    NEAR_DUP_ORACLE_SQL,
    NEAR_DUP_THRESHOLD,
    QUANT_SCALE,
    lsh_bucket_table,
    rowwise_bucket_array_sql,
    with_norms,
)
from pyspark_text_classification_spark.registry import query
from pyspark_text_classification_spark.sources.parquet import load_table

EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"
from pyspark_text_classification_spark.streaming.state import (
    scoped_state_partitions,
)


def near_dup_stream_frame(
    src: DataFrame, static_e: DataFrame, index: DataFrame
) -> DataFrame:
    """The streaming near-dup plan over any embedding stream: per-row LSH
    buckets -> stream-static bucket join -> exact cosine -> threshold ->
    pair dedup. ``static_e``/``index`` are the persisted corpus vectors and
    bucket table (``with_norms`` / ``lsh_bucket_table``)."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    stream_vec = src.select(
        F.col("vec_id"),
        v.alias("v"),
        F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
        F.transform(v, lambda x: F.floor(x * F.lit(float(QUANT_SCALE)))).alias(
            "qv"
        ),
    ).withColumn("buckets", F.expr(rowwise_bucket_array_sql("qv")))
    probes = stream_vec.select(
        "vec_id", "v", "nrm", F.posexplode("buckets").alias("tbl", "bucket")
    )
    cand = probes.join(
        index.select(
            F.col("vec_id").alias("neighbor_id"), "tbl", "bucket"
        ),
        ["tbl", "bucket"],
    ).filter(F.col("vec_id") < F.col("neighbor_id"))
    neighbor = static_e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("yv"),
        F.col("nrm").alias("yn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("yv"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos4 = round_half_up(dot / (F.col("nrm") * F.col("yn")), 4)
    return (
        cand.join(neighbor, "neighbor_id")
        .select("vec_id", "neighbor_id", cos4.alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
        .dropDuplicates(["vec_id", "neighbor_id"])
    )


def stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream(embeddings) -> near_dup_stream_frame -> memory sink,
    drained with availableNow."""
    static_e = with_norms(load_table(spark, sf_dir, "embeddings")).persist()
    index = lsh_bucket_table(static_e).persist()
    index.count()  # materialize ONCE; microbatches reuse the cached index
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
    near = near_dup_stream_frame(src, static_e, index)
    sink_name = f"stream_near_dup_{uuid.uuid4().hex[:8]}"
    with scoped_state_partitions(spark):
        q = (
            near.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink_name).localCheckpoint(eager=True)
    static_e.unpersist()
    index.unpersist()
    return out


query("similarity_stream_near_dup", oracle=NEAR_DUP_ORACLE_SQL)(
    stream_near_dup
)


def stream_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance — the online half of
    similarity_ivf_append: new vectors (vec_id >= n//2) arrive as a
    stream and are routed to their nearest EXISTING centroid (the
    standing index built over the first half, same sqrt-sized rule),
    while a stateful COMPLETE-mode aggregation maintains the per-cell
    appended-count table a serving fleet watches for skew.

    Execution shape: routing is the same in-row argmax fold as the
    batch operator (argmax_cell — the 1-row sorted centroid array is a
    stream-static broadcast, so assignment is map-side per micro-batch);
    the only stateful piece is the (cent_id, count) aggregate, ~cells
    rows of state however long the stream runs — the bounded-state
    contract that makes continuous ingest viable.  Drained with
    availableNow and held to the batch oracle's append side."""
    from pyspark_text_classification_spark.operators.similarity import (
        _fold_sum,
        argmax_cell,
        auto_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    half = emb.count() // 2
    ex = with_norms(emb).filter(F.col("vec_id") < half).persist()
    cents = auto_centroids(ex)  # sized by auto_cells(ex)

    # the norm uses the shared sequential fold (_fold_sum) so the
    # cross-engine IEEE summation order stays defined in ONE place
    v = F.transform("embedding", lambda x: x.cast("double"))
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
        .filter(F.col("vec_id") >= half)
        .select(
            "vec_id",
            v.alias("v"),
            F.sqrt(_fold_sum(F.transform(v, lambda x: x * x))).alias("nrm"),
        )
    )
    counts = (
        argmax_cell(src, cents)
        .groupBy("cent_id")
        .agg(F.count("*").alias("n_appended"))
    )
    sink_name = f"stream_ivf_append_{uuid.uuid4().hex[:8]}"
    with scoped_state_partitions(spark):
        q = (
            counts.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink_name).localCheckpoint(eager=True)
    ex.unpersist()
    return out


def _sql_stream_ivf_append() -> str:
    from pyspark_text_classification_spark.operators.similarity import (
        IVF_AUTO_MIN_CELLS,
        _SQL_IVF_DOT,
        _SQL_NORMED,
    )

    return f"""
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
    newv AS (SELECT * FROM n WHERE vec_id >= (SELECT h FROM hn)),
    ac AS (
      SELECT newv.vec_id, c.cent_id,
             {_SQL_IVF_DOT.format(a='newv.v', b='c.cv')}
               / (newv.nrm * c.cnrm) AS cos
      FROM newv CROSS JOIN cents c
    ),
    m AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY cos DESC, cent_id
               ) AS rk
        FROM ac
      ) WHERE rk = 1
    )
    SELECT cent_id, CAST(count(*) AS BIGINT) AS n_appended
    FROM m GROUP BY cent_id
    """


query("similarity_stream_ivf_append", oracle=_sql_stream_ivf_append())(
    stream_ivf_append
)


def stream_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance, delete path — the online half of
    similarity_ivf_delete and the 28th streaming twin: tombstone
    requests arrive as a stream (the delete-API feed every production
    vector store ingests: faiss remove_ids batches, Milvus delete
    calls) and the store maintains the LIVE per-cell deletion balance —
    n_members / n_deleted / n_remaining / needs_compaction — that its
    compaction scheduler watches.  Together with stream_ivf_append the
    standing index's full maintenance surface (grow and shrink) now
    runs continuously.

    Execution shape: the stream carries only vec_ids (a delete request
    is an id, not a vector); each micro-batch equi-joins the STATIC
    member table (ivf_auto_index's members slot — the persisted index
    artifact the batch delete reads) to resolve its cell, then a broadcast join
    attaches the cells-row per-cell totals BEFORE aggregation (stream-
    static joins must precede the streaming aggregate), and the only
    stateful piece is the COMPLETE-mode (cell, count) aggregate —
    ~cells rows of state however long the tombstone feed runs, the
    bounded-state contract shared with stream_ivf_append.  Cells that
    never receive a tombstone are absent (a scheduler watches deltas);
    the batch oracle mirrors that with its n_deleted > 0 join.

    The tombstone feed replays the batch twin's deterministic rule
    (vec_id % DELETE_MOD == DELETE_REM) over the corpus stream, so the
    drained table is held to the same per-cell arithmetic — one leaked
    or dropped tombstone is a hash mismatch."""
    from pyspark_text_classification_spark.operators.similarity import (
        COMPACT_PCT,
        DELETE_MOD,
        DELETE_REM,
        ivf_auto_index,
    )

    index = ivf_auto_index(spark, sf_dir)
    members = index.members
    percell = (
        members.groupBy("cent_id")
        .agg(F.count("*").alias("n_members"))
        .localCheckpoint(eager=True)  # cells rows — broadcastable
    )
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
        .filter(F.pmod(F.col("vec_id"), F.lit(DELETE_MOD)) == DELETE_REM)
        .select("vec_id")
    )
    counts = (
        src.join(members, "vec_id")
        .join(F.broadcast(percell), "cent_id")
        .groupBy("cent_id", "n_members")
        .agg(F.count("*").cast("long").alias("n_deleted"))
        .select(
            F.col("cent_id").alias("cell_id"),
            "n_members",
            "n_deleted",
            (F.col("n_members") - F.col("n_deleted")).alias("n_remaining"),
            (F.col("n_deleted") * 100 >= F.col("n_members") * COMPACT_PCT)
            .cast("int")
            .alias("needs_compaction"),
        )
    )
    sink_name = f"stream_ivf_delete_{uuid.uuid4().hex[:8]}"
    with scoped_state_partitions(spark):
        q = (
            counts.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink_name).localCheckpoint(eager=True)
    index.e.unpersist()
    return out


def _sql_stream_ivf_delete() -> str:
    from pyspark_text_classification_spark.operators.similarity import (
        COMPACT_PCT,
        DELETE_MOD,
        DELETE_REM,
        _SQL_NORMED,
        sql_two_level_cells_cte,
    )

    return f"""
    WITH n AS ({_SQL_NORMED}),
    {sql_two_level_cells_cte('n')},
    tomb AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id % {DELETE_MOD} = {DELETE_REM}
    ),
    percell AS (
      SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members
      FROM members GROUP BY 1
    ),
    del AS (
      SELECT m.cent_id, CAST(count(*) AS BIGINT) AS n_deleted
      FROM members m JOIN tomb t ON t.vec_id = m.vec_id
      GROUP BY 1
    )
    SELECT del.cent_id AS cell_id, percell.n_members, del.n_deleted,
           percell.n_members - del.n_deleted AS n_remaining,
           CAST(CASE WHEN del.n_deleted * 100
                          >= percell.n_members * {COMPACT_PCT}
                     THEN 1 ELSE 0 END AS INT) AS needs_compaction
    FROM del JOIN percell ON percell.cent_id = del.cent_id
    """


query("similarity_stream_ivf_delete", oracle=_sql_stream_ivf_delete())(
    stream_ivf_delete
)

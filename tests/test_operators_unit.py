"""Operator unit tests on tiny literal frames — the edge cases the
reference defends against (FIXTURES.md; SURVEY.md §5): empty strings,
punctuation-only text, all-stopword rows, unicode, null labels, plus
LSH-ANN recall vs the brute-force baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_text_classification_spark.functions.hashing import (
    char_poly_hash,
    word_shingles,
)
from pyspark_text_classification_spark.functions.text import (
    guard_empty_tokens,
    normalize_binary_label,
    remove_stopwords,
    tokenize,
)


def _tok(spark, text, **kw):
    df = spark.createDataFrame([(text,)], schema="text string")
    return df.select(tokenize("text", **kw).alias("t")).first().t


def test_tokenize_edge_cases(spark):
    # default now matches MLlib RegexTokenizer (minTokenLength=1)
    assert _tok(spark, "Hello, World! a I") == ["hello", "world", "a", "i"]
    assert _tok(spark, "Hello, World! a I", min_token_length=2) == [
        "hello", "world"
    ]
    assert _tok(spark, "") == []
    assert _tok(spark, "!!! ... ???") == []
    assert _tok(spark, "a b c", min_token_length=1) == ["a", "b", "c"]
    # \W is ASCII-class
    assert _tok(spark, "naïve café", min_token_length=2) == ["na", "ve", "caf"]


def test_stopword_filter_preserves_duplicates(spark):
    df = spark.createDataFrame(
        [(["the", "spark", "the", "spark", "of"],)], schema="t array<string>"
    )
    out = df.select(remove_stopwords(F.col("t")).alias("o")).first().o
    assert out == ["spark", "spark"]


def test_guard_empty_tokens(spark):
    df = spark.createDataFrame([([],), (["x"],)], schema="t array<string>")
    out = [r.o for r in df.select(guard_empty_tokens(F.col("t")).alias("o")).collect()]
    assert sorted(out) == [["unknown"], ["x"]]


def test_normalize_binary_label(spark):
    df = spark.createDataFrame(
        [("entailment",), ("not_entailment",), ("1",), ("garbage",), (None,)],
        schema="label string",
    )
    out = [
        r.o for r in df.select(normalize_binary_label("label").alias("o")).collect()
    ]
    assert out == [0, 1, 1, None, None]


def test_char_poly_hash_known_values(spark):
    df = spark.createDataFrame([("ab",), ("",)], schema="s string")
    out = [r.h for r in df.select(char_poly_hash("s").alias("h")).collect()]
    # 'a'=97, 'b'=98 -> 97*31 + 98 = 3105; empty -> 0
    assert out == [3105, 0]


def test_word_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([(["a", "b"],), (["a", "b", "c", "d"],)],
                               schema="t array<string>")
    out = [r.s for r in df.select(word_shingles(F.col("t"), 3).alias("s")).collect()]
    assert out[0] == ["a b"]
    assert out[1] == ["a b c", "b c d"]


def test_ann_lsh_recall_vs_bruteforce(spark):
    """The LSH ANN path must recover a reasonable share of true top-5
    neighbors on sf0.001 (quality gate for the scale path)."""
    from pyspark_text_classification_spark.all_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    truth = {
        (r.vec_id, r.neighbor_id)
        for r in QUERIES["similarity_cosine_topk"](spark, sf).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in QUERIES["similarity_ann_lsh"](spark, sf).collect()
    }
    recall = len(truth & approx) / len(truth)
    # 8 tables x 6 planes OR-amplified on 500 near-orthogonal vectors:
    # recall must clear 0.3 to show buckets correlate with similarity
    # (single-table recall measured ~0.04; multi-table ~10x that).
    assert recall >= 0.3, f"LSH recall {recall:.3f} too low"


def test_minhash_candidates_superset_of_high_jaccard(spark):
    """LSH banding must surface every planted near-dup pair (J >= 0.9
    => candidate probability ~0.9998 with 8 bands x 4 rows)."""
    from pyspark_text_classification_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_band_signatures,
        shingle_hashes,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = shingle_hashes(docs, k=2)
    truth = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(sh, threshold=0.9).collect()
    }
    cands = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_band_signatures(sh)).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    missed = truth - cands
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_two_star_matches_label_propagation_and_handles_deep_chains(spark):
    """two_star_components must agree with connected_components on real
    LSH pairs AND converge on a deep path graph (the diameter-bound case
    label propagation is slow on and two-star exists for)."""
    from pyspark_text_classification_spark.operators.dedup import (
        _minhash_lsh_dedup_parts,
        connected_components,
        two_star_components,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    jac, release = _minhash_lsh_dedup_parts(docs, 2, 0.8)
    pairs = jac.select("doc_a", "doc_b").localCheckpoint(eager=True)
    release()
    lp = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    ts = {(r.doc_id, r.cluster_id) for r in two_star_components(pairs).collect()}
    assert lp == ts and lp, "two-star must reproduce label-propagation clusters"

    # 0-1-2-...-29 path plus a disjoint 2-cycle {100, 101}
    chain = [(i, i + 1) for i in range(30)] + [(100, 101)]
    cdf = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {(r.doc_id, r.cluster_id) for r in two_star_components(cdf).collect()}
    want = {(i, 0) for i in range(31)} | {(100, 100), (101, 100)}
    assert got == want


def test_pii_scrub_semantics_and_cross_engine_regex(spark, oracle_con):
    """Scrub semantics on a constructed PII fixture (the synthetic corpus
    is PII-free): counts and scrubbed text for emails / IPv4s / phones,
    and Java-regex vs RE2 agreement on the same strings — the property the
    registered query's content-hash oracle relies on."""
    from pyspark_text_classification_spark.operators.pipeline import (
        PII_PATTERNS,
        scrub_pii,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk for details"),
        (2, "server at 192.168.1.254 answered; backup 10.0.0.1 did not"),
        (3, "call 555-123-4567 or +44 20 7946 0958 after hours"),
        (4, "no pii here, just 3.14 and v1.2.3 and a@b (not an email)"),
        (5, "a@b.io then 1.2.3.4 then 800.555.1212 mixed together"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        r.doc_id: r.scrubbed
        for r in df.select(
            "doc_id", scrub_pii("text").alias("scrubbed")
        ).collect()
    }
    assert got[1] == "contact me at <EMAIL> for details"
    assert got[2] == "server at <IP> answered; backup <IP> did not"
    assert got[3].startswith("call <PHONE> or ")  # +44 format not matched
    assert got[4] == rows[3][1]  # untouched
    assert got[5] == "<EMAIL> then <IP> then <PHONE> mixed together"

    # RE2 (DuckDB) must scrub identically, pattern by pattern
    for doc_id, text in rows:
        expr = "t"
        for pat, token in PII_PATTERNS:
            expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
        duck = oracle_con.execute(
            f"SELECT {expr} FROM (SELECT ? AS t)", [text]
        ).fetchone()[0]
        assert duck == got[doc_id], f"engine disagreement on doc {doc_id}"


def test_lsh_near_dup_recall_and_multiprobe_gain(spark):
    """Characterize the LSH near-dup scale path against brute force on
    sf0.001: the plain 8-table index must recover a meaningful share of
    true cos>=threshold pairs, and single-bit multi-probe must recover
    strictly at least as many (the documented recall knob). The synthetic
    embeddings are near-orthogonal (max pair cos ~0.6) — the hardest
    regime for sign-LSH; production near-dup thresholds (>=0.9) sit far
    right of this and recall there is ~1."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators import similarity as S
    from pyspark_text_classification_spark.sources.parquet import load_table

    e = S.with_norms(
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ).persist()
    thr = S.NEAR_DUP_THRESHOLD
    truth = {
        (r.vec_id, r.neighbor_id)
        for r in S.pairwise_cosine(e)
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .filter(S.round_half_up(F.col("cos"), 4) >= thr)
        .collect()
    }
    assert truth, "fixture should contain cos >= threshold pairs"
    bk = S.lsh_bucket_table(e).persist()
    plain = {
        (r.vec_id, r.neighbor_id)
        for r in S.lsh_candidate_pairs(bk).collect()
    }
    probed = {
        (r.vec_id, r.neighbor_id)
        for r in S.lsh_candidate_pairs(bk, multi_probe=True).collect()
    }
    e.unpersist()
    bk.unpersist()
    assert plain <= probed, "multi-probe must be a superset of the plain index"
    recall_plain = len(truth & plain) / len(truth)
    recall_probed = len(truth & probed) / len(truth)
    # deterministic on this fixed data: measured 2/7 plain, 4/7 probed
    # (7 true pairs at cos>=0.45 — near-orthogonal worst case)
    assert recall_plain >= 0.25, f"plain LSH recall {recall_plain:.3f}"
    assert recall_probed >= recall_plain
    assert recall_probed >= 0.5, f"multi-probe recall {recall_probed:.3f}"


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Files laid out in z-value order must cover small rectangles in
    (user, hour) space — BOTH dimensions' per-file min/max spans shrink
    vs the global span, which is exactly what makes parquet stats prune
    reads for either predicate. A time-sorted layout only clusters time."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.functions.time import ts_us
    from pyspark_text_classification_spark.operators.pipeline import (
        zorder_layout,
    )
    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.sources.parquet import load_table

    n_files = 8
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", (ts_us() / 3_600_000_000).cast("long").alias("hour")
    )
    joined = ev.join(QUERIES["pipeline_zorder_key"](spark, sf_dir), "event_id")
    out = str(tmp_path / "zlayout")
    zorder_layout(joined, F.col("zval"), n_files).write.mode(
        "overwrite"
    ).parquet(out)

    files = [
        f"{out}/{f}" for f in __import__("os").listdir(out) if f.endswith(".parquet")
    ]
    assert len(files) >= n_files - 1  # range partitioner may merge empties

    import math

    g = joined.agg(
        F.min("user_id"), F.max("user_id"), F.min("hour"), F.max("hour")
    ).first()
    gspan_u = max(g[1] - g[0], 1)
    gspan_h = max(g[3] - g[2], 1)
    spans_u, spans_h = [], []
    for f in files:
        t = pq.read_table(f, columns=["user_id", "hour"])
        if t.num_rows == 0:
            continue
        u = t.column("user_id").to_pylist()
        h = t.column("hour").to_pylist()
        spans_u.append((max(u) - min(u)) / gspan_u)
        spans_h.append((max(h) - min(h)) / gspan_h)
    # both dimensions cluster simultaneously: average per-file span is a
    # fraction of the global span (a 1-D sort gives ~1.0 on the other dim)
    assert sum(spans_u) / len(spans_u) < 0.7, spans_u
    assert sum(spans_h) / len(spans_h) < 0.7, spans_h


def test_table_checksum_flips_on_single_char_change(spark):
    """XOR checksum sensitivity: one changed character anywhere must change
    the table checksum (the property that makes it a migration gate)."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.functions.hashing import (
        char_poly_hash,
    )
    from pyspark_text_classification_spark.operators.pipeline import (
        _CK_MOD,
        _CK_MULT,
    )

    def ck(rows):
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        h = (F.col("doc_id") * _CK_MULT + char_poly_hash("text")) % _CK_MOD
        return df.select(h.alias("h")).agg(F.expr("bit_xor(h)")).first()[0]

    base = [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon")]
    flipped = [(1, "alpha beta"), (2, "gamma deltb"), (3, "epsilon")]
    reordered = [base[2], base[0], base[1]]
    assert ck(base) == ck(reordered)  # order-independent
    assert ck(base) != ck(flipped)  # single-char sensitive


def test_weighted_sample_invariant_under_repartitioning(spark, sf_dir):
    """The derandomized reservoir sample must be byte-identical no matter
    how the input is partitioned — the retry/cluster-size determinism
    claim the operator's docstring makes."""
    from pyspark_text_classification_spark.all_queries import QUERIES

    base = QUERIES["pipeline_weighted_sample"](spark, sf_dir)
    rows = sorted(map(tuple, base.collect()))

    from pyspark.sql import functions as F
    from pyspark.sql import Window
    from pyspark_text_classification_spark.operators.pipeline import (
        WS_K,
        _LN_SCALE,
        _WS_A,
        _WS_MOD,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    # same program over a deliberately different partitioning
    docs = load_table(spark, sf_dir, "documents").repartition(7)
    h = (F.col("doc_id") * _WS_A + 1) % _WS_MOD
    ln_micro = F.floor(
        F.log((h + 1).cast("double") / float(_WS_MOD)) * _LN_SCALE + F.lit(0.5)
    ).cast("long")
    key = ln_micro.cast("double") / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(key.desc(), "doc_id")
    alt = (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= WS_K)
        .select("source", F.col("rnk").cast("long").alias("rnk"), "doc_id", "n_chars")
    )
    assert sorted(map(tuple, alt.collect())) == rows


def test_udtf_surface_word_chunker(spark):
    """SURVEY §2.8 UDTF surface: a Python user-defined TABLE function
    (one row in, N rows out) registered and driven through SQL — the
    lateral-explode escape hatch for logic that genuinely cannot be a
    column expression. The relational operators never need it (pack_chunks
    does this natively); this pins the capability itself."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_id INT, chunk STRING")
    class WordChunker:
        def eval(self, text: str, size: int):
            words = text.split()
            for i in range(0, len(words), size):
                yield i // size, " ".join(words[i : i + size])

    got = WordChunker(lit("a b c d e"), lit(2)).collect()
    assert [(r.chunk_id, r.chunk) for r in got] == [
        (0, "a b"), (1, "c d"), (2, "e"),
    ]

    spark.udtf.register("word_chunker", WordChunker)
    rows = spark.sql(
        "SELECT c.chunk_id, c.chunk FROM LATERAL word_chunker('x y z', 2) c"
    ).collect()
    assert [(r.chunk_id, r.chunk) for r in rows] == [(0, "x y"), (1, "z")]


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing GUARANTEE (Schleimer et al. 2003): two documents
    sharing a token run of length >= w + k - 1 select at least one
    common fingerprint — even when everything around the run differs.
    Conversely an empty doc still yields exactly one (degenerate)
    fingerprint."""
    from pyspark_text_classification_spark.operators.winnow import (
        WINNOW_K,
        WINNOW_W,
        winnowed_fingerprints,
    )

    run = "alpha beta gamma delta epsilon zeta"  # 6 = W + K - 1 tokens
    assert len(run.split()) == WINNOW_W + WINNOW_K - 1
    docs = spark.createDataFrame(
        [
            (1, f"completely unrelated prefix {run} and more tail words"),
            (2, f"other document body {run} closing remarks here"),
            (3, "nothing in common with either of the above documents"),
        ],
        schema="doc_id long, text string",
    )
    fps = winnowed_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared run selected no common fingerprint"
    # doc 3 shares nothing with doc 1 (different vocab entirely)
    assert not (by_doc[1] & by_doc[3])

    empty = spark.createDataFrame(
        [(9, "")], schema="doc_id long, text string"
    )
    got = winnowed_fingerprints(empty).collect()
    assert [(r.doc_id, r.fp) for r in got] == [(9, 0)]


def test_kmv_estimate_within_error_bound(spark, sf_dir):
    """KMV's relative standard error is ~1/sqrt(k-1); assert the distinct
    estimates land within 4 sigma of truth (deterministic here — the
    hash permutation is fixed), and the estimator is EXACT whenever the
    set is smaller than k."""
    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.operators.sketches import KMV_K

    row = QUERIES["sketch_kmv_intersection"](spark, sf_dir).first()
    sigma = 1.0 / (KMV_K - 1) ** 0.5
    for exact, est in ((row.exact_a, row.est_a), (row.exact_b, row.est_b)):
        if exact < KMV_K:
            assert est == exact, "sub-k set must be exact"
        else:
            assert abs(est - exact) <= 4 * sigma * exact, (exact, est)


def test_inrow_pair_generation_equals_self_join(spark, sf_dir):
    """The graph backbone's in-row pair explode (sorted collect_set +
    array-lambda combinations on a packed long key) must produce the
    exact weighted-pair multiset of the classic hub-capped self-join
    (small a JOIN small b ON a.c = b.c AND a.s < b.s) it replaced."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators.graph import (
        _PAIR_BASE,
        _PAIR_EXPLODE,
        _bipartite_edges,
        _pair_lists,
        AA_HUB_CAP,
    )

    inrow = (
        _pair_lists(spark, sf_dir)
        .select(F.explode(F.expr(_PAIR_EXPLODE)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("w"))
        .select(
            F.expr(f"k div {_PAIR_BASE}L").alias("u"),
            F.expr(f"k % {_PAIR_BASE}L").alias("v"),
            "w",
        )
    )
    e = _bipartite_edges(spark, sf_dir)
    cdeg = e.groupBy("c").agg(F.count("*").alias("deg"))
    small = (
        e.join(cdeg, "c")
        .filter((F.col("deg") >= 2) & (F.col("deg") <= AA_HUB_CAP))
        .select("c", "s")
    )
    joined = (
        small.alias("a")
        .join(
            small.select(
                F.col("c").alias("bc"), F.col("s").alias("v")
            ).alias("b"),
            (F.col("a.c") == F.col("bc")) & (F.col("a.s") < F.col("v")),
        )
        .groupBy(F.col("a.s").alias("u"), "v")
        .agg(F.count("*").alias("w"))
    )
    assert inrow.exceptAll(joined).count() == 0
    assert joined.exceptAll(inrow).count() == 0


def test_kcore_trajectory_peels_like_the_sql_chain(spark):
    """graph_kcore_peel's twin never peels at the test scale (every round
    reads the same backbone), so the peel is checked here on a built
    graph: a (k+1)-clique core plus a chain p_1..p_R of pendant nodes
    that each drop below degree k one round after their predecessor is
    peeled.  The Spark rounds must equal DuckDB's _sql_peel chain over
    the same edges and lose nodes every round."""
    import duckdb
    import pandas as pd

    from pyspark_text_classification_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        _kcore_trajectory,
        _sql_peel,
    )

    k = KCORE_K
    core = range(k + 1)
    edges = [(u, v) for u in core for v in core if u < v]
    chain = [100 + i for i in range(KCORE_ROUNDS)]
    for i, p in enumerate(chain):
        # k-2 core edges plus its chain neighbours; the last p has one
        # neighbour, so it takes one more core edge to reach degree k
        n_core = k - 1 if i == len(chain) - 1 else k - 2
        edges += [(c, p) for c in core[:n_core]]
    edges += list(zip(chain, chain[1:]))

    got = [
        tuple(r)
        for r in _kcore_trajectory(
            spark.createDataFrame(edges, "u long, v long")
        )
        .orderBy("round")
        .select("round", "n_nodes", "n_edges")
        .collect()
    ]

    con = duckdb.connect()
    con.register("edges", pd.DataFrame(edges, columns=["u", "v"]))
    con.execute("CREATE TABLE g0 AS SELECT u, v FROM edges")
    want = []
    for rnd in range(KCORE_ROUNDS + 1):
        if rnd:
            con.execute(f"CREATE TABLE g{rnd} AS {_sql_peel(f'g{rnd - 1}')}")
        want.append((rnd, *con.execute(
            f"""SELECT (SELECT count(DISTINCT node) FROM
                  (SELECT u AS node FROM g{rnd} UNION ALL
                   SELECT v FROM g{rnd})),
                (SELECT count(*) FROM g{rnd})"""
        ).fetchone()))
    con.close()

    assert got == want
    n_nodes = [n for _, n, _ in got]
    assert n_nodes == sorted(set(n_nodes), reverse=True), n_nodes
    assert n_nodes[-1] == k + 1


def test_shared_intermediate_semantics(spark, sf_dir):
    """plans.shared contract: (1) one build per (session, sf_dir, name) —
    later calls read the checkpoint; (2) slot rows equal the cold build;
    (3) a slot is a temp view in the session catalog, one per sf_dir;
    (4) clear_shared_intermediates() drops the slots, so the next call
    builds again (perfbench isolates its passes with it)."""
    from pyspark_text_classification_spark.plans.explain import formatted_plan
    from pyspark_text_classification_spark.plans.shared import (
        clear_shared_intermediates,
        shared_intermediate,
    )

    def cold():
        return spark.range(5).selectExpr("id", "id * id AS sq")

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return cold()

    def slots():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.isTemporary and "unit_probe" in t.name
        }

    clear_shared_intermediates()
    first = shared_intermediate(spark, sf_dir, "unit_probe", build)
    again = shared_intermediate(spark, sf_dir, "unit_probe", build)
    assert calls["n"] == 1  # second call reused the slot
    assert sorted(again.collect()) == sorted(cold().collect())
    assert sorted(first.collect()) == sorted(again.collect())
    assert "ExistingRDD" in formatted_plan(again)
    assert len(slots()) == 1

    shared_intermediate(spark, f"{sf_dir}/other", "unit_probe", build)
    assert calls["n"] == 2 and len(slots()) == 2

    clear_shared_intermediates()
    assert slots() == set()
    shared_intermediate(spark, sf_dir, "unit_probe", build)
    assert calls["n"] == 3  # the clear forced a rebuild
    clear_shared_intermediates()


def test_trained_codebook_matches_cold_build(spark, sf_dir):
    """The session-cached PQ codebook is row-identical to an uncached
    pq_codebook_refined build — the cache is a pure materialization."""
    from pyspark_text_classification_spark.operators.pq import (
        PQ_K,
        PQ_M,
        _quantized,
        pq_codebook_refined,
        trained_codebook,
    )
    from pyspark_text_classification_spark.plans.shared import (
        clear_shared_intermediates,
    )

    clear_shared_intermediates()
    cached = {
        (r.m, r.code_id): tuple(r.cq)
        for r in trained_codebook(spark, sf_dir).collect()
    }
    cold = {
        (r.m, r.code_id): tuple(r.cq)
        for r in pq_codebook_refined(_quantized(spark, sf_dir)).collect()
    }
    assert cached == cold and len(cached) == PQ_M * PQ_K


def test_round5_statistic_invariants(spark, sf_dir):
    """Mathematical bounds the round-5 statistics cannot violate on ANY
    input — cheap cross-checks beyond the oracle hash (which only
    proves engine agreement, not sanity of the definition)."""
    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
    )
    from pyspark_text_classification_spark.operators.timeseries import (
        N_CAMPAIGNS,
    )

    # autocorrelation: |sign * r^2| <= 1 in micro-units
    ac = QUERIES["events_autocorr_lag"](spark, sf_dir).collect()
    assert ac and all(abs(r["r2_signed_micro"]) <= 1_000_000 for r in ac)

    # Allen: the CASE is a partition — every (session, campaign) pair
    # classified exactly once, so counts sum to n_sessions x campaigns
    al = QUERIES["events_allen_relations"](spark, sf_dir).collect()
    per_campaign = {}
    for r in al:
        per_campaign.setdefault(r["campaign_id"], 0)
        per_campaign[r["campaign_id"]] += r["n_sessions"]
    assert len(per_campaign) == N_CAMPAIGNS
    assert len(set(per_campaign.values())) == 1  # same session total each

    # MCC: bounded by 1, confusion cells partition the corpus
    mcc = QUERIES["ml_mcc_eval"](spark, sf_dir).collect()[0]
    assert abs(mcc["mcc2_signed_micro"]) <= 1_000_000
    from pyspark_text_classification_spark.sources.parquet import load_table
    nd = load_table(spark, sf_dir, "documents").count()
    assert mcc["tp"] + mcc["fp"] + mcc["tn"] + mcc["fn"] == nd

    # Mann-Kendall: |S| <= n(n-1)/2
    mk = QUERIES["events_mann_kendall"](spark, sf_dir).collect()
    assert mk and all(
        abs(r["s_stat"]) <= r["n_days"] * (r["n_days"] - 1) // 2 for r in mk
    )

    # Bloom: false positives bounded by negatives; set bits bounded by
    # insertions and by the filter size
    bl = QUERIES["sketch_bloom_fpp"](spark, sf_dir).collect()[0]
    assert 0 <= bl["n_false_pos"] <= bl["n_neg"]
    assert bl["n_bits_set"] <= min(BLOOM_K * bl["n_members"], BLOOM_BITS)

    # k-center: the farthest-point separation is non-increasing as the
    # chosen set grows (min-dist to a SUPERSET can't be larger)
    kc = {
        r["round"]: r["sep_dist"]
        for r in QUERIES["similarity_kcenter_init"](spark, sf_dir).collect()
    }
    assert kc[2] <= kc[1] and kc[1] > 0

    # Gini: impurity reduction is non-negative for every feature split
    gi = QUERIES["ml_gini_feature_rank"](spark, sf_dir).collect()
    assert len(gi) == 3 and all(r["reduction_micro"] >= -1 for r in gi)


def test_sqrt_cell_auto_variants_invariants(spark, sf_dir):
    """The corpus-sized-cell variants (cells = max(16, floor(sqrt(n))))
    must honor the derived cell count, conserve membership, and keep
    the fixed-cell twins' semantics — the invariants that make the
    FAISS/SemDeDup sizing rule safe to apply without re-deriving the
    oracle: sizing changes WHERE pairs are compared, never the
    bookkeeping identities."""
    import math

    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.operators.similarity import (
        IVF_AUTO_MIN_CELLS,
        TOP_K,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    c = max(IVF_AUTO_MIN_CELLS, math.isqrt(n))

    sem = QUERIES["dedup_semantic_auto"](spark, sf_dir).collect()
    # centroids are the c lowest vec_ids, so every cell id < c
    assert sem and all(0 <= r["cell_id"] < c for r in sem)
    assert len(sem) <= c
    # membership conservation: every vector lands in exactly one cell,
    # and each cell's keep/drop split partitions its members
    assert sum(r["n_members"] for r in sem) == n
    assert all(r["n_kept"] + r["n_dropped"] == r["n_members"] for r in sem)
    # at least one vector survives per non-empty cell (the greedy
    # lowest-id rule never drops a cell's minimum member)
    assert all(r["n_kept"] >= 1 for r in sem)

    ivf = QUERIES["similarity_ann_ivf_auto"](spark, sf_dir).collect()
    per_vec = {}
    for r in ivf:
        assert r["vec_id"] != r["neighbor_id"]
        per_vec.setdefault(r["vec_id"], []).append(r["rank"])
    # ranks are a dense 1..k prefix per vector, never more than TOP_K
    assert per_vec and all(
        sorted(rs) == list(range(1, len(rs) + 1)) and len(rs) <= TOP_K
        for rs in per_vec.values()
    )

    # the composed IVF+PQ system under the same sizing rule: every
    # answered query is from the deterministic 1/PQ_QUERY_MOD sample,
    # never its own neighbor, with a dense 1..k rank prefix
    from pyspark_text_classification_spark.operators.pq import (
        PQ_NN_K,
        PQ_QUERY_MOD,
    )

    ivfpq = QUERIES["similarity_ivf_pq_auto"](spark, sf_dir).collect()
    per_q = {}
    for r in ivfpq:
        assert r["q_id"] % PQ_QUERY_MOD == 0
        assert r["q_id"] != r["neighbor_id"]
        per_q.setdefault(r["q_id"], []).append(r["rank"])
    assert per_q and all(
        sorted(rs) == list(range(1, len(rs) + 1)) and len(rs) <= PQ_NN_K
        for rs in per_q.values()
    )


def test_bigram_keys_guard_short_docs(spark):
    """Bigram generation must be well-defined on ANY token count:
    Spark's sequence(1, 0) is the DESCENDING [1, 0], so an unguarded
    transform would index ts[-1] (ANSI error) on 0/1-token docs while
    the DuckDB oracle's range(1, len) is empty — the exact silent-
    divergence class the round-4 ADVICE flagged for decimal sums."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators.sketches import (
        BIGRAM_KEYS_SQL,
    )

    # force ANSI so an out-of-range index would raise, not NULL out
    with_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [([],), (["one"],), (["a", "b"],), (["x", "y", "z"],)],
            "ts array<string>",
        )
        rows = df.select(
            F.size("ts").alias("n"),
            F.expr(BIGRAM_KEYS_SQL).alias("bg"),
        ).collect()
        got = {r["n"]: list(r["bg"]) for r in rows}
        assert got[0] == [] and got[1] == []
        assert got[2] == ["a b"] and got[3] == ["x y", "y z"]
    finally:
        if with_ansi is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", with_ansi)


def test_decode_media_roundtrips_uncompressed_layouts():
    """decode_media really parses the public byte layouts: encode a known
    array with the module's own encoders (independent header writers),
    decode, and require exact array equality — including the BMP
    bottom-up/BGR/row-padding undo and the WAV chunk walk."""
    import numpy as np

    from pyspark_text_classification_spark.operators.multimodal import (
        _encode_bmp,
        _encode_wav,
        decode_media,
    )

    rng = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)  # w=5 pads
    ppm = b"P6\n5 3\n255\n" + rng.tobytes()
    assert np.array_equal(decode_media(ppm, "image/x-portable-pixmap"), rng)

    assert np.array_equal(decode_media(_encode_bmp(rng), "image/bmp"), rng)
    # padding really present: stride 16 != 15 payload bytes per row
    assert len(_encode_bmp(rng)) == 54 + 16 * 3

    s = (np.arange(33, dtype=np.int64) * 1001 - 16000).astype(np.int16)
    rate, out = decode_media(_encode_wav(12345, s), "audio/wav")
    assert rate == 12345 and np.array_equal(out, s)

    # compressed formats stay a documented dispatch arm
    import pytest

    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")


def test_decode_media_roundtrips_png_all_filters():
    """The PNG decoder really inverts the five public scanline filters
    over a real zlib-DEFLATEd stream: encode known RGB and RGBA arrays
    with every filter type (one per row), decode, and require exact
    array equality.  A second pass encodes the SAME array with
    different per-row filters and must decode identically — filters
    change the stored bytes, never the image."""
    import numpy as np
    import pytest

    from pyspark_text_classification_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
        decode_media,
    )

    rgba = (np.arange(5 * 3 * 4, dtype=np.int64) * 37 % 256).astype(
        np.uint8
    ).reshape(5, 3, 4)
    png = _encode_png(rgba, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_media(png, "image/png"), rgba)

    # filter choice must be invisible after decode
    png2 = _encode_png(rgba, [4, 3, 2, 1, 0])
    assert png2 != png  # genuinely different stored scanlines
    assert np.array_equal(_decode_png(png2), rgba)

    rgb = (np.arange(5 * 4 * 3, dtype=np.int64) * 91 % 256).astype(
        np.uint8
    ).reshape(5, 4, 3)
    assert np.array_equal(
        decode_media(_encode_png(rgb, [4, 4, 3, 1, 2]), "image/png"), rgb
    )

    with pytest.raises(ValueError):
        _decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")

    # a malformed chunk length must fail as a PARSE error at the walk,
    # not as an opaque zlib/frombuffer error later (ADVICE r8): truncate
    # the valid payload mid-chunk and corrupt a length field upward
    with pytest.raises(ValueError, match="truncated chunk"):
        # cuts IEND plus two CRC bytes of the preceding IDAT, so the
        # IDAT header is readable but its declared extent overruns
        _decode_png(png[: len(png) - 14])
    huge_len = png[:8] + b"\x7f\xff\xff\xff" + png[12:]
    with pytest.raises(ValueError, match="truncated chunk"):
        _decode_png(huge_len)


def test_decode_media_png_chunk_walk_split_idat_and_ancillary():
    """The PNG chunk walk is real, not single-chunk: the SAME image
    stored with its DEFLATE stream split across two IDAT chunks and an
    ancillary tEXt chunk interleaved must decode identically (encoders
    in the wild emit 8-64 KiB IDAT runs; ancillary chunks are skipped
    by type, per the spec's chunk model)."""
    import zlib

    import numpy as np

    from pyspark_text_classification_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    img = (np.arange(4 * 3 * 3, dtype=np.int64) * 53 % 256).astype(
        np.uint8
    ).reshape(4, 3, 3)
    one = _encode_png(img, [1, 4, 2, 3])

    # re-pack: signature + IHDR, then split the IDAT payload in two and
    # interleave a tEXt chunk between the halves
    def chunks(b):
        i, out = 8, []
        while i + 8 <= len(b):
            size = int.from_bytes(b[i : i + 4], "big")
            out.append((b[i + 4 : i + 8], b[i + 8 : i + 8 + size]))
            i += 12 + size
        return out

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    parsed = dict(chunks(one))
    idat = parsed[b"IDAT"]
    split = (
        one[:8]
        + chunk(b"IHDR", parsed[b"IHDR"])
        + chunk(b"IDAT", idat[: len(idat) // 2])
        + chunk(b"tEXt", b"Comment\x00synthetic")
        + chunk(b"IDAT", idat[len(idat) // 2 :])
        + chunk(b"IEND", b"")
    )
    assert split != one
    assert np.array_equal(_decode_png(split), img)


def test_two_level_quantizer_edges(spark, sf_dir):
    """Edge semantics of the round-9 two-level coarse quantizer that the
    bundled corpus cannot force:

    - cell_to_super must FORCE supers to map to themselves: with two
      IDENTICAL centroids where one is a super, pure rank-1 would strand
      the higher-id super with zero member cells (self-cosine is not
      exactly 1.0 in floats, so 'a super keeps its own cell' is not a
      geometric given);
    - refined_centroids must keep a seed's own vector when its Lloyd
      sample slice is empty (the COALESCE arm);
    - two_level_members must assign EVERY vector exactly once on real
      data (a stranded super or empty member union would drop rows
      silently into the candidate join)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators.similarity import (
        IVF_AUTO_MIN_CELLS,
        cell_to_super,
        refined_centroids,
        super_centroids,
        two_level_index,
        two_level_members,
        with_norms,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    # --- forced self-map on identical centroids -------------------------
    def vec(i, dims=6):
        v = [0.0] * dims
        v[i] = 1.0
        return v

    cents_rows = [
        (0, vec(0), 1.0),
        (1, vec(0), 1.0),  # identical to super 0; rank-1 alone -> 0
        (2, vec(2), 1.0),
        (3, vec(3), 1.0),
        (4, vec(4), 1.0),
        (5, vec(5), 1.0),
    ]
    cents = spark.createDataFrame(
        cents_rows, "cent_id LONG, cv ARRAY<DOUBLE>, cnrm DOUBLE"
    )
    sup = super_centroids(cents, 4)  # supers = cents 0..3
    c2s = {r.cent_id: r.super_id for r in cell_to_super(cents, sup).collect()}
    assert c2s[1] == 1, c2s  # the forced self-edge (rank-1 says 0)
    for s in (0, 2, 3):
        assert c2s[s] == s, c2s
    assert len(c2s) == 6 and None not in c2s.values(), c2s

    # --- empty-seed COALESCE in the Lloyd refinement ---------------------
    # 600 rows, 17-dim one-hots: seeds are ids 0..15 (= e_i); stride =
    # ceil(600 / (16*16)) = 3, so only ids % 3 == 0 are sampled — seeds
    # 1, 2, 4, 5, ... receive NO sample members and must keep their
    # seed vector verbatim
    n_rows, dims = 600, 17
    rows = [
        (i, vec(i, dims) if i < 16 else vec(16, dims)) for i in range(n_rows)
    ]
    e = with_norms(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    )
    cells = max(IVF_AUTO_MIN_CELLS, math.isqrt(n_rows))  # 24
    ref = {r.cent_id: r.cv for r in refined_centroids(e, n_rows, cells).collect()}
    assert len(ref) == min(cells, n_rows) == 24
    assert ref[1] == vec(1, dims), ref[1]   # unsampled seed: kept verbatim
    assert ref[4] == vec(4, dims), ref[4]
    assert ref[3] == vec(3, dims), ref[3]   # sampled, sole member: mean==self

    # --- member totality on real data ------------------------------------
    raw = load_table(spark, sf_dir, "embeddings")
    er = with_norms(raw)
    n_total = raw.count()
    c = max(IVF_AUTO_MIN_CELLS, math.isqrt(n_total))
    cr = refined_centroids(er, n_total, c)
    m = two_level_members(er, two_level_index(cr, c)).select(
        "vec_id", "cent_id"
    )
    got = m.agg(
        F.count("*").alias("n"),
        F.countDistinct("vec_id").alias("d"),
        F.min("cent_id").alias("mn"),
    ).collect()[0]
    assert got.n == n_total and got.d == n_total, got
    assert got.mn >= 0, got  # the fold's -1 sentinel never leaks
    assert np is not None


def test_ivf_delete_balance_and_tombstone_exclusion(spark, sf_dir):
    """The round-10 delete stage's two contracts, pinned directly:

    - balance exactness: per-cell n_members/n_deleted/n_remaining sum to
      the corpus / the tombstone count, n_remaining is the subtraction,
      and needs_compaction is EXACTLY the integer trigger
      (n_deleted * 100 >= n_members * COMPACT_PCT);
    - the delete-then-query trap: the served post-delete answers emit NO
      tombstoned id, neither as a neighbor (the members anti-join) nor
      as a query (the sample is re-drawn from survivors)."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators.similarity import (
        COMPACT_PCT,
        DELETE_MOD,
        DELETE_REM,
        _delete_served_ann,
        similarity_ivf_delete,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    raw = load_table(spark, sf_dir, "embeddings")
    n_total = raw.count()
    n_tomb = raw.filter(
        F.pmod(F.col("vec_id"), F.lit(DELETE_MOD)) == DELETE_REM
    ).count()
    assert 0 < n_tomb < n_total  # the tombstone set is real and proper

    bal = similarity_ivf_delete(spark, sf_dir).collect()
    assert sum(r.n_members for r in bal) == n_total
    assert sum(r.n_deleted for r in bal) == n_tomb
    for r in bal:
        assert r.n_remaining == r.n_members - r.n_deleted, r
        assert r.needs_compaction == int(
            r.n_deleted * 100 >= r.n_members * COMPACT_PCT
        ), r

    tombs = {
        r.vec_id
        for r in raw.filter(
            F.pmod(F.col("vec_id"), F.lit(DELETE_MOD)) == DELETE_REM
        ).collect()
    }
    ann = _delete_served_ann(spark, sf_dir).collect()
    assert ann  # the served set is non-empty at every bundled sf
    leaked = {r.neighbor_id for r in ann} & tombs
    assert not leaked, f"tombstoned ids emitted as neighbors: {leaked}"
    assert not ({r.vec_id for r in ann} & tombs)
    # the sample-exclusion arm is load-bearing: some sampled id IS
    # tombstoned (DELETE_REM chosen so x%16==0, x%DELETE_MOD==REM has
    # solutions in the corpus id range)
    from pyspark_text_classification_spark.operators.similarity import (
        RECALL_SAMPLE_MOD,
    )

    excluded = [
        t for t in tombs if t % RECALL_SAMPLE_MOD == 0
    ]
    assert excluded, "tombstones never intersect the query sample"


def test_ivf_auto_index_serves_one_member_table(spark, sf_dir, monkeypatch):
    """ivf_auto_index is the *_auto family's one index value: after a
    clear, ann_ivf_auto, ivf_pq_auto and ivf_delete build the two-level
    member table ONCE between them, the session holds exactly four
    ivf_auto_* slots (corpus size, centroids, two-level index, members),
    the member slot equals a cold build, and every query's rows equal
    its run after a fresh clear."""
    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.operators import similarity
    from pyspark_text_classification_spark.plans.shared import (
        clear_shared_intermediates,
    )

    names = (
        "similarity_ann_ivf_auto",
        "similarity_ivf_pq_auto",
        "similarity_ivf_delete",
    )

    def run(name):
        return sorted(QUERIES[name](spark, sf_dir).collect())

    alone = {}
    for name in names:
        clear_shared_intermediates()
        alone[name] = run(name)

    builds = {"n": 0}
    real_members = similarity.two_level_members

    def counted(e, idx):
        builds["n"] += 1
        return real_members(e, idx)

    monkeypatch.setattr(similarity, "two_level_members", counted)
    clear_shared_intermediates()
    in_sequence = {name: run(name) for name in names}
    assert builds["n"] == 1
    slots = {
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("shared_slot_ivf_auto_")
    }
    assert len(slots) == 4, slots
    assert in_sequence == alone

    index = similarity.ivf_auto_index(spark, sf_dir)
    n_total = index.raw.count()
    cents = similarity.refined_centroids(index.e, n_total, index.cells)
    cold = real_members(
        index.e, similarity.two_level_index(cents, index.cells)
    ).select("vec_id", "cent_id")
    assert sorted(index.members.collect()) == sorted(cold.collect())
    assert builds["n"] == 1  # the index value read its slots
    index.e.unpersist()
    clear_shared_intermediates()


def test_search_serves_ann_ivf_auto(spark, sf_dir):
    """search is the one probe -> candidates -> cosine -> rank path:
    called on the index value with ann_ivf_auto's batch and probe count,
    after a clear, it returns the registered query's rows exactly."""
    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.operators import similarity as S
    from pyspark_text_classification_spark.plans.shared import (
        clear_shared_intermediates,
    )

    clear_shared_intermediates()
    want = sorted(QUERIES["similarity_ann_ivf_auto"](spark, sf_dir).collect())
    clear_shared_intermediates()
    index = S.ivf_auto_index(spark, sf_dir)
    got = sorted(
        S.search(
            index, S.query_batch_ids(index.raw), S.auto_nprobe(index.cells)
        ).collect()
    )
    assert want and got == want
    clear_shared_intermediates()


def test_warm_ivf_auto_index_reads_its_size(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The index value carries its sizes: a warm ivf_auto_index runs no
    count over the embeddings, launches fewer jobs than the cold build,
    and its n and cells equal the cold values — also on a 10-row corpus,
    below IVF_AUTO_MIN_CELLS, where cells stays 16."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.classic.dataframe import DataFrame

    from pyspark_text_classification_spark.operators import similarity as S
    from pyspark_text_classification_spark.plans.shared import (
        clear_shared_intermediates,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    tiny = tmp_path / "tiny"
    tiny.mkdir()
    vecs = np.random.default_rng(7).normal(size=(10, 8)).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(10), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(10)], pa.int64()),
            }
        ),
        str(tiny / "embeddings.parquet"),
    )
    sc = spark.sparkContext

    def build(d, group):
        sc.setJobGroup(group, group)
        try:
            index = S.ivf_auto_index(spark, d)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        index.e.unpersist()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return (index.n, index.cells), jobs

    def no_count(self):
        raise AssertionError("a warm ivf_auto_index counted a frame")

    for d, want_cells in ((sf_dir, None), (str(tiny), 16)):
        n = load_table(spark, d, "embeddings").count()
        clear_shared_intermediates()
        cold, cold_jobs = build(d, f"cold-index-{d}")
        with monkeypatch.context() as m:
            m.setattr(DataFrame, "count", no_count)
            warm, warm_jobs = build(d, f"warm-index-{d}")
        assert cold == warm == (n, max(S.IVF_AUTO_MIN_CELLS, math.isqrt(n)))
        assert want_cells is None or warm[1] == want_cells
        assert warm_jobs < cold_jobs, (warm_jobs, cold_jobs)
    clear_shared_intermediates()


def test_bpe_merge_application_is_nonoverlapping_left_to_right(spark):
    """The BPE trainer's string-fold merge application must fuse exactly
    the non-overlapping left-to-right occurrences: 'aaaa' under merge
    (a,a) becomes [aa, aa] (pairs 1-2 and 3-4), 'aaa' becomes [aa, a],
    and a freshly fused symbol must not chain into the next merge at
    the same iteration.  Pinned end to end on a crafted corpus where
    the winning first merge is (a,a): the corpus symbol count after
    iteration 1 must equal the hand-derived fusion count, which only
    holds if the fold's suffix test implements the exact semantics."""
    import duckdb as ddb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from pyspark_text_classification_spark.all_queries import ORACLES, QUERIES

    tmp = pytest.importorskip("tempfile")
    import os

    with tmp.TemporaryDirectory() as d:
        # 4 docs of 'aaaa aaa' -> vocab {aaaa: 4, aaa: 4}; pair (a,a)
        # counted overlap-blind: 3*4 + 2*4 = 20 occurrences, but the
        # non-overlapping application fuses only 2 per 'aaaa' and 1 per
        # 'aaa': symbols 7*4 = 28 -> (2+2)*4 = 16 after iteration 1
        rows = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["aaaa aaa"] * 4,
                "source": ["s"] * 4,
                "lang": ["en"] * 4,
                "n_chars": [8] * 4,
            }
        )
        pq.write_table(
            pa.Table.from_pandas(rows), os.path.join(d, "documents.parquet")
        )
        got = {
            r.iter: (r.merge_a, r.merge_b, r.n_occ, r.corpus_symbols_after)
            for r in QUERIES["text_bpe_iter3"](spark, d).collect()
        }
        assert got[1] == ("a", "a", 20, 16), got
        # iteration 2 merges (aa, aa) (from 'aaaa', count 4) vs (aa, a)
        # (from 'aaa', count 4): tie on count, 'aa a' < 'aa aa' -> the
        # pair tie-break picks (aa, a); 'aaa' -> [aaa], 16 - 4 = 12
        assert got[2] == ("aa", "a", 4, 12), got

        con = ddb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet')"
        )
        want = {
            int(i): (a, b, int(n), int(c))
            for i, a, b, n, c in con.execute(
                ORACLES["text_bpe_iter3"]
            ).fetchall()
        }
        assert want == got, (want, got)


def test_bpe_iter3_degenerate_corpora(spark, tmp_path):
    """BPE trainer edges the bundled corpus cannot force, pinned against
    the oracle: a corpus whose tokens are all below the length-2
    tokenizer floor trains NOTHING (0 rows, both engines — the empty
    merge table must not crash the unrolled chain), and a single
    repeated 2-char word converges after one merge (iterations 2 and 3
    re-pick deterministically over the collapsed single-symbol vocab —
    no pairs exist, so they emit nothing)."""
    import os

    import duckdb as ddb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_text_classification_spark.all_queries import ORACLES, QUERIES

    def run(case, texts):
        d = tmp_path / case
        os.makedirs(d)
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(
                    {
                        "doc_id": list(range(1, len(texts) + 1)),
                        "text": texts,
                        "source": ["s"] * len(texts),
                        "lang": ["en"] * len(texts),
                        "n_chars": [len(t) for t in texts],
                    }
                )
            ),
            os.path.join(str(d), "documents.parquet"),
        )
        got = sorted(
            (r.iter, r.merge_a, r.merge_b, r.n_occ, r.corpus_symbols_after)
            for r in QUERIES["text_bpe_iter3"](spark, str(d)).collect()
        )
        con = ddb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet')"
        )
        want = sorted(
            (int(i), a, b, int(n), int(c))
            for i, a, b, n, c in con.execute(
                ORACLES["text_bpe_iter3"]
            ).fetchall()
        )
        assert got == want, (case, got, want)
        return got

    # every token below the length-2 floor -> empty vocab -> no merges
    assert run("no_tokens", ["a b c", "x y", "a a a"]) == []

    # one repeated 2-char word: iteration 1 merges it whole; afterwards
    # the vocab is a single 1-symbol word -> no pairs -> no more rows
    got = run("one_word", ["ab ab ab", "ab"])
    assert got == [(1, "a", "b", 4, 4)], got


def test_served_ann_frames_are_pair_unique(spark, sf_dir):
    """recall_at_k counts hits via LEFT JOIN + count(hit), which is exact
    ONLY while the ANN side is (vec_id, neighbor_id)-unique — and that
    uniqueness rests on the rank-1-members/distinct-probes invariants
    whose enforcing .distinct() calls round 11 removed (they were no-ops
    on unique input).  This tripwire makes a candidate-builder
    regression fail LOUDLY here instead of silently inflating recall
    gates (ADVICE r11).  Duplicated pairs would also survive _rank_topk
    (row_number ranks them separately), so checking the served outputs
    covers the whole candidate chain."""
    from pyspark_text_classification_spark.all_queries import QUERIES

    served = {
        "similarity_ann_ivf": ("vec_id", "neighbor_id"),
        "similarity_ann_ivf_auto": ("vec_id", "neighbor_id"),
        "similarity_filtered_ann": ("vec_id", "neighbor_id"),
        "similarity_ivf_pq": ("q_id", "neighbor_id"),
        "similarity_pq_adc_topk": ("q_id", "neighbor_id"),
        "similarity_ivf_pq_rerank": ("vec_id", "neighbor_id"),
    }
    for name, cols in served.items():
        pairs = QUERIES[name](spark, sf_dir).select(*cols)
        n, nd = pairs.count(), pairs.distinct().count()
        assert n == nd, (
            f"{name}: {n - nd} duplicate {cols} pairs — a rank-1/"
            "distinct-probes invariant regressed; recall gates upstream "
            "of this would overcount hits"
        )


def test_sample_truth_is_one_fold_per_session(spark, sf_dir, monkeypatch):
    """The LSH recall gate, the kNN classifier and the PQ recall gate
    read ONE exact ground truth: the top-SAMPLE_TRUTH_K superset of the
    1/16 query sample (sample_exact_topk).  A cold session folds that
    sample against the corpus once for all three (two folds before the
    truths were merged), its top-5 slice equals a brute-force top-5 over
    every pair, and each query returns the same rows when it builds the
    truth alone after a fresh clear."""
    from pyspark_text_classification_spark.all_queries import QUERIES
    from pyspark_text_classification_spark.operators import pq
    from pyspark_text_classification_spark.operators import similarity as S
    from pyspark_text_classification_spark.plans.shared import (
        clear_shared_intermediates,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    names = (
        "similarity_recall_eval",
        "similarity_knn_classify",
        "similarity_pq_recall",
    )
    folds = []
    real = S.exact_topk

    def counting(queries, universe, k):
        folds.append(k)
        return real(queries, universe, k)

    monkeypatch.setattr(S, "exact_topk", counting)
    monkeypatch.setattr(pq, "exact_topk", counting)
    clear_shared_intermediates()
    shared = {n: sorted(QUERIES[n](spark, sf_dir).collect()) for n in names}
    assert folds == [S.SAMPLE_TRUTH_K], folds

    e = S.with_norms(load_table(spark, sf_dir, "embeddings"))
    sampled = F.pmod(F.col("vec_id"), F.lit(S.RECALL_SAMPLE_MOD)) == 0
    brute = S._rank_topk(S.pairwise_cosine(e).filter(sampled), S.TOP_K)
    cols = ("vec_id", "neighbor_id", "rank")
    want = sorted(brute.select(*cols).collect())
    got = sorted(S.sample_exact_topk(spark, sf_dir).select(*cols).collect())
    assert want and got == want

    for n in names:
        clear_shared_intermediates()
        assert sorted(QUERIES[n](spark, sf_dir).collect()) == shared[n], n

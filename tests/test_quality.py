"""Round-4 corpus-curation operators: Gopher quality rules, unigram-LM
familiarity, per-domain caps, int8 quantization, set ops, and rank
distributions. Oracle parity runs in test_oracle_parity (these keys
all have ORACLE entries); here: plan hygiene + semantic properties the
oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.functions.quality import (
    GOPHER_MAX_REPETITION,
    gopher_flags,
    mean_word_length,
    word_repetition_ratio,
)
from machine_learning_algorithm_sparkml__spark.operators.lm import unigram_familiarity
from machine_learning_algorithm_sparkml__spark.operators.quantize import (
    dequantize_error_bound,
    quantize_int8,
)
from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
from machine_learning_algorithm_sparkml__spark.sources import load_table
from machine_learning_algorithm_sparkml__spark.workload.quality import (
    q_domain_top_docs,
    q_text_gopher_quality,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- gopher rules --------------------------------------------------------------

def test_gopher_flags_on_crafted_docs(spark):
    docs = _docs(spark, [
        (1, None),                                  # empty -> everything fails closed
        (2, " ".join(["spam"] * 100)),              # 100% repetition
        (3, " ".join(f"w{i}" for i in range(60))),  # healthy doc
        (4, " ".join(["1234567890123"] * 50)),      # numeric, long words
    ])
    flags = gopher_flags(F.col("text"))
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id", flags["gopher_ok"].alias("ok"),
        flags["repetition_ok"].alias("rep_ok"),
        flags["alpha_ok"].alias("alpha_ok"),
        flags["mean_word_len_ok"].alias("mwl_ok"),
    ).collect()}
    assert not out[1]["ok"]
    assert not out[2]["rep_ok"] and not out[2]["ok"]
    assert out[3]["ok"]
    assert not out[4]["alpha_ok"] and not out[4]["mwl_ok"]


def test_repetition_and_mean_word_len_values(spark):
    docs = _docs(spark, [(1, "a a b"), (2, "abc de")])
    row = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        word_repetition_ratio(F.col("text")).alias("rep"),
        mean_word_length(F.col("text")).alias("mwl"),
    ).collect()}
    assert abs(row[1]["rep"] - (1 - 2 / 3)) < 1e-15
    assert abs(row[1]["mwl"] - 1.0) < 1e-15
    assert row[2]["rep"] == 0.0
    assert abs(row[2]["mwl"] - 2.5) < 1e-15


def test_gopher_scan_is_shuffle_free(spark, sf_dir):
    spark.catalog.clearCache()
    df = q_text_gopher_quality(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, "quality scoring must stay a projection"


def test_gopher_signals_equals_gopher_flags(spark, sf_dir):
    """The one-fold production path (gopher_signals) must be
    value-identical to the per-column spec (gopher_flags) on the
    corpus — drift guard for the CSE optimization."""
    from machine_learning_algorithm_sparkml__spark.functions.quality import gopher_signals

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_flags(F.col("text"))
    spec = docs.select("doc_id", *(flags[k].alias(k) for k in flags))
    prod = gopher_signals(docs, ["doc_id"], "text")
    assert prod.columns == spec.columns
    a = sorted(map(tuple, spec.collect()))
    b = sorted(map(tuple, prod.collect()))
    assert a == b


def test_token_entropy_on_crafted_docs(spark):
    """Known-entropy fixtures: uniform distributions hit log2(k)
    exactly, degenerate docs hit 0, null/blank text is total."""
    import math

    from machine_learning_algorithm_sparkml__spark.functions.quality import (
        token_entropy_signals,
    )

    docs = _docs(
        spark,
        [
            (1, "a a b b"),       # uniform over 2 -> 1.0
            (2, "a b c d"),       # uniform over 4 -> 2.0
            (3, "a a a a"),       # degenerate -> 0.0
            (4, "a a b"),         # log2(3) - 2/3
            (5, "x"),             # single token -> 0.0
            (6, ""),              # empty -> (0, 0, 0.0)
            (7, None),            # null -> (0, 0, 0.0)
            (8, " \t\n "),        # whitespace-only -> (0, 0, 0.0)
        ],
    )
    out = {r["doc_id"]: r for r in token_entropy_signals(docs, ["doc_id"]).collect()}
    assert (out[1]["n_tokens"], out[1]["n_types"], out[1]["token_entropy"]) == (4, 2, 1.0)
    assert out[2]["token_entropy"] == 2.0
    assert out[3]["token_entropy"] == 0.0
    assert abs(out[4]["token_entropy"] - round(math.log2(3) - 2 / 3, 6)) < 1e-12
    assert (out[5]["n_tokens"], out[5]["token_entropy"]) == (1, 0.0)
    for did in (6, 7, 8):
        assert (out[did]["n_tokens"], out[did]["n_types"], out[did]["token_entropy"]) == (0, 0, 0.0)


def test_token_entropy_is_shuffle_free(spark, sf_dir):
    """The fold formulation must stay a projection — no explode, no
    Exchange (the naive TF formulation shuffles twice)."""
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_text_token_entropy,
    )

    spark.catalog.clearCache()
    plan = formatted_plan(q_text_token_entropy(spark, sf_dir))
    # (F.inline shows up as a one-row Generate — the row-multiplying
    # explode-of-tokens formulation would also carry two Exchanges,
    # which is what this pins against)
    assert "Exchange" not in plan, "token entropy must stay a projection"


def test_bigram_signals_on_crafted_docs(spark):
    from machine_learning_algorithm_sparkml__spark.functions.quality import bigram_signals

    docs = _docs(spark, [
        (1, None),             # no tokens -> no bigrams, fail-open ok
        (2, "a"),              # one token -> no bigrams
        (3, "a b a b a"),      # bigrams [a b, b a, a b, b a]
        (4, " ".join(f"w{i}" for i in range(10))),  # all-distinct bigrams
        (5, "x x x x"),        # one bigram repeated 3x
        (6, "  a\tb\n a "),    # whitespace hardening: tokens [a, b, a]
    ])
    rows = {r["doc_id"]: r for r in bigram_signals(docs, ["doc_id"], "text").collect()}
    for d in (1, 2):
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["top_bigram_count"] == 0
        assert rows[d]["top_bigram_frac"] == 0.0
        assert rows[d]["bigram_repetition_ok"] is True
    r3 = rows[3]
    assert (r3["n_bigrams"], r3["distinct_bigrams"], r3["top_bigram_count"]) == (4, 2, 2)
    assert abs(r3["top_bigram_frac"] - 0.5) < 1e-15
    assert abs(r3["dup_bigram_frac"] - 0.5) < 1e-15
    assert r3["bigram_repetition_ok"] is False  # top 0.5 > 0.20
    r4 = rows[4]
    assert (r4["n_bigrams"], r4["distinct_bigrams"], r4["top_bigram_count"]) == (9, 9, 1)
    assert r4["dup_bigram_frac"] == 0.0
    assert r4["bigram_repetition_ok"] is True
    r5 = rows[5]
    assert (r5["n_bigrams"], r5["distinct_bigrams"], r5["top_bigram_count"]) == (3, 1, 3)
    assert abs(r5["top_bigram_frac"] - 1.0) < 1e-15
    r6 = rows[6]
    assert (r6["n_bigrams"], r6["distinct_bigrams"], r6["top_bigram_count"]) == (2, 2, 1)


def test_bigram_scan_is_shuffle_free(spark, sf_dir):
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_text_repetition_bigram,
    )

    spark.catalog.clearCache()
    df = q_text_repetition_bigram(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, (
        "bigram repetition scoring must stay a projection (the explode+"
        "groupBy formulation shuffles ~n_tokens rows per doc, twice)"
    )


def test_gopher_filter_keeps_some_drops_some(spark, sf_dir):
    df = q_text_gopher_quality(spark, sf_dir)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gopher_ok").cast("int")).alias("n_ok"),
    ).collect()[0]
    assert 0 < agg["n_ok"] < agg["n"], (
        f"gopher bands are degenerate on the corpus: {agg['n_ok']}/{agg['n']}"
    )


# --- unigram familiarity -------------------------------------------------------

def test_unigram_familiarity_orders_common_above_rare(spark):
    # 9 docs of common tokens + 1 doc of singletons: the common-token
    # docs must score strictly higher.
    rows = [(i, "the cat sat") for i in range(9)] + [(9, "qzx wvu jkl")]
    fam = {r["doc_id"]: r["familiarity"]
           for r in unigram_familiarity(_docs(spark, rows)).collect()}
    assert fam[0] > fam[9] > 0.0


def test_unigram_familiarity_empty_doc_is_zero(spark):
    rows = [(1, "a a"), (2, None), (3, "  ")]
    out = {r["doc_id"]: r for r in unigram_familiarity(_docs(spark, rows)).collect()}
    assert out[2]["n_tok"] == 0 and out[2]["familiarity"] == 0.0
    assert out[3]["n_tok"] == 0 and out[3]["familiarity"] == 0.0
    # single-token vocab: every token is 'a', familiarity = 2/2 * 1/2? no:
    # sum_count = 2 tokens * count 2 = 4; n_tok=2, total=2 -> 4/(2*2)=1.0
    assert out[1]["familiarity"] == 1.0


# --- per-domain cap ------------------------------------------------------------

def test_domain_top_docs_cap_and_group_limit(spark, sf_dir):
    df = q_domain_top_docs(spark, sf_dir)
    per_source = df.groupBy("source").count().collect()
    assert per_source and all(r["count"] <= 5 for r in per_source)
    assert "WindowGroupLimit" in formatted_plan(df), (
        "rank-then-filter must rewrite to map-side group limits"
    )


# --- int8 quantization ---------------------------------------------------------

def test_quantize_roundtrip_error_bound(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    q = quantize_int8(emb)
    chk = dequantize_error_bound(q, emb)
    bad = chk.filter(~F.col("err_ok")).count()
    assert bad == 0
    rng = q.select(
        F.max(F.array_max(F.transform(F.col("q"), lambda v: F.abs(v)))).alias("m")
    ).collect()[0]["m"]
    assert rng <= 127


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert out[1]["scale"] == 0.0 and out[1]["q"] == [0, 0, 0]
    assert out[2]["q"][1] in (-127,)  # max-abs slot pins to ±127


def test_quantize_is_shuffle_free(spark, sf_dir):
    spark.catalog.clearCache()
    df = quantize_int8(load_table(spark, sf_dir, "embeddings"))
    assert "Exchange" not in formatted_plan(df)


# --- semantic dedup ------------------------------------------------------------

def test_semantic_dedup_drops_planted_copies(spark, sf_dir, monkeypatch):
    """The rows-only ``semantic_dedup`` key (the portable operator plus
    its verdict column): every planted copy is dropped in favor of its
    original, nothing else is dropped, and ``planted_dropped_ok`` reads
    TRUE on every row."""
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_semantic_dedup,
    )

    monkeypatch.setenv("SPARK_GRAFT_SELF_VERIFY", "1")
    rows = {r["vec_id"]: r for r in q_semantic_dedup(spark, sf_dir).collect()}
    n_planted = sum(1 for vid in rows if vid >= 10_000_000)
    assert n_planted > 0
    for vid, r in rows.items():
        assert r["planted_dropped_ok"] is True, vid
        if vid >= 10_000_000:
            # identical vector, larger id -> must be dropped...
            assert not r["is_kept"], vid
            # ...in favor of its original, which must survive
            assert rows[vid - 10_000_000]["is_kept"], vid
    # non-planted uniform-random vectors have no pairs at tau=0.97
    n_dropped = sum(1 for r in rows.values() if not r["is_kept"])
    assert n_dropped == n_planted


def test_semantic_dedup_cluster_assignment_consistent(spark, sf_dir):
    """Identical vectors must land in the same cluster at any cluster
    count (assignment is a pure exact-int64 argmin over broadcast
    centers), checked with a distributed join rather than on the
    driver."""
    from machine_learning_algorithm_sparkml__spark.operators.semdedup import (
        semantic_dedup_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    out = semantic_dedup_portable(emb.unionByName(planted), k=8)
    pairs = (
        out.filter(F.col("vec_id") >= 10_000_000)
        .select(
            (F.col("vec_id") - 10_000_000).alias("vec_id"),
            F.col("cluster").alias("cluster_copy"),
        )
        .join(out, "vec_id")
    )
    assert pairs.count() == planted.count()
    mismatch = pairs.filter(F.col("cluster") != F.col("cluster_copy")).count()
    assert mismatch == 0


def test_semantic_dedup_k_scales_with_corpus():
    """The within-cluster pair term must stay bounded as the corpus
    grows: expected cluster size n/k never exceeds the target, so
    candidate pairs grow linearly with n, not quadratically."""
    from machine_learning_algorithm_sparkml__spark.operators.semdedup import choose_k

    target = 2048
    for n in (1, 500, 10_000, 1_000_000, 50_000_000):
        k = choose_k(n, target_cluster_rows=target)
        assert k >= 16
        if k < 65_536:  # below the broadcast cap the bound is strict
            assert n / k <= target, (n, k)
    # monotone non-decreasing in n
    ks = [choose_k(n) for n in (100, 10_000, 1_000_000, 10_000_000)]
    assert ks == sorted(ks)
    # centers stay broadcastable: hard cap
    assert choose_k(10**12) == 65_536


def test_quantize_arrow_crossing_equals_jvm_path(spark, sf_dir):
    """The mapInArrow quantizer must equal the JVM F.transform path
    row-for-row — two entirely different crossings (pyarrow/numpy
    offset arithmetic vs Catalyst expressions), same math, including
    the round-half-away-from-zero convention (numpy's default
    half-to-even would drift here and this equality would catch it)."""
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_embedding_quantize_arrow,
        q_embedding_quantize_int8,
    )

    arrow = {tuple(r) for r in q_embedding_quantize_arrow(spark, sf_dir).collect()}
    jvm = {tuple(r) for r in q_embedding_quantize_int8(spark, sf_dir).collect()}
    assert arrow == jvm
    assert len(arrow) > 0


def test_semantic_dedup_portable_drops_planted_copies(spark, sf_dir):
    """The portable-centroid operator on the planted corpus: every
    planted clone dropped, every original kept, nothing else dropped
    (uniform-random vectors have no natural pairs at tau=0.97), and
    identical vectors co-assigned. Value-level parity vs DuckDB is
    covered by the semantic_dedup_portable oracle key."""
    from machine_learning_algorithm_sparkml__spark.operators.semdedup import (
        semantic_dedup_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    out = semantic_dedup_portable(emb.unionByName(planted), k=32, tau=0.97)
    rows = {r["vec_id"]: r for r in out.collect()}
    n_planted = planted.count()
    assert n_planted > 0
    for vid, r in rows.items():
        if vid >= 10_000_000:
            assert not r["is_kept"], vid
            assert rows[vid - 10_000_000]["is_kept"], vid
            # identical vector => identical exact-int64 argmin cluster
            assert r["cluster"] == rows[vid - 10_000_000]["cluster"], vid
    assert sum(1 for r in rows.values() if not r["is_kept"]) == n_planted
    # every cluster id is a centroid rank within [0, k)
    assert all(0 <= r["cluster"] < 32 for r in rows.values())

"""Round-4 corpus-curation query-keys (additive; SURVEY.md §7.4):
Gopher-style quality rules, corpus unigram-LM familiarity, per-domain
document caps, and int8 embedding quantization.

Oracle discipline (module contract, same as workload/llm.py):
- every ratio is integer-over-integer with ONE final double division —
  bit-exact on any IEEE engine, no rounding needed;
- token semantics mirror functions/text.py's whitespace tokens() and
  the llm module's ``_TOKENS`` DuckDB macro exactly (NULL/blank text
  → zero tokens);
- array-valued results are widened to scalar slot columns (driver
  canonicalizer hashes cells; lists are unhashable — r1 verdict rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.functions.quality import (
    gopher_signals,
    token_entropy_signals,
)
from machine_learning_algorithm_sparkml__spark.operators.lm import (
    bigram_familiarity,
    token_budget_mixture,
    unigram_familiarity,
)
from machine_learning_algorithm_sparkml__spark.operators.quantize import quantize_int8
from machine_learning_algorithm_sparkml__spark.sources import load_table


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher rule metrics + verdicts — one shuffle-free
    pass over the corpus (the shape of a first filtering pass at
    100 TB): all four token statistics accumulate in ONE fold per row
    (``functions/quality.gopher_signals``), value-identical to the
    per-column ``gopher_flags`` spec."""
    docs = load_table(spark, sf_dir, "documents")
    return gopher_signals(docs, ["doc_id"], "text")


def q_text_unigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM score per doc (operators/lm.py): vocab
    hash-aggregate + token join + per-doc sum; integers until one
    final division."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram_familiarity(docs, "doc_id", "text")


def q_text_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM score per doc (operators/lm.py:
    bigram_familiarity): the conditional-structure signal —
    common-words-in-uncommon-order scores low here while passing the
    unigram check. Integer sums + one division per output column, so
    oracle-exact without rounding."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_familiarity(docs, "doc_id", "text")


def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token Shannon entropy, types, and token count
    (functions/quality.py: token_entropy_signals) — the
    distribution-shape quality signal (low-entropy docs are template/
    boilerplate spam even when top-token repetition rules pass).
    Shuffle-free: term frequencies are run lengths of the sorted token
    array, Σ c·log2(c) accumulates in ONE fold per row — no explode,
    no exchange, the per-row projection shape that survives 1000
    executors untouched."""
    docs = load_table(spark, sf_dir, "documents")
    return token_entropy_signals(docs, ["doc_id"], "text")


# BPE fixture merge table (priority = list position). Deliberately
# SINGLE-LEVEL (every pair is two single characters, outputs never
# re-merge), which makes the merge sequence closed-form replayable:
# applying the merges as sequential leftmost-nonoverlapping global
# replacements in priority order is EXACTLY the BPE merge loop for a
# single-level vocabulary — an earlier merge can never create a new
# single-character adjacency (it only removes them), so each rank
# fires at most once and ranks fire in order. The equivalence is
# property-tested against the real merge loop in tests/test_llm.py.
# The Spark kernel (operators/bpe.py) runs the real loop, multi-level
# capable — the fixture restricts the TABLE, not the algorithm (the
# flat-JPEG-block pattern: tame the fixture, not the machinery).
BPE_FIXTURE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("a", "n"), ("i", "n"), ("e", "r"), ("s", "t"),
    ("o", "r"), ("a", "t"), ("l", "e"), ("d", "a"), ("r", "o"),
    ("c", "u"), ("b", "a"), ("w", "i"), ("s", "c"), ("q", "u"),
]


def _bpe_len_sql(var: str) -> str:
    """DuckDB expression for the post-merge token count of one word:
    the sequential-replace replay of BPE_FIXTURE_MERGES (each merge
    collapses two characters to one '~', so length(result) = tokens)."""
    expr = var
    for left, right in BPE_FIXTURE_MERGES:
        expr = f"regexp_replace({expr}, '{left}{right}', '~', 'g')"
    return f"length({expr})"


def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword accounting with a REAL BPE merge loop (VERDICT
    r14 #5; operators/bpe.py): whitespace token count, pre-merge
    character count, and the post-merge subword count under the
    fixture merge table — the unit a training-data budget is actually
    denominated in. The kernel is an Arrow-batched pandas UDF running
    the standard best-rank merge loop with a per-batch word memo;
    DuckDB replays the merge sequence as priority-ordered sequential
    replacements (exact for a single-level vocabulary — see
    BPE_FIXTURE_MERGES)."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import bpe_tokenize

    docs = load_table(spark, sf_dir, "documents")
    return bpe_tokenize(docs, "doc_id", "text", BPE_FIXTURE_MERGES)


def q_mixture_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture-budget key denominated in SUBWORD tokens: same
    greedy md5-ordered per-source fill as ``mixture_token_budget``,
    but ``n_tokens`` comes from the BPE kernel — whitespace-counted
    budgets misprice documents by the word/subword fan-out, so the
    kept-set boundary genuinely moves (budgets here are ~2.4x the
    whitespace key's because each ~4-char word splits to ~2-3
    subwords). Integer cumulative sums keep every cell exact."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import bpe_count_udf

    docs = load_table(spark, sf_dir, "documents")
    budgets = {f"src{i}": 2000 for i in range(5)}
    return token_budget_mixture(
        docs,
        budgets,
        default_budget=1000,
        token_count=bpe_count_udf(BPE_FIXTURE_MERGES)(F.col("text")),
    )


#: Merge count for the TRAINER keys. The DuckDB replay is exact only
#: while every learned merge is a single-character pair (the
#: BPE_FIXTURE_MERGES closed-form argument applied to TRAINING: at
#: each rank the global argmax pair must be char x char, so the rank's
#: replay is one sequential replace and the next rank's pair counts
#: come from counting adjacent non-placeholder chars). Probed on the
#: driver corpus: merges go multi-level at rank 5 (sf0.01: ('m','er'))
#: and rank 7 (sf0.001), so 4 ranks replay exactly at both SFs with a
#: margin rank to spare; tests/test_llm.py pins the single-level
#: property per SF so a testdata regeneration that breaks it fails
#: loudly in CI rather than silently in the driver compare.
BPE_LEARN_N_MERGES = 4


def q_text_bpe_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING as a driver surface (VERDICT r15 #1): learn the
    first 4 merges from the corpus itself — ONE distributed word-count
    aggregate, then the Sennrich merge-learning loop on the bounded
    (word, count) table driver-side (operators/bpe.py:
    learn_bpe_merges). Output: the learned merge table (rank, lhs,
    rhs). The DuckDB oracle replays training rank by rank: count
    adjacent char pairs weighted by word count, argmax with the
    deterministic (count desc, pair asc) tie-break, apply the merge as
    a sequential replace, repeat — exact while every learned merge
    stays single-level (see BPE_LEARN_N_MERGES)."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import (
        learn_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", BPE_LEARN_N_MERGES)
    rows = [(i, left, right) for i, (left, right) in enumerate(merges)]
    return spark.createDataFrame(rows, "merge_rank int, lhs string, rhs string")


def q_text_bpe_train_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer→inference COMPOSITION as one driver surface
    (VERDICT r15 #7): learn the merge table from the corpus, then
    tokenize the same corpus with it — the two halves a real pipeline
    always runs together, certified end to end (a drift between the
    trainer's merge semantics and the inference kernel's is a value
    mismatch here even when each half passes alone). The oracle
    replays training in CTEs and feeds the derived pairs into the
    sequential-replace tokenization replay — no hardcoded merges on
    either side."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import (
        bpe_tokenize,
        learn_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", BPE_LEARN_N_MERGES)
    return bpe_tokenize(docs, "doc_id", "text", merges)


def q_text_encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake (double-encoded UTF-8) repair — the crawl cleanup pass
    that fixes 'cafÃ©' back to 'café': every 41st doc plants damaged
    text (three UTF-8-as-latin1 sequences appended); the operator
    detects the continuation-byte signature and applies the TRUE
    inverse transform (re-encode as ISO-8859-1, decode as UTF-8 —
    functions/text.py:repair_mojibake), passing undamaged text through
    byte-identical. The oracle replays the repair as targeted
    replaces, exact because the planted damage is the only non-ASCII
    content (ASCII bytes are fixed points of both transforms).
    Shuffle-free JVM projection."""
    from machine_learning_algorithm_sparkml__spark.functions.text import (
        is_mojibake,
        repair_mojibake,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = F.col("doc_id") % 41 == 0
    raw = F.when(
        planted,
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" cafÃ© mÃ¼nchen espaÃ±ol"),
        ),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))
    fixed = repair_mojibake(raw)
    return docs.select(
        "doc_id",
        fixed.alias("fixed_text"),
        is_mojibake(raw).alias("was_mojibake"),
        (F.length(raw) - F.length(fixed)).alias("n_repaired"),
    )


def q_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget mixture construction
    (operators/lm.py: token_budget_mixture): premium sources
    (src0-src4) fill to an 800-token budget, the rest to 400 — both
    bind at every SF, so the key always exercises partial fills. The
    md5-of-id mixture order and integer cumulative sums make every
    cell exact; ``kept`` is the mixture membership verdict."""
    docs = load_table(spark, sf_dir, "documents")
    budgets = {f"src{i}": 800 for i in range(5)}
    return token_budget_mixture(docs, budgets, default_budget=400)


def q_domain_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (CommonCrawl-style anti-spam rule):
    keep the 5 largest docs per source. Rank-then-filter window so
    the exchange carries each map task's local top-5 only
    (InferWindowGroupLimit)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization, widened to scalar
    slots (q0..q3) + range invariants for the driver compare."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, id_col="vec_id", vec_col="embedding", out_col="q")
    qcol = F.col("q")
    return q.select(
        "vec_id",
        F.col("scale"),
        F.size(qcol).alias("n_dim"),
        F.element_at(qcol, 1).alias("q0"),
        F.element_at(qcol, 2).alias("q1"),
        F.element_at(qcol, 3).alias("q2"),
        F.element_at(qcol, 4).alias("q3"),
        F.array_max(F.transform(qcol, lambda v: F.abs(v))).alias("max_abs_q"),
        (F.array_max(F.transform(qcol, lambda v: F.abs(v))) <= 127).alias("q_in_range"),
    )


def q_embedding_quantize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantizer through ``mapInArrow`` — the Arrow-native Python
    crossing (operators/quantize.py:quantize_int8_arrow): zero-copy
    numpy views over pyarrow buffers, offset-arithmetic vectorization,
    no pandas step. Same math, same output slots, same DuckDB oracle
    as ``embedding_quantize_int8`` (whose JVM F.transform path is the
    production default); the pytest additionally pins the two
    crossings row-for-row equal. The engine's Python-boundary ladder
    is now fully keyed: JVM built-ins > mapInArrow > pandas_udf /
    mapInPandas > (never) row-at-a-time."""
    from machine_learning_algorithm_sparkml__spark.operators.quantize import (
        quantize_int8_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8_arrow(emb, id_col="vec_id", vec_col="embedding")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization before fingerprint/dedup: lowercase,
    strip sentence punctuation, collapse whitespace, trim. Pure
    projection; regexes restricted to the Java∩RE2 common subset so
    the oracle is literal."""
    docs = load_table(spark, sf_dir, "documents")
    safe = F.coalesce(F.col("text"), F.lit(""))
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(safe), r"[.,;:!?]", ""), r"\s+", " "
        )
    )
    return docs.select(
        "doc_id",
        normalized.alias("norm_text"),
        F.length(normalized).alias("norm_len"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only view of ``semantic_dedup_portable`` (same operator,
    parameters and planted-duplicate corpus) plus
    ``planted_dropped_ok``: TRUE iff every planted copy was dropped
    AND every planted copy's original kept (same vector ⇒ same
    cluster ⇒ sim 1.0, so each copy loses to its min-id original)."""
    verdicts = q_semantic_dedup_portable(spark, sf_dir).localCheckpoint(
        eager=True
    )  # invariant agg + output both read it
    # Both conjuncts in one pass: planted rows must ALL be dropped, and
    # their originals (vec_id = planted - 10M) must ALL be kept. The
    # sums are coalesced so an (impossible-today, but schema-safe) empty
    # planted set yields TRUE, not NULL.
    #
    # PRECONDITION (ADVICE r5): the originals-kept conjunct assumes the
    # testdata embeddings have NO natural near-dups at tau=0.97 — an
    # original could legitimately be dropped as a near-dup of a
    # LOWER-id natural neighbor in its cluster. Holds for the synthetic
    # uniform-random embeddings (top-5 cosine ~0.32 << 0.97); revisit
    # the invariant, not the operator, if testdata ever gains
    # correlated vectors.
    kept = F.col("is_kept").cast("int")
    is_planted = F.col("vec_id") >= 10_000_000
    is_original = (F.col("vec_id") % 100 == 0) & ~is_planted
    invariant = verdicts.agg(
        (
            (F.coalesce(F.sum(F.when(is_planted, kept)), F.lit(0)) == 0)
            & (F.coalesce(F.sum(F.when(is_original, 1 - kept)), F.lit(0)) == 0)
        ).alias("planted_dropped_ok")
    )
    return verdicts.crossJoin(F.broadcast(invariant))


def q_semantic_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED SemDeDup (VERDICT r11 #2) over the embedding set
    with planted duplicates (every vec_id divisible by 100 re-inserted
    at id+10_000_000, the ``embedding_neardup`` scheme). The
    clustering core is the portable-centroid recipe (md5-ranked
    sampled centroids, exact int64 squared-L2 assignment,
    rounded-cosine pair predicate —
    operators/semdedup.semantic_dedup_portable), so DuckDB replays the
    WHOLE program value-exactly: centroid choice, every cluster
    assignment, and each keep/drop verdict. The rows-only
    ``semantic_dedup`` is this key plus its ``planted_dropped_ok``
    verdict."""
    from machine_learning_algorithm_sparkml__spark.operators.semdedup import (
        semantic_dedup_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    corpus = emb.unionByName(planted)
    return semantic_dedup_portable(
        corpus, id_col="vec_id", vec_col="embedding", k=32, tau=0.97
    )


def q_sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source k-reservoir (k=3): keep the k docs per
    source whose portable md5 rank is smallest — an UNBIASED
    (hash-uniform) per-domain cap, the sampling complement of
    the size-biased ``domain_top_docs`` cap, and the standard way a
    corpus pipeline bounds any one domain's contribution without
    favoring long documents. One window shuffle; the rank-then-filter
    shape keeps the exchange at each task's local top-k
    (InferWindowGroupLimit — the flagship plan). DuckDB replays the
    md5 ranking exactly."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash60(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
    )


def q_text_repetition_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-repetition signals (Gopher §A1.1's n-gram repetition
    family, word-bigram variant): per doc, the number of bigram
    occurrences, distinct bigrams, the most frequent bigram's count,
    and the derived fractions. The scale story is the plan shape: a
    PURE PROJECTION — all three integer stats come from ONE
    ``F.aggregate`` fold over the sorted zip-shifted bigram array,
    materialized once per row through the ``F.inline`` generator (see
    ``functions/quality.bigram_signals``). Zero shuffles: at 100 TB
    the naive explode→groupBy(doc_id, bigram)→groupBy(doc_id)
    formulation shuffles ~n_tokens rows twice; this shuffles nothing.
    All counts are integers; each fraction is one final double
    division (bit-exact on any IEEE engine). Thresholds (0.20 top /
    0.90 dup)
    are policy constants in the Gopher style, not tuned claims."""
    from machine_learning_algorithm_sparkml__spark.functions.quality import bigram_signals

    docs = load_table(spark, sf_dir, "documents")
    return bigram_signals(docs, ["doc_id"], "text")


def q_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction — the first transform a crawled
    page goes through, kept ENTIRELY JVM-side (functions/text.py:
    html_main_text — a regexp/replace projection, zero shuffles, zero
    Python; at 100 TB a Python hop on this step would dominate the
    pipeline). Each document is wrapped in a deterministic page
    (head with title/style/script, nav + footer boilerplate, an
    entity-escaped body paragraph, a body script whose ``1 < 2`` bare
    ``<`` leaks into the text unless block removal precedes tag
    stripping), then title + main text are extracted back. The escape
    → extract → unescape loop is the identity on the body text, so
    the DuckDB oracle replays the EXPECTED OUTPUT directly from the
    documents table rather than re-deriving the regex chain."""
    from machine_learning_algorithm_sparkml__spark.functions.text import (
        fixture_html_page,
        html_main_text,
        html_title,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    page = docs.select(
        "doc_id",
        fixture_html_page(F.col("doc_id"), F.col("text")).alias("html"),
    )
    return page.select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        html_main_text(F.col("html")).alias("main_text"),
    )


def q_text_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction — the LINK-GRAPH edge list a crawl pipeline
    feeds to PageRank/domain-authority, entirely JVM-side
    (functions/text.py:html_links: regexp_extract_all over anchor
    tags, zip_with into (href, anchor) structs, one explode). The
    fixture page plants three deterministic outlinks per doc inside
    the nav block, so this key and the main-text keys read the SAME
    page while their outputs stay independent (nav is boilerplate to
    the extractor, edges to the link grapher — both true of real
    pages). Oracle: the closed-form link rule replayed per (doc, k)."""
    from machine_learning_algorithm_sparkml__spark.functions.text import (
        fixture_html_page,
        html_links,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    page = docs.select(
        "doc_id",
        fixture_html_page(F.col("doc_id"), F.col("text")).alias("html"),
    )
    edge = page.select("doc_id", F.explode(html_links(F.col("html"))).alias("e"))
    return edge.select(
        "doc_id",
        F.col("e.href").alias("href"),
        F.col("e.anchor").alias("anchor"),
    )


QUERIES = {
    "text_gopher_quality": q_text_gopher_quality,
    "text_html_extract": q_text_html_extract,
    "text_html_links": q_text_html_links,
    "text_token_entropy": q_text_token_entropy,
    "text_repetition_bigram": q_text_repetition_bigram,
    "text_unigram_familiarity": q_text_unigram_familiarity,
    "text_bigram_familiarity": q_text_bigram_familiarity,
    "mixture_token_budget": q_mixture_token_budget,
    "text_bpe_tokenize": q_text_bpe_tokenize,
    "text_bpe_learned": q_text_bpe_learned,
    "text_bpe_train_tokenize": q_text_bpe_train_tokenize,
    "mixture_token_budget_bpe": q_mixture_token_budget_bpe,
    "text_normalize": q_text_normalize,
    "text_encoding_repair": q_text_encoding_repair,
    "domain_top_docs": q_domain_top_docs,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "embedding_quantize_arrow": q_embedding_quantize_arrow,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_portable": q_semantic_dedup_portable,
    "sample_reservoir_per_group": q_sample_reservoir_per_group,
}

# DuckDB mirrors. Token macro identical to workload/llm.py's _TOKENS:
# split on any whitespace run, drop empty fragments (trim-based guards
# miss tabs/newlines).
_TOKS = "list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'), x -> length(x) > 0)"
_NTOK = f"len({_TOKS})"


def _bpe_train_replay_ctes(n_merges: int) -> str:
    """CTE chain replaying BPE TRAINING rank by rank in DuckDB: the
    corpus reduces to the (word, count) table (exactly the trainer's
    state), then each rank counts adjacent NON-PLACEHOLDER char pairs
    weighted by word count, takes the argmax under the trainer's
    (count desc, pair asc) tie-break, and applies the winning merge as
    a sequential leftmost-nonoverlapping replace to '~' — which IS the
    merge loop while every winner is a single-char pair (an earlier
    merge only removes char adjacencies, '~' never re-merges). Each
    m{k} CTE exposes the rank-k pair as column pr{k}."""
    ctes = [
        f"""words0 AS (
            SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT {_TOKS} AS t FROM documents), UNNEST(t) AS u(w)
            GROUP BY u.w
        )"""
    ]
    for k in range(n_merges):
        ctes.append(f"""p{k} AS (
            SELECT substr(w, i, 2) AS pair, SUM(c) AS cnt
            FROM words{k}, UNNEST(range(1, length(w))) AS u(i)
            WHERE substr(w, i, 1) <> '~' AND substr(w, i + 1, 1) <> '~'
            GROUP BY 1
        )""")
        ctes.append(
            f"m{k} AS (SELECT pair AS pr{k} FROM p{k} ORDER BY cnt DESC, pair ASC LIMIT 1)"
        )
        ctes.append(
            f"words{k + 1} AS (SELECT replace(w, (SELECT pr{k} FROM m{k}), '~') AS w, c FROM words{k})"
        )
    return ",\n        ".join(ctes)


def _bpe_learned_oracle_sql(n_merges: int) -> str:
    body = _bpe_train_replay_ctes(n_merges)
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, "
        f"substr(pr{k}, 1, 1) AS lhs, substr(pr{k}, 2, 1) AS rhs FROM m{k}"
        for k in range(n_merges)
    )
    return f"WITH {body}\n        {rows}"


def _bpe_train_tokenize_oracle_sql(n_merges: int) -> str:
    body = _bpe_train_replay_ctes(n_merges)
    pair_cols = ", ".join(f"pr{k}" for k in range(n_merges))
    pair_srcs = ", ".join(f"m{k}" for k in range(n_merges))
    repl = "w"
    for k in range(n_merges):
        repl = f"replace({repl}, pr{k}, '~')"
    return f"""WITH {body},
        toksd AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        pairs AS (SELECT {pair_cols} FROM {pair_srcs})
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(COALESCE(list_aggregate(list_transform(t, w -> length(w)), 'sum'), 0) AS INTEGER) AS n_chars_ws,
               CAST(COALESCE(list_aggregate(list_transform(t, w -> length({repl})), 'sum'), 0) AS INTEGER) AS bpe_token_count
        FROM toksd CROSS JOIN pairs
    """

ORACLE = {
    # text_html_extract: the page construction is deterministic and
    # escape→extract→unescape is the identity on the body text, so the
    # oracle states the expected OUTPUT directly ('g' flag: DuckDB's
    # regexp_replace is first-match-only without it, Spark's is global)
    "text_html_extract": """
        SELECT doc_id,
               'Doc ' || doc_id AS title,
               trim(regexp_replace('Doc ' || doc_id || ' & co ' || COALESCE(text, ''), '\\s+', ' ', 'g')) AS main_text
        FROM documents
    """,
    # text_html_links: the fixture's closed-form link rule replayed
    # per (doc, k) — href target (doc_id*7 + k*13) % 1000
    "text_html_links": """
        SELECT doc_id,
               '/docs/' || ((doc_id * 7 + k.k * 13) % 1000) AS href,
               'ref ' || k.k AS anchor
        FROM documents, (SELECT unnest(range(0, 3)) AS k) AS k
    """,
    # text_repetition_bigram: the oracle rebuilds the same integer
    # counts relationally (unnest → per-(doc, bigram) counts) — the
    # Spark side's sorted-array fold and this GROUP BY agree exactly
    # because both count multiplicities of identical string bigrams.
    "text_repetition_bigram": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), b AS (
            SELECT t.doc_id, t.toks[g.i] || ' ' || t.toks[g.i + 1] AS bg
            FROM t, unnest(generate_series(1, len(t.toks) - 1)) AS g(i)
        ), c AS (
            SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg
        ), p AS (
            SELECT doc_id,
                   SUM(c) AS n_bigrams,
                   COUNT(*) AS distinct_bigrams,
                   MAX(c) AS top_c
            FROM c GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_bigrams, 0) AS INTEGER) AS n_bigrams,
               CAST(COALESCE(p.distinct_bigrams, 0) AS INTEGER) AS distinct_bigrams,
               CAST(COALESCE(p.top_c, 0) AS INTEGER) AS top_bigram_count,
               CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                    ELSE CAST(p.top_c AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
               END AS top_bigram_frac,
               CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                    ELSE 1.0 - CAST(p.distinct_bigrams AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
               END AS dup_bigram_frac,
               (CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                     ELSE CAST(p.top_c AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
                END <= 0.20)
               AND
               (CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                     ELSE 1.0 - CAST(p.distinct_bigrams AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
                END <= 0.90) AS bigram_repetition_ok
        FROM documents d LEFT JOIN p USING (doc_id)
    """,
    # text_token_entropy: the oracle rebuilds term frequencies
    # relationally (unnest → per-(doc, token) counts) where the Spark
    # side reads them as sorted-array run lengths — identical integer
    # counts, so log2(n) − Σ c·log2(c)/n agrees to well inside the
    # shared ROUND(…, 6) (the summation-order caveat in
    # functions/quality.token_entropy_signals).
    "text_token_entropy": f"""
        WITH t AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), c AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok
        ), p AS (
            SELECT doc_id,
                   SUM(c) AS n,
                   COUNT(*) AS k,
                   SUM(CASE WHEN c > 1 THEN c * log2(CAST(c AS DOUBLE)) ELSE 0.0 END) AS clog
            FROM c GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n, 0) AS INTEGER) AS n_tokens,
               CAST(COALESCE(p.k, 0) AS INTEGER) AS n_types,
               CASE WHEN COALESCE(p.n, 0) = 0 THEN 0.0
                    ELSE ROUND(log2(CAST(p.n AS DOUBLE)) - p.clog / CAST(p.n AS DOUBLE), 6)
               END AS token_entropy
        FROM documents d LEFT JOIN p USING (doc_id)
    """,
    "text_gopher_quality": f"""
        WITH t AS (
            SELECT doc_id,
                   {_NTOK} AS n_words,
                   CASE WHEN {_NTOK} = 0 THEN 0.0
                        ELSE CAST(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'sum') AS DOUBLE)
                             / CAST({_NTOK} AS DOUBLE) END AS mean_word_len,
                   CASE WHEN {_NTOK} = 0 THEN 0.0
                        ELSE CAST(len(list_filter({_TOKS}, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                             / CAST({_NTOK} AS DOUBLE) END AS alpha_ratio,
                   CASE WHEN {_NTOK} = 0 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                             / CAST({_NTOK} AS DOUBLE) END AS repetition_ratio
            FROM documents
        )
        SELECT doc_id,
               CAST(n_words AS INTEGER) AS n_words,
               mean_word_len, alpha_ratio, repetition_ratio,
               n_words >= 40 AND n_words <= 100000 AS len_ok,
               mean_word_len >= 2.0 AND mean_word_len <= 12.0 AS mean_word_len_ok,
               alpha_ratio >= 0.7 AS alpha_ok,
               repetition_ratio <= 0.4 AS repetition_ok,
               (n_words >= 40 AND n_words <= 100000)
               AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
               AND alpha_ratio >= 0.7 AND repetition_ratio <= 0.4 AS gopher_ok
        FROM t
    """,
    "text_unigram_familiarity": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKS}) AS token
            FROM documents
            WHERE length(trim(COALESCE(text, ''))) > 0
        ), vocab AS (
            SELECT token, COUNT(*) AS tok_count FROM tok GROUP BY token
        ), total AS (
            SELECT SUM(tok_count) AS n_total FROM vocab
        ), per_doc AS (
            SELECT t.doc_id, COUNT(*) AS n_tok, SUM(v.tok_count) AS sum_count
            FROM tok t JOIN vocab v USING (token)
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_tok, 0) AS INTEGER) AS n_tok,
               CAST(COALESCE(p.sum_count, 0) AS BIGINT) AS sum_count,
               CASE WHEN COALESCE(p.n_tok, 0) = 0 THEN 0.0
                    ELSE CAST(p.sum_count AS DOUBLE)
                         / (CAST(p.n_tok AS DOUBLE) * CAST(total.n_total AS DOUBLE)) END
                   AS familiarity
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        CROSS JOIN total
    """,
    # BPE replay: priority-ordered sequential replacement = the merge
    # loop for a single-level vocabulary (see BPE_FIXTURE_MERGES note)
    "text_bpe_tokenize": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        )
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(COALESCE(list_aggregate(list_transform(t, w -> length(w)), 'sum'), 0) AS INTEGER) AS n_chars_ws,
               CAST(COALESCE(list_aggregate(list_transform(t, w -> {_bpe_len_sql('w')}), 'sum'), 0) AS INTEGER) AS bpe_token_count
        FROM toks
    """,
    # BPE TRAINING replay: rank-by-rank argmax over adjacent-pair
    # counts with the trainer's deterministic tie-break — exact while
    # the learned merges stay single-level (BPE_LEARN_N_MERGES note)
    "text_bpe_learned": _bpe_learned_oracle_sql(BPE_LEARN_N_MERGES),
    # trainer→inference composition: training replayed in CTEs, the
    # DERIVED pairs fed to the sequential-replace tokenization replay
    "text_bpe_train_tokenize": _bpe_train_tokenize_oracle_sql(BPE_LEARN_N_MERGES),
    "mixture_token_budget_bpe": f"""
        WITH t AS (
            SELECT doc_id, source,
                   CAST(COALESCE(list_aggregate(list_transform({_TOKS}, w -> {_bpe_len_sql('w')}), 'sum'), 0) AS INTEGER) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR))
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM t
        )
        SELECT doc_id, source, n_tokens, cum_tokens,
               cum_tokens <= CASE WHEN source IN ('src0','src1','src2','src3','src4')
                                  THEN 2000 ELSE 1000 END AS kept
        FROM c
    """,
    "mixture_token_budget": f"""
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR))
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM t
        )
        SELECT doc_id, source, n_tokens, cum_tokens,
               cum_tokens <= CASE WHEN source IN ('src0','src1','src2','src3','src4')
                                  THEN 800 ELSE 400 END AS kept
        FROM c
    """,
    "text_bigram_familiarity": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ), bg AS (
            SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM toks, UNNEST(range(1, len(t))) AS u(i)
        ), c2 AS (
            SELECT w1, w2, COUNT(*) AS big_count FROM bg GROUP BY w1, w2
        ), tok AS (
            SELECT doc_id, unnest(t) AS token FROM toks
        ), c1 AS (
            SELECT token AS w1, COUNT(*) AS tok_count FROM tok GROUP BY token
        ), total AS (
            SELECT SUM(big_count) AS n_total_bigrams FROM c2
        ), per_doc AS (
            SELECT b.doc_id,
                   COUNT(*) AS n_bigrams,
                   SUM(c2.big_count) AS sum_bigram_count,
                   SUM(c1.tok_count) AS sum_first_count
            FROM bg b
            JOIN c2 USING (w1, w2)
            JOIN c1 USING (w1)
            GROUP BY b.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_bigrams, 0) AS INTEGER) AS n_bigrams,
               CAST(COALESCE(p.sum_bigram_count, 0) AS BIGINT) AS sum_bigram_count,
               CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                    ELSE CAST(p.sum_bigram_count AS DOUBLE)
                         / (CAST(p.n_bigrams AS DOUBLE) * CAST(total.n_total_bigrams AS DOUBLE)) END
                   AS bigram_familiarity,
               CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                    ELSE CAST(p.sum_bigram_count AS DOUBLE)
                         / CAST(p.sum_first_count AS DOUBLE) END
                   AS conditional_score
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        CROSS JOIN total
    """,
    # mojibake replay: the planted damage is the ONLY non-ASCII
    # content, so the true inverse transform (latin1 re-encode ->
    # utf8 decode) equals targeted replaces of the three damaged
    # sequences; the gate regexp is the shared continuation-byte
    # signature (functions/text.py:MOJIBAKE_PATTERN)
    "text_encoding_repair": """
        WITH m AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 41 = 0
                        THEN COALESCE(text, '') || ' cafÃ© mÃ¼nchen espaÃ±ol'
                        ELSE COALESCE(text, '') END AS raw
            FROM documents
        ), r AS (
            SELECT doc_id, raw,
                   regexp_matches(raw, 'Ã[\\x{0080}-\\x{00bf}]') AS was_mojibake,
                   CASE WHEN regexp_matches(raw, 'Ã[\\x{0080}-\\x{00bf}]')
                        THEN replace(replace(replace(raw, 'Ã©', 'é'), 'Ã¼', 'ü'), 'Ã±', 'ñ')
                        ELSE raw END AS fixed_text
            FROM m
        )
        SELECT doc_id, fixed_text, was_mojibake,
               CAST(length(raw) - length(fixed_text) AS INTEGER) AS n_repaired
        FROM r
    """,
    "text_normalize": """
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(COALESCE(text, '')),
                    '[.,;:!?]', '', 'g'), '\\s+', ' ', 'g')) AS norm_text,
               CAST(length(trim(regexp_replace(regexp_replace(lower(COALESCE(text, '')),
                    '[.,;:!?]', '', 'g'), '\\s+', ' ', 'g'))) AS INTEGER) AS norm_len
        FROM documents
    """,
    # semantic_dedup: rows-only — semantic_dedup_portable plus the
    # planted_dropped_ok invariant column. The portable key below
    # replays the full program (operators/semdedup.py:
    # semantic_dedup_portable): md5-ranked sampled centroids, exact
    # int64 squared-L2 assignment over floor-quantized vectors,
    # rounded-cosine >= tau within-cluster verdicts, min-id keep.
    "semantic_dedup_portable": """
        WITH corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000000 AS vec_id, embedding
            FROM embeddings WHERE vec_id % 100 = 0
        ), z AS (
            SELECT vec_id, unnest(range(0, len(embedding))) AS d,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS z
            FROM corpus
        ), cents AS (
            SELECT vec_id AS cid,
                   ROW_NUMBER() OVER (
                       ORDER BY CAST('0x' || substr(md5('sdc:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                                vec_id
                   ) - 1 AS crank
            FROM corpus
            ORDER BY CAST('0x' || substr(md5('sdc:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                     vec_id
            LIMIT 32
        ), cz AS (
            SELECT cents.crank, z.d, z.z
            FROM z JOIN cents ON z.vec_id = cents.cid
        ), dist AS (
            SELECT z.vec_id, cz.crank,
                   SUM((z.z - cz.z) * (z.z - cz.z)) AS d2
            FROM z JOIN cz ON z.d = cz.d GROUP BY 1, 2
        ), assign AS (
            SELECT vec_id, crank AS cluster FROM (
                SELECT vec_id, crank,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, crank) AS rn
                FROM dist
            ) WHERE rn = 1
        ), dup AS (
            SELECT DISTINCT ai.vec_id
            FROM assign ai
            JOIN assign aj ON ai.cluster = aj.cluster AND aj.vec_id < ai.vec_id
            JOIN corpus ci ON ci.vec_id = ai.vec_id
            JOIN corpus cj ON cj.vec_id = aj.vec_id
            WHERE ROUND(list_cosine_similarity(
                      list_transform(ci.embedding, x -> CAST(x AS DOUBLE)),
                      list_transform(cj.embedding, x -> CAST(x AS DOUBLE))
                  ), 6) >= 0.97
        )
        SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster,
               (d.vec_id IS NULL) AS is_kept
        FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
    """,
    "sample_reservoir_per_group": """
        SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY CAST('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                                doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= 3
    """,
    "domain_top_docs": """
        SELECT doc_id, source, n_chars, CAST(rn AS INTEGER) AS rn
        FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents
        )
        WHERE rn <= 5
    """,
    "embedding_quantize_arrow": """
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
            FROM embeddings
        ), codes AS (
            SELECT vec_id,
                   max_abs / 127.0 AS scale,
                   CAST(len(xs) AS INTEGER) AS n_dim,
                   CASE WHEN max_abs = 0.0 THEN list_transform(xs, x -> 0)
                        ELSE list_transform(xs, x -> CAST(round(x / (max_abs / 127.0)) AS INTEGER))
                   END AS qs
            FROM q
        )
        SELECT vec_id, scale, n_dim,
               CAST(qs[1] AS INTEGER) AS q0,
               CAST(qs[2] AS INTEGER) AS q1,
               CAST(qs[3] AS INTEGER) AS q2,
               CAST(qs[4] AS INTEGER) AS q3,
               CAST(list_max(list_transform(qs, x -> abs(x))) AS INTEGER) AS max_abs_q,
               list_max(list_transform(qs, x -> abs(x))) <= 127 AS q_in_range
        FROM codes
    """,
    # same oracle for the Arrow crossing twin
    "embedding_quantize_int8": """
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
            FROM embeddings
        ), codes AS (
            SELECT vec_id,
                   max_abs / 127.0 AS scale,
                   CAST(len(xs) AS INTEGER) AS n_dim,
                   CASE WHEN max_abs = 0.0 THEN list_transform(xs, x -> 0)
                        ELSE list_transform(xs, x -> CAST(round(x / (max_abs / 127.0)) AS INTEGER))
                   END AS qs
            FROM q
        )
        SELECT vec_id, scale, n_dim,
               CAST(qs[1] AS INTEGER) AS q0,
               CAST(qs[2] AS INTEGER) AS q1,
               CAST(qs[3] AS INTEGER) AS q2,
               CAST(qs[4] AS INTEGER) AS q3,
               CAST(list_max(list_transform(qs, x -> abs(x))) AS INTEGER) AS max_abs_q,
               list_max(list_transform(qs, x -> abs(x))) <= 127 AS q_in_range
        FROM codes
    """,
}

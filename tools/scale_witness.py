"""sf1 (10x) scale witness across operator families (VERDICT r8 #8).

Generates synthetic 10x tables from sf0.1 and times headline keys at
both scales, recording the scaling factors the 100 TB claims rest on.
Families (pass any subset as argv; default = all):

- ``dedup``: documents 10x as 10 isomorphic replicas, replica k
  shifting doc_id by k*|docs| and suffixing EVERY word with ``_rk``.
  Token renaming is injective per replica, so within-replica Jaccard
  structure (and thus the planted near-dup pairs) is preserved
  exactly, while cross-replica shingle sets are disjoint — duplicate
  density stays constant as the corpus grows 10x, the organic-crawl
  shape. A naive 10x copy WITHOUT renaming would instead give every
  doc 9 clones (pair count x45, not x10) and measure a different
  workload. Claim under test: banded plans' cost tracks duplicate
  density, not n^2.
- ``relational``: orders+lineitem 10x (replica k shifts
  o_orderkey/l_orderkey by k*1e6, so join keys stay consistent and
  unique; custkey/partkey/suppkey untouched — the same dimension
  population serves 10x the facts, the how-warehouses-grow shape);
  dims copied through unchanged. Claim under test: scan-bound
  aggregates and broadcast-join + shuffle-agg plans grow ~linearly
  in fact volume, never super-linearly.
- ``ann``: embeddings 10x (vec_id shifted k*1e5; vectors reused —
  cluster-size distribution scales uniformly, which is what a timing
  witness needs). The query set is FIXED (the keys take vec_id < 10,
  all in replica 0), so this measures corpus-side scan growth.
  Claim under test: IVF's probed-fraction advantage over brute force
  persists as the corpus grows.

Usage:
    python tools/scale_witness.py [dedup] [relational] [ann] [maintenance] [maintenance2]
Timing protocol: bench.time_key (lower median of bench.RUNS runs;
self-verify truth passes off). Run it on an otherwise idle machine.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY_KEYS = {
    "dedup": ["dedup_minhash", "decontaminate_fuzzy_large", "split_leakage_safe"],
    "relational": [
        "agg_pricing_summary",
        "sql_tpch_q3",
        "sql_tpch_q18",
        "window_rank_topk",
    ],
    "ann": ["simsearch_topk", "simsearch_ivf", "simsearch_lsh_portable"],
    # r9 second-window keys over the same 10x relational build.
    # Claims under test: lateral top-N's shuffle stays bounded by
    # |groups| (WindowGroupLimit partials), the rollup merge and the
    # DQ anti-joins grow ~linearly in fact volume, and the recursive
    # CTE pays per-level table-scan growth with a bounded frontier
    # (shifted replica keys have broken digit chains, so the
    # reachable set stays ~replica-0-sized while every level probes
    # the 10x table).
    "maintenance": [
        "sql_lateral_topn",
        "agg_incremental_merge",
        "dq_referential_integrity",
        "sql_recursive_cte",
    ],
    # r9 third-window keys over the same 10x relational build.
    # Claims under test: the de-correlated lateral aggregate and the
    # signed-delta retraction merge grow ~linearly in fact volume
    # (one grouped shuffle each); the DQ expectations gate stays a
    # single wide scan however many thresholds ride it; the bounded
    # cyclic walk pays per-level probes of the 10x table while its
    # frontier stays capped by the fixed 1000-slot node set (the
    # guard, not the data, bounds the work).
    "maintenance2": [
        "sql_lateral_agg",
        "agg_incremental_retract",
        "dq_expectations",
        "sql_recursive_cte_bounded",
    ],
    # r11 keys over the same 10x documents build. Claim under test
    # for text_bm25: the pre-aggregation query-term filter bounds
    # every wide exchange by |matching (doc,term) pairs| — which the
    # replica word-renaming holds CONSTANT (only replica 0 contains
    # the probe terms) — so 10x growth is pure scan+tokenize cost,
    # the shuffle side is flat. top_terms/gopher_quality ride the
    # same build as scan-bound controls (their shuffles grow with
    # vocabulary/doc count, still ~linear).
    "text": ["text_bm25", "text_top_terms", "text_gopher_quality"],
    # r13: the hybrid-retrieval flagship (VERDICT r12 #5). Two axes:
    # 10x corpus (replica word-renaming keeps the probe terms only in
    # replica 0, so the BM25-side wide exchanges — the pre-filtered
    # (doc,term) agg and the shortlist window — stay CONSTANT while
    # scan+tokenize grows 10x, the text_bm25 contract), and 10x query
    # count at BOTH scales (the re-rank term is bounded by |Q|*20
    # shortlist survivors, so growing |Q| 3->30 must cost ~the same
    # increment at either corpus size — if it scaled with the corpus,
    # the q30/q3 ratio would grow with sf).
    "retrieval": ["retrieval_hybrid", "retrieval_hybrid_q30"],
    # r12: the two ANN-family members that had no witness row
    # (VERDICT r11 #7), over the same 100x embeddings build (200k
    # vectors). Claims under test: PQ's compressed-code scan grows
    # ~linearly in corpus size with the fixed 10-query set (encode +
    # per-partition ADC shortlists; the exchange stays bounded by
    # n_partitions x S x q); portable SemDeDup with k scaled as
    # choose_k(n) keeps the within-cluster pair term ~linear in n
    # (n/t clusters x t^2 pairs = n*t), the paper's blast-radius
    # contract — the WORKLOAD key pins k=32 for the DuckDB oracle at
    # test scale, so the witness times the operator at the k a 100 TB
    # deployment would pass (see _semantic_dedup_portable_scaled).
    "ann2": ["simsearch_pq_portable", "semantic_dedup_portable_scaled"],
    # r13 session-2 keys over the same 10x documents build. Claims
    # under test: token entropy is a shuffle-free projection, so 10x
    # docs is pure per-partition fold cost (~linear, no exchange term
    # to grow super-linearly); URL dedup's one hash-agg exchange
    # carries |distinct canonical urls| partials — the replica
    # fixture multiplies VARIANTS per canonical url (doc_id%50 and %4
    # repeat within each replica), so the shuffle stays
    # canonical-set-sized while the scan grows 10x.
    # dedup_containment rides the same build: replica word-renaming
    # keeps shingle sets disjoint ACROSS replicas, so the rarity-
    # prefix inverted-index join and the per-candidate verification
    # both stay within-replica — pair density constant, cost ~linear.
    "quality2": ["text_token_entropy", "dedup_url", "dedup_containment"],
    # r14 keys over the same 10x documents build. Claims under test:
    # the WARC scans are one-task-per-shard kernels with NO exchange
    # anywhere (write side repartitions on doc_id%8, read side maps
    # shard files), so 10x docs is pure serialize+parse cost — the
    # shard COUNT is held at 8, so per-task payload grows 10x and the
    # witness measures the kernel's linearity, not task scheduling;
    # the JPEG key is a per-row Arrow kernel (encode+decode), the
    # embarrassingly-parallel shape — ~linear or better, no shuffle
    # term to grow; the .warc.gz variant adds per-record gzip
    # deflate/inflate on the same shape; HTML extraction is a pure
    # JVM projection (the token-entropy contract: no exchange at all).
    "ingest": [
        "scan_warc",
        "scan_tar",
        "scan_warc_media",
        "multimodal_jpeg_decode",
        "scan_warc_gzip",
        "text_html_extract",
        "multimodal_jpeg420_decode",
        "multimodal_png8_decode",
        "scan_warc_html",
    ],
    # r15 keys over the same 10x documents build. Claims under test:
    # exact-substring dedup's candidate join is bounded by SHARED
    # windows — replica word-renaming keeps 16-token windows disjoint
    # across replicas, so planted-overlap density is constant and the
    # bucket join must stay ~flat while the window explode/hash scan
    # grows 10x (if cost tracked pairs-of-docs it would grow 100x);
    # BPE tokenize is a shuffle-free Arrow projection (the
    # token-entropy contract — and the per-batch word memo keeps
    # per-row cost amortized even though renaming inflates the
    # distinct-word count 10x); the BPE budget key adds ONE keyed
    # window exchange; the DRI/progressive JPEG keys are per-row
    # encode+decode Arrow kernels, the embarrassingly-parallel shape.
    "r15": [
        "dedup_exact_substring",
        "text_bpe_tokenize",
        "mixture_token_budget_bpe",
        "multimodal_jpeg_dri_decode",
        "multimodal_jpeg_progressive_decode",
    ],
    # r16 keys over the same 10x documents build. Claims under test:
    # exact-substring decontamination scans the corpus ONCE and probes
    # a broadcast window set — replica renaming keeps windows disjoint
    # across replicas so contamination density is constant, and cost
    # must track the corpus scan (~10x), never the corpus-x-benchmark
    # product; BPE training is ONE distributed word-count aggregate
    # (the merge loop runs on the bounded distinct-word table, which
    # renaming inflates 10x but keeps trivially small); the trainer->
    # inference composition adds the shuffle-free tokenize projection;
    # the codec/meta keys are per-row encode+decode Arrow kernels
    # behind the spread exchange — the embarrassingly-parallel shape,
    # expect ~3x at 10x like their r15 siblings.
    "r16": [
        "decontaminate_exact_substring",
        "text_bpe_learned",
        "text_bpe_train_tokenize",
        "multimodal_png_interlaced_decode",
        "multimodal_png_rgba_decode",
        "multimodal_jpeg_gray_decode",
        "multimodal_jpeg12_decode",
        "multimodal_jpeg411_decode",
        "multimodal_gif_interlaced_decode",
        "multimodal_mp4_meta",
        "multimodal_flac_meta",
        "multimodal_mp3_meta",
        "multimodal_wav_stats",
        "multimodal_exif_meta",
        "multimodal_dhash_neardup",
        "text_encoding_repair",
    ],
    # r13 session-2: bounded-window EWMA over 10x events (replica k
    # shifts event_id and user_id, so per-user series stay intact and
    # the user population grows 10x — the organic-telemetry shape).
    # Claim under test: cost is ONE keyed-window exchange growing
    # ~linearly in events; the oracle's self-join formulation (8x row
    # blowup) is exactly what this plan avoids.
    "events": ["timeseries_ewma"],
}


def _semantic_dedup_portable_scaled(spark, sf_dir):
    """semantic_dedup_portable with the cluster count a production
    run would use: k = choose_k(n, target_cluster_rows=64), so the
    pair term is n*64 at any scale (vs the workload key's oracle-
    pinned k=32, which is quadratic past test scale by design)."""
    from machine_learning_algorithm_sparkml__spark.operators.semdedup import (
        choose_k,
        semantic_dedup_portable,
    )
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = choose_k(emb.count(), target_cluster_rows=64)
    return semantic_dedup_portable(emb, k=k)


def _retrieval_hybrid_q30(spark, sf_dir):
    """retrieval_hybrid with a 10x query set (30 queries, two terms
    each drawn round-robin from the 4-term probe pool, query vectors
    vec_id 0..29): times the |Q|-scaling axis of the hybrid plan."""
    import itertools

    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        _BM25_TERMS,
        hybrid_retrieval,
    )

    pairs = list(itertools.combinations(_BM25_TERMS, 2))
    qset = tuple((qid, pairs[qid % len(pairs)], qid) for qid in range(30))
    return hybrid_retrieval(spark, sf_dir, qset)


#: witness-local callables (not registry keys): timed like any key
WITNESS_LOCAL = {
    "semantic_dedup_portable_scaled": _semantic_dedup_portable_scaled,
    "retrieval_hybrid_q30": _retrieval_hybrid_q30,
}
REPLICAS = 10
ANN_REPLICAS = 100
SF01 = "/root/testdata/sf0.1"


def build_sf1_relational(spark, out_dir: str) -> None:
    """orders/lineitem x10 with consistent shifted join keys; the
    customer dim passes through unchanged (10x facts per customer)."""
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.sources import load_table

    orders = load_table(spark, SF01, "orders")
    lineitem = load_table(spark, SF01, "lineitem")
    shift = 1_000_000

    def rep(df, keycol):
        parts = [
            df.withColumn(keycol, F.col(keycol) + F.lit(k * shift))
            for k in range(REPLICAS)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    rep(orders, "o_orderkey").repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet")
    )
    rep(lineitem, "l_orderkey").repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet")
    )
    for dim in ("customer", "part"):
        load_table(spark, SF01, dim).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{dim}.parquet")
        )


def build_sf1_embeddings(spark, out_dir: str) -> None:
    """embeddings x ANN_REPLICAS (100x, not 10x: at 20k vectors both
    ANN paths are fixed-overhead-dominated and a 10x witness measured
    noise — 200k x 64-dim is where corpus-side scan cost is visible),
    vec_id shifted per replica; the fixed query ids (vec_id < 10)
    exist only in replica 0."""
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.sources import load_table

    emb = load_table(spark, SF01, "embeddings")
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * 100_000))
        for k in range(ANN_REPLICAS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def build_sf1_retrieval(spark, out_dir: str) -> None:
    """documents 10x (renamed replicas — probe terms only in replica
    0) plus the embeddings table passed through unchanged: the hybrid
    re-rank joins shortlist doc_ids against vec_ids, and the renamed
    replicas can never enter the shortlist, so the same embedding
    population serves the 10x corpus exactly as it would in
    production (embeddings exist for the retrievable subset)."""
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    build_sf1_documents(spark, out_dir)
    load_table(spark, SF01, "embeddings").write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def build_sf1_documents(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.sources import load_table

    docs = load_table(spark, SF01, "documents")
    n = docs.count()
    parts = []
    for k in range(REPLICAS):
        suffix = f"_r{k}"
        renamed = (
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit(suffix)),
                ),
                " ",
            )
            if k
            else F.col("text")  # replica 0 = the original corpus
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
                renamed.alias("text"),
                "lang",
                "source",
                F.length(renamed).alias("n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def build_sf1_events(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.sources import load_table

    ev = load_table(spark, SF01, "events")
    parts = []
    for k in range(REPLICAS):
        parts.append(
            ev.select(
                (F.col("event_id") + F.lit(k * 10_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(k * 1_000_000)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )


def main() -> int:
    import tempfile

    import bench

    families = [a for a in sys.argv[1:] if a in FAMILY_KEYS] or list(FAMILY_KEYS)

    # measure the operators, not the truth passes (same rule as bench)
    os.environ["SPARK_GRAFT_SELF_VERIFY"] = "0"
    from machine_learning_algorithm_sparkml__spark import get_session
    import __spark_entry__ as entry

    spark = get_session("scale-witness")
    qs = dict(entry.queries())
    qs.update(WITNESS_LOCAL)

    sf1_dir = os.path.join(tempfile.gettempdir(), "spark_graft_sf1")
    builders = {
        "dedup": build_sf1_documents,
        "relational": build_sf1_relational,
        "ann": build_sf1_embeddings,
        "maintenance": build_sf1_relational,
        "maintenance2": build_sf1_relational,
        "text": build_sf1_documents,
        "ann2": build_sf1_embeddings,
        "retrieval": build_sf1_retrieval,
        "quality2": build_sf1_documents,
        "ingest": build_sf1_documents,
        "r15": build_sf1_documents,
        "r16": build_sf1_documents,
        "events": build_sf1_events,
    }
    built = set()
    for fam in families:
        b = builders[fam]
        if b not in built:
            b(spark, sf1_dir)
            built.add(b)
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    print(json.dumps({"families": families, "replicas": REPLICAS}), flush=True)

    # warm-up
    load_table(spark, SF01, "lineitem").count()
    for fam in families:
        for key in FAMILY_KEYS[fam]:
            t01 = bench.time_key(spark, key, partial(qs[key], spark, SF01), {})
            t1 = bench.time_key(spark, key, partial(qs[key], spark, sf1_dir), {})
            print(
                json.dumps(
                    {
                        "family": fam,
                        "key": key,
                        "sf0.1_sec": round(t01, 2),
                        "sf1_sec": round(t1, 2),
                        "scale_factor": round(t1 / t01, 2),
                    }
                ),
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Streaming corpus deduplication with state that survives a restart
(additive; SURVEY.md §7.4 streaming hook + the LLM-pipeline dedup
family).

The continuous-ingestion shape of ``operators/dedup.dedup_incremental``:
documents arrive as a stream, state keyed by the PORTABLE content
fingerprint (md5-60bit of the normalized text — the same hash family
as the batch dedup keys, so an external engine can replay every
verdict) remembers the keeper per fingerprint, and each arriving doc
is emitted exactly once with its keep/drop verdict. A duplicate that
arrives AFTER a restart must still be dropped — the fingerprint state
lives in the checkpoint, which is the whole point of running dedup as
a stateful stream instead of nightly batch diffs.

At 100 TB-ingest scale this is the right shape: state size is
O(distinct fingerprints) with a few longs each (not document text),
the shuffle is one hash exchange on the fingerprint per micro-batch,
and the emitted verdicts are append-only (each doc decided once, in
its arrival batch — a transactional file sink makes that
exactly-once). The handler is Arrow-batched (``applyInPandasWithState``
— ``transformWithStateInPandas`` needs protobuf, unavailable here; see
the r9 notes).

Determinism contract (what makes the key oracle-checkable): each
incarnation's source is ONE file per phase, so the handler sees a
whole phase per group per batch and orders members by
(phase, doc_id); the keeper of a fingerprint is therefore its
lexicographic-min (phase, doc_id) member — exactly
``ROW_NUMBER() OVER (PARTITION BY fp ORDER BY phase, doc_id) = 1``
on the combined corpus, which DuckDB replays verbatim.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "doc_id long, fp long, phase int, is_kept boolean"
STATE_SCHEMA = "best_phase int, best_id long"


def _dedup_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-fingerprint keeper state: the first (phase, doc_id) ever
    seen wins; every other member of the group — in this batch or any
    later one, before or after a restart — is emitted with
    ``is_kept=false``. Each input row is emitted exactly once.

    The ROW_NUMBER-min oracle equivalence (module docstring) holds only
    under monotonic delivery — every row in a later batch sorts after
    the stored keeper. This runner constructs that (one file per phase,
    ascending phases); the assert makes any other delivery order fail
    loudly instead of silently keeping a non-minimal keeper (ADVICE
    r12: re-election after emission would be unsound in append mode,
    so out-of-order arrival must be rejected, not absorbed)."""
    best = tuple(state.get) if state.exists else None
    # The handler runs once PER FINGERPRINT per batch — thousands of
    # calls per micro-batch, nearly all on single-row groups — so the
    # per-call pandas work, not the dedup logic, is where the
    # micro-batch time goes (guide §4.2). Skip the
    # concat/sort for the 1-frame/1-row common case and replace the
    # per-row Python loop with its closed form: rows are processed in
    # (phase, doc_id) order, so after the sort only the FIRST row can
    # become the keeper (iff no keeper is stored yet) and the
    # monotonicity assert only ever fires on the minimum.
    frames = [f for f in batches if len(f)]
    if not frames:
        # an empty group (a timeout call carries no rows): nothing to
        # decide, state unchanged
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(dtype="int64"),
                "fp": pd.Series(dtype="int64"),
                "phase": pd.Series(dtype="int32"),
                "is_kept": pd.Series(dtype="bool"),
            }
        )
        return
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
    if len(pdf) > 1:
        pdf = pdf.sort_values(["phase", "doc_id"])
    first = (int(pdf["phase"].iloc[0]), int(pdf["doc_id"].iloc[0]))
    if best is not None and first < best:
        raise ValueError(
            "corpus_dedup: non-monotonic arrival "
            f"{first} < stored keeper {best}; "
            "the append-mode keeper contract requires delivery in "
            "(phase, doc_id) order across batches"
        )
    kept = [False] * len(pdf)
    if best is None:
        best = first
        kept[0] = True
    state.update((int(best[0]), int(best[1])))
    yield pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "fp": key[0],
            "phase": pdf["phase"].to_numpy(),
            "is_kept": kept,
        }
    )


def _normalized_text() -> F.Column:
    """The text_normalize chain (workload/quality.py) — lowercase,
    strip sentence punctuation, collapse whitespace, trim — kept
    identical so the oracle reuses the proven regex replay."""
    safe = F.coalesce(F.col("text"), F.lit(""))
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(safe), r"[.,;:!?]", ""), r"\s+", " "
        )
    )


def run_streaming_corpus_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Two ``availableNow`` incarnations over a growing source dir with
    a shared checkpoint and a transactional parquet sink (the restart
    pattern of ``events._two_phase_windowed_restart``): phase 1 = the
    lower-id half of documents; phase 2 = the upper half PLUS planted
    exact clones (every doc_id % 50 == 0 re-sent at id+10_000_000) —
    cross-phase duplicates whose drops witness that the fingerprint
    state survived the restart. Returns the committed sink:
    (doc_id, fp, phase, is_kept), one row per streamed doc."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import portable_hash60
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming.events import (
        frozen_shuffle_partitions,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg(F.max("doc_id").alias("m")).first()["m"] // 2

    src = scratch_sink_path(sf_dir, "corpus_dedup_src")
    ckpt = scratch_sink_path(sf_dir, "corpus_dedup_ckpt")
    out = scratch_sink_path(sf_dir, "corpus_dedup_out")
    for d in (src, ckpt, out):  # a stale checkpoint would replay nothing
        shutil.rmtree(d, ignore_errors=True)

    def _one_run() -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        enriched = stream.select(
            "doc_id",
            portable_hash60(_normalized_text()).alias("fp"),
            F.when(F.col("doc_id") < F.lit(half), F.lit(1))
            .otherwise(F.lit(2))
            .cast("int")
            .alias("phase"),
        )
        verdicts = enriched.groupBy("fp").applyInPandasWithState(
            _dedup_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        with frozen_shuffle_partitions(spark, num_state_partitions):
            q = (
                verdicts.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()

    # ONE file per phase (coalesce(1)) => one micro-batch per
    # incarnation => the handler sees each phase's whole group at once
    # and the (phase, doc_id) keeper order is exact (module docstring)
    docs.filter(F.col("doc_id") < F.lit(half)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "phase=1"))
    _one_run()
    planted = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    (
        docs.filter(F.col("doc_id") >= F.lit(half))
        .unionByName(planted)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(src, "phase=2"))
    )
    _one_run()
    return spark.read.parquet(out)

"""Empty-input and multi-batch robustness: operators must be total
over degenerate frames, and streaming state must accumulate correctly
across multiple micro-batches (not just the single-batch case)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
    brute_force_topk,
    portable_near_dup_pairs,
)
from machine_learning_algorithm_sparkml__spark.sources import load_table


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_ops_on_empty_frame(spark):
    empty = _empty_docs(spark)
    assert ngram_jaccard_pairs(empty, "doc_id", "text").count() == 0
    assert minhash_near_dup_pairs(empty, "doc_id", "text").count() == 0
    assert simhash_near_dup_pairs(empty, "doc_id", "text").count() == 0


def test_simsearch_with_empty_queries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    no_queries = emb.filter(F.col("vec_id") < 0)
    assert brute_force_topk(emb, no_queries, k=5).count() == 0


def test_neardup_single_vector(spark):
    df = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, embedding array<float>")
    assert portable_near_dup_pairs(df, num_planes=4, num_tables=2).count() == 0


def test_lsh_and_ivf_empty_corpus(spark):
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_ivf_topk,
        portable_lsh_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for fn in (portable_lsh_topk, portable_ivf_topk):
        out = fn(empty, empty, k=3)
        assert out.count() == 0
        assert set(out.columns) == {"query_id", "neighbor_id", "rank", "sim"}


def test_salted_join_rejects_outer(spark, sf_dir):
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.skew import salted_join
    from machine_learning_algorithm_sparkml__spark.sources import load_tables

    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    small = customer.select(F.col("c_custkey").alias("o_custkey"), "c_name")
    with pytest.raises(ValueError, match="salt bucket"):
        salted_join(orders, small, "o_custkey", how="full")


def test_range_join_rejects_outer(spark):
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.rangejoin import (
        bucketized_range_join,
    )

    pts = spark.createDataFrame([(1, 5.0)], "id long, value double")
    rng = spark.createDataFrame([(1, 0.0, 10.0)], "rid long, low double, high double")
    with pytest.raises(ValueError, match="inner-only"):
        bucketized_range_join(pts, rng, "value", "low", "high", bucket_width=5.0, how="left")


def test_jaccard_hot_shingle_cap_is_conservative(spark):
    """With the cap, reported Jaccard must never EXCEED the true value
    (sizes from full sets, intersections from capped sets)."""
    # 4 docs share the hot shingle 'a a a'; docs 1,2 are near-identical
    rows = [
        (1, "a a a x y z w"),
        (2, "a a a x y z q"),
        (3, "a a a p q r s"),
        (4, "a a a k l m n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.0, max_shingle_doc_freq=3
        ).collect()
    }
    for pair, j in capped.items():
        assert j <= full[pair] + 1e-12, (pair, j, full[pair])


def test_connected_components_raises_on_iteration_cap(spark):
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.graph import (
        connected_components,
    )

    n = 8
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iterations=2)


def test_stateful_totals_across_multiple_batches(spark, sf_dir):
    """Split events into several parquet files and feed them one per
    micro-batch (maxFilesPerTrigger=1): state must accumulate across
    batches and the final emission must equal the batch aggregation."""
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from machine_learning_algorithm_sparkml__spark.streaming.stateful import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _update_totals,
    )

    events = load_table(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="ev_batches_")
    events.repartition(3).write.mode("overwrite").parquet(src_dir)
    n_files = len([f for f in os.listdir(src_dir) if f.endswith(".parquet")])
    assert n_files >= 2

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    totals = stream.groupBy("event_type").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"multi_{uuid.uuid4().hex[:8]}"
    q = totals.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= n_files, "expected one micro-batch per file"

    raw = spark.table(name).withColumn("_ord", F.monotonically_increasing_id())
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("_ord"))
    latest = {
        r.event_type: (r.n_events, r.sum_value)
        for r in raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    batch = {
        r.event_type: (r.n, r.s)
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert latest == batch


def test_shingle_oracles_survive_null_and_blank_text(spark, sf_dir, tmp_path):
    """The shingle-based oracle SQL must agree with Spark even when a
    document's text is NULL or blank — the real testdata has no such
    rows, so this plants them (ADVICE r2: the unguarded tokenization
    silently dropped NULL-text docs from the DuckDB shingle set)."""
    import duckdb

    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        ORACLE,
        q_decontaminate_ngram,
        q_dedup_ngram_jaccard,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    edge = spark.createDataFrame(
        [(900001, None, "en", "planted", 0), (900002, "   ", "en", "planted", 3)],
        schema=docs.schema,
    )
    planted_dir = str(tmp_path / "planted")
    docs.unionAll(edge).coalesce(1).write.mode("overwrite").parquet(
        planted_dir + "/documents.parquet"
    )

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{planted_dir}/documents.parquet/*.parquet')"
    )
    for name, fn in [
        ("decontaminate_ngram", q_decontaminate_ngram),
        ("dedup_ngram_jaccard", q_dedup_ngram_jaccard),
    ]:
        s_rows = sorted(
            tuple(r) for r in fn(spark, planted_dir).select("doc_id").collect()
        ) if name == "decontaminate_ngram" else sorted(
            (r["id_a"], r["id_b"]) for r in fn(spark, planted_dir).collect()
        )
        rel = con.sql(ORACLE[name])
        cols = list(rel.columns)
        if name == "decontaminate_ngram":
            d_rows = sorted((r[cols.index("doc_id")],) for r in rel.fetchall())
        else:
            d_rows = sorted(
                (r[cols.index("id_a")], r[cols.index("id_b")]) for r in rel.fetchall()
            )
        assert s_rows == d_rows, f"{name}: planted NULL/blank text diverges"


def test_session2_ops_on_degenerate_frames(spark):
    """Empty / degenerate inputs for the session-2 operators: fuzzy
    decontamination with an empty benchmark keeps everything (and an
    empty corpus yields nothing), incremental dedup with an empty
    corpus keeps the whole batch, portable_pq_topk returns a
    schema-stable empty frame on an empty corpus."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        decontaminate_by_minhash,
        incremental_exact_dedup,
    )
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_pq_topk,
    )

    empty = _empty_docs(spark)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    # empty benchmark -> nothing contaminated
    assert decontaminate_by_minhash(docs, empty, "doc_id", "text").count() == 2
    # empty corpus -> nothing survives (vacuously)
    assert decontaminate_by_minhash(empty, docs, "doc_id", "text").count() == 0
    # empty existing corpus -> whole batch survives (post in-batch dedup)
    assert incremental_exact_dedup(empty, docs, ["text"], "doc_id").count() == 2
    # empty batch -> empty survivors, schema intact
    out = incremental_exact_dedup(docs, _empty_docs(spark), ["text"], "doc_id")
    assert out.count() == 0 and set(out.columns) == {"text", "doc_id", "n_copies"}

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    res = portable_pq_topk(empty_emb, empty_emb, k=3)
    assert res.count() == 0
    assert res.columns == ["query_id", "neighbor_id", "rank", "sim"]


def test_bigram_familiarity_all_docs_too_short(spark):
    """A corpus with no doc of >= 2 tokens has an EMPTY bigram table
    (total is NULL): every doc must still come back with exact zeros,
    not NULLs or a division error."""
    from machine_learning_algorithm_sparkml__spark.operators.lm import bigram_familiarity

    df = spark.createDataFrame(
        [(0, "one"), (1, ""), (2, None)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in bigram_familiarity(df).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert (r.n_bigrams, r.sum_bigram_count) == (0, 0)
        assert r.bigram_familiarity == 0.0 and r.conditional_score == 0.0


def test_leakage_safe_split_no_near_dups(spark):
    """With zero near-dup pairs every doc is its own group and the
    split degenerates to the plain hash split — no crash on the empty
    edge list, full coverage, group_id == doc_id."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import q_split_leakage_safe

    import os, tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, f"utterly unique text number {i} {'x'*i}") for i in range(6)],
            "doc_id long, text string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = q_split_leakage_safe(spark, d).collect()
    assert {r.doc_id for r in out} == set(range(6))
    assert all(r.group_id == r.doc_id for r in out)
    assert all(r.split in ("train", "val", "test") for r in out)


def test_zorder_value_null_and_empty_input(spark):
    """NULL dimension -> NULL curve value (never a crash); an empty
    frame survives the clustered write round trip."""
    import os, tempfile

    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.operators.layout import (
        write_zordered,
        zorder_value,
    )

    df = spark.createDataFrame([(None, 5), (3, None), (1, 2)], "x long, y long")
    got = df.select(zorder_value(F.col("x"), F.col("y")).alias("z")).collect()
    assert [r.z for r in got] == [None, None, 9]  # x=1 even bit0, y=2 odd bit3
    empty = spark.createDataFrame([], "x long, y long")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "z")
        write_zordered(empty, p, "x", "y", num_files=2)
        assert spark.read.parquet(p).count() == 0


def test_events_loader_handles_all_three_ts_physical_forms(spark):
    """The driver has regenerated events.parquet in three physical ts
    forms across rounds: TIMESTAMP(NANOS), TIMESTAMP(MICROS, NTZ),
    and plain TIMESTAMP(MICROS, UTC). Only the current testdata shape
    gets exercised by the suite, so pin ALL THREE against constructed
    files — load_table and the streaming scan must normalize each to
    identical timestamp (LTZ) values."""
    import datetime as dt
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.streaming.events import (
        read_events_stream,
    )

    base = dt.datetime(2021, 6, 1, 12, 0, 0)
    times = [base, base + dt.timedelta(minutes=1, microseconds=250)]

    def _write(dirname, unit, tz):
        arr = pa.array(times, type=pa.timestamp(unit, tz=tz))
        table = pa.table({
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": arr,
            "user_id": pa.array([7, 7], type=pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        })
        pq.write_table(table, os.path.join(dirname, "events.parquet"))

    expected = [t.replace(tzinfo=None) for t in times]
    for unit, tz in (("ns", None), ("us", None), ("us", "UTC")):
        with tempfile.TemporaryDirectory() as d:
            _write(d, unit, tz)
            batch = load_table(spark, d, "events")
            assert dict(batch.dtypes)["ts"] == "timestamp", (unit, tz, batch.dtypes)
            got = sorted(r.ts for r in batch.select("ts").collect())
            assert got == expected, (unit, tz, got)
            stream_df = read_events_stream(spark, d)
            assert dict(stream_df.dtypes)["ts"] == "timestamp", (unit, tz)


def test_scan_csv_malformed_pins_both_parser_modes(spark, sf_dir):
    """The dirty-CSV key's contract (VERDICT r8 #3): PERMISSIVE keeps
    every physical row and flags exactly the planted corrupt ones
    (bad cast / short row / long row); DROPMALFORMED drops exactly
    those and nothing else. Counts are derived independently from the
    orders table here, not from the key's own oracle."""
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_scan_csv_malformed,
    )

    orders = load_table(spark, sf_dir, "orders")
    n_total = orders.count()
    n_planted = orders.filter((F.col("o_orderkey") % 100).isin(7, 13, 21)).count()
    assert n_planted > 0, "testdata must hit all three corruption residues"

    row = q_scan_csv_malformed(spark, sf_dir).first()
    assert row["n_total"] == n_total  # PERMISSIVE never drops a row
    assert row["n_corrupt"] == n_planted
    assert row["n_clean_permissive"] == n_total - n_planted
    assert row["n_dropmalformed"] == n_total - n_planted
    # per-field signal: custkey parses everywhere except bad-cast rows
    n_badcast = orders.filter(F.col("o_orderkey") % 100 == 7).count()
    assert row["n_custkey_parsed"] == n_total - n_badcast


def test_scan_json_malformed_pins_modes_and_schema_flexibility(spark, sf_dir):
    """JSONL dirty-row contract: type-mismatch and truncated objects
    are corrupt in both modes; a MISSING field is NOT corrupt (JSON is
    schema-flexible — the asymmetry vs CSV arity this key exists to
    pin). Counts derived independently from documents."""
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_json_malformed,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    n_corrupt = docs.filter((F.col("doc_id") % 100).isin(7, 13)).count()
    n_missing = docs.filter(F.col("doc_id") % 100 == 21).count()
    assert n_corrupt > 0 and n_missing > 0

    row = q_scan_json_malformed(spark, sf_dir).first()
    assert row["n_total"] == n_total
    assert row["n_corrupt"] == n_corrupt
    assert row["n_missing_field_valid"] == n_missing
    assert row["n_dropmalformed"] == n_total - n_corrupt  # missing-field rows survive
    assert row["n_nchars_parsed"] == n_total - n_corrupt


def test_scan_binary_files_glob_prunes_and_preserves_bytes(spark, sf_dir):
    """binaryFile-source contract: pathGlobFilter prunes non-matching
    files AT LISTING time (a planted .tmp decoy never appears in the
    output), and `content` is byte-exact (sha256 of the scanned bytes
    equals sha256 of the source text computed JVM-side from the
    documents table — no codec, no re-encoding)."""
    import hashlib

    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_binary_files,
        scratch_sink_path,
    )

    got = {r["fname"]: r for r in q_scan_binary_files(spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .collect()
    }
    assert set(got) == {f"doc_{i}.bin" for i in docs}
    for i, text in docs.items():
        raw = text.encode("utf-8")
        row = got[f"doc_{i}.bin"]
        assert row["n_bytes"] == len(raw)
        assert row["sha256"] == hashlib.sha256(raw).hexdigest()

    # decoy outside the glob: present on disk, absent from the scan.
    # Scan the already-populated fixture dir directly (the key itself
    # rebuilds the dir per call, which would delete the decoy).
    dirpath = scratch_sink_path(sf_dir, "docs_binary")
    decoy = os.path.join(dirpath, "decoy.tmp")
    with open(decoy, "wb") as f:
        f.write(b"not a corpus file")
    try:
        globbed = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(dirpath)
        )
        assert globbed.count() == len(docs)
        assert spark.read.format("binaryFile").load(dirpath).count() == len(docs) + 1
    finally:
        os.unlink(decoy)


def test_scan_schema_evolution_null_fills_and_explicit_schema_agrees(spark, sf_dir):
    """Column-added-later drift: gen-1 files lack o_totalprice, so the
    merged read must null-fill exactly the even-orderkey rows — and
    the explicit-schema read (the 100 TB path that skips the
    footer-sweep mergeSchema does) must produce the identical frame."""
    from pyspark.sql import types as T

    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_schema_evolution,
    )
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    merged = q_scan_schema_evolution(spark, sf_dir)
    assert dict(merged.dtypes)["o_totalprice"] == "double"
    n_even = merged.filter(F.col("o_orderkey") % 2 == 0).count()
    n_null = merged.filter(F.col("o_totalprice").isNull()).count()
    n_even_null = merged.filter(
        (F.col("o_orderkey") % 2 == 0) & F.col("o_totalprice").isNull()
    ).count()
    assert n_even == n_null == n_even_null  # nulls are exactly the gen-1 rows
    assert merged.count() == load_table(spark, sf_dir, "orders").count()

    explicit = (
        spark.read.schema(
            T.StructType([
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_orderstatus", T.StringType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ])
        )
        .option("recursiveFileLookup", "true")
        .parquet(scratch_sink_path(sf_dir, "orders_schema_evo"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    assert explicit.exceptAll(merged).count() == 0
    assert merged.exceptAll(explicit).count() == 0


def test_xml_corruption_is_record_scoped_for_casts_file_scoped_for_structure(
    spark, tmp_path
):
    """The XML dirty-input contract, completing the CSV/JSONL trilogy —
    with a failure-domain asymmetry neither of those has. A BAD CAST
    inside a well-formed element is record-scoped: that row lands in
    _corrupt and the NEXT row of the same file survives typed. A
    STRUCTURAL break (unclosed tag) is FILE-scoped: the parser cannot
    re-synchronize, so every record after the break is swallowed — in
    every mode, not just PERMISSIVE — and the corrupt capture holds the
    whole file text, not a record. Operational rule at 100 TB: XML
    corpora need small files (one unclosed tag costs the file TAIL,
    not a row) and per-file row-count audits; CSV/JSONL damage is
    line-scoped and needs neither."""
    d = tmp_path / "xmlmal"
    d.mkdir()
    (d / "clean.xml").write_text(
        "<orders><order><k>1</k><status>O</status><price>10.5</price></order>"
        "<order><k>2</k><status>F</status><price>20.0</price></order></orders>"
    )
    (d / "badcast.xml").write_text(
        "<orders><order><k>notanint</k><status>F</status><price>30.0</price></order>"
        "<order><k>4</k><status>O</status><price>40.0</price></order></orders>"
    )
    (d / "broken.xml").write_text(
        "<orders><order><k>5</k><status>P</status><price>broken"
        "<order><k>6</k><status>O</status><price>60.0</price></order></orders>"
    )

    perm = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("k bigint, status string, price double, _corrupt string")
        .load(str(d))
    )
    rows = perm.collect()
    typed = sorted(r.k for r in rows if r._corrupt is None)
    corrupt = [r for r in rows if r._corrupt is not None]
    assert typed == [1, 2, 4]  # 4 survives its file's bad-cast neighbor
    assert len(corrupt) == 2  # one per damaged FILE, not per record
    # structural capture is the whole file; row 6 appears nowhere
    assert any("<k>6</k>" in r._corrupt for r in corrupt)
    assert all(r.k != 6 for r in rows)

    drop = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .option("mode", "DROPMALFORMED")
        .schema("k bigint, status string, price double")
        .load(str(d))
    )
    assert sorted(r.k for r in drop.collect()) == [1, 2, 4]


def test_scan_text_logs_drops_exactly_the_planted_garbage(spark, sf_dir):
    """The rlike gate must drop EXACTLY the planted truncated-frame
    lines (%100==51) and nothing else; the typed columns must
    round-trip the source values bit-exactly (shortest-repr double
    parse-back); and the WARN/INFO split must match the price rule."""
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.sources.io import load_table
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_scan_text_logs,
    )

    got = q_scan_text_logs(spark, sf_dir).cache()
    try:
        orders = load_table(spark, sf_dir, "orders")
        n_total = orders.count()
        n_garbage = orders.filter(F.col("o_orderkey") % 100 == 51).count()
        assert got.count() == n_total - n_garbage
        assert got.filter(F.col("o_orderkey") % 100 == 51).count() == 0

        src = {
            r.o_orderkey: (r.o_totalprice, r.o_orderstatus)
            for r in orders.filter(F.col("o_orderkey") % 100 != 51)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .collect()
        }
        for r in got.collect():
            price, status = src[r.o_orderkey]
            assert r.o_totalprice == price  # bit-exact text round-trip
            assert r.o_orderstatus == status
            assert r.level == ("WARN" if price > 400000.0 else "INFO")
    finally:
        got.unpersist()


def test_arrow_kernel_deterministic_under_task_retry(tmp_path):
    """Task-retry witness (1000-executor credibility): on a real
    cluster tasks get re-executed — speculative duplicates, lost
    executors — and every kernel must produce byte-identical output
    on attempt 2. The shared session runs local[32] where a task
    failure is fatal (maxFailures=1), so this spawns its own
    local[4,2] session, injects a one-shot failure into an Arrow
    kernel's partition 0 via a sentinel file (first attempt raises
    AFTER yielding a partial batch — the worst case: Spark must
    discard the partial output, not append to it), and asserts the
    retried run equals the clean run exactly."""
    import subprocess
    import sys
    import textwrap

    flag = tmp_path / "attempt0_failed"
    script = textwrap.dedent(f"""
        import os
        import pyarrow as pa
        from pyspark.sql import SparkSession
        from pyspark import TaskContext

        spark = (
            SparkSession.builder.master("local[4,2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.range(0, 1000, 1, 4)

        FLAG = {str(flag)!r}

        def kernel(batches):
            ctx = TaskContext.get()
            fail = ctx.partitionId() == 0 and not os.path.exists(FLAG)
            first = True
            for b in batches:
                ids = b.column("id")
                out = pa.record_batch(
                    [ids, pa.compute.multiply(ids, 3)], names=["id", "tripled"]
                )
                yield out
                if fail and first:
                    open(FLAG, "w").write("x")
                    raise RuntimeError("injected first-attempt failure")
                first = False

        got = df.mapInArrow(kernel, "id long, tripled long").collect()
        assert os.path.exists(FLAG), "failure never injected"
        rows = sorted((r["id"], r["tripled"]) for r in got)
        expect = [(i, 3 * i) for i in range(1000)]
        assert rows == expect, (len(rows), rows[:3])
        # the retried partition really ran twice
        print("RESULT retry_witness ok", len(rows))
        spark.stop()
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RESULT retry_witness ok 1000" in proc.stdout


def test_arrow_kernels_invariant_to_batch_boundaries(spark, sf_dir):
    """Arrow kernels receive data in batches whose boundaries are an
    EXECUTION detail (spark.sql.execution.arrow.maxRecordsPerBatch);
    any kernel whose output depends on where a batch splits is broken
    at scale, where batch shape varies with partition sizes and
    memory pressure. Run the pandas_udf/mapInArrow-backed keys under
    a pathological 17-row batch size and assert results identical to
    the default (10k)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    key_names = ["simsearch_topk", "embedding_quantize_arrow"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf, None)
    base = {}
    for k in key_names:
        base[k] = sorted(map(tuple, qs[k](spark, sf_dir).collect()))
    try:
        spark.conf.set(conf, "17")
        for k in key_names:
            tiny = sorted(map(tuple, qs[k](spark, sf_dir).collect()))
            assert tiny == base[k], f"{k}: result depends on Arrow batch shape"
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_keys_invariant_to_shuffle_partition_count(spark, sf_dir):
    """Cluster-size independence: `spark.sql.shuffle.partitions` is
    the knob that changes most between local[32] and a 1000-executor
    cluster, and NO query key may change its answer under it. The
    per-key oracles imply determinism at the default; this pins a
    representative cross-section — windowed top-k (tie-breaks),
    keep-best dedup (argmax merges), sessionization (ordered window
    chains), sequence packing (cumsum boundaries), portable-hash ANN
    (bucket math), and the epoch shuffle (bucketed total order) —
    under a pathological 5-partition plan."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    keys = [
        "window_rank_topk",
        "dedup_keep_best",
        "sessionize",
        "doc_pack_sequences",
        "simsearch_lsh_portable",
        "corpus_shuffle_epoch",
        # r12 additions: the composed portable-ANN capstone (ADC
        # shortlists cross the exchange), portable SemDeDup (pair join
        # on cluster), OHLC bars (min_by/max_by partial merges)
        "simsearch_ivfpq_portable",
        "semantic_dedup_portable",
        "timeseries_downsample_ohlc",
    ]
    base = {k: sorted(map(tuple, qs[k](spark, sf_dir).collect())) for k in keys}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        for k in keys:
            redo = sorted(map(tuple, qs[k](spark, sf_dir).collect()))
            assert redo == base[k], f"{k}: result depends on shuffle partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_codec_fuzz_single_byte_corruption_contract():
    """Crawl-reality contract for every from-scratch decoder: a
    corrupted payload either still decodes or raises ValueError —
    never IndexError/KeyError/struct.error, never an allocation bomb
    (dimension fields are capped by _check_decode_dims). Seeded
    single-byte mutations over every byte-position class of valid
    baseline/DRI/progressive JPEG, PNG, palette-PNG, GIF, BMP, and
    WAV payloads."""
    import random

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _png8_palette,
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        decode_wav,
        exif_params,
        insert_exif,
        flac_meta_params,
        make_bmp,
        make_exif_app1,
        make_flac_meta,
        make_gif,
        make_jpeg,
        make_jpeg12,
        make_jpeg_progressive,
        make_mp3_meta,
        make_mp4_meta,
        make_png,
        make_png_palette,
        make_wav,
        mp3_meta_params,
        mp4_meta_params,
        parse_exif,
        parse_flac_meta,
        parse_mp3_meta,
        parse_mp4_meta,
    )

    rng = np.random.default_rng(5)
    px24 = rng.integers(0, 256, (16, 24, 3)).astype(np.uint8).tobytes()
    samples = (rng.integers(-32768, 32767, 50)).astype(np.int16)
    cases = [
        (decode_jpeg, make_jpeg(24, 16, px24)),
        (decode_jpeg, make_jpeg(24, 16, px24, restart_interval=2)),
        (decode_jpeg, make_jpeg_progressive(24, 16, px24)),
        (decode_jpeg, make_jpeg12(24, 16, rng.integers(0, 4096, (16, 24)))),
        (decode_jpeg, make_jpeg(32, 8, bytes(rng.integers(0, 256, 32 * 8 * 3).astype(np.uint8)), subsampling="4:1:1")),
        (decode_png, make_png(6, 5, bytes(rng.integers(0, 256, 6 * 5 * 3).astype(np.uint8)))),
        (decode_png, make_png_palette(6, 5, bytes(rng.integers(0, 256, 30).astype(np.uint8)), _png8_palette())),
        (decode_gif, make_gif(6, 5, bytes(rng.integers(0, 256, 30).astype(np.uint8)))),
        (decode_bmp, make_bmp(6, 5, bytes(rng.integers(0, 256, 6 * 5 * 3).astype(np.uint8)))),
        (decode_wav, make_wav(8000, samples)),
        (parse_exif, insert_exif(
            make_jpeg(8, 8, bytes([128]) * 192), make_exif_app1(**exif_params(3))
        )),
        (parse_mp4_meta, make_mp4_meta(**mp4_meta_params(7))),
        (parse_mp4_meta, make_mp4_meta(**mp4_meta_params(10))),  # v1 + largesize
        (parse_flac_meta, make_flac_meta(**flac_meta_params(4))),
        (parse_mp3_meta, make_mp3_meta(**mp3_meta_params(5))),
    ]
    r = random.Random(99)
    for decode, payload in cases:
        n_refused = 0
        for _ in range(150):
            i = r.randrange(len(payload))
            b = r.randrange(256)
            mutated = payload[:i] + bytes([b]) + payload[i + 1 :]
            try:
                decode(mutated)
            except ValueError:
                n_refused += 1  # the contract: refuse, don't crash
        # magic-byte mutations alone guarantee refusals; if the
        # decoders start swallowing everything the contract test has
        # stopped testing anything
        assert n_refused > 0, f"{decode.__name__}: no mutation was refused"


def test_tar_roundtrip_matches_stdlib_and_refuses_corruption():
    """The USTAR writer/parser pair against EXTERNAL ground truth: the
    stdlib tarfile reader must extract identical (name, size, text)
    members from our writer's output (so a shared writer/parser format
    bug cannot hide in the round-trip), directory members are skipped,
    and malformed structure refuses (missing terminator, bad magic,
    checksum mismatch, truncated member data, non-octal size)."""
    import io
    import tarfile

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.archive import (
        make_tar_shard,
        parse_tar,
        tar_member_name,
    )

    rows = [(i, f"doc {i} body with words " * (i % 7 + 1)) for i in range(25)]
    shard = make_tar_shard(rows)
    tf = tarfile.open(fileobj=io.BytesIO(shard))
    std = [
        (m.name, m.size, tf.extractfile(m).read().decode())
        for m in tf.getmembers()
        if m.isfile()
    ]
    ours = [(n, s, t) for n, s, _, t in parse_tar(shard)]
    assert std == ours
    assert len(ours) == 25 and ours[0][0] == tar_member_name(0)
    assert sum(1 for m in tf.getmembers() if m.isdir()) == 3  # docs 0/10/20
    with pytest.raises(ValueError, match="terminator"):
        parse_tar(shard[:-1024])
    with pytest.raises(ValueError, match="ustar magic"):
        parse_tar(b"X" * 512 + shard)
    with pytest.raises(ValueError, match="checksum mismatch"):
        parse_tar(shard[:148] + b"0000000\x00" + shard[156:])
    # cut INSIDE the first file member's data (dir header at 0, file
    # header at 512, data from 1024): the size field promises more
    # bytes than remain
    with pytest.raises(ValueError, match="truncated tar member"):
        parse_tar(shard[:1034])
    with pytest.raises(ValueError, match="non-octal"):
        parse_tar(shard[:124] + b"zzzzzzzzzzz\x00" + shard[136:])
    # single-byte corruption sweep: decode-or-ValueError
    import random

    r = random.Random(11)
    for _ in range(300):
        i = r.randrange(len(shard))
        m = shard[:i] + bytes([r.randrange(256)]) + shard[i + 1 :]
        try:
            parse_tar(m)
        except ValueError:
            pass


def test_warc_fuzz_single_byte_corruption_contract():
    """Archive-ingestion contract: corrupt WARC shards (plain and
    member-per-record gzip) either parse or raise ValueError
    (UnicodeDecodeError is a ValueError subclass) — a Common Crawl
    shard with flipped bits must fail the record, not crash the
    kernel."""
    import random

    from machine_learning_algorithm_sparkml__spark.operators.archive import (
        iter_gzip_members,
        make_warc_gz_shard,
        make_warc_shard,
        parse_warc,
    )

    rows = [(i, f"doc {i} body text here with words") for i in range(6)]
    shard = make_warc_shard(rows, 0)
    gz = make_warc_gz_shard(rows, 0)
    r = random.Random(3)
    for payload, run in ((shard, parse_warc), (gz, None)):
        for _ in range(200):
            m = bytearray(payload)
            for _ in range(r.choice([1, 1, 2, 4])):
                m[r.randrange(len(m))] = r.randrange(256)
            try:
                if run is not None:
                    run(bytes(m))
                else:
                    for member in iter_gzip_members(bytes(m)):
                        parse_warc(member)
            except ValueError:
                pass


def test_decompression_bomb_streams_refuse_before_allocating():
    """ADVICE r15: dimension caps alone are not bomb protection — a
    PNG with a VALID small IHDR whose IDAT inflates to gigabytes, or a
    GIF whose LZW stream decodes far past w*h, must refuse AT the
    declared-size bound (streaming-capped inflate / capped LZW
    output), never build the full buffer first."""
    import struct
    import zlib

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
        _png_chunk,
        decode_gif,
        decode_png,
        make_gif,
        make_png,
    )

    # PNG: legitimate 2x2 header, IDAT that inflates to ~64 MB
    sig = bytes.fromhex("89504e470d0a1a0a")
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    bomb_idat = _png_chunk(b"IDAT", zlib.compress(b"\x00" * (64 << 20), 9))
    bomb = sig + ihdr + bomb_idat + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflates past"):
        decode_png(bomb)

    # PNG: corrupt DEFLATE stream is a ValueError, not a zlib.error
    # (the decode-or-ValueError contract, ADVICE r15 #2)
    bad_idat = _png_chunk(b"IDAT", b"\x99not-a-deflate-stream")
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        decode_png(sig + ihdr + bad_idat + _png_chunk(b"IEND", b""))

    # GIF: valid 4x4 image descriptor, LZW stream for 1 MB of indices
    good = make_gif(4, 4, bytes(16))
    lzw_bomb = _lzw_compress(b"\x07" * (1 << 20), 8)
    blocks = bytearray([8])
    for i in range(0, len(lzw_bomb), 255):
        chunk = lzw_bomb[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    # splice: header + GCT + comment + image descriptor from the good
    # file, then the bomb data stream (0x2c bytes occur inside the
    # grayscale palette, so index structurally: 13-byte header+screen,
    # 768-byte GCT, 15-byte comment extension)
    desc_at = 13 + 768 + 15
    assert good[desc_at] == 0x2C
    bomb_gif = good[: desc_at + 10] + bytes(blocks) + b"\x3b"
    with pytest.raises(ValueError, match="inflates past"):
        decode_gif(bomb_gif)

    # the capped LZW helper itself: exact-size output still round-trips
    assert _lzw_decompress(_lzw_compress(bytes(16), 8), 8, max_output=16) == bytes(16)

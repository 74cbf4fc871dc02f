"""Scale-engineering features: salted joins/aggregates equal their
plain counterparts; partitioned writes prune partitions; bucketed
tables join without an exchange; MLlib text/LSH pipelines run."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators.layout import (
    write_bucketed,
    write_partitioned,
)
from machine_learning_algorithm_sparkml__spark.operators.skew import (
    salted_aggregate_count,
    salted_join,
)
from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
from machine_learning_algorithm_sparkml__spark.sources import load_table, load_tables


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    small = customer.select(F.col("c_custkey").alias("o_custkey"), "c_name")
    plain = orders.join(small, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, small, "o_custkey").select("o_orderkey", "c_name")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_aggregate_equals_plain_count(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    plain = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r.o_orderpriority: r.n_rows
        for r in salted_aggregate_count(orders, "o_orderpriority").collect()
    }
    assert plain == salted


def test_partition_pruning(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="part_") + "/orders_by_status"
    write_partitioned(orders, path, ["o_orderstatus"])
    scan = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = formatted_plan(scan)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    assert scan.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_skips_exchange(spark, sf_dir):
    import shutil

    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                   "t_orders_b", "o_custkey", num_buckets=8)
    write_bucketed(customer.select(F.col("c_custkey").cast("bigint").alias("o_custkey"), "c_name"),
                   "t_customer_b", "o_custkey", num_buckets=8)
    a = spark.table("t_orders_b")
    b = spark.table("t_customer_b")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_custkey")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_mllib_text_feature_pipeline(spark, sf_dir):
    from machine_learning_algorithm_sparkml__spark.ml.text_features import (
        count_vectorizer_pipeline,
        text_feature_pipeline,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    model = text_feature_pipeline(num_features=1 << 10).fit(docs)
    out = model.transform(docs)
    assert dict(out.dtypes)["tfidf"] == "vector"
    assert out.count() == 200
    cv = count_vectorizer_pipeline(vocab_size=500).fit(docs)
    assert cv.transform(docs).filter(F.col("counts").isNull()).count() == 0


def test_mllib_minhash_agrees_with_custom_on_strong_pairs(spark, sf_dir):
    from machine_learning_algorithm_sparkml__spark.ml.text_features import (
        minhash_lsh_mllib_pairs,
    )
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    if not truth:
        import pytest

        pytest.skip("no >=0.8 Jaccard pairs at this sf")
    found = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_mllib_pairs(
            docs, "doc_id", "text", jaccard_distance_threshold=0.4
        ).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"mllib minhash recall {recall:.2f}"


def test_wired_partitioned_scan_key_prunes(spark, sf_dir):
    """The driver-facing sink_partitioned_scan key must actually prune:
    its scan lists only the o_orderpriority=1-URGENT directory."""
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_sink_partitioned_scan,
    )

    out = q_sink_partitioned_scan(spark, sf_dir)
    plan = formatted_plan(out)
    assert "PartitionFilters" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters")[1][:200]


def test_wired_salted_join_key_spreads_salt(spark, sf_dir):
    """join_skew_salted joins on (key, salt): the physical join keys
    include the salt column, i.e. the hot key's rows hash to 16
    different partitions instead of one."""
    from machine_learning_algorithm_sparkml__spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("partkey"))
    pt = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("partkey"))
    plan = formatted_plan(salted_join(li, pt, "partkey", salt_buckets=16))
    assert "_salt" in plan


def test_zorder_write_clusters_2d_box_into_few_files(spark, sf_dir):
    """The physical claim behind layout_zorder: after the Z-order
    rewrite, a small 2-D box (a compact tile of the Morton curve)
    lands in a small fraction of the 8 output files — single-column
    sorting cannot do this for BOTH dimensions. The box (custkey<64,
    orderkey<512) covers curve values < 2^18 = the lowest tile, so
    its rows are a contiguous curve range ~ 1 file."""
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.operators.layout import write_zordered
    from machine_learning_algorithm_sparkml__spark.sources import (
        load_table,
        scratch_sink_path,
    )

    from machine_learning_algorithm_sparkml__spark.operators.layout import zorder_value

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    path = scratch_sink_path(sf_dir, "orders_zordered_test")
    write_zordered(orders, path, "o_custkey", "o_orderkey", num_files=8)
    back = spark.read.parquet(path)
    # THE layout property: files tile the curve — per-file z ranges
    # are pairwise DISJOINT, so any z-contiguous box reads exactly
    # ceil(box_fraction * files) + boundary files, never all of them
    spans = (
        back.withColumn("z", zorder_value(F.col("o_custkey"), F.col("o_orderkey")))
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    )
    assert len(spans) >= 4, spans
    ordered = sorted(spans, key=lambda r: r.lo)
    for a, b in zip(ordered, ordered[1:]):
        assert a.hi < b.lo, (a, b)
    # and the consequence for a 2-D box (~15% of rows at sf0.001):
    # a contiguous low-z tile -> a minority of files, not all 8
    box = back.filter((F.col("o_custkey") < 64) & (F.col("o_orderkey") < 512))
    assert box.count() > 0, "box must be non-empty for the test to mean anything"
    n_files_box = box.select(F.input_file_name()).distinct().count()
    assert n_files_box <= len(spans) // 2, (n_files_box, len(spans))


def test_zorder_value_interleaves_bits(spark):
    """Hand-computed Morton pins: (x=0b11, y=0b01) -> 0b0111 = 7;
    (x=1, y=1) -> 3; (x=2, y=0) -> 0b100 = 4 (x rides the EVEN bit
    positions); masking keeps only the low 16 bits of each input."""
    from pyspark.sql import functions as F

    from machine_learning_algorithm_sparkml__spark.operators.layout import zorder_value

    df = spark.createDataFrame(
        [(3, 1), (1, 1), (2, 0), (65536 + 3, 65536 * 4 + 1)], "x long, y long"
    )
    got = [r.z for r in df.select(zorder_value(F.col("x"), F.col("y")).alias("z")).collect()]
    assert got == [7, 3, 4, 7], got


def test_mllib_minhash_pair_set_equality_invariant(spark, sf_dir):
    """The `dedup_minhash_mllib` key's standing witness (VERDICT r8
    #6): MLlib MinHashLSH and the hand-rolled banded MinHash emit the
    SAME pair set at threshold 0.5, pinned per-run via the key's
    invariant columns."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_dedup_minhash_mllib,
    )

    rows = q_dedup_minhash_mllib(spark, sf_dir).collect()
    assert rows, "planted near-dups must produce pairs"
    assert all(r.pair_sets_equal for r in rows)
    assert rows[0].n_only_mllib == 0
    assert rows[0].n_only_handrolled == 0


def test_compaction_hits_target_file_count_balanced_and_lossless(spark, sf_dir):
    """compact_small_files physical claims: the fragmented fixture
    really has 64 files; the compacted output has exactly
    ceil(total_bytes / target) files; round-robin repartition makes
    them size-balanced (no file more than 3x another when multiple);
    and not a row is lost or changed."""
    import math
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_layout_compaction,
    )

    compacted = q_layout_compaction(spark, sf_dir)

    def parquet_files(path):
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]

    frag = parquet_files(scratch_sink_path(sf_dir, "orders_fragmented"))
    out = parquet_files(scratch_sink_path(sf_dir, "orders_compacted"))
    assert len(frag) == 64
    total = sum(os.path.getsize(f) for f in frag)
    assert len(out) == max(1, math.ceil(total / (256 * 1024)))
    assert len(out) < len(frag)
    if len(out) > 1:
        sizes = sorted(os.path.getsize(f) for f in out)
        assert sizes[-1] < 3 * sizes[0], sizes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    assert compacted.count() == orders.count()
    assert compacted.exceptAll(orders).count() == 0


def test_python_datasource_partition_parallel_scan(spark, sf_dir):
    """Python Data Source contract: the scan materializes as exactly
    the partitions the source planned (8 tasks, each really executed
    — 8 distinct spark_partition_ids), options size the feed, and the
    per-partition id ranges are the planner's split (no row crosses
    its partition)."""
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_python_datasource,
    )

    df = q_scan_python_datasource(spark, sf_dir)
    assert df.rdd.getNumPartitions() == 8
    pids = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert pids == 8
    bad = df.filter((F.col("id") < F.col("part") * 2500) | (F.col("id") >= (F.col("part") + 1) * 2500))
    assert bad.count() == 0

    from machine_learning_algorithm_sparkml__spark.sources.pyds import register

    register(spark)
    small = (
        spark.read.format("synthlog")
        .option("partitions", "3")
        .option("rowsPerPartition", "10")
        .load()
    )
    assert small.count() == 30
    assert small.rdd.getNumPartitions() == 3


def test_python_datasource_filter_pushdown_prunes_partitions(spark, sf_dir):
    """pushFilters contract: the id-range predicate reaches the
    source before split planning — the [5000, 10000) filter plans
    exactly the 2 of 8 intersecting partitions (not 8 tasks that
    each discard rows), tasks generate only in-bound ids, an empty
    range degenerates to one no-op task, and pruning never changes
    the answer (equal to the unpruned scan filtered Spark-side)."""
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_python_datasource_pushdown,
    )

    f = q_scan_python_datasource_pushdown(spark, sf_dir)
    assert f.rdd.getNumPartitions() == 2
    assert sorted(r.part for r in f.select("part").distinct().collect()) == [2, 3]
    lo, hi = f.agg(F.min("id"), F.max("id")).collect()[0]
    assert (lo, hi) == (5000, 9999)

    from machine_learning_algorithm_sparkml__spark.sources.pyds import (
        _CATEGORIES,
        _MOD,
        _MULT,
        register,
    )

    expected = {
        (i, i // 2500, ((i * _MULT) % _MOD) / 1000.0, _CATEGORIES[i % 4])
        for i in range(5000, 10000)
    }
    assert {tuple(r) for r in f.collect()} == expected  # pruning loses nothing

    register(spark)
    base = (
        spark.read.format("synthlog")
        .option("partitions", "8")
        .option("rowsPerPartition", "2500")
        .load()
    )
    empty = base.filter(F.col("id") < 0)
    assert empty.count() == 0
    assert empty.rdd.getNumPartitions() == 1  # degenerate no-op split


def test_python_sink_manifest_atomicity_and_abort(spark, sf_dir):
    """Two-phase-commit claims of the custom sink: the manifest names
    exactly the committed files with counts summing to the dataset; a
    planted .staged orphan (a crashed task's leftover) is invisible to
    a manifest-trusting reader; abort() removes staged files; and the
    round-trip is value-exact including doubles."""
    import json
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.sources.pyds import (
        _ManifestJsonWriter,
        _TaskFile,
    )
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_sink_python_datasource,
    )

    back = q_sink_python_datasource(spark, sf_dir)
    dst = scratch_sink_path(sf_dir, "orders_pyds_sink")
    man = json.load(open(os.path.join(dst, "_MANIFEST")))
    assert man["n_rows"] == sum(e["count"] for e in man["files"])
    assert len(man["files"]) == 4  # one committed file per write task

    # a crashed task's staged orphan must be invisible to readers
    orphan = os.path.join(dst, "part-deadbeef.jsonl.staged")
    with open(orphan, "w") as f:
        f.write('{"o_orderkey": -1, "o_orderstatus": "X", "o_totalprice": 0.0}\n')
    files = [os.path.join(dst, e["file"]) for e in man["files"]]
    trusted = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(files)
    assert trusted.filter(F.col("o_orderkey") == -1).count() == 0

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0  # doubles bit-equal

    # abort() removes staged files
    w = _ManifestJsonWriter(dst, ["a"])
    w.abort([_TaskFile(orphan, 1)])
    assert not os.path.exists(orphan)


def test_clustered_compaction_disjoint_ranges_and_prunable(spark, sf_dir):
    """compact_small_files_clustered physical claims: output file
    count matches the listing-sized formula; per-file o_orderkey
    [min, max] ranges are pairwise DISJOINT (the clustering statement
    — round-robin files each span the full range); a 10%-of-keyspace
    range predicate's candidate file set (files whose range
    intersects it) is a strict minority of files; and not a row is
    lost or changed."""
    import math
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_layout_compaction_clustered,
    )

    compacted = q_layout_compaction_clustered(spark, sf_dir)

    def parquet_files(path):
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]

    frag = parquet_files(scratch_sink_path(sf_dir, "orders_fragmented_cl"))
    out = parquet_files(scratch_sink_path(sf_dir, "orders_compacted_cl"))
    total = sum(os.path.getsize(f) for f in frag)
    assert len(out) == max(1, math.ceil(total / (256 * 1024)))

    ranges = []
    for f in out:
        row = (
            spark.read.parquet(f)
            .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
            .collect()[0]
        )
        ranges.append((row.lo, row.hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next, ranges  # disjoint: min/max stats prune

    if len(out) > 2:
        lo_all = ranges[0][0]
        hi_all = ranges[-1][1]
        q_lo = lo_all
        q_hi = lo_all + (hi_all - lo_all) // 10
        candidates = [r for r in ranges if not (r[1] < q_lo or r[0] > q_hi)]
        assert len(candidates) < len(out) / 2, (len(candidates), len(out))

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    assert compacted.count() == orders.count()
    assert compacted.exceptAll(orders).count() == 0


def test_dynamic_partition_overwrite_touches_only_incoming_partitions(spark, sf_dir):
    """The write-semantic distinction stated physically: after the
    key's dynamic-mode overwrite of just 1-URGENT, every priority
    directory still exists with its full row count (others untouched,
    target replaced); a STATIC overwrite of the same single-partition
    frame wipes the table down to that one directory."""
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_sink_dynamic_partition_overwrite,
    )

    out = q_sink_dynamic_partition_overwrite(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    per_prio = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    path = scratch_sink_path(sf_dir, "orders_dyn_overwrite")
    dirs = {d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("o_orderpriority=")}
    assert dirs == set(per_prio)  # dynamic overwrite kept every partition
    got = {
        r.o_orderpriority: r.n
        for r in out.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    assert got == per_prio  # and all rows

    # contrast: static mode wipes the table root down to the incoming partition
    static_path = scratch_sink_path(sf_dir, "orders_static_overwrite")
    sel = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    sel.write.mode("overwrite").partitionBy("o_orderpriority").parquet(static_path)
    sel.filter(F.col("o_orderpriority") == "1-URGENT").write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(static_path)
    static_dirs = [d for d in os.listdir(static_path) if d.startswith("o_orderpriority=")]
    assert static_dirs == ["o_orderpriority=1-URGENT"]


def test_observe_metrics_match_direct_aggregates(spark, sf_dir):
    """Observation metrics are exact aggregates captured during the
    job's own pass — they must equal an independent direct
    computation (including the filter's selectivity split)."""
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_observe_metrics,
    )

    row = q_observe_metrics(spark, sf_dir).first()
    orders = load_table(spark, sf_dir, "orders")
    f_side = orders.filter(F.col("o_orderstatus") == "F")
    assert row.n_in == orders.count()
    assert row.n_out == f_side.count()
    assert 0 < row.n_out < row.n_in
    assert row.sum_out == round(
        f_side.agg(F.sum("o_totalprice")).first()[0], 2
    )


def test_variant_extract_nested_missing_and_typed(spark):
    """VARIANT semantics: nested paths resolve, a missing path is
    NULL (not an error), and typed extraction casts — the
    schema-flexibility contract that makes variant the right landing
    type for heterogeneous JSON."""
    df = spark.createDataFrame(
        [
            (1, '{"a": 1, "meta": {"s": "x"}}'),
            (2, '{"a": "2"}'),
            (3, '{"b": true}'),
        ],
        "id long, payload string",
    )
    out = {
        r.id: (r.a, r.s, r.b)
        for r in df.select(
            "id",
            F.expr("variant_get(parse_json(payload), '$.a', 'long')").alias("a"),
            F.expr("variant_get(parse_json(payload), '$.meta.s', 'string')").alias("s"),
            F.expr("variant_get(parse_json(payload), '$.b', 'boolean')").alias("b"),
        ).collect()
    }
    assert out[1] == (1, "x", None)
    assert out[2] == (2, None, None)  # "2" coerced to long
    assert out[3] == (None, None, True)


def test_scan_jsonl_gzip_shards_and_roundtrip(spark, sf_dir):
    """The gzip JSONL round-trip must actually shard (gzip is not
    splittable — parallelism is per-FILE, so a single .gz would
    serialize the scan) and must be content-lossless."""
    import glob
    import os

    from machine_learning_algorithm_sparkml__spark.sources import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_jsonl_gzip,
    )

    back = q_scan_jsonl_gzip(spark, sf_dir)
    path = scratch_sink_path(sf_dir, "documents_jsonl_gz")
    shards = glob.glob(os.path.join(path, "part-*.json.gz"))
    assert len(shards) == 8, "8-way repartition must yield 8 .gz shards"
    src = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # gzip is unsplittable, so a shard can never SPLIT into more than
    # one partition; whether 8 tiny shards coalesce below 8 depends on
    # spark.sql.files bin-packing (maxPartitionBytes/openCostInBytes),
    # so pin only the unsplittability bound — the 8-shards-on-disk
    # check above is what proves the write-side parallelism
    assert 1 <= back.rdd.getNumPartitions() <= 8


def test_parse_warc_framing_skips_and_refusals():
    """The record walk frames by Content-Length (never by scanning for
    separators inside payloads — a payload containing CRLFCRLF must
    not break the walk), skips non-response records, and raises
    ValueError on every malformed-framing case."""
    import hashlib

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.archive import (
        make_warc_shard,
        parse_warc,
        warc_url,
    )

    # a text containing the record separator sequence itself
    tricky = "before\r\n\r\nafter WARC/1.0 fake"
    rows = [(5, tricky), (10, "plain"), (21, "")]
    shard = make_warc_shard(rows, 0)
    out = parse_warc(shard)
    assert [(u, t) for u, _, _, t in out] == [(warc_url(d), t) for d, t in rows]
    assert all(
        dig == hashlib.sha256(t.encode()).hexdigest() for _, _, dig, t in out
    )
    # doc 10 also planted a metadata record and the shard heads with
    # warcinfo: neither may surface
    assert len(out) == 3

    with pytest.raises(ValueError, match="truncated"):
        parse_warc(shard[: len(shard) // 2])
    with pytest.raises(ValueError, match="separator"):
        parse_warc(shard[:-1] + b"X")
    with pytest.raises(ValueError, match="desync"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n")
    bad = shard.replace(b"Content-Length", b"Content-Lengthx", 1)
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(bad)


def test_warc_gz_member_per_record_random_access():
    """The .warc.gz contract: ONE record per gzip member, so any
    member is independently decompressible (the offset-index
    random-access property), member boundaries survive concatenation,
    and construction is byte-deterministic (mtime=0). Corrupt and
    truncated members raise ValueError."""
    import gzip

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.archive import (
        _split_records,
        iter_gzip_members,
        iter_response_records,
        make_warc_gz_shard,
        make_warc_shard,
    )

    rows = [(1, "one"), (10, "ten"), (23, "twenty three")]
    gz = make_warc_gz_shard(rows, 4)
    assert gz == make_warc_gz_shard(rows, 4)  # byte-deterministic
    members = list(iter_gzip_members(gz))
    plain_records = list(_split_records(make_warc_shard(rows, 4)))
    assert members == plain_records  # one member == one record
    # each member parses standalone — the random-access property
    for m in members:
        recs = list(iter_response_records(m))
        assert len(recs) <= 1
    # re-compressing a single member and parsing it alone works too
    alone = gzip.compress(members[1], mtime=0)
    assert list(iter_gzip_members(alone)) == [members[1]]

    with pytest.raises(ValueError, match="truncated gzip member"):
        list(iter_gzip_members(gz[:-5]))
    with pytest.raises(ValueError, match="corrupt gzip member"):
        list(iter_gzip_members(b"\x1f\x8b\x08\x00junkjunk"))


def test_scan_warc_gzip_roundtrip(spark, sf_dir):
    """End-to-end .warc.gz: 8 shards, every document back exactly once
    with the same projection as the plain-WARC scan."""
    import glob
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_warc_gzip,
    )

    back = q_scan_warc_gzip(spark, sf_dir)
    path = scratch_sink_path(sf_dir, "documents_warc_gz")
    assert len(glob.glob(os.path.join(path, "shard-*.warc.gz"))) == 8
    src = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    rows = back.collect()
    assert len(rows) == len(src)
    assert all(r["text"] == src[int(r["url"].rsplit("/", 1)[1])] for r in rows)


def test_scan_warc_html_first_mile(spark, sf_dir):
    """Archive -> HTML-extract composition: WARC shards of real
    text/html pages come back with boilerplate stripped — every doc's
    main_text is 'Doc N & co <text>' (whitespace-collapsed), nav/
    footer/script content never leaks, and the mime survives the
    envelope."""
    import re

    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_warc_html,
    )

    rows = {r["url"]: r for r in q_scan_warc_html(spark, sf_dir).collect()}
    src = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(src)
    for url, r in rows.items():
        did = int(url.rsplit("/", 1)[1])
        assert r["title"] == f"Doc {did}"
        expected = re.sub(r"\s+", " ", f"Doc {did} & co {src[did] or ''}").strip()
        assert r["main_text"] == expected
        for boiler in ("Home | About", "corpus.example.com", "track(", "color: #333"):
            assert boiler not in r["main_text"]


def test_scan_warc_media_dispatches_by_mime(spark, sf_dir):
    """The mixed-content scan decodes image records through the REAL
    JPEG parser and passes text records through — one kernel, one pass
    over the archive; both branches verified against the fixture."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        fixture_values,
        jpeg_dims,
    )
    from machine_learning_algorithm_sparkml__spark.workload.scale import (
        q_scan_warc_media,
    )

    rows = {r["url"]: r for r in q_scan_warc_media(spark, sf_dir).collect()}
    src = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(src)
    for url, r in rows.items():
        did = int(url.rsplit("/", 1)[1])
        if did % 5 == 0:
            w, h = jpeg_dims(did)
            assert (r["mime"], r["width"], r["height"]) == ("image/jpeg", w, h)
            assert r["pixel_sum"] == 192 * sum(
                fixture_values("jpeg", did, (w // 8) * (h // 8))
            )
            assert r["text"] is None
        else:
            assert r["mime"].startswith("text/plain")
            assert r["text"] == src[did]
            assert r["width"] is None and r["pixel_sum"] is None


def test_scan_warc_shards_and_roundtrip(spark, sf_dir):
    """End-to-end: 8 shards on disk, every document comes back exactly
    once with its url/digest, and the scan parallelizes per shard
    (binaryFile never splits a file)."""
    import glob
    import hashlib
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.scale import q_scan_warc

    back = q_scan_warc(spark, sf_dir)
    path = scratch_sink_path(sf_dir, "documents_warc")
    assert len(glob.glob(os.path.join(path, "shard-*.warc"))) == 8
    src = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    rows = back.collect()
    assert len(rows) == len(src)
    for r in rows:
        did = int(r["url"].rsplit("/", 1)[1])
        assert r["text"] == src[did]
        assert r["payload_sha256"] == hashlib.sha256(src[did].encode()).hexdigest()
        assert r["mime"] == "text/plain; charset=utf-8"
    assert 1 <= back.rdd.getNumPartitions() <= 8

"""Physical-plan shape assertions: the scale-behavior contract.
Correctness tests prove the answers are right; these prove the plans
would still be the right plans at 1000x the data."""

import re

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.plans import audit

SF = "/root/testdata/sf0.001"
REF = "/root/reference/data"


def test_q01_scan_pruned_and_filter_pushed(spark):
    df = entry_mod.q01_pricing_summary(spark, SF)
    schemas = audit.read_schemas(df)
    assert len(schemas) == 1
    cols = schemas[0]
    # only the 5 needed columns are read, not all 11
    for c in ("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert c in cols
    assert "l_partkey" not in cols and "l_suppkey" not in cols
    # the shipdate range predicate reaches the parquet scan
    assert any("l_shipdate" in f for f in audit.pushed_filters(df))


def test_q05_small_scale_arm_broadcasts_everything(spark):
    # CBO arm 1: at this SF every bounding table is tiny on disk, so
    # ALL six joins broadcast — the whole join tree runs shuffle-free
    # (the only exchanges are the pre-agg partials / final agg)
    df = entry_mod.q05_nation_revenue(spark, SF)
    plan = audit.physical_plan(df)
    assert audit.num_broadcast_joins(df) == 6
    assert plan.count("ShuffledHashJoin") == 0
    assert audit.num_sortmerge_joins(df) == 0


def test_q05_large_scale_arm_shuffles_narrow_sides_only(spark, monkeypatch):
    # CBO arm 2 (the 100 TB shape, forced by a 0-byte broadcast bound):
    # constant-size dims (region, nation x2) still broadcast via their
    # unconditional hints; the unbounded customer/orders subjoins run
    # as SHUFFLED hash joins (bounded per-partition build), never
    # sort-merge and never broadcast
    monkeypatch.setattr(entry_mod, "_BROADCAST_BOUND_BYTES", 0)
    df = entry_mod.q05_nation_revenue(spark, SF)
    plan = audit.physical_plan(df)
    assert audit.num_broadcast_joins(df) == 4
    assert plan.count("ShuffledHashJoin") == 2
    assert audit.num_sortmerge_joins(df) == 0
    # every exchange carries a narrow pre-reduced relation: the
    # pre-aggregated (orderkey, rev) partials and the int-key dim
    # chain — lineitem's raw width never rides a shuffle
    for ex_cols in re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan):
        assert ex_cols.split("#")[0] in (
            "l_orderkey", "o_orderkey", "o_custkey", "c_custkey", "n_nationkey"
        ), ex_cols
    assert "l_extendedprice" not in plan.split("HashAggregate")[0]


def test_q06_all_filters_pushed(spark):
    df = entry_mod.q06_range_revenue(spark, SF)
    pushed = " ".join(audit.pushed_filters(df))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed


def test_zeek_scan_prunes_columns(spark):
    df = read_zeek(spark, f"{REF}/dns.log.gz", inet=False).select("proto")
    schemas = audit.read_schemas(df)
    assert schemas == ["proto:string"]


def test_zeek_filter_reaches_scan_stage(spark):
    # typed-cast columns can't push to the CSV reader, but the filter
    # must still evaluate inside the scan's codegen stage (no separate
    # shuffle or materialization before filtering)
    df = read_zeek(spark, f"{REF}/dns.log.gz", inet=False).filter(
        F.col("proto") == "udp"
    )
    assert audit.num_shuffles(df) == 0


@pytest.fixture
def generated_dns(tmp_path):
    """A small plain dns-shaped log, for plan checks that must run
    without the reference fixtures."""
    p = tmp_path / "dns.log"
    p.write_text(
        "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n"
        "#unset_field\t-\n#path\tdns\n"
        "#fields\tts\tuid\tid.orig_h\tproto\tquery\tanswers\tTTLs\n"
        "#types\ttime\tstring\taddr\tenum\tstring\tvector[string]"
        "\tvector[interval]\n"
        + "".join(
            f"1768540789.{i:06d}\tC{i}\t10.0.0.{i}\t{'udp' if i % 2 else 'tcp'}"
            f"\tq{i}.example\t1.2.3.4,5.6.7.8\t60.000000,30.000000\n"
            for i in range(20)
        )
    )
    return str(p)


def test_zeek_scan_prunes_columns_generated(spark, generated_dns):
    df = read_zeek(spark, generated_dns, inet=False).select("proto")
    assert audit.read_schemas(df) == ["proto:string"]


def test_zeek_filter_reaches_scan_stage_generated(spark, generated_dns):
    df = read_zeek(spark, generated_dns).filter(F.col("proto") == "udp")
    assert audit.num_shuffles(df) == 0
    assert df.count() == 10


def test_minhash_signature_plan_shape(spark):
    from zeek_duckdb_spark.operators import dedup as dd

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dd.minhash_signatures(d).select("doc_id", "minhash")
    # per-row fold: signature computation is a pure map — zero shuffles
    # (measured faster than the explode + 32-min-agg alternative both
    # cold and warm; see minhash_signatures docstring)
    assert audit.num_shuffles(sigs) == 0


def test_topk_uses_take_ordered(spark):
    # global sort+limit must plan as TakeOrderedAndProject (per-partition
    # top-k + driver merge), never a full sort
    df = entry_mod.q03_top_orders(spark, SF)
    assert "TakeOrderedAndProject" in audit.physical_plan(df)


def test_batch_topk_shuffles_candidates_only(spark):
    from zeek_duckdb_spark.operators.similarity import topk_neighbors_batch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    df = topk_neighbors_batch(emb, qs, k=5)
    # the corpus is consumed inside the mapInPandas scan stage; only the
    # per-batch candidates move — window merge + presentation sort are
    # the sole exchanges
    assert audit.num_shuffles(df) <= 2


def test_ivf_assign_is_zero_shuffle(spark):
    from zeek_duckdb_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = emb.orderBy(F.asc("vec_id")).limit(8)
    # centroids ride the numpy map's closure; per-row argmax is a
    # batch map — the assignment subplan must not exchange
    assert audit.num_shuffles(ivf_assign(emb, cent)) == 0


def test_repetition_features_is_pure_map(spark):
    from zeek_duckdb_spark.operators.textops import repetition_features

    d = spark.read.parquet(f"{SF}/documents.parquet")
    # sorted-neighbour + run-length folds: zero shuffles, no Python
    df = repetition_features(d)
    assert audit.num_shuffles(df) == 0
    plan = audit.physical_plan(df)
    assert "Python" not in plan  # stays JVM-side


def test_quantized_topk_broadcasts_query_side(spark):
    from zeek_duckdb_spark.operators.similarity import quantized_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)
    df = quantized_topk(emb, q, k=10)
    plan = audit.physical_plan(df)
    # corpus side never shuffles: broadcast the (tiny) query side and
    # reduce with TakeOrderedAndProject — the 100 TB shape
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert audit.num_sortmerge_joins(df) == 0


def test_sample_frames_single_python_stage(spark):
    from zeek_duckdb_spark.operators import multimodal as mm

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = mm.sample_frames(
        mm.attach_media(d, "text"), frame_bytes=64, fake=True
    )
    # the row-expanding decode is ONE mapInPandas stage over the scan —
    # no shuffle before or after
    assert audit.num_shuffles(out) == 0
    assert audit.physical_plan(out).count("MapInPandas") == 1


def test_pack_sequences_single_shard_bounded_exchange(spark):
    # the ONLY wide op is the per-shard running-sum window: one
    # exchange on the shard key, no global single-partition sort
    from zeek_duckdb_spark.operators.pipeline import pack_sequences

    df = spark.createDataFrame(
        [(i, 100 + i) for i in range(100)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, seq_len=512, n_shards=16)
    plan = audit.physical_plan(out)
    assert audit.num_shuffles(out) == 1
    assert "hashpartitioning(shard" in plan
    # NOT a global window: partition spec must be present
    assert "SinglePartition" not in plan


def test_duplicate_spans_shuffles_fingerprints_not_text(spark):
    # the count-distinct hot-set aggregate and the fp re-join shuffle
    # (fp, id, pos) rows only — the token arrays stay in the scan stage
    from zeek_duckdb_spark.operators.dedup import duplicate_spans

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = duplicate_spans(d, width=8, min_docs=2)
    plan = audit.physical_plan(out)
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__toks" not in ex and "text" not in ex
    # no collect_list anywhere: the hot-set is a count-distinct agg
    assert "collect_list" not in plan


def test_bucketed_landing_q03_zero_exchange(spark):
    """The engine's own co-location machinery on its headline join:
    lineitem and orders landed via sink.write_bucketed on the join key
    make q03's fact-fact join AND its groupBy (keyed on a superset of
    the bucket key) run with ZERO shuffle exchanges — the pay-the-
    shuffle-once-at-ingest layout that turns the per-query exchange
    into a bucket-local merge at 100 TB."""
    from zeek_duckdb_spark.sources.sink import write_bucketed

    for t in ("b_li_q03", "b_ord_q03"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    write_bucketed(li, "b_li_q03", "l_orderkey", 8, sort_col="l_orderkey")
    write_bucketed(o, "b_ord_q03", "o_orderkey", 8, sort_col="o_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable size-based broadcast so the fact-fact join really runs
    # as a merge join — the point is the absent exchange, not AQE
    # hiding it behind a broadcast at toy scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lb, ob = spark.table("b_li_q03"), spark.table("b_ord_q03")
        c = spark.read.parquet(f"{SF}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        q = (
            lb.join(ob, lb.l_orderkey == ob.o_orderkey)
            .join(F.broadcast(c), ob.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue")
            )
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10)
        )
        assert audit.num_shuffles(q) == 0, audit.physical_plan(q)
        assert audit.num_sortmerge_joins(q) >= 1
        got = [tuple(r) for r in q.collect()]
        want = [tuple(r) for r in entry_mod.q03_top_orders(spark, SF).collect()]
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("b_li_q03", "b_ord_q03"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_plan_report_summary(spark):
    from zeek_duckdb_spark.plans import audit

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = (
        li.filter(F.col("l_quantity") < 10)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy(F.desc("s"))
        .limit(5)
    )
    r = audit.plan_report(q)
    assert r["shuffles"] == 1 and r["scans"] == 1
    assert r["take_ordered"] and not r["python_exec"]
    assert any("l_quantity" in f for f in r["pushed_filters"])
    assert all(
        set(rs.split(",")) <= {"l_returnflag:string", "l_quantity:double"}
        for rs in [r["read_schemas"][0].replace("l_returnflag:string,", "l_returnflag:string,")]
    ) or "l_quantity" in r["read_schemas"][0]
    assert r["aqe"] is True
    # a pandas path IS flagged
    from zeek_duckdb_spark.operators.pq import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = [[[0.0] * 8] * 4] * 8
    assert audit.plan_report(pq_encode(emb, cb))["python_exec"]


def test_plan_report_counts_all_nonbroadcast_exchanges(spark):
    from zeek_duckdb_spark.plans import audit

    d = spark.range(100)
    assert audit.plan_report(d.repartition(4))["shuffles"] == 1  # round-robin
    assert audit.plan_report(d.agg(F.sum("id")))["shuffles"] == 1  # single-part
    # broadcast exchanges are NOT shuffles
    small = spark.range(5).withColumnRenamed("id", "k")
    j = d.join(F.broadcast(small), d.id == small.k)
    r = audit.plan_report(j)
    assert r["broadcast_joins"] == 1 and r["shuffles"] == 0


def test_balance_clusters_plan_no_joins_no_python(spark):
    """Topic rebalancing is a centroid-literal assignment + one K-row
    aggregate + a map-side filter: the corpus never rides a
    non-broadcast join, a window, or Python."""
    from zeek_duckdb_spark.operators.kmeans import kmeans_fit_quantized
    from zeek_duckdb_spark.operators.pipeline import balance_clusters
    from zeek_duckdb_spark.plans import audit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit_quantized(emb, k=4, iters=1)
    out = balance_clusters(emb, cents, target_rows_per_cell=50)
    plan = audit.physical_plan(out)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Python" not in plan
    assert "Window" not in plan


def test_verify_shape_sizes_file_corpora_without_a_footer(spark, tmp_path):
    """A file-backed corpus with no parquet footer estimate (CSV here)
    is sized by its on-disk bytes instead of defaulting to the
    broadcast shape."""
    from zeek_duckdb_spark.operators.dedup import _verify_shape_auto

    bcast = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(bcast)
    path = str(tmp_path / "docs.csv")
    spark.createDataFrame(
        [(i, f"document {i} " + "text " * 40) for i in range(200)],
        "doc_id long, text string",
    ).coalesce(1).write.csv(path)
    docs = spark.read.schema("doc_id long, text string").csv(path)
    try:
        # ~43 KB on disk: above 64k // 4, far below 1g // 4
        spark.conf.set(bcast, "64k")
        assert _verify_shape_auto(docs, "doc_id", "text") == "semi"
        spark.conf.set(bcast, "1g")
        assert _verify_shape_auto(docs, "doc_id", "text") == "broadcast"
    finally:
        spark.conf.set(bcast, saved)


def test_canonicalize_url_plan_pure_jvm_map(spark):
    from pyspark.sql import functions as F
    from zeek_duckdb_spark.operators.textops import canonicalize_url
    from zeek_duckdb_spark.plans import audit

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = d.select(canonicalize_url(F.col("text")).alias("u"))
    assert audit.num_shuffles(out) == 0
    assert "Python" not in audit.physical_plan(out)


def test_byte_confs_parse_like_spark(spark, tmp_path):
    """Byte-valued confs go through Spark's own parser, so unit-suffixed
    values steer the size-adaptive decisions instead of falling back;
    -1 (broadcast disabled) is handled before the parser."""
    from zeek_duckdb_spark.operators.dedup import _verify_shape_auto
    from zeek_duckdb_spark.plans.scanstats import estimated_scan_partitions
    from zeek_duckdb_spark.session import conf_bytes

    bcast = "spark.sql.autoBroadcastJoinThreshold"
    mpb = "spark.sql.files.maxPartitionBytes"
    saved = {k: spark.conf.get(k) for k in (bcast, mpb)}
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"document {i} " + "text " * 40) for i in range(200)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    try:
        for raw, want in [("10m", 10 << 20), ("32MB", 32 << 20),
                          ("1g", 1 << 30), ("-1", -1),
                          ("134217728b", 134217728), ("16777216", 16777216)]:
            spark.conf.set(bcast, raw)
            assert conf_bytes(spark, bcast) == want, raw
        # a 1 KiB threshold is far below the corpus text: semi-join shape
        spark.conf.set(bcast, "1k")
        assert _verify_shape_auto(docs, "doc_id", "text") == "semi"
        spark.conf.set(bcast, "1g")
        assert _verify_shape_auto(docs, "doc_id", "text") == "broadcast"
        spark.conf.set(bcast, "-1")
        assert _verify_shape_auto(docs, "doc_id", "text") == "semi"
        # a 1 KiB split size cuts the one file into many splits
        spark.conf.set(mpb, "1k")
        assert estimated_scan_partitions(docs) > 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

"""Tests for the scale-path operators: bucketed co-located joins,
salted skew joins, connected components, session auto-compaction,
Excel gating."""

import pytest
from pyspark.sql import functions as F

from parquet_editor_spark import io as peio
from parquet_editor_spark import plans as P
from parquet_editor_spark.operators import dedup as D
from parquet_editor_spark.operators import query as q


def test_bucketed_join_no_shuffle(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    peio.save_bucketed(li, "li_b", 4, ["l_orderkey"])
    peio.save_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_b", 4, ["l_orderkey"]
    )
    j = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
    plan = P.executed_plan(j)
    # co-located buckets: the sort-merge join reads both sides without
    # a hash exchange
    assert "Exchange hashpartitioning" not in plan, plan
    assert j.count() == li.count()  # FK join, every lineitem matches


def test_salted_join_equals_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = q.join_tables(li, orders, "l_orderkey").count()
    salted = q.salted_join(li, orders, "l_orderkey", n_salts=4).count()
    assert salted == plain


def test_salted_join_values_match(spark):
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    right = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, w double")
    got = sorted(
        (r["k"], r["v"], r["w"])
        for r in q.salted_join(left, right, "k", n_salts=3).collect()
    )
    assert got == [(1, "a", 10.0), (1, "b", 10.0), (2, "c", 20.0)]


def test_connected_components_clusters(spark):
    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # components: {0,1,2,3} (chain), {5,6}, singletons {4}, {7}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in D.connected_components(vertices, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_dup_clusters_keep_policy(documents):
    clusters = D.dup_clusters(documents, "doc_id", "text", 3, 0.7)
    total = clusters.count()
    keepers = clusters.filter(F.col("cluster_id") == F.col("doc_id")).count()
    assert total == documents.count()  # every doc gets an assignment

    # ground truth: union-find over the exact pair graph in Python
    pairs = [
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(documents, "doc_id", "text", 3, 0.7).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    paired_docs = {d for p in pairs for d in p}
    n_components = len({find(d) for d in paired_docs})
    # one keeper per cluster: singletons + one per multi-doc component
    assert keepers == total - len(paired_docs) + n_components


def test_session_auto_compaction(spark, sf_dir):
    from parquet_editor_spark.session import EditorSession

    sess = EditorSession(spark)
    sess.COMPACT_EVERY = 4
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.with_rid("t")
    for k in range(6):
        sess.set_cell("t", 0, "r_name", f"edit{k}")
    # after compaction the plan no longer carries the full when() chain
    plan = P.executed_plan(sess.get("t"))
    assert plan.count("CASE WHEN") <= sess.COMPACT_EVERY
    from parquet_editor_spark.operators import edit as E

    assert E.get_cell(sess.get("t"), 0, "r_name") == "edit5"
    # undo still works across the compaction boundary
    sess.undo("t")
    assert E.get_cell(sess.get("t"), 0, "r_name") == "edit4"
    sess.drop_table("t")


def test_approx_aggs_within_bounds(lineitem):
    exact = {
        r["l_returnflag"]: (r["nd"], r["med"])
        for r in lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.percentile(F.col("l_extendedprice"), F.lit(0.5)).alias("med"),
        )
        .collect()
    }
    approx = {
        r["l_returnflag"]: (r["approx_parts"], r["approx_median_price"])
        for r in lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        )
        .collect()
    }
    for flag, (nd, med) in exact.items():
        and_, amed = approx[flag]
        assert abs(and_ - nd) / nd < 0.05  # HLL default rsd ~2.3%
        assert abs(amed - med) / med < 0.05


def test_compact_files_reduces_count(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = str(tmp_path / "frag.parquet")
    li.repartition(16).write.parquet(p)
    before = len([f for f in __import__("os").listdir(p) if f.endswith(".parquet")])
    n_after = peio.compact_files(spark, p, target_files=2)
    assert before == 16 and n_after == 2
    assert spark.read.parquet(p).count() == li.count()


def test_excel_sink_writes_readable_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x long, y string")
    p = str(tmp_path / "out.xlsx")
    peio.save(df, p)
    back = peio.load(spark, p)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
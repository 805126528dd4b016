"""Benchmark harness — prints ONE JSON line the driver records.

Protocol mirrors BASELINE.md: warm cache, best of 3 timed runs per
query, session startup excluded. Queries cover the reference's
operation surface (scan/pivot/sinks, BASELINE.md rows) plus the
engine's headline analytics (Q1 agg, star join, top-k, dedup,
similarity, streaming-equivalent windowed agg).

Drift robustness (r4 verdict): a single-session best-of-3 is at the
mercy of whole-box drift between rounds (the r4 "regression" was 10-15%
box slowdown, not code).  The harness therefore runs the full suite in
N separate JVM sessions (subprocesses) and reports the per-query MIN
across sessions, plus a fixed ``calibration`` block — a no-op
``spark.range(100)`` write and an empty-relation ``count()`` — whose
wall-time lets cross-round ratios be drift-corrected without re-running
old code.  Calibration rows are NOT part of ``value``/``queries``.

Usage: python bench.py            # $SPARK_GRAFT_SF_DIR, default sf0.1
       SPARK_GRAFT_BENCH_SESSIONS=1 python bench.py   # quick single-shot
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = 3
# Shuffle width sized to the benchmark SF, not the core count: every
# agg here lands on ≤ a few thousand groups, so 32 reducers is pure
# task-launch overhead at sf0.1 (measured: 6-group pivot 0.28 s @32 →
# 0.21 s @4). A 100 TB run raises this (or lets AQE split), it never
# lowers it — the env override keeps the knob honest at other SFs.
# r16 re-sweep under the fixed cache layout ({4,8,16,32} interleaved
# min-of-5): 16 is the new optimum (window_running 0.31/0.20/0.18/0.30,
# pivot 0.19/0.14/0.13/0.14, join_star 0.20/0.16/0.15/0.15) — the
# keyed-window sort row gains the most and nothing regresses.
SHUFFLE = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "16"))


#: Cache generation counter — the r16 measurement-bug fix.  In Spark
#: 4.x classic, ``DataFrame.is_cached`` stays True after
#: ``spark.catalog.clearCache()`` (measured: storage empty, is_cached
#: True, and ``df.cache()`` guarded by it never re-registers), so the
#: old ``if not df.is_cached: df.cache()`` re-cache guard silently
#: never fired: from each query's clearCache on, the "memory-resident"
#: analytics rows re-ran their parquet scans inside the timed region —
#: the exact failure the guard's comment says it exists to prevent.
#: ``clear_caches`` bumps the generation; ``t`` re-caches any table
#: whose generation is stale.  See OPTIMIZATION_r16.md §1 for the
#: before/after evidence.
CACHE_EPOCH = {"n": 0}


def clear_caches(spark) -> None:
    """Drop bench caches (per-query isolation) AND advance the cache
    generation so the next ``t()`` call re-registers its table."""
    spark.catalog.clearCache()
    CACHE_EPOCH["n"] += 1


def cache_layout(spark, df, src_path):
    """Partition layout for the memory-resident analytics tables.

    The sf generators write each table as ONE parquet row group, and a
    row group is the scan's parallelism unit — so no matter the split
    confs every table materializes as a single non-empty partition
    (measured: lineitem 600k rows, splits=8, non-empty=1), and the
    cache inherited that layout.  Every downstream map side — the
    three sinks' encoders, text_quality's regex pass, the minhash
    numpy pass, partial aggregation — therefore ran on ONE core
    (guide §2.5: an unsplittable input is repartitioned right after
    the read).  Lay the cache out at the session's core count instead:
    ``defaultParallelism`` derives from ``$SPARK_GRAFT_CPUS``, so the
    driver's lower-core scaling runs get proportionally fewer
    partitions — never a local[32] constant.  Tiny dimension tables
    (< 512 KiB source) stay as read: they are broadcast-joined anyway
    and 32 near-empty tasks would cost more than they parallelize.
    At 100 TB the equivalent decision is made by the scan itself
    (thousands of row groups), so this stays a cache-layout rule, not
    an operator rewrite.

    Partition count: ``clamp(ceil(bytes / target), floor, cores)``
    with target 1 MiB compressed (~60k rows of these tables — enough
    per-task work to amortize the measured ~5 ms task overhead; env
    ``SPARK_GRAFT_CACHE_TARGET_BYTES`` overrides) and floor
    ``max(2, cores // 8)`` so small-but-CPU-dense tables (documents:
    0.6 MiB but regex-bound) still parallelize.  Interleaved min-of-5
    A/B at 32 cores (OPTIMIZATION_r16.md §2): as-read → this rule =
    sink_csv 0.90→0.23 s, sink_json 0.94→0.26, sink_parquet
    0.66→0.23, window_running 0.37→0.20, groupby_q1 0.21→0.12,
    text_quality 0.45→0.29; uniform ``cores`` partitions was measured
    WORSE than this sizing on every sub-second row (task overhead
    exceeds the extra parallelism at sf0.1), which is why the rule is
    size-derived with a core-count clamp rather than a core-count
    constant.  Sub-512-KiB sources stay as read (broadcast-side
    dimension tables).
    """
    try:
        nbytes = os.path.getsize(src_path)
    except OSError:
        return df.repartition(spark.sparkContext.defaultParallelism)
    if nbytes < 512 * 1024:
        return df
    # r17 (VERDICT r16 item 4): sub-MiB ARRAY-payload tables (the
    # vector class — embeddings) stay as read: their per-row work is
    # one BLAS-batched numpy pass, and the floor-4 layout measured
    # 8-9% WORSE than as-read (interleaved min-of-5 idle-box:
    # 0.324 s as-read vs 0.352 floor4 / 0.352 8-part / 0.344 2-part
    # on topk_cosine) — batching overhead without regex/codegen-class
    # per-row CPU to parallelize.  Scalar/string tables under the
    # same size (documents: regex-bound) keep the floor, where the
    # same A/B methodology measured the floor 1.6x FASTER (r16 §2).
    from pyspark.sql import types as _T

    if nbytes < 1024 * 1024 and any(
        isinstance(f.dataType, _T.ArrayType) for f in df.schema.fields
    ):
        return df
    cores = spark.sparkContext.defaultParallelism
    target = int(os.environ.get("SPARK_GRAFT_CACHE_TARGET_BYTES", str(1024 * 1024)))
    n = max(min(-(-nbytes // target), cores), min(max(2, cores // 8), cores))
    return df.repartition(int(n))


def noop_write(df) -> None:
    """The action that forces every column without a driver collect."""
    df.write.mode("overwrite").format("noop").save()


def bench_session(extra_conf=None):
    """The SparkSession every bench row is measured in."""
    from parquet_editor_spark.session import get_spark

    return get_spark(
        app_name="bench",
        cpus=CPUS,
        shuffle_partitions=SHUFFLE,
        # default minPartitionNum = defaultParallelism splits the 2 MB
        # events file into 32 × 64 KB scan tasks; 8 keeps multi-core
        # scans on the 10 MB lineitem file without the tiny-task storm.
        # v2 task-commit renames files once (task commit) instead of
        # twice (task + job) — pure win for the three sink rows and the
        # committer any object-store deployment would pick anyway.
        extra_conf={
            "spark.sql.files.minPartitionNum": "8",
            "spark.hadoop.mapreduce.fileoutputcommitter"
            ".algorithm.version": "2",
            **(extra_conf or {}),
        },
    )


def build_queries(spark, tmp, sf_dir=SF_DIR):
    """``{name: (frame, action)}``: a zero-argument frame builder and
    the action that executes it.  A timed run is ``action(frame())``,
    so each row builds its plan inside the timed region, and a tool can
    explain ``frame()`` without running it."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from parquet_editor_spark.io import load_parquet_nanos
    from parquet_editor_spark.operators import dedup as D
    from parquet_editor_spark.operators import query as q
    from parquet_editor_spark.operators import sim as S
    from parquet_editor_spark.functions import text as X

    # Analytics queries operate on memory-resident tables, mirroring
    # the reference exactly: its pivot/plot/edit numbers are pandas on
    # an ALREADY-LOADED DataFrame (BASELINE.md measures load separately
    # as the scan rows). scan_* below bypass this cache and measure the
    # real parquet read; the per-query warm-up run re-materializes the
    # cache after each clearCache.
    cached = {}
    cached_epoch: dict[str, int] = {}

    def t(name):
        if name not in cached:
            cached[name] = cache_layout(
                spark,
                load_parquet_nanos(spark, f"{sf_dir}/events.parquet")
                if name == "events"
                else spark.read.parquet(f"{sf_dir}/{name}.parquet"),
                f"{sf_dir}/{name}.parquet",
            )
        df = cached[name]
        # re-register after the per-query clear_caches — without this
        # the "memory-resident" analytics rows silently measure parquet
        # re-scans from the second query on; the warm-up run then
        # re-materializes as the protocol states.  Generation-tracked
        # (NOT ``df.is_cached``, which stays stale-True after
        # clearCache — see CACHE_EPOCH above).
        if cached_epoch.get(name) != CACHE_EPOCH["n"]:
            df.cache()
            cached_epoch[name] = CACHE_EPOCH["n"]
        return df

    def scan_small(df):
        # per-table scan sizing (r5 verdict item 2): the session-wide
        # minPartitionNum=8 is right for the 10 MB lineitem scan but
        # pure task-launch overhead on this small single file.  Size
        # by BYTES instead so the split count scales with the data:
        # ~4 MB per task gives 1 task at sf0.1 (2 MB) and ~5 at sf1
        # (20 MB) — a real deployment tunes files.* per table the same
        # way; both confs are restored either way.  Splits are planned
        # when the write executes, so the frame may be built before.
        prev_min = spark.conf.get("spark.sql.files.minPartitionNum", None)
        prev_max = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        spark.conf.unset("spark.sql.files.minPartitionNum")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        try:
            noop_write(df)
        finally:
            if prev_min is not None:
                spark.conf.set("spark.sql.files.minPartitionNum", prev_min)
            if prev_max is None:
                spark.conf.unset("spark.sql.files.maxPartitionBytes")
            else:
                spark.conf.set("spark.sql.files.maxPartitionBytes", prev_max)

    def groupby_q1():
        return (
            t("lineitem")
            .filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity"),
                F.sum("l_extendedprice"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.avg("l_discount"),
                F.count("*"),
            )
        )

    def join_star():
        orders, customer = t("orders"), t("customer")
        nation, region = t("nation"), t("region")
        return (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.sum("o_totalprice"), F.count("*"))
        )

    def window_running():
        from pyspark.sql import Window as W

        w = (
            W.partitionBy("l_suppkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        return t("lineitem").select(
            "l_suppkey", F.sum("l_quantity").over(w).alias("run")
        )

    def text_quality():
        # one tokens scan + one marker scan + one punct scan for the
        # whole projection: fingerprint rebuilds the normalized text
        # from the shared tokens array, stopword hits come out of the
        # kept lang-marker match array (r5 verdict item 8: 5 full-text
        # regex passes → 3, value-identical, pinned by pytest)
        docs = t("documents").withColumn("__toks", X.tokens("text"))
        toks = F.col("__toks")
        staged = X.with_lang_id(docs, "text", toks=toks, keep_matches="__lm")
        return staged.select(
            "doc_id",
            "lang_pred",
            X.quality_score("text", toks, F.col("__lm")).alias("q"),
            X.fingerprint("text", toks).alias("fp"),
        )

    def topk_cosine():
        emb = t("embeddings")
        return S.topk_cosine(emb, emb.filter(F.col("vec_id") < 10), k=5)

    def windowed_events():
        # memory-resident like the other analytics rows (scan_events
        # measures the read); noop sink like window_running — the 39k
        # window-struct rows otherwise bill driver-side row pickling,
        # not the engine (measured: collect 0.70s vs noop 0.27s)
        return t("events").groupBy(
            F.window(F.col("ts").cast("timestamp"), "5 minutes"),
            "event_type",
        ).agg(F.count("*"), F.sum("value"))

    collect = DataFrame.collect
    return {
        # full-table materialization (the reference's load_file path):
        # noop sink forces every column through the scan; reads the
        # files directly (not the memory cache)
        "scan_lineitem": (
            lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet"), noop_write
        ),
        "scan_events": (
            lambda: load_parquet_nanos(spark, f"{sf_dir}/events.parquet"), scan_small
        ),
        "pivot_mean": (
            lambda: q.pivot_table(
                t("lineitem"), "l_returnflag", "l_linestatus", "l_extendedprice",
                "mean", pivot_values=["F", "O"],
            ),
            collect,
        ),
        "groupby_q1": (groupby_q1, collect),
        "join_star": (join_star, collect),
        "topk_orders": (
            lambda: q.top_k(
                t("orders").select("o_orderkey", "o_totalprice"),
                by=["o_totalprice", "o_orderkey"], k=100, ascending=[False, True],
            ),
            collect,
        ),
        "window_running": (window_running, noop_write),
        "dedup_minhash": (
            lambda: D.minhash_lsh_pairs(
                t("documents"), "doc_id", "text", 3, 0.7, num_hashes=32, bands=8
            ),
            collect,
        ),
        "text_quality": (text_quality, noop_write),
        "topk_cosine": (topk_cosine, collect),
        "windowed_events": (windowed_events, noop_write),
        "sink_parquet": (
            lambda: t("lineitem"),
            lambda df: df.write.mode("overwrite").parquet(f"{tmp}/li.parquet"),
        ),
        "sink_csv": (
            lambda: t("lineitem"),
            lambda df: df.write.mode("overwrite").option("header", True).csv(f"{tmp}/li.csv"),
        ),
        "sink_json": (
            lambda: t("lineitem"),
            lambda df: df.write.mode("overwrite").json(f"{tmp}/li.json"),
        ),
    }


def timed_runs(frame, action, n: int) -> list[float]:
    """Seconds of ``n`` runs of ``action(frame())`` after one untimed
    warm-up: plan compilation, codegen, file-footer caches, and the
    re-cache of the memory-resident tables."""
    action(frame())
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        action(frame())
        samples.append(time.perf_counter() - t0)
    return samples


def run_session() -> dict:
    """One full bench pass in THIS process; returns the result dict."""
    spark = bench_session()
    tmp = tempfile.mkdtemp(prefix="pes_bench_")
    times: dict[str, float] = {}
    for name, (frame, action) in build_queries(spark, tmp).items():
        times[name] = round(min(timed_runs(frame, action, RUNS)), 4)
        # drop persisted intermediates (e.g. dedup shingle caches) so
        # repeated runs don't accumulate memory pressure
        clear_caches(spark)

    # Fixed calibration rows: pure per-job overhead (scheduler + noop
    # committer / empty scan), independent of any operator under test.
    # A future round divides its calibration by this round's to get the
    # box-drift factor before comparing query rows.
    #
    # r15 (the r14 bisect's finding, BENCH_NOTES.md): the denominator
    # is a ~30 ms measurement and the old best-of-3 swung ±62% across
    # idle-box runs, injecting its noise into every normalized row.
    # Calibration is therefore the MEDIAN of 7 runs (robust location,
    # not an extreme order statistic) — and the parent merges sessions
    # by median too, while query rows keep their min-of-sessions.
    calib = {
        "noop_write_range100": round(
            statistics.median(timed_runs(lambda: spark.range(100), noop_write, 7)), 4
        ),
        "empty_count": round(
            statistics.median(
                timed_runs(lambda: spark.range(0).filter("id < 0"), lambda df: df.count(), 7)
            ),
            4,
        ),
    }

    shutil.rmtree(tmp, ignore_errors=True)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_query_seconds_best_of_3_warm",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "calibration": calib,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    _annotate_normalized(out)
    return out


# BASELINE.md sf0.1 rows (pandas, same box, best-of-3 warm) for the
# queries the reference itself can run — used to emit the spark/pandas
# ratio and its fixed-overhead-adjusted sibling directly in the
# artifact instead of leaving the floor argument to prose.
BASELINE_SF01 = {
    "scan_lineitem": 0.66,
    "scan_events": 0.037,
    "pivot_mean": 0.074,
    "sink_parquet": 0.30,
    "sink_csv": 3.17,
    "sink_json": 1.06,
}


def _annotate_normalized(out: dict) -> None:
    """r5 verdict item 2: the calibration block exists so floor effects
    can be *computed*, not argued.  Adds

    - ``queries_normalized``: per-query time divided by the no-op-write
      calibration row — "how many fixed per-job overheads does this
      query cost"; a value near 1 IS the fixed-cost floor.
    - ``baseline_ratio`` (sf0.1 only): spark/pandas per BASELINE.md.
    - ``baseline_ratio_marginal`` (sf0.1 only): the same ratio after
      subtracting the measured fixed per-job overhead from the spark
      time — the marginal cost a second query on a warm cluster pays,
      and the number that scales with data volume.
    """
    noop = out["calibration"].get("noop_write_range100")
    if noop and noop > 0:
        out["queries_normalized"] = {
            q: round(t / noop, 2) for q, t in out["queries"].items()
        }
        out["value_normalized"] = round(out["value"] / noop, 2)
    if out.get("sf") == 0.1:
        ratios, marginal = {}, {}
        for q, base in BASELINE_SF01.items():
            t = out["queries"].get(q)
            if t is None or not base:
                continue
            ratios[q] = round(t / base, 3)
            if noop:
                marginal[q] = round(max(t - noop, 0.0) / base, 3)
        if ratios:
            out["baseline_ratio"] = ratios
        if marginal:
            out["baseline_ratio_marginal"] = marginal


def main() -> None:
    sessions = int(os.environ.get("SPARK_GRAFT_BENCH_SESSIONS", "3"))
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1" or sessions <= 1:
        out = run_session()
        if sessions <= 1 and os.environ.get("SPARK_GRAFT_BENCH_CHILD") != "1":
            out["sessions"] = 1
        print(json.dumps(out))
        return

    # Parent: run the suite in N fresh JVMs and keep the per-query MIN —
    # the estimator least sensitive to box drift and GC/compilation luck.
    import subprocess

    results = []
    env = dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1")
    for i in range(sessions):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        line = [
            ln for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")
        ]
        if proc.returncode != 0 or not line:
            sys.stderr.write(
                f"bench child {i} failed (rc={proc.returncode}):\n"
                + proc.stderr[-2000:]
            )
            continue
        results.append(json.loads(line[-1]))
    if not results:
        raise SystemExit("all bench sessions failed")

    merged = dict(results[0])
    # a child that partially diverged (different env) may miss keys —
    # merge over the intersection so one odd child can't KeyError the run
    qkeys = set(results[0]["queries"])
    ckeys = set(results[0]["calibration"])
    for r in results[1:]:
        qkeys &= set(r["queries"])
        ckeys &= set(r["calibration"])
    merged["queries"] = {
        q: min(r["queries"][q] for r in results) for q in sorted(qkeys)
    }
    # median across sessions for calibration (stability over
    # optimism — r15); min stays right for the query rows, where the
    # noise is one-sided
    merged["calibration"] = {
        c: round(
            statistics.median(r["calibration"][c] for r in results), 4
        )
        for c in sorted(ckeys)
    }
    merged["value"] = round(sum(merged["queries"].values()), 4)
    merged["sessions"] = len(results)
    merged["per_session_totals"] = [r["value"] for r in results]
    _annotate_normalized(merged)
    print(json.dumps(merged))


if __name__ == "__main__":
    main()

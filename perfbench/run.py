"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload editor --seed 1 --seconds 24 --trace 0

Run from the repository root.  The run

1. starts Spark in this process with ``local[k]`` (k = min(4, cores)),
   k shuffle partitions and every scratch directory under
   ``.perfbench_run/`` in the current directory;
2. generates the workload's inputs from ``--seed``;
3. prepares the program state ``SETUP_REPS`` times, then runs the
   workload's warm-up rounds, which execute every action class;
   ``setup_s`` is JVM start + input generation + the median
   preparation + the warm-up;
4. runs the timed phase: ``max(1, round(seconds / ROUND_S))`` rounds
   of the seeded script, one action at a time (a closed loop with one
   client);
5. checks every recorded output against a replay outside the timed
   phase;
6. prints a readable table on stderr and, as the last stdout line, a
   JSON object with ``correct``, ``attempted``, ``failed`` and
   ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
timed phase twice, untraced and then traced, and reports the
per-layer metrics of the traced pass plus the tracing overhead; its
spans go to ``.perfbench_run/<workload>-spans.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.trace import Tracer, self_times, subtree_counts  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
CLASSES = ("read", "edit", "write")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "edit_p50_ms": "ms",
    "write_p50_ms": "ms",
}

#: per-call medians (ms) of the spans with these names
CALL_MS = [
    "session.preview",
    "session.set_cell",
    "session.undo",
    "session.save",
    "session.pivot",
    "session.plot",
    "edit.delete_rows",
    "warehouse.merge_upsert",
    "warehouse.snapshot_write",
    "warehouse.snapshot_read",
    "warehouse.table_diff",
    "query.group_agg",
    "query.pivot_table",
    "query.top_k",
    "query.join_tables",
    "io.save",
    "io.load",
    "text.quality",
    "dedup.exact_dedup",
    "dedup.minhash_lsh_pairs",
    "sim.topk_cosine",
    "textprep.chunk_documents",
]
#: layers whose self time (ms per action) attributes each workload's wall;
#: "bench" is the script's own code between package calls
LAYERS = ["bench", "session", "edit", "warehouse", "query", "io", "text", "dedup", "sim", "textprep"]
WORKLOAD_COUNTS = [
    "warehouse.bytes_written_per_upserted_row",
    "warehouse.files_per_snapshot",
    "dedup.pairs_found",
    "sim.rows_scored",
]


def per_layer_units() -> dict[str, str]:
    units = {f"{n}_ms": "ms" for n in CALL_MS}
    units["edit.with_rid_s"] = "s"
    units["boundary.compaction_jobs"] = "count"
    for c in CLASSES:
        units[f"spark.jobs_per_{c}"] = "count"
    units["spark.tasks_per_job"] = "count"
    units["spark.persisted_rdds_end"] = "count"
    units["spark.storage_mb_end"] = "MB"
    units["warehouse.bytes_written_per_upserted_row"] = "B"
    units["warehouse.files_per_snapshot"] = "count"
    units["dedup.pairs_found"] = "count"
    units["sim.rows_scored"] = "count"
    for layer in LAYERS:
        units[f"{layer}.self_ms"] = "ms"
    units["trace.overhead_pct"] = "%"
    return units


def start_spark(work: str):
    """Spark with every setting the program would otherwise take from
    the environment pinned here."""
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    from parquet_editor_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    return spark, cpus


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Executes actions, one client, one at a time; records each
    action's class and latency and counts failures."""

    def __init__(self, wl, tracer: Tracer):
        self.wl = wl
        self.tr = tracer
        self.samples: dict[str, list[float]] = {c: [] for c in CLASSES}
        self.attempted = 0
        self.failed = 0

    def run(self, actions, record: bool) -> float:
        t0 = time.perf_counter()
        for cls, op, args in actions:
            self.attempted += 1
            with self.tr.span(op, cls):
                t = time.perf_counter()
                try:
                    self.wl.do(op, args)
                except Exception:
                    self.failed += 1
                    print(f"action {op} failed:\n{traceback.format_exc()}", file=sys.stderr)
                dt = time.perf_counter() - t
            if record and cls in self.samples:
                self.samples[cls].append(dt)
        return time.perf_counter() - t0


def layer_metrics(spans: list[dict], wl, sc, n_actions: int) -> dict[str, float]:
    out = {}
    selfs = self_times(spans)
    jobs = subtree_counts(spans, "jobs")
    tasks = subtree_counts(spans, "tasks")
    for name in CALL_MS:
        d = [sp["end"] - sp["start"] for sp in spans if sp["name"] == name]
        out[f"{name}_ms"] = 1000 * statistics.median(d) if d else 0.0
    rid = [sp["end"] - sp["start"] for sp in spans if sp["name"] == "edit.with_rid"]
    out["edit.with_rid_s"] = statistics.median(rid) if rid else 0.0
    # mutations are lazy; a job inside one is the session compacting
    out["boundary.compaction_jobs"] = float(
        sum(jobs[sp["id"]] for sp in spans if sp["name"] in ("session.set_cell", "edit.delete_rows"))
    )
    roots = [sp for sp in spans if sp["cls"] is not None]
    for c in CLASSES:
        rs = [jobs[sp["id"]] for sp in roots if sp["cls"] == c]
        out[f"spark.jobs_per_{c}"] = sum(rs) / len(rs) if rs else 0.0
    all_jobs = sum(jobs[sp["id"]] for sp in roots)
    out["spark.tasks_per_job"] = sum(tasks[sp["id"]] for sp in roots) / all_jobs if all_jobs else 0.0
    out["spark.persisted_rdds_end"] = float(sc._jsc.getPersistentRDDs().size())
    storage = sc._jsc.sc().getRDDStorageInfo()
    out["spark.storage_mb_end"] = sum(i.memSize() + i.diskSize() for i in storage) / 1e6
    out.update({k: 0.0 for k in WORKLOAD_COUNTS})
    out.update(wl.layer_counts())
    tot = dict.fromkeys(LAYERS, 0.0)
    for sp, s in zip(spans, selfs):
        layer = "bench" if sp["cls"] is not None else sp["name"].split(".")[0]
        tot[layer] += s
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = 1000 * tot[layer] / n_actions
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-tests use a tiny one)")
    ap.add_argument("--corrupt", action="store_true", help="damage one output before checking (self-test)")
    args = ap.parse_args(argv)
    import parquet_editor_spark  # noqa: F401  (fail before touching the disk)

    work = os.path.abspath(os.path.join(".perfbench_run", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark, cpus = start_spark(work)
    try:
        return _run(args, spark, cpus, work)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spark, cpus: int, work: str) -> int:
    sc = spark.sparkContext
    tracer = Tracer(sc, on=False)
    wl = WORKLOADS[args.workload](spark, work, args.seed % (1 << 32), args.scale, tracer)
    runner = Runner(wl, tracer)

    wl.generate()
    t_fixed = time.perf_counter() - T_START  # JVM start + input generation
    rounds = max(1, round(args.seconds / wl.ROUND_S))
    timed = [wl.script(r) for r in range(rounds)]
    passes = [timed] + ([[wl.script(rounds + r) for r in range(rounds)]] if args.trace else [])
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.prepare(rep)
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm = [runner.run(wl.script(r, warm=True), record=False) for r in range(wl.WARM_ROUNDS)]
    setup_s = t_fixed + statistics.median(reps) + time.perf_counter() - t

    ops = []
    for i, script in enumerate(passes):
        tracer.on = i == 1
        actions = [a for rnd in script for a in rnd]
        ops.append(len(actions) / runner.run(actions, record=i == 0))
    tracer.on = False
    layers = layer_metrics(tracer.spans, wl, sc, len(actions)) if args.trace else {}

    t_check = time.perf_counter()
    if args.corrupt:
        wl.corrupt()
    try:
        bad = wl.check()
    except Exception:
        bad = [f"check raised:\n{traceback.format_exc()}"]
    for b in bad:
        print(f"check failed: {b}", file=sys.stderr)
    failed = runner.failed + len(bad)
    t_check = time.perf_counter() - t_check

    p50 = {c: 1000 * statistics.median(s) if s else 0.0 for c, s in runner.samples.items()}
    if args.trace:
        layers["trace.overhead_pct"] = 100.0 * (ops[0] / ops[1] - 1.0)
        with open(os.path.join(os.path.dirname(work), f"{args.workload}-spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
        values, units = layers, per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "ops_per_s": ops[0],
            "read_p50_ms": p50["read"],
            "edit_p50_ms": p50["edit"],
            "write_p50_ms": p50["write"],
        }
        units = END_TO_END
    error_rate = failed / max(1, runner.attempted)

    print(f"\n{args.workload}  seed={args.seed}  local[{cpus}]  shuffle={cpus}  rounds={rounds}", file=sys.stderr)
    print(f"  phases: fixed {t_fixed:.1f} s, preparations {' '.join(f'{x:.1f}' for x in reps)} s, warm-up {' '.join(f'{x:.1f}' for x in warm)} s, checks {t_check:.1f} s", file=sys.stderr)
    for c, s in runner.samples.items():
        k = len(s) // rounds
        per_round = " ".join(f"{1000 * statistics.median(s[i * k : (i + 1) * k]):.0f}" for i in range(rounds) if k)
        print(f"  {c:<6} n={len(s):<4} p50={p50[c]:9.1f} ms  (per round: {per_round} ms)", file=sys.stderr)
    for k, v in values.items():
        print(f"  {k:<44} {v:12.4f} {units[k]}", file=sys.stderr)
    print(f"  {'error_rate':<44} {error_rate:12.4f} 1  ({failed} of {runner.attempted})", file=sys.stderr)

    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        sys.exit(2)

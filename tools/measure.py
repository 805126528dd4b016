"""One measurement tool for declared entries and bench rows.

A target is a zero-argument frame builder and an action; one run is
``action(frame())``, so the plan is built inside the timed region.  An
entry of ``__spark_entry__.queries()`` is ``(lambda: fn(spark, sf),
noop_write)``; a bench row is one value of ``bench.build_queries``.
Every mode runs the same loop: per target one untimed warm-up, then
``--reps`` timed runs; the cache is cleared between targets.

Modes:
  time   min / median / max / stdev per target.  Prints a table and,
         on its last stdout line, the JSON (``sf_dir``, ``times`` = the
         per-target min, ``errors``, ``total``, ``stats``); ``--out``
         also writes it to a file.
  jobs   the Spark jobs of each target's timed runs, from the event
         log: per-job table, busy union and the driver gaps between.
  plans  ``formatted_plan(frame())`` after the warm-up, i.e. the
         cached-table plan the timed runs execute, written to
         ``<outdir>/<name>_<suffix>.txt``.
  ab     time passes over checkouts A and B alternated A B A B ...
         ``--rounds`` times, each a fresh process that imports the
         code under test from its checkout; reports the per-target
         min of each side and B/A.

Names are entries (all 347 when none are given), run at ``--sf`` or
``$SPARK_GRAFT_SF_DIR``; a first name ``bench`` selects bench rows
instead (all 14 when no more follow), at ``bench.SF_DIR`` by default.

Usage:
  python tools/measure.py time [--sf DIR] [--out PATH] [--reps N] [name ...]
  python tools/measure.py jobs [--sf DIR] name ...
  python tools/measure.py plans --outdir DIR [--suffix S] bench [row ...]
  python tools/measure.py ab DIR_A DIR_B [--sf DIR] [--rounds N] [--reps N] name ...
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

# The code under test comes first from PYTHONPATH (an A/B child names
# its checkout there), then from the repo this file lives in.  Never
# inserted at the front: a child would then time this repo's code.
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# not bench.noop_write: an A/B child may import an older bench.py
def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def select(spark, names: list[str], sf_dir: str, tmp: str):
    """``({name: (frame, action)}, clear)`` for the named entries or,
    after a first name ``bench``, bench rows.  ``clear`` drops cached
    data between targets; bench rows also re-register their
    memory-resident tables (``bench.clear_caches``)."""
    if names[:1] == ["bench"]:
        import bench

        rows = bench.build_queries(spark, tmp, sf_dir)
        return {n: rows[n] for n in names[1:] or rows}, bench.clear_caches

    import __spark_entry__ as entry_mod

    fns = entry_mod.queries()
    targets = {
        n: (lambda fn=fns[n]: fn(spark, sf_dir), noop_write) for n in names or fns
    }
    return targets, lambda s: s.catalog.clearCache()


def run(spark, targets: dict, clear, reps: int, plans: tuple | None = None) -> tuple[dict, dict]:
    """The one loop.  Returns ``{name: (start, end, samples)}`` over
    each target's timed runs (wall-clock bounds for the event log) and
    ``{name: error}`` for targets that raised; with ``plans =
    (outdir, suffix)`` it writes each target's plan after its runs."""
    runs, errors = {}, {}
    for name, (frame, action) in targets.items():
        spark.sparkContext.setJobDescription(name)
        try:
            action(frame())  # warm-up: codegen, file-footer caches, table caches
            start, samples = time.time(), []
            for _ in range(reps):
                t0 = time.perf_counter()
                action(frame())
                samples.append(time.perf_counter() - t0)
            runs[name] = (start, time.time(), samples)
            if plans:
                from parquet_editor_spark.plans.explain import formatted_plan

                path = os.path.join(plans[0], f"{name}_{plans[1]}.txt")
                with open(path, "w") as fh:
                    fh.write(formatted_plan(frame()))
                print("wrote", path)
        except Exception as e:  # noqa: BLE001 — record and go on to the next target
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        clear(spark)
    return runs, errors


def time_report(sf_dir: str, runs: dict, errors: dict) -> dict:
    stats = {}
    for name, (_, _, s) in runs.items():
        stats[name] = {
            "n": len(s),
            "min": round(min(s), 4),
            "median": round(statistics.median(s), 4),
            "max": round(max(s), 4),
            "stdev": round(statistics.stdev(s), 4) if len(s) > 1 else 0.0,
            "samples": [round(x, 4) for x in s],
        }
    times = dict(sorted(((n, st["min"]) for n, st in stats.items()), key=lambda kv: -kv[1]))
    return {"sf_dir": sf_dir, "times": times, "errors": errors,
            "total": round(sum(times.values()), 2), "stats": stats}


def print_time(payload: dict) -> None:
    print(f"{'min':>8} {'median':>8} {'max':>8} {'stdev':>7}  target")
    for name in list(payload["times"])[:40]:
        st = payload["stats"][name]
        print(f"{st['min']:8.3f} {st['median']:8.3f} {st['max']:8.3f} {st['stdev']:7.3f}  {name}")
    print("total", payload["total"], "errors", len(payload["errors"]))


def event_jobs(evdir: str) -> list[dict]:
    """Finished jobs from the event logs under ``evdir``, by submission."""
    jobs: dict[int, dict] = {}
    paths = []
    for p in glob.glob(f"{evdir}/*"):
        # Spark 4 event-log v2 writes a DIRECTORY of event files
        paths.extend(glob.glob(f"{p}/events_*") if os.path.isdir(p) else [p])
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "t0": ev["Submission Time"] / 1000.0,
                        "desc": props.get("spark.job.description", "")[:60],
                        "n_stages": len(ev.get("Stage IDs", [])),
                    }
                elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
    return sorted((j for j in jobs.values() if "t1" in j), key=lambda j: j["t0"])


def print_jobs(name: str, start: float, end: float, jobs: list[dict]) -> None:
    """The job table of one target's timed window, its busy union (the
    wall covered by at least one running job) and the driver gaps."""
    rows = [j for j in jobs if start <= j["t0"] <= end]
    busy, cursor = 0.0, None
    for j in rows:
        s, e = j["t0"], j["t1"]
        if cursor is None or s > cursor:
            busy += e - s
            cursor = e
        elif e > cursor:
            busy += e - cursor
            cursor = e
    wall = end - start
    print(f"\n== {name}  wall {wall:.2f}s  jobs {len(rows)}  "
          f"busy-union {busy:.2f}s  gaps {wall - busy:.2f}s ==")
    prev_end = start
    for j in rows:
        gap = j["t0"] - prev_end
        mark = " <GAP" if gap > 0.15 else ""
        print(f"  job {j['id']:>4} +{j['t0'] - start:7.2f}s  dur {j['t1'] - j['t0']:6.2f}s  "
              f"gap {gap:6.2f}s{mark}  stages={j['n_stages']}  {j['desc']}")
        prev_end = max(prev_end, j["t1"])


def child_pass(checkout: str, sf_dir: str | None, reps: int, names: list[str]) -> dict:
    """One time pass in a fresh process that imports the code under
    test from ``checkout``; its JSON comes back on its last stdout line."""
    sf = ["--sf", sf_dir] if sf_dir else []
    cmd = [sys.executable, os.path.abspath(__file__), "time", *sf, "--reps", str(reps), *names]
    proc = subprocess.run(
        cmd, env=dict(os.environ, PYTHONPATH=checkout), capture_output=True, text=True
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"pass in {checkout} failed (rc={proc.returncode}):\n{proc.stderr[-2000:]}")
    payload = json.loads(lines[-1])
    if payload["errors"]:
        raise SystemExit(f"errors in {checkout}: {payload['errors']}")
    return payload["times"]


def ab(a: str, b: str, sf_dir: str | None, rounds: int, reps: int, names: list[str]) -> dict:
    """Per-target min of each side over ``rounds`` interleaved A B
    passes, so box drift hits both sides equally."""
    mins: dict[str, dict[str, float]] = {"A": {}, "B": {}}
    for i in range(rounds):
        for side, checkout in (("A", a), ("B", b)):
            times = child_pass(checkout, sf_dir, reps, names)
            for n, t in times.items():
                mins[side][n] = min(t, mins[side].get(n, t))
            print(f"round {i} {side}: " + " ".join(f"{n}={t:.2f}" for n, t in times.items()),
                  flush=True)
    print(f"\n{'target':<40} {'A(min)':>8} {'B(min)':>8} {'B/A':>6}")
    ta = tb = 0.0
    for n in mins["A"]:
        va, vb = mins["A"][n], mins["B"].get(n)
        if vb is None:
            continue
        ta += va
        tb += vb
        print(f"{n:<40} {va:8.2f} {vb:8.2f} {vb / va:6.2f}")
    if ta:
        print(f"{'TOTAL':<40} {ta:8.2f} {tb:8.2f} {tb / ta:6.2f}")
    return mins


def main() -> None:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("mode", choices=["time", "jobs", "plans", "ab"])
    p.add_argument("names", nargs="*", help="targets; ab takes DIR_A DIR_B first")
    p.add_argument("--sf", help="sf dir (default: $SPARK_GRAFT_SF_DIR; bench rows: bench.SF_DIR)")
    p.add_argument("--out", help="time: also write the JSON here")
    p.add_argument("--reps", type=int, default=1, help="timed runs per target")
    p.add_argument("--rounds", type=int, default=1, help="ab: A B rounds")
    p.add_argument("--outdir", help="plans: output directory")
    p.add_argument("--suffix", default="plan", help="plans: file-name suffix")
    args = p.parse_intermixed_args()

    if args.mode == "ab":
        if len(args.names) < 3:
            p.error("ab needs DIR_A DIR_B and at least one name")
        a, b, *names = args.names
        ab(os.path.abspath(a), os.path.abspath(b), args.sf, args.rounds, args.reps, names)
        return
    if args.mode == "plans" and not args.outdir:
        p.error("plans needs --outdir")
    if args.reps < 1:
        p.error("--reps must be at least 1")
    bench_rows = args.names[:1] == ["bench"]
    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR")
    if not (sf_dir or bench_rows):
        p.error("entries need --sf or $SPARK_GRAFT_SF_DIR")

    evdir = tempfile.mkdtemp(prefix="pes_eventlog_") if args.mode == "jobs" else None
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    } if evdir else {}
    if bench_rows:
        import bench

        spark, sf_dir = bench.bench_session(conf), args.sf or bench.SF_DIR
    else:
        from parquet_editor_spark.session import get_spark

        spark = get_spark(app_name="measure", extra_conf=conf)
    tmp = tempfile.mkdtemp(prefix="pes_measure_")
    plans = None
    if args.mode == "plans":
        # the plan needs only the warm-up, which materializes the
        # table caches the timed runs read
        os.makedirs(args.outdir, exist_ok=True)
        plans, args.reps = (args.outdir, args.suffix), 0
    try:
        targets, clear = select(spark, args.names, sf_dir, tmp)
        runs, errors = run(spark, targets, clear, args.reps, plans)
    finally:
        spark.stop()  # also flushes the event log
        shutil.rmtree(tmp, ignore_errors=True)
    if evdir:
        jobs = event_jobs(evdir)
        for name, (start, end, _) in runs.items():
            print_jobs(name, start, end, jobs)
        shutil.rmtree(evdir, ignore_errors=True)
    for name, err in errors.items():
        print(f"error  {name}: {err}", file=sys.stderr)
    if args.mode == "time":
        payload = time_report(sf_dir, runs, errors)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(payload, fh, indent=1)
        print_time(payload)
        print(json.dumps(payload))


if __name__ == "__main__":
    main()

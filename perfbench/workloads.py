"""The three workload scripts.

Each workload is a fixed, seed-generated sequence of actions.  A
*round* is one block of the script (an editor document, a warehouse
maintenance cycle, a curation pass); a run executes a fixed number of
rounds, so the action mix never depends on how fast the program is.
Every action belongs to one class:

* ``read``  — the result is collected to the caller;
* ``edit``  — one mutation plus the read that shows what it changed;
* ``write`` — the result is written to files;
* ``open``  — document lifecycle (load, ordinals, close); counted in
  ``ops_per_s`` but in no latency class.

The workloads call only the package's public modules.  Each keeps what
its actions returned so :meth:`check` can compare it, after the timed
phase, against a replay of the same script in pyarrow/pandas/Python.
"""

from __future__ import annotations

import json
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

# -- shared helpers ---------------------------------------------------------


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Timestamps as int64 microseconds since the epoch (Spark hands
    back naive UTC, pyarrow tz-aware UTC); everything else unchanged."""
    out = pdf.reset_index(drop=True).copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            s = out[c]
            if s.dt.tz is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]").astype("int64")
    return out


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Record-for-record equality: same columns, same rows, same order,
    bit-identical values."""
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    return all(np.array_equal(got[c].to_numpy(), want[c].to_numpy()) for c in want.columns)


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Workload:
    """Base: ``generate`` writes the seeded inputs, ``prepare`` builds
    the program state one set-up pass needs, ``script`` returns the
    actions of one round, ``do`` executes one action, ``check``
    returns the failed output checks."""

    name = ""
    #: nominal timed seconds per round on a 4-core machine; a run of
    #: ``--seconds S`` executes ``max(1, round(S / ROUND_S))`` rounds
    ROUND_S = 1.0
    #: warm-up rounds before the timed phase (JIT keeps speeding up the
    #: same actions for several rounds)
    WARM_ROUNDS = 1

    def __init__(self, spark, work: str, seed: int, scale: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.counters: dict[str, float] = {}

    def _rng(self, *key) -> np.random.Generator:
        return np.random.default_rng([self.seed, *(int(k) for k in key)])

    def _size(self, n: int, floor: int) -> int:
        return max(floor, int(n * self.scale))

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, rep: int) -> None:
        pass

    def script(self, rnd: int, warm: bool = False) -> list[tuple[str, str, dict]]:
        """Actions of round ``rnd``; warm-up rounds draw from their own
        stream."""
        raise NotImplementedError

    def do(self, op: str, a: dict) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def corrupt(self) -> None:
        """Damage one recorded output (self-test of the checks)."""
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        return dict(self.counters)


# -- editor -----------------------------------------------------------------

EDIT_COLS = {
    "l_quantity": lambda r: float(r.integers(1, 51)),
    "l_discount": lambda r: float(r.integers(0, 11)) / 100.0,
    "l_suppkey": lambda r: int(r.integers(1, 1_000)),
    "l_returnflag": lambda r: str(r.choice(["A", "N", "R"])),
}
PAGE = 50


class Editor(Workload):
    """One user editing a lineitem-shaped table, one document per round:
    open (load + ordinals), cell edits, row deletes, undo/redo, page
    views and histogram plots with a periodic save, then pivot and
    close.  The sequence of action kinds is a fixed template; the seed
    picks rows, columns, values and pages.  A document makes more
    undoable edits than ``EditorSession.COMPACT_EVERY``, so the
    session's auto-compaction runs once per document."""

    name = "editor"
    ROUND_S = 24.0
    ROWS = 25_000
    #: edits per document and the kind at each index (default set_cell);
    #: 35 edits less 1 undo and 1 redo leave 33 undoable rebinds, one
    #: more than the session's compaction interval
    TEMPLATE = (35, {9: "delete_rows", 21: "delete_rows", 13: "undo", 14: "redo"})
    #: a page view after every ``EVERY[0]``-th edit and a save after every
    #: ``EVERY[1]``-th, so a document holds 38 reads and 18 writes
    EVERY = (1, 2)
    #: the warm-up document: the first 20 edits of the template, with
    #: fewer views and saves
    WARM_TEMPLATE = (20, {9: "delete_rows", 13: "undo", 14: "redo"})
    WARM_EVERY = (6, 16)

    def generate(self) -> None:
        self.n = self._size(self.ROWS, 2_000)
        self.src = os.path.join(self.work, "lineitem.parquet")
        pq.write_table(gen.lineitem(self.seed, self.n), self.src, row_group_size=max(1, self.n // 8))
        self.base = pq.read_table(self.src).to_pandas()
        self.log: list[tuple[str, dict]] = []  # executed (op, args), in order
        self.views: dict[int, pd.DataFrame] = {}  # log index -> page shown
        self.saves: dict[int, str] = {}  # log index -> saved directory

    def prepare(self, rep: int) -> None:
        """A fresh session that opens and closes the table once."""
        from parquet_editor_spark import EditorSession, SessionSettings

        # a private settings file: EditorSession() would otherwise read
        # the user's ~/.parquet_editor_spark
        self.session = EditorSession(self.spark, SessionSettings(path=os.path.join(self.work, "settings.json")))
        self.do("open", {})
        self.do("close", {})

    def script(self, rnd: int, warm: bool = False) -> list[tuple[str, str, dict]]:
        rng = self._rng(1, warm, rnd)
        edits, kinds = self.WARM_TEMPLATE if warm else self.TEMPLATE
        views, saves = self.WARM_EVERY if warm else self.EVERY
        acts = [("open", "open", {})]
        n = self.n
        undo: list[tuple[int, int]] = []  # (rows before, page) per undoable edit
        redo: list[tuple[int, int]] = []

        def page(rid):
            return (rid // PAGE) * PAGE

        for i in range(edits):
            kind = kinds.get(i, "set_cell")
            if kind == "undo":
                before, pg = undo.pop()
                redo.append((n, pg))
                n = before
                acts.append(("edit", "undo", {"page": pg}))
            elif kind == "redo":
                after, pg = redo.pop()
                undo.append((n, pg))
                n = after
                acts.append(("edit", "redo", {"page": pg}))
            elif kind == "delete_rows":
                rids = sorted(set(int(x) for x in rng.choice(n, 3, replace=False)))
                undo.append((n, page(rids[0])))
                redo.clear()
                n -= len(rids)
                acts.append(("edit", "delete_rows", {"rids": rids, "page": page(rids[0])}))
            else:
                col = str(rng.choice(list(EDIT_COLS)))
                rid = int(rng.integers(0, n))
                undo.append((n, page(rid)))
                redo.clear()
                acts.append(("edit", "set_cell", {"rid": rid, "col": col, "value": EDIT_COLS[col](rng), "page": page(rid)}))
            if i % views == views - 1:
                acts.append(("read", "view", {"page": page(int(rng.integers(0, n)))}))
            if i % saves == saves // 2:
                acts.append(("write", "save", {}))
            if i % 16 == 5:
                acts.append(("read", "plot", {"col": str(rng.choice(["l_extendedprice", "l_quantity"]))}))
        acts.append(("write", "save", {}))
        acts.append(("read", "pivot", {}))
        acts.append(("open", "close", {}))
        return acts

    def do(self, op: str, a: dict) -> None:
        s, tr = self.session, self.tr
        self.log.append((op, a))
        idx = len(self.log) - 1
        if op == "open":
            tr.call("io.load", s.load, "t", self.src)
            tr.call("edit.with_rid", s.with_rid, "t")
            return
        if op == "close":
            s.drop_table("t")
            return
        if op == "set_cell":
            tr.call("session.set_cell", s.set_cell, "t", a["rid"], a["col"], a["value"])
        elif op == "delete_rows":
            tr.call("edit.delete_rows", s.delete_rows, "t", a["rids"])
        elif op in ("undo", "redo"):
            tr.call(f"session.{op}", getattr(s, op), "t")
        elif op == "save":
            path = os.path.join(self.work, f"save_{idx}.parquet")
            tr.call("session.save", s.save, "t", path)
            self.saves[idx] = path
            return
        elif op == "plot":
            svg = tr.call("session.plot", s.plot, "t", kind="histogram", column=a["col"], bins=20)
            if "<svg" not in svg:
                raise RuntimeError("plot returned no SVG")
            return
        elif op == "pivot":
            tr.call("session.pivot", s.pivot, "t", "l_linestatus", "l_returnflag", "l_extendedprice", "sum")
            pdf = tr.call("session.preview", s.preview, "t", 10, 0)
            if list(pdf.columns) != ["l_linestatus", "A", "N", "R"] or len(pdf) != 2:
                raise RuntimeError(f"unexpected pivot {pdf!r}")
            return
        self.views[idx] = tr.call("session.preview", s.preview, "t", PAGE, a["page"])

    # -- replay -------------------------------------------------------------
    def check(self) -> list[str]:
        """Replay the executed edit script on the generated table in
        pandas, with the session's undo/redo stack semantics, and compare
        every page view and every saved file record for record."""
        bad: list[str] = []
        keys = ["l_orderkey", "l_linenumber"]
        df = None
        undo: list[tuple[str, dict, object]] = []  # (op, args, inverse)
        redo: list[tuple[str, dict]] = []
        for idx, (op, a) in enumerate(self.log):
            if op == "open":
                df, undo, redo = self.base.copy(), [], []
            elif op in ("set_cell", "delete_rows"):
                df, inv = _apply(df, op, a)
                undo.append((op, a, inv))
                redo.clear()
            elif op == "undo":
                op0, a0, inv = undo.pop()
                df = _revert(df, op0, a0, inv)
                redo.append((op0, a0))
            elif op == "redo":
                op0, a0 = redo.pop()
                df, inv = _apply(df, op0, a0)
                undo.append((op0, a0, inv))
            if idx in self.views and not frames_equal(self.views[idx], df.iloc[a["page"] : a["page"] + PAGE]):
                bad.append(f"editor: page view at step {idx} ({op}) differs from replay")
            if idx in self.saves:
                got = pq.read_table(self.saves[idx]).to_pandas().sort_values(keys)
                if not frames_equal(got, df.sort_values(keys)):
                    bad.append(f"editor: saved file at step {idx} differs from replay")
        return bad

    def corrupt(self) -> None:
        idx = max(self.views)
        self.views[idx].loc[0, "l_extendedprice"] += 1.0


def _apply(df: pd.DataFrame, op: str, a: dict):
    """Apply one edit; return the new frame and what undoing it needs."""
    if op == "set_cell":
        j = df.columns.get_loc(a["col"])
        old = df.iat[a["rid"], j]
        df.iat[a["rid"], j] = a["value"]
        return df, old
    removed = df.iloc[a["rids"]]
    return df.drop(index=df.index[a["rids"]]).reset_index(drop=True), removed


def _revert(df: pd.DataFrame, op: str, a: dict, inv) -> pd.DataFrame:
    if op == "set_cell":
        df.iat[a["rid"], df.columns.get_loc(a["col"])] = inv
        return df
    mask = np.zeros(len(df) + len(a["rids"]), bool)
    mask[a["rids"]] = True
    kept = df.set_axis(np.flatnonzero(~mask))
    back = inv.set_axis(np.asarray(a["rids"]))
    return pd.concat([kept, back]).sort_index().reset_index(drop=True)


# -- warehouse --------------------------------------------------------------

KEYS = ["l_orderkey", "l_linenumber"]
DIFF_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


class Warehouse(Workload):
    """Table maintenance beside analytic reads on a lineitem-shaped
    snapshot table plus orders.  Each round commits one upsert batch
    (replacing existing keys, so the table size stays fixed) and
    interleaves group-by, pivot, top-k, join and version-diff reads
    with three parquet sinks.  Runs as part of :class:`Batch`."""

    ROWS = 200_000
    BATCH = 2_000

    def generate(self) -> None:
        self.n = self._size(self.ROWS, 4_000)
        self.src = os.path.join(self.work, "lineitem.parquet")
        self.base = gen.lineitem(self.seed, self.n)
        pq.write_table(self.base, self.src, row_group_size=max(1, self.n // 8))
        self.orders_src = os.path.join(self.work, "orders.parquet")
        pq.write_table(gen.orders(self.seed, self.n // gen.LINES_PER_ORDER), self.orders_src)
        self.batches: dict[int, str] = {}
        self.applied: list[tuple[str, int]] = []  # (table dir, batch id) in commit order
        self.views: list[tuple[int, pd.DataFrame]] = []
        self.diffs: list[tuple[str, int, dict]] = []  # (table dir, version, counts)
        self.bytes_written = self.rows_upserted = 0
        self.files: list[int] = []

    def _batch(self, b: int) -> str:
        if b not in self.batches:
            rng = self._rng(2, b < 0, abs(b))
            pos = np.sort(rng.choice(self.n, self._size(self.BATCH, 40), replace=False))
            tab = gen.lineitem_rows(rng, pos // gen.LINES_PER_ORDER + 1, (pos % gen.LINES_PER_ORDER + 1).astype(np.int32))
            path = os.path.join(self.work, f"batch_{b}.parquet")
            pq.write_table(tab, path)
            self.batches[b] = path
        return self.batches[b]

    def prepare(self, rep: int) -> None:
        from parquet_editor_spark import io as peio
        from parquet_editor_spark.operators import warehouse as WH

        self.tbl = os.path.join(self.work, f"table_{rep}")
        self.tr.call("warehouse.snapshot_write", WH.snapshot_write, peio.load(self.spark, self.src), self.tbl)
        self.version = 1
        self.orders = peio.load(self.spark, self.orders_src).withColumnRenamed("o_orderkey", "l_orderkey")

    def script(self, rnd: int, warm: bool = False) -> list[tuple[str, str, dict]]:
        b = -1 - rnd if warm else rnd  # batches of warm-up rounds get their own ids
        self._batch(b)
        rng = self._rng(3, warm, rnd)
        years = [int(y) for y in rng.integers(1992, 1999, 3)]
        return [
            ("edit", "upsert", {"batch": b}),
            ("read", "group_agg", {}),
            ("write", "save", {"year": years[0]}),
            ("read", "pivot_table", {}),
            ("write", "save", {"year": years[1]}),
            ("read", "top_k", {}),
            ("read", "join_tables", {}),
            ("read", "table_diff", {}),
            ("write", "save", {"year": years[2]}),
        ]

    def do(self, op: str, a: dict) -> None:
        from pyspark.sql import functions as F

        from parquet_editor_spark import io as peio
        from parquet_editor_spark.operators import query as Q
        from parquet_editor_spark.operators import warehouse as WH

        tr, spark = self.tr, self.spark
        if op == "upsert":
            upd = tr.call("io.load", peio.load, spark, self.batches[a["batch"]])
            cur = tr.call("warehouse.snapshot_read", WH.snapshot_read, spark, self.tbl)
            merged = tr.call("warehouse.merge_upsert", WH.merge_upsert, cur, upd, KEYS, broadcast_updates=True)
            self.version = tr.call("warehouse.snapshot_write", WH.snapshot_write, merged, self.tbl)
            self.applied.append((self.tbl, a["batch"]))
            if tr.on:
                size, files = _dir_bytes_files(os.path.join(self.tbl, "data", f"v{self.version}"))
                self.bytes_written += size
                self.files.append(files)
                self.rows_upserted += pq.ParquetFile(self.batches[a["batch"]]).metadata.num_rows
            self.cur = tr.call("warehouse.snapshot_read", WH.snapshot_read, spark, self.tbl)
            probe = pq.read_table(self.batches[a["batch"]], columns=KEYS).slice(0, 20)
            cond = F.lit(False)
            for ok, ln in zip(probe["l_orderkey"].to_pylist(), probe["l_linenumber"].to_pylist()):
                cond = cond | ((F.col("l_orderkey") == ok) & (F.col("l_linenumber") == ln))
            view = tr.call(
                "warehouse.snapshot_read",
                lambda: self.cur.filter(cond).orderBy(*KEYS).toPandas(),
            )
            self.views.append((a["batch"], view))
            return
        cur = self.cur
        if op == "group_agg":
            tr.call(
                "query.group_agg",
                lambda: Q.group_agg(
                    cur.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
                    ["l_returnflag", "l_linestatus"],
                    [
                        ("l_quantity", "sum", "sum_qty"),
                        ("l_extendedprice", "sum", "sum_price"),
                        ("l_discount", "mean", "avg_disc"),
                        ("l_orderkey", "count", "n"),
                    ],
                ).collect(),
            )
        elif op == "pivot_table":
            tr.call(
                "query.pivot_table",
                lambda: Q.pivot_table(cur, "l_suppkey", "l_returnflag", "l_extendedprice", "sum", pivot_values=["A", "N", "R"]).collect(),
            )
        elif op == "top_k":
            rows = tr.call("query.top_k", lambda: Q.top_k(cur, ["l_extendedprice", "l_orderkey", "l_linenumber"], 100).collect())
            if len(rows) != min(100, self.n):
                raise RuntimeError(f"top_k returned {len(rows)} rows")
        elif op == "join_tables":
            tr.call(
                "query.join_tables",
                lambda: Q.group_agg(
                    Q.join_tables(cur, self.orders, "l_orderkey"),
                    ["o_orderpriority"],
                    [("l_extendedprice", "sum", "revenue")],
                ).collect(),
            )
        elif op == "table_diff":
            v = self.version
            prev = WH.snapshot_read(spark, self.tbl, v - 1)
            rows = tr.call(
                "warehouse.table_diff",
                lambda: WH.table_diff(prev, cur, KEYS, DIFF_COLS).groupBy("change_type").count().collect(),
            )
            self.diffs.append((self.tbl, v, {r["change_type"]: r["count"] for r in rows}))
        elif op == "save":
            y = a["year"]
            extract = cur.filter(
                (F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            tr.call("io.save", peio.save, extract, os.path.join(self.work, "sink.parquet"))

    def layer_counts(self) -> dict[str, float]:
        return {
            "warehouse.bytes_written_per_upserted_row": self.bytes_written / max(1, self.rows_upserted),
            "warehouse.files_per_snapshot": float(np.median(self.files)) if self.files else 0.0,
        }

    def check(self) -> list[str]:
        """Replay the committed batches on the generated table (keys map
        to row positions) and compare read-backs, diff counts and the
        final snapshot."""
        bad: list[str] = []
        state: dict[str, tuple[dict, int]] = {}  # table dir -> (columns, version)
        changed: dict[tuple[str, int], int] = {}
        for tbl, b in self.applied:
            cols, ver = state.get(tbl) or ({c: self.base[c].to_numpy().copy() for c in DIFF_COLS}, 1)
            upd = pq.read_table(self.batches[b])
            pos = (upd["l_orderkey"].to_numpy() - 1) * gen.LINES_PER_ORDER + upd["l_linenumber"].to_numpy() - 1
            differs = np.zeros(len(pos), bool)
            for c in DIFF_COLS:
                differs |= cols[c][pos] != upd[c].to_numpy()
                cols[c][pos] = upd[c].to_numpy()
            state[tbl] = (cols, ver + 1)
            changed[(tbl, ver + 1)] = int(differs.sum())
        for b, view in self.views:
            upd = pq.read_table(self.batches[b]).slice(0, 20).to_pandas().sort_values(KEYS)
            if not frames_equal(view, upd):
                bad.append(f"warehouse: read-back of upsert batch {b} differs from the batch")
        for tbl, ver, counts in self.diffs:
            want = {"changed": changed.get((tbl, ver), -1)}
            if counts != want:
                bad.append(f"warehouse: table_diff v{ver - 1}->v{ver} counts {counts} != {want}")
        if self.applied:
            tbl = self.applied[-1][0]
            with open(os.path.join(tbl, "_manifests", f"v{self.version}.json")) as fh:
                dirs = json.load(fh)["dirs"]
            got = pa.concat_tables(pq.read_table(os.path.join(tbl, d)) for d in dirs)
            got = got.sort_by([(k, "ascending") for k in KEYS])
            cols = state[tbl][0]
            if got.num_rows != self.n:
                bad.append(f"warehouse: final snapshot has {got.num_rows} rows, replay {self.n}")
            elif not all(np.array_equal(got[k].to_numpy(), self.base[k].to_numpy()) for k in KEYS):
                bad.append("warehouse: final snapshot keys differ from replay")
            else:
                bad += [f"warehouse: final snapshot column {c} differs from replay" for c in DIFF_COLS if not np.array_equal(got[c].to_numpy(), cols[c])]
        return bad

    def corrupt(self) -> None:
        tbl, ver, counts = self.diffs[-1]
        counts["changed"] = counts.get("changed", 0) + 1


# -- curation ---------------------------------------------------------------

THRESHOLD = 0.7
TOPK = 10
QUERIES = 16
CHUNK, STRIDE = 32, 24


class Curation(Workload):
    """An LLM-data pass over a seeded corpus with planted exact and near
    duplicates plus an embedding table.  Each round writes the scored
    corpus and its token-window chunks to parquet, counts exact-dedup
    survivors, finds MinHash-LSH near-dup pairs and runs two cosine
    top-k query batches.  It has no edit action, so it runs only as
    part of :class:`Batch`."""

    DOCS = 2_000
    VECS = 4_000
    DIM = 64

    def generate(self) -> None:
        self.nd = self._size(self.DOCS, 200)
        self.nv = self._size(self.VECS, 200)
        self.docs = gen.documents(self.seed, self.nd)
        self.docs_src = os.path.join(self.work, "docs.parquet")
        pq.write_table(self.docs, self.docs_src, row_group_size=max(1, self.nd // 4))
        self.emb_src = os.path.join(self.work, "emb.parquet")
        pq.write_table(gen.embeddings(self.seed, self.nv, self.DIM), self.emb_src, row_group_size=max(1, self.nv // 4))
        self.out: dict[str, list] = {"quality": [], "dedup": [], "pairs": [], "topk": [], "chunks": []}

    def prepare(self, rep: int) -> None:
        from parquet_editor_spark import io as peio

        self.corpus = self.tr.call("io.load", peio.load, self.spark, self.docs_src)
        self.emb = self.tr.call("io.load", peio.load, self.spark, self.emb_src)

    def script(self, rnd: int, warm: bool = False) -> list[tuple[str, str, dict]]:
        rng = self._rng(5, warm, rnd)

        def queries():
            return {"ids": sorted(int(i) for i in rng.choice(self.nv, QUERIES, replace=False))}

        return [
            ("write", "quality", {}),
            ("read", "exact_dedup", {}),
            ("read", "topk_cosine", queries()),
            ("read", "minhash_lsh_pairs", {}),
            ("write", "chunk_documents", {}),
            ("read", "topk_cosine", queries()),
        ]

    def do(self, op: str, a: dict) -> None:
        from pyspark.sql import functions as F

        from parquet_editor_spark import io as peio
        from parquet_editor_spark.functions import text as X
        from parquet_editor_spark.operators import dedup as D
        from parquet_editor_spark.operators import sim as S
        from parquet_editor_spark.operators import textprep as TP

        tr, corpus = self.tr, self.corpus
        if op == "quality":
            path = os.path.join(self.work, "quality.parquet")
            scored = corpus.select("doc_id", X.quality_score("text").alias("quality"), X.lang_id("text").alias("lang"))
            tr.call("text.quality", peio.save, scored, path)
            self.out["quality"].append(path)
        elif op == "chunk_documents":
            path = os.path.join(self.work, "chunks.parquet")
            tr.call("textprep.chunk_documents", peio.save, TP.chunk_documents(corpus, "doc_id", "text", CHUNK, STRIDE), path)
            self.out["chunks"].append(path)
        elif op == "exact_dedup":
            self.out["dedup"].append(tr.call("dedup.exact_dedup", lambda: D.exact_dedup(corpus, ["text"]).count()))
        elif op == "minhash_lsh_pairs":

            def pairs():
                out = D.minhash_lsh_pairs(corpus, "doc_id", "text", threshold=THRESHOLD)
                try:
                    return out.collect()
                finally:
                    D.release_caches(out)

            rows = tr.call("dedup.minhash_lsh_pairs", pairs)
            self.out["pairs"].append([(r["id_a"], r["id_b"], r["jaccard"]) for r in rows])
            if tr.on:
                self.counters["dedup.pairs_found"] = self.counters.get("dedup.pairs_found", 0) + len(rows)
        elif op == "topk_cosine":
            q = self.emb.filter(F.col("vec_id").isin(a["ids"]))
            rows = tr.call("sim.topk_cosine", lambda: S.topk_cosine(self.emb, q, k=TOPK).collect())
            self.out["topk"].append((a["ids"], [(r["query_id"], r["rank"], r["neighbor_id"], r["sim"]) for r in rows]))
            if tr.on:
                self.counters["sim.rows_scored"] = self.counters.get("sim.rows_scored", 0) + len(rows)

    def check(self) -> list[str]:
        bad: list[str] = []
        texts = self.docs["text"].to_pylist()
        for path in self.out["quality"]:
            n = pq.read_table(path).num_rows
            if n != self.nd:
                bad.append(f"curation: scored {n} rows of a {self.nd}-doc corpus")
        distinct = len(set(texts))
        for n in self.out["dedup"]:
            if n != distinct:
                bad.append(f"curation: exact_dedup kept {n} docs, {distinct} distinct texts")
        shingles = [_shingles(t) for t in texts]
        for pairs in self.out["pairs"]:
            for a, b, jac in pairs:
                sa, sb = shingles[a], shingles[b]
                exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
                if exact < THRESHOLD or _spark_round4(exact) != jac:
                    bad.append(f"curation: pair ({a},{b}) reports J={jac}, exact {exact:.4f}")
                    break
        for ids, rows in self.out["topk"]:
            by_q: dict[int, list] = {}
            for q, rank, _, sim in rows:
                by_q.setdefault(q, []).append((rank, sim))
            if sorted(by_q) != ids:
                bad.append("curation: top-k result misses queries")
                continue
            for q, rs in by_q.items():
                rs.sort()
                sims = [s for _, s in rs]
                if [r for r, _ in rs] != list(range(1, TOPK + 1)) or any(x < y for x, y in zip(sims, sims[1:])):
                    bad.append(f"curation: top-k for query {q} is not {TOPK} rows in non-increasing order")
                    break
        want_chunks = sum(len(range(0, len(t.split()), STRIDE)) for t in texts if t.split())
        for path in self.out["chunks"]:
            n = pq.read_table(path).num_rows
            if n != want_chunks:
                bad.append(f"curation: {n} chunks, expected {want_chunks}")
        return bad

    def corrupt(self) -> None:
        self.out["topk"][-1][1].pop()


def _spark_round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on its shortest
    decimal form (Python's ``round`` is half-even: 0.90625 -> 0.9062)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)} if len(toks) >= n else set()


class Batch(Workload):
    """The batch pipeline user: each round is one warehouse round
    interleaved with one curation round, on their own inputs."""

    name = "batch"
    ROUND_S = 8.0

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [Warehouse(*args), Curation(*args)]

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def prepare(self, rep: int) -> None:
        for p in self.parts:
            p.prepare(rep)

    def script(self, rnd: int, warm: bool = False) -> list[tuple[str, str, dict]]:
        wh, cu = (p.script(rnd, warm) for p in self.parts)
        out = []
        for i in range(max(len(wh), len(cu))):
            out += wh[i : i + 1] + [(c, op, {**a, "part": 1}) for c, op, a in cu[i : i + 1]]
        return out

    def do(self, op: str, a: dict) -> None:
        self.parts[a.get("part", 0)].do(op, a)

    def check(self) -> list[str]:
        return [b for p in self.parts for b in p.check()]

    def corrupt(self) -> None:
        self.parts[1].corrupt()

    def layer_counts(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_counts().items()}


WORKLOADS = {w.name: w for w in (Editor, Batch)}

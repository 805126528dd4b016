"""SparkSession factory and the editor session layer.

The reference holds ONE mutable in-memory pandas DataFrame per MDI
window (``PandasModel._data``, main.py:15-17 / main.pyc:46-48) and
mutates it in place. Here every "table" is an **immutable**
:class:`pyspark.sql.DataFrame` bound to a name in
:class:`EditorSession`; mutation = rebinding the name to a derived
DataFrame. That single design decision buys:

* undo/redo (readme.md:12 claims it; the reference never implemented
  it — SURVEY.md §0.2) as a stack of previous bindings;
* lazy, Catalyst-optimized execution of every edit;
* safe concurrent readers at scale (no in-place mutation to race on).
"""

from __future__ import annotations

import bisect
import os
import weakref
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from parquet_editor_spark.operators import edit as E

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "parquet_editor_spark",
    cpus: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with scale-aware defaults.

    * AQE on: runtime coalescing + skew-join handling so the same plan
      survives sf0.001 and a 1000-executor 100 TB run.
    * shuffle partitions ~ cores locally (the 200 default over-
      parallelizes small data; a real cluster would raise it).
    * UTC session timezone so timestamps hash-match the DuckDB oracle.
    * Arrow enabled: every pandas interchange (Excel small-path,
      Pandas UDFs) is columnar, not row-pickled.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    # Python workers resolve pickled-by-reference functions by importing
    # this package; make sure they can even when the driver launched
    # from another cwd. Must happen before the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Set ONCE at session build (not per-read in load_parquet_nanos)
        # so scan plans never flip mid-session; the per-read set stays
        # only as a fallback for externally-built sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pes_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class SessionSettings:
    """User-settings persistence — parity with the reference v2
    ``SettingsDialog`` (main.pyc:176-199), which stores one key,
    ``defaultPath``, through QSettings.  Here: a small JSON file
    (QSettings' cross-platform analog), round-trippable and forward-
    compatible (unknown keys are preserved on save).

    ``default_path`` is the directory relative load/save paths resolve
    against — the same role the reference's key plays for its file
    dialogs."""

    FILE = os.path.join(
        os.path.expanduser(os.environ.get("PES_CONFIG_DIR", "~/.parquet_editor_spark")),
        "settings.json",
    )

    def __init__(self, default_path: str = "", path: Optional[str] = None):
        self.default_path = default_path
        self._file = path or self.FILE
        self._extra: dict = {}

    @classmethod
    def load(cls, path: Optional[str] = None) -> "SessionSettings":
        import json

        s = cls(path=path)
        try:
            with open(s._file) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            return s
        s.default_path = str(data.pop("defaultPath", ""))
        s._extra = data
        return s

    def save(self) -> str:
        import json

        os.makedirs(os.path.dirname(self._file), exist_ok=True)
        payload = {**self._extra, "defaultPath": self.default_path}
        with open(self._file, "w") as fh:
            json.dump(payload, fh, indent=2, sort_keys=True)
        return self._file

    def resolve(self, path: str) -> str:
        """Resolve ``path`` against ``default_path`` the way the
        reference's file dialogs open at the stored directory."""
        if self.default_path and not os.path.isabs(path):
            return os.path.join(self.default_path, path)
        return path


class EditorSession:
    """Named immutable DataFrames + per-name undo/redo stacks.

    Maps the reference's MDI-window-per-table model (main.py:187-193)
    to a catalog of named DataFrames, and its in-place mutation model
    (``PandasModel.update_data``, main.pyc:96-100) to rebind + undo
    push. ``undo``/``redo`` honestly implement the README's declared
    but unimplemented capability (readme.md:12, SURVEY.md §0.2).

    One ordinal path: views, line plots and positional edits read the
    binding through its pinned ordinals (``_pinned``), the one place
    the session pins. The session trusts only a ``__rid`` it made; any
    other is re-ranked. History owns the pins: see ``_release``.

    A delete only drops rows: the survivors keep their pinned ``__rid``
    and the session keeps, per binding, the sorted ids dropped since
    its ordinals were last dense (its gaps). Views and cell edits map
    positions to pinned ids on the driver (``_pinned_id``), so a page
    view filters the pinned leaf's own column. The gaps are closed by
    one re-rank only where dense ordinals leave the session: ``get``,
    ``with_rid``, the line plot, cut and paste, and auto-compaction.
    """

    #: point edits before the overlay is checkpointed (SURVEY.md §4
    #: edit-overlay compaction): each set_cell deepens the plan by one
    #: when() projection; past this depth analysis time dominates, so
    #: the session materializes and restarts the chain.
    COMPACT_EVERY = 32

    #: every live session: Spark caches by plan, one cache for all the
    #: sessions of a SparkContext, so a pin may be held in another one
    _live: "weakref.WeakSet[EditorSession]" = weakref.WeakSet()

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        settings: Optional[SessionSettings] = None,
    ):
        self.spark = spark or get_spark()
        self.settings = settings or SessionSettings.load()
        self._tables: dict[str, DataFrame] = {}
        self._undo: dict[str, list[DataFrame]] = {}
        self._redo: dict[str, list[DataFrame]] = {}
        self._edit_depth: dict[str, int] = {}
        self._clipboard: Optional[DataFrame] = None
        # frames whose __rid the session made, mapped to whether
        # _pinned pinned them; a __rid from anywhere else (a frame
        # built from get() or SQL) may have gaps and is re-ranked
        self._ordinal: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        # trusted frames with gaps, mapped to the sorted pinned __rid
        # values their deletes dropped since the ordinals were dense
        self._gaps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        EditorSession._live.add(self)

    # -- catalog -----------------------------------------------------
    def names(self) -> list[str]:
        return sorted(self._tables)

    def get(self, name: str) -> DataFrame:
        """The table; a ``__rid`` the session made is dense 0..n-1."""
        return self._dense(self._tables[name])

    def bind(self, name: str, df: DataFrame, *, undoable: bool = True) -> DataFrame:
        """Rebind ``name`` to ``df``; previous binding goes on the undo
        stack (the reference's ``update_data`` model reset, main.pyc:96-100,
        but reversible). Every COMPACT_EVERY undoable rebinds the overlay
        is compacted HERE, the one choke point of session edits and
        external ``bind(E.set_cell(...))`` calls alike, so a long edit
        session keeps a bounded plan without a ``compact()`` call."""
        gone = self._redo.pop(name, []) if undoable else []
        if undoable and name in self._tables:
            self._undo.setdefault(name, []).append(self._tables[name])
            depth = self._edit_depth.get(name, 0) + 1
            if depth >= self.COMPACT_EVERY:
                # the dense view is checkpointed: the gaps restart empty
                df, edited = E.compact(self._dense(df)), df
                if edited in self._ordinal:  # a checkpoint keeps the ordinals
                    self._ordinal[df] = False
                depth = 0
            self._edit_depth[name] = depth
        elif name not in self._tables:
            # a fresh binding starts a new overlay chain
            self._edit_depth[name] = 0
        # else: a NON-undoable rebind of an existing table (_pinned's
        # ordinal pin) derives from the current binding — the
        # uncompacted overlay chain carries forward, so the depth
        # counter must too.  Resetting here let edit streams that
        # interleave with_rid calls more often than every
        # COMPACT_EVERY edits defer auto-compaction indefinitely
        # (r6 ADVICE item 4).
        self._tables[name] = df
        self._register(name, df)
        self._release(gone)  # the discarded redo stack left history
        return df

    def _edit(self, name: str, df: DataFrame, gaps: Optional[Sequence[int]] = None) -> DataFrame:
        """Bind an edit; an edit of a trusted ``__rid`` stays trusted,
        with the binding's gaps, or with ``gaps`` where the edit sets
        them (a delete adds to them, a splice's dense result has none)."""
        cur = self._tables[name]
        if cur in self._ordinal and E.RID in df.columns:
            self._ordinal[df] = False
            gaps = self._gaps.get(cur) if gaps is None else gaps
            if gaps:
                self._gaps[df] = tuple(gaps)
        return self.bind(name, df)

    def _dense(self, df: DataFrame) -> DataFrame:
        """``df`` with its gaps closed by one re-rank, built on demand
        and never per edit. It is trusted, so binding it back does not
        re-pin."""
        gaps = self._gaps.get(df)
        if not gaps:
            return df
        dense = E.close_gaps(df, gaps)
        self._ordinal[dense] = False
        return dense

    def _register(self, name: str, df: DataFrame) -> None:
        """SQL sees the table as ``save`` writes it, without ``__rid``."""
        E.strip_rid(df).createOrReplaceTempView(name)

    def _release(self, gone: list[DataFrame]) -> None:
        """The one release rule: a pin ``_pinned`` made is unpersisted
        when its binding leaves history — unless a pin still in history,
        in any table of any session, has the same plan. Spark caches by
        plan, so one file opened as two tables and pinned in both, in
        one session or two, shares ONE cache entry. A frame the caller
        cached stays the caller's."""
        kept = [
            k
            for s in EditorSession._live
            for stack in (s._tables.values(), *s._undo.values(), *s._redo.values())
            for k in stack
            if s._ordinal.get(k)
        ]
        for df in gone:
            if self._ordinal.get(df) and not any(df.sameSemantics(k) for k in kept):
                df.unpersist()

    def _open(self, name: str, df: DataFrame) -> DataFrame:
        """A new window for ``df``: the table open as ``name`` closes."""
        if name in self._tables:
            self.drop_table(name)
        return self.bind(name, df)

    def drop_table(self, name: str) -> None:
        """Close a table: every binding in its history goes, and with
        them every ordinal pin no other table shares."""
        history = self._undo.pop(name, []) + self._redo.pop(name, [])
        if name in self._tables:
            history.append(self._tables.pop(name))
        self._release(history)
        # not catalog.dropTempView: that uncaches the view's plan, and
        # with it the pin of another table that shares the plan
        self.spark.sql(f"DROP VIEW IF EXISTS `{name.replace('`', '``')}`")

    # -- undo / redo -------------------------------------------------
    def _step(self, name: str, back: dict, forth: dict, verb: str) -> DataFrame:
        """Pop ``name``'s previous binding off ``back`` and push the
        current one onto ``forth`` — undo and redo are this one move
        in opposite directions."""
        stack = back.get(name) or []
        if not stack:
            raise IndexError(f"nothing to {verb} for table {name!r}")
        forth.setdefault(name, []).append(self._tables[name])
        df = stack.pop()
        self._tables[name] = df
        self._register(name, df)
        return df

    def undo(self, name: str) -> DataFrame:
        return self._step(name, self._undo, self._redo, "undo")

    def redo(self, name: str) -> DataFrame:
        return self._step(name, self._redo, self._undo, "redo")

    def can_undo(self, name: str) -> bool:
        return bool(self._undo.get(name))

    def can_redo(self, name: str) -> bool:
        return bool(self._redo.get(name))

    # -- convenience entry points (reference menu actions) -----------
    def load(self, name: str, path: str, fmt: Optional[str] = None) -> DataFrame:
        """File▸Load (main.pyc:237-240,307-324) — lazy scan, no eager
        read; relative paths resolve against settings.default_path
        (SettingsDialog parity, main.pyc:176-199). Loading over an open
        table replaces it: its undo history does not survive."""
        from parquet_editor_spark import io as peio

        return self._open(name, peio.load(self.spark, self.settings.resolve(path), fmt))

    def save(self, name: str, path: str, fmt: Optional[str] = None, **kw) -> None:
        """File▸Save (main.pyc:344-360).  The internal ``__rid``
        ordinal never reaches disk — the same contract as the
        reference's index=False writes (and preview's drop)."""
        from parquet_editor_spark import io as peio

        peio.save(
            E.strip_rid(self._tables[name]), self.settings.resolve(path), fmt, **kw
        )

    def new_dataframe(self, name: str, schema: str = "") -> DataFrame:
        """File▸New (``pd.DataFrame()``, main.pyc:285-287)."""
        df = self.spark.createDataFrame([], schema or "placeholder string")
        if not schema:
            df = df.drop("placeholder")
        return self._open(name, df)

    def pivot(self, name: str, index: str, columns: str, values: str, aggfunc: str) -> DataFrame:
        """Data▸Create Pivot Table (main.pyc:158-174,326-330): replaces the
        table with the pivot result, like the reference's ``update_data``."""
        from parquet_editor_spark.operators import query as q

        return self.bind(name, q.pivot_table(self._tables[name], index, columns, values, aggfunc))

    def sql(self, statement: str) -> DataFrame:
        """Query surface over all bound tables (registered as temp views)."""
        return self.spark.sql(statement)

    def plot(self, name: str, kind: str = "line", **kw) -> str:
        """Data▸Plot Data (PlotWindow, main.pyc:362-383) end-to-end:
        reduce server-side (stride/sample/bin — only a plot-sized frame
        reaches the driver) and render to a standalone SVG string with
        zero dependencies.  ``kind``: line | scatter | histogram.
        scatter needs ``x=``/``y=`` columns; histogram needs
        ``column=``."""
        from parquet_editor_spark.operators import plotting as P

        df = self._tables[name]
        if kind == "line":
            # x follows the editor's row order: the binding's ordinal
            # view, shared with preview and released with the binding;
            # the polyline joins points in frame order, so the
            # plot-sized frame is sorted by x on the driver
            pdf = (
                P.line_series(
                    self.with_rid(name), kw.get("cols"), kw.get("max_points", 1000)
                )
                .toPandas()
                .sort_values("x")
            )
            return P.render_line_svg(pdf, title=kw.get("title", name))
        if kind == "scatter":
            x, y = kw["x"], kw["y"]
            pdf = P.scatter_sample(
                df, x, y, kw.get("fraction", 0.01), kw.get("seed", 42)
            ).toPandas()
            return P.render_scatter_svg(
                pdf, x, y, title=kw.get("title", name)
            )
        if kind == "histogram":
            pdf = P.histogram_data(
                df, kw["column"], kw.get("bins", 20)
            ).toPandas()
            return P.render_histogram_svg(pdf, title=kw.get("title", name))
        raise ValueError(
            f"unknown plot kind {kind!r}: expected line|scatter|histogram"
        )

    # -- editor mutations (PandasModel.setData et al., SURVEY.md §2.3) --
    def _pinned(self, name: str) -> DataFrame:
        """The binding with pinned ordinals. A binding whose ``__rid``
        the session made is its own (with gaps, after deletes). Any
        other is rebound, not undoably, to a pinned copy with dense
        ordinals: in scan order, or in the order of a ``__rid`` it
        brings (a frame built from ``get()`` may have gaps in it)."""
        df = self._tables[name]
        if df in self._ordinal:
            return df
        df = E.ordered_rid(df, [E.RID]) if E.RID in df.columns else E.with_rid(df)
        self._ordinal[df] = True
        return self.bind(name, df, undoable=False)

    def with_rid(self, name: str) -> DataFrame:
        """The binding's ordinal view, dense 0..n-1: ``_pinned`` with
        its gaps closed."""
        return self._dense(self._pinned(name))

    def set_cell(self, name: str, rid: int, column: str, value) -> DataFrame:
        """Typed positional cell write (main.pyc:68-79); overlay
        compaction happens in ``bind`` every COMPACT_EVERY edits."""
        df = self._pinned(name)
        return self._edit(name, E.set_cell(df, _pinned_id(self._gaps.get(df, ()), rid), column, value))

    def delete_rows(self, name: str, rids) -> DataFrame:
        """Positional delete (main.pyc:122-126): the rows' pinned ids
        are dropped and join the binding's gaps."""
        rids = E.row_positions(rids)
        df = self._pinned(name)
        gaps = self._gaps.get(df, ())
        ids = [_pinned_id(gaps, p) for p in rids]
        return self._edit(name, E.drop_rows(df, ids), sorted((*gaps, *ids)))

    def cut_rows(self, name: str, rids) -> DataFrame:
        """Cut to the session clipboard (main.py:53-56)."""
        from parquet_editor_spark.boundary import stage_boundary

        rids = E.row_positions(rids)  # a negative one raises before a pin
        clip, rest = E.cut_rows(self.with_rid(name), rids)
        # snapshot the clip: pasted while still derived from the pre-cut
        # frame, each cut/paste pair would carry that frame twice and
        # the plan would double per pair; a snapshot also outlives the
        # table it was cut from
        self._clipboard = stage_boundary(clip)
        return self._edit(name, rest, ())

    def paste_rows(self, name: str, pos: int) -> DataFrame:
        """Paste the clipboard at a position (main.py:58-65)."""
        if self._clipboard is None:
            raise ValueError("clipboard is empty; cut rows first")
        if pos < 0:
            raise IndexError(f"paste position {pos} is negative")
        return self._edit(name, E.paste_rows(self.with_rid(name), self._clipboard, pos), ())

    def add_column(self, name: str, col: str, dtype: str = "string", pos=None, default=None) -> DataFrame:
        return self._edit(name, E.add_column(self._tables[name], col, dtype, pos, default))

    def remove_column(self, name: str, which) -> DataFrame:
        return self._edit(name, E.drop_column(self._tables[name], which))

    # -- preview (the Qt view's cell pull, main.pyc:58-66) -----------
    def preview(self, name: str, n: int = 100, offset: int = 0):
        """Paged display: the reference renders every visible cell via
        ``iloc`` (main.py:25-31); we collect only one page driver-side:
        rows ``[offset, offset+n)``, never ``filter(...).limit(n)`` (n
        arbitrary rows in partition order), its at most ``n`` rows
        ordered by ``__rid`` on the driver — a Spark ``orderBy`` would
        add a sampling job and a shuffle."""
        # EVERY page goes through the pinned ordinals — page 0 via bare
        # limit(n) would take n rows in physical partition order, which
        # can disagree with the ordinal order after a splice
        # (union-appended rows carry interleaved rids), duplicating or
        # dropping rows across page boundaries. The page's first and
        # last positions map to pinned ids around the gaps, so the
        # range filter reads the pinned leaf's own column and prunes
        # its cached batches; with the driver-side sort below it is one
        # Spark job
        df = self._pinned(name)
        gaps = self._gaps.get(df, ())
        lo, hi = _pinned_id(gaps, offset), _pinned_id(gaps, offset + n - 1)
        page = df.filter(f"__rid BETWEEN {lo} AND {hi}").toPandas()
        return (
            page.sort_values("__rid")
            .drop(columns="__rid")
            .reset_index(drop=True)
        )


def _pinned_id(gaps: Sequence[int], pos: int) -> int:
    """The pinned ``__rid`` of the row at position ``pos`` once the ids
    in ``gaps`` (sorted) are gone: the least id with ``pos`` surviving
    ids below it, found by stepping past the gaps up to it."""
    rid = pos
    while (nxt := pos + bisect.bisect_right(gaps, rid)) != rid:
        rid = nxt
    return rid

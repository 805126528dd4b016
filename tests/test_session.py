"""EditorSession: catalog, undo/redo (readme.md:12 parity — the
reference declares undo/redo but never implemented it, SURVEY.md §0.2),
load/save/pivot entry points."""

import pandas as pd
import pytest
from conftest import persisted_rdd_ids, pins_since

from parquet_editor_spark.session import EditorSession


@pytest.fixture()
def sess(spark):
    """A session whose tables are closed after the test, so no ordinal
    pin outlives it into a later test's persisted-RDD counts."""
    s = EditorSession(spark)
    yield s
    for name in s.names():
        s.drop_table(name)


def test_load_bind_sql(sess, sf_dir):
    sess.load("li", f"{sf_dir}/lineitem.parquet")
    assert "li" in sess.names()
    n = sess.sql("SELECT count(*) AS n FROM li").collect()[0]["n"]
    assert n == sess.get("li").count()


def test_undo_redo_roundtrip(sess, sf_dir):
    sess.load("t", f"{sf_dir}/region.parquet")
    before = sess.get("t").count()
    sess.bind("t", sess.get("t").limit(2))
    assert sess.get("t").count() == 2
    sess.undo("t")
    assert sess.get("t").count() == before
    sess.redo("t")
    assert sess.get("t").count() == 2
    assert sess.can_undo("t") and not sess.can_redo("t")


def test_undo_empty_raises(sess, sf_dir):
    sess.load("t", f"{sf_dir}/region.parquet", "parquet")
    with pytest.raises(IndexError):
        sess.undo("t")


def test_preview_tracks_undo_redo(sess, sf_dir):
    """Regression (ADVICE r4): undo()/redo() must invalidate the cached
    ordinal preview frame — previously preview() kept serving the
    pre-undo binding."""
    sess.load("t", f"{sf_dir}/region.parquet")
    full = len(sess.preview("t", n=100))  # warm the rid cache
    sess.bind("t", sess.get("t").limit(2))
    assert len(sess.preview("t", n=100)) == 2
    sess.undo("t")
    assert len(sess.preview("t", n=100)) == full
    sess.redo("t")
    assert len(sess.preview("t", n=100)) == 2


def test_drop_table_releases_rid_cache(sess, sf_dir):
    """Regression (ADVICE r4): drop_table() must release the ordinal
    pin a view took, not just the catalog entry. The pin is followed by
    RDD id: the ContextCleaner may unpersist another RDD meanwhile."""
    before = persisted_rdd_ids(sess.spark)
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.preview("t", n=3)  # pins the binding's ordinals
    pin = pins_since(sess.spark, before)
    assert len(pin) == 1
    sess.drop_table("t")
    assert not pin & persisted_rdd_ids(sess.spark)


def test_drop_table_releases_every_ordinal_pin(sess, sf_dir):
    """The with_rid pin stays held while edits derive from it, and
    closing the document returns the persisted-RDD count to its
    pre-load value: the pin sits in the undo history once edits follow
    it, and drop_table must release it from there too. Five edits stay
    below COMPACT_EVERY, whose localCheckpoint is not a persist and is
    not released by unpersist."""
    before = persisted_rdd_ids(sess.spark)
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.with_rid("t")
    sess.preview("t", n=3)  # a view of the pinned binding itself
    for k in range(5):
        sess.set_cell("t", k, "r_name", f"edit {k}")
    sess.preview("t", n=3)
    assert len(pins_since(sess.spark, before)) == 1
    sess.drop_table("t")
    assert not pins_since(sess.spark, before)


def test_redo_clear_releases_its_pin(sess, sf_dir):
    """A pinned binding on the redo stack leaves history when a new
    edit discards that stack, and its pin goes with it."""
    before = persisted_rdd_ids(sess.spark)
    sess.load("t", f"{sf_dir}/lineitem.parquet")
    sess.pivot("t", "l_returnflag", "l_linestatus", "l_extendedprice", "mean")
    sess.with_rid("t")
    assert len(pins_since(sess.spark, before)) == 1
    sess.undo("t")
    sess.add_column("t", "note")
    assert not pins_since(sess.spark, before)
    sess.drop_table("t")
    assert not pins_since(sess.spark, before)


@pytest.mark.parametrize("explicit_with_rid", [False, True], ids=["implicit", "explicit"])
def test_view_then_edit_keeps_its_pin(sess, sf_dir, explicit_with_rid):
    """A first view pins the binding's ordinals in the binding itself,
    so an edit that follows, with or without a ``with_rid`` call in
    between, derives from that pin: later views run one job and the
    session holds one persisted RDD."""
    before = persisted_rdd_ids(sess.spark)
    sess.load("t", f"{sf_dir}/lineitem.parquet")
    first = sess.preview("t", n=5)
    if explicit_with_rid:
        sess.with_rid("t")
    sess.set_cell("t", 1, "l_returnflag", "E")
    page, jobs = _jobs(sess.spark, f"pes-test-view-first-{explicit_with_rid}", lambda: sess.preview("t", n=5))
    assert jobs == 1
    assert len(pins_since(sess.spark, before)) == 1
    assert page["l_returnflag"].tolist() == [first["l_returnflag"][0], "E", *first["l_returnflag"][2:]]
    sess.drop_table("t")
    assert not pins_since(sess.spark, before)


def test_identical_plans_share_one_pin(sess, sf_dir):
    """One file opened as two tables and pinned in both shares one
    cache entry; closing one table keeps the other's pin, so its views
    stay one job, and closing both releases it."""
    before = persisted_rdd_ids(sess.spark)
    for name in ("a", "b"):
        sess.load(name, f"{sf_dir}/lineitem.parquet")
        sess.with_rid(name)
    assert len(pins_since(sess.spark, before)) == 1
    sess.drop_table("a")
    assert len(pins_since(sess.spark, before)) == 1
    _, jobs = _jobs(sess.spark, "pes-test-view-shared", lambda: sess.preview("b", n=5))
    assert jobs == 1
    sess.drop_table("b")
    assert not pins_since(sess.spark, before)


@pytest.mark.parametrize("first", ["a", "b"])
def test_a_pin_shared_across_sessions_goes_with_its_last_holder(spark, sf_dir, first):
    """Two sessions that view one file share one cache entry; the pin
    stays while either session still has the table open, in whichever
    order they close it."""
    sessions = {"a": EditorSession(spark), "b": EditorSession(spark)}
    before = persisted_rdd_ids(spark)
    try:
        for s in sessions.values():
            s.load("t", f"{sf_dir}/lineitem.parquet")
            s.preview("t", n=5)
        assert len(pins_since(spark, before)) == 1
        sessions[first].drop_table("t")
        assert len(pins_since(spark, before)) == 1
        last = sessions["b" if first == "a" else "a"]
        assert len(last.preview("t", n=5)) == 5
        last.drop_table("t")
        assert not pins_since(spark, before)
    finally:
        for s in sessions.values():
            for name in s.names():
                s.drop_table(name)


@pytest.mark.parametrize("pin", ["view", "with_rid"])
def test_frame_built_from_the_table_gets_dense_ordinals(sess, sf_dir, pin):
    """SQL never sees ``__rid``, and a frame built from ``get()`` keeps
    the old ordinals with gaps in them: bound back, it is re-ranked in
    their order, so its first page is full and row 0 is its first row."""
    sess.load("t", f"{sf_dir}/region.parquet")
    if pin == "view":
        sess.preview("t", n=5)
    else:
        sess.with_rid("t")
    assert "__rid" not in sess.sql("SELECT * FROM t").columns
    sess.bind("t", sess.get("t").filter("r_regionkey >= 3"))
    assert sess.preview("t", n=2)["r_regionkey"].tolist() == [3, 4]
    sess.set_cell("t", 0, "r_name", "EDITED")
    assert sess.preview("t")["r_name"].tolist() == ["EDITED", "MIDDLE EAST"]


def test_reload_closes_the_old_history(sess, sf_dir):
    """Loading over an open table replaces it as a new window would:
    the old history, and the pin a view took in it, go."""
    before = persisted_rdd_ids(sess.spark)
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.preview("t", n=2)
    sess.load("t", f"{sf_dir}/nation.parquet")
    assert not pins_since(sess.spark, before)
    assert len(sess.preview("t", n=100)) == 25
    assert len(pins_since(sess.spark, before)) == 1
    assert not sess.can_undo("t")


def test_release_leaves_a_frame_the_caller_cached(sess, spark):
    """Only pins the session made are released: a frame the caller
    cached and bound stays cached after its table is closed."""
    df = spark.range(0, 20, 1, 2).toDF("v").cache()
    df.count()
    sess.bind("t", df)
    sess.bind("t", df.limit(5))
    sess.drop_table("t")
    assert df.is_cached and df.storageLevel.useMemory
    df.unpersist()


def test_new_edit_invalidates_redo(sess, sf_dir):
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.bind("t", sess.get("t").limit(3))
    sess.undo("t")
    sess.bind("t", sess.get("t").limit(1))  # new edit after undo
    assert not sess.can_redo("t")


def test_pivot_replaces_table(sess, sf_dir):
    sess.load("li", f"{sf_dir}/lineitem.parquet")
    sess.pivot("li", "l_returnflag", "l_linestatus", "l_extendedprice", "mean")
    assert set(sess.get("li").columns) == {"l_returnflag", "F", "O"}
    sess.undo("li")
    assert "l_quantity" in sess.get("li").columns


def test_new_dataframe_and_preview(sess, sf_dir):
    sess.new_dataframe("empty", "a int, b string")
    assert sess.get("empty").count() == 0
    sess.load("r", f"{sf_dir}/region.parquet")
    page = sess.preview("r", n=3)
    assert len(page) == 3


def test_preview_with_offset(sess, sf_dir):
    sess.load("li", f"{sf_dir}/lineitem.parquet")
    page0 = sess.preview("li", n=5)
    page2 = sess.preview("li", n=5, offset=2)
    assert len(page0) == 5 and len(page2) == 5
    # offset pages shift by exactly the offset in scan order
    assert page0.iloc[2].tolist() == page2.iloc[0].tolist()


def test_save_roundtrip(sess, sf_dir, tmp_path):
    sess.load("r", f"{sf_dir}/region.parquet")
    sess.save("r", str(tmp_path / "r.parquet"))
    sess.load("r2", str(tmp_path / "r.parquet"))
    assert sess.get("r2").count() == sess.get("r").count()


def test_sql_joins_across_session_tables(sess, sf_dir):
    sess.load("n", f"{sf_dir}/nation.parquet")
    sess.load("r", f"{sf_dir}/region.parquet")
    rows = sess.sql(
        """SELECT r.r_name, count(*) AS n
           FROM n JOIN r ON n.n_regionkey = r.r_regionkey
           GROUP BY r.r_name ORDER BY r.r_name"""
    ).collect()
    assert sum(r["n"] for r in rows) == sess.get("n").count()
    assert len(rows) == 5


def test_sql_sees_rebound_state(sess, sf_dir):
    """SQL view tracks the catalog: after an edit/rebind the view
    reflects the new frame, after undo the old one."""
    sess.load("t", f"{sf_dir}/region.parquet")
    full = sess.sql("SELECT count(*) AS n FROM t").collect()[0]["n"]
    sess.bind("t", sess.get("t").limit(1))
    assert sess.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 1
    sess.undo("t")
    assert sess.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == full


def test_sql_insert_like_pipeline(sess, sf_dir):
    """CTAS-style: bind the result of a SQL statement as a new table."""
    sess.load("li", f"{sf_dir}/lineitem.parquet")
    agg = sess.sql(
        "SELECT l_returnflag, sum(l_quantity) AS q FROM li GROUP BY 1"
    )
    sess.bind("summary", agg)
    assert sess.sql("SELECT count(*) AS n FROM summary").collect()[0]["n"] == 3


class TestSessionSettings:
    """SettingsDialog parity (main.pyc:176-199): one persisted key,
    defaultPath, with a save/load round-trip and dialog-style path
    resolution."""

    def test_round_trip(self, tmp_path):
        from parquet_editor_spark import SessionSettings

        f = str(tmp_path / "settings.json")
        s = SessionSettings(path=f)
        assert s.default_path == ""
        s.default_path = "/data/parquet"
        s.save()
        again = SessionSettings.load(path=f)
        assert again.default_path == "/data/parquet"

    def test_unknown_keys_preserved(self, tmp_path):
        import json
        from parquet_editor_spark import SessionSettings

        f = str(tmp_path / "settings.json")
        json.dump({"defaultPath": "/a", "futureKey": 7}, open(f, "w"))
        s = SessionSettings.load(path=f)
        s.default_path = "/b"
        s.save()
        data = json.load(open(f))
        assert data == {"defaultPath": "/b", "futureKey": 7}

    def test_missing_file_is_defaults(self, tmp_path):
        from parquet_editor_spark import SessionSettings

        s = SessionSettings.load(path=str(tmp_path / "nope.json"))
        assert s.default_path == ""

    def test_resolve(self, tmp_path):
        from parquet_editor_spark import SessionSettings

        s = SessionSettings(default_path="/base", path=str(tmp_path / "s.json"))
        assert s.resolve("t.parquet") == "/base/t.parquet"
        assert s.resolve("/abs/t.parquet") == "/abs/t.parquet"
        s.default_path = ""
        assert s.resolve("t.parquet") == "t.parquet"

    def test_session_load_uses_default_path(self, spark, sf_dir, tmp_path):
        from parquet_editor_spark import EditorSession, SessionSettings

        s = SessionSettings(default_path=sf_dir, path=str(tmp_path / "s.json"))
        sess = EditorSession(spark, settings=s)
        df = sess.load("region", "region.parquet")  # relative path
        assert df.count() == 5


def test_preview_pages_are_deterministic_ordinal_ranges(spark, sf_dir):
    """r3 bug fix: preview(offset=k) must return rows [k, k+n) of the
    bound order, not n arbitrary rows passing the offset filter (the
    old filter+limit shape grabbed rows in partition order)."""
    from parquet_editor_spark import EditorSession

    sess = EditorSession(spark)
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # select EXACTLY the ordered columns: (l_orderkey, l_linenumber)
        # is non-unique in the sampled fixture, so rows tying on the
        # order key must be identical for pages to be reproducible
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .repartition(8)  # scramble physical order vs logical order
    )
    sess.bind("li", li)
    page1 = sess.preview("li", n=10, offset=20)
    page2 = sess.preview("li", n=10, offset=20)
    assert page1.equals(page2)
    # and the page really is the ordinal range of the bound order
    from parquet_editor_spark.operators.edit import with_rid

    want = (
        with_rid(sess.get("li"))
        .filter("__rid >= 20 AND __rid < 30")
        .orderBy("__rid")
        .drop("__rid")
        .toPandas()
    )
    assert page1.equals(want)


def test_preview_page0_follows_ordinals_after_splice(spark):
    """Page 0 must follow __rid ordinals, not physical partition
    order — after a paste splice the two orders disagree."""
    from parquet_editor_spark import session as S
    from parquet_editor_spark.operators import edit as E

    sess = S.EditorSession(spark)
    base = E.with_rid(
        spark.createDataFrame([(i, f"r{i}") for i in range(6)], "k long, s string")
    )
    clip = E.with_rid(
        spark.createDataFrame([(100, "pasted")], "k long, s string")
    )
    spliced = E.paste_rows(base, clip, 2)
    sess.bind("t", spliced)
    page0 = sess.preview("t", n=4, offset=0)
    assert list(page0["s"]) == ["r0", "r1", "pasted", "r2"]
    page1 = sess.preview("t", n=4, offset=4)
    assert list(page1["s"]) == ["r3", "r4", "r5"]


def _jobs(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran, counted by
    job group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_page_view_and_save_run_one_job_each(sess, sf_dir, tmp_path):
    """After the ordinal pin is built, a page view and a save each run
    a single Spark job: both read the pinned ``__rid`` frame instead of
    re-running the offset join, and the page is ordered on the driver
    instead of by a sampled global sort."""
    sess.load("t", f"{sf_dir}/lineitem.parquet")
    sess.with_rid("t")
    for k in range(3):
        sess.set_cell("t", k, "l_returnflag", f"E{k}")
    page, jobs = _jobs(sess.spark, "pes-test-view", lambda: sess.preview("t", n=20, offset=1))
    assert jobs == 1
    assert list(page["l_returnflag"][:2]) == ["E1", "E2"]
    _, jobs = _jobs(sess.spark, "pes-test-save", lambda: sess.save("t", str(tmp_path / "t.parquet")))
    assert jobs == 1
    sess.drop_table("t")


def test_cut_paste_pairs_grow_the_plan_linearly(sess, spark):
    """The clipboard is a snapshot taken at cut time. A clip still
    derived from the pre-cut frame carried that frame into the paste a
    second time, so the page-view plan doubled with every uncompacted
    cut/paste pair."""
    sess.bind("t", spark.range(0, 40, 1, 4).toDF("v"))
    sess.with_rid("t")
    want = list(range(40))
    lens = {}
    for k in range(1, 7):
        sess.cut_rows("t", [3, 7])
        sess.paste_rows("t", 0)
        want = [want[3], want[7]] + [v for i, v in enumerate(want) if i not in (3, 7)]
        page = sess.get("t").filter("__rid >= 10 AND __rid < 20")
        lens[k] = len(page._jdf.queryExecution().optimizedPlan().toString())
    assert lens[6] < 6 * lens[3], lens
    assert sess.preview("t", n=40)["v"].tolist() == want
    sess.drop_table("t")


def test_line_plot_follows_editor_row_order(sess, spark):
    """The line plot's x is the editor's row ordinal: after a cut and a
    paste it lists rows in the order the page view shows them."""
    from parquet_editor_spark.operators import plotting as P

    sess.bind("t", spark.createDataFrame([(float(i),) for i in range(10)], "v double"))
    sess.with_rid("t")
    sess.cut_rows("t", [8, 9])
    sess.paste_rows("t", 0)
    shown = sess.preview("t", n=10)["v"].tolist()
    assert shown == [8.0, 9.0] + [float(i) for i in range(8)]
    series = P.line_series(sess.get("t"), ["v"]).toPandas().sort_values("x")
    assert series["x"].tolist() == list(range(10))
    assert series["v"].tolist() == shown
    want = P.render_line_svg(pd.DataFrame({"x": range(10), "v": shown}), title="t")
    assert sess.plot("t", kind="line", cols=["v"]) == want
    sess.drop_table("t")


def test_line_plots_pin_nothing_past_the_binding(sess, spark):
    """Line plots reuse the binding's ordinal view: repeated plots add
    no persisted RDD, and closing the table returns the count to its
    value before the table was opened."""
    before = persisted_rdd_ids(spark)
    sess.bind("t", spark.range(0, 50, 1, 4).selectExpr("id * 1.5 AS v"))
    for _ in range(3):
        sess.plot("t", kind="line", cols=["v"])
    assert len(pins_since(spark, before)) == 1
    sess.preview("t", n=5)
    assert len(pins_since(spark, before)) == 1
    sess.drop_table("t")
    assert not pins_since(spark, before)
    sess.bind("u", spark.range(0, 50, 1, 4).selectExpr("id * 1.5 AS v"))
    sess.with_rid("u")
    for _ in range(3):
        sess.plot("u", kind="line", cols=["v"])
    assert len(pins_since(spark, before)) == 1
    sess.drop_table("u")
    assert not pins_since(spark, before)


@pytest.mark.parametrize(
    "op",
    ["delete_rows", "cut_rows", "paste_rows", "session.delete_rows", "session.cut_rows", "session.paste_rows"],
)
def test_negative_position_raises_without_a_job(sess, spark, op):
    """A negative row position raises IndexError before any Spark job.
    The ordinal arithmetic took -1 for a row below the first: nothing
    was deleted and every ``__rid`` moved down by one, so row 0 left
    every page view while it stayed in saves."""
    from parquet_editor_spark.operators import edit as E

    rows = spark.createDataFrame([(float(i),) for i in range(5)], "v double")
    sess.bind("t", rows)
    if op == "session.paste_rows":
        sess.cut_rows("t", [0])
    pinned = E.with_rid(rows)
    call = {
        "delete_rows": lambda: E.delete_rows(pinned, [-1]),
        "cut_rows": lambda: E.cut_rows(pinned, [2, -1]),
        "paste_rows": lambda: E.paste_rows(pinned, pinned, -1),
        "session.delete_rows": lambda: sess.delete_rows("t", [-1]),
        "session.cut_rows": lambda: sess.cut_rows("t", [2, -1]),
        "session.paste_rows": lambda: sess.paste_rows("t", -1),
    }[op]
    _, jobs = _jobs(spark, f"pes-test-negative-{op}", lambda: pytest.raises(IndexError, call))
    assert jobs == 0
    want = [float(i) for i in range(1 if op == "session.paste_rows" else 0, 5)]
    assert sess.preview("t")["v"].tolist() == want
    pinned.unpersist()


def _viewed(monkeypatch, sess, name, **kw):
    """A page view and the frame it collected."""
    seen = []
    cls = type(sess.spark.range(1))
    collect = cls.toPandas
    with monkeypatch.context() as m:
        m.setattr(cls, "toPandas", lambda df: seen.append(df) or collect(df))
        page = sess.preview(name, **kw)
    return page, seen[-1]


def test_page_view_after_deletes_filters_the_pinned_leaf(sess, spark, monkeypatch):
    """Session deletes only drop rows, so a page view after k of them
    filters the pinned leaf's own ``__rid``: its optimised plan holds
    no re-rank lambda, has the same shape for every k apart from the
    dropped-id predicates, and its ``__rid`` range reaches the cached
    scan, where it prunes batches."""
    import re

    shapes = {}
    for k in (0, 2, 4):
        sess.bind("t", spark.range(0, 400, 1, 4).toDF("v"))
        sess.with_rid("t")
        want = list(range(400))
        for j in range(k):
            rids = [3 + j, 50 + 7 * j, 200]
            sess.delete_rows("t", rids)
            want = [v for i, v in enumerate(want) if i not in rids]
        page, frame = _viewed(monkeypatch, sess, "t", n=20, offset=100)
        assert page["v"].tolist() == want[100:120]
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "lambda" not in plan and "transform" not in plan, plan
        # expression ids, plan ids and literals aside, the plan drops
        # only the conjuncts that list each delete's ids
        shape = re.sub(r"NOT __rid#0L IN \([0,]*\)", "%", re.sub(r"\d+", "0", plan))
        shapes[k] = re.sub(r"[()]", "", shape).replace("% AND ", "")
        scan = frame._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"InMemoryTableScan \[__rid#\d+L, v#\d+L\], \[[^\]]*\(__rid#\d+L >= \d+\), \(__rid#\d+L <=? \d+\)\]", scan
        ), scan
        sess.drop_table("t")
    assert shapes[0] == shapes[2] == shapes[4], shapes

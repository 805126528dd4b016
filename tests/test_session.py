"""EditorSession: catalog, undo/redo (readme.md:12 parity — the
reference declares undo/redo but never implemented it, SURVEY.md §0.2),
load/save/pivot entry points."""

import pytest

from parquet_editor_spark.session import EditorSession


@pytest.fixture()
def sess(spark):
    return EditorSession(spark)


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
    """Regression (ADVICE r4): drop_table() must release the persisted
    with_rid base, not just the catalog entry."""
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.preview("t", n=3)  # builds + persists the rid frame
    assert "t" in sess._rid_frames
    sess.drop_table("t")
    assert "t" not in sess._rid_frames


def test_drop_table_releases_every_ordinal_pin(sess, sf_dir):
    """The with_rid pin stays held while edits derive from it, and
    closing the document returns the persisted-RDD count to its
    pre-load value: the pin sits in the undo history once edits follow
    it, and drop_table must release it from there too. Five edits stay
    below COMPACT_EVERY, whose localCheckpoint is not a persist and is
    not released by unpersist."""
    jsc = sess.spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    sess.load("t", f"{sf_dir}/region.parquet")
    sess.with_rid("t")
    sess.preview("t", n=3)  # a view of the pinned binding itself
    for k in range(5):
        sess.set_cell("t", k, "r_name", f"edit {k}")
    sess.preview("t", n=3)
    assert jsc.getPersistentRDDs().size() == before + 1
    sess.drop_table("t")
    assert jsc.getPersistentRDDs().size() == before


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

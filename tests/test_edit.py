"""Pandas-differential tests for the editor core (SURVEY.md §5.2):
run the reference's v1/v2 semantics in pandas, ours in Spark, compare
collected frames. Covers rid maintenance, typed cell writes with the
v2 rejection contract (main.pyc:68-79), positional row/column ops and
the cut/paste splice (main.py:53-65)."""

import pandas as pd
import pytest
from conftest import persisted_rdds

from parquet_editor_spark.operators import edit as E


@pytest.fixture()
def pdf():
    return pd.DataFrame(
        {
            "i": [10, 20, 30, 40, 50, 60],
            "f": [1.5, 2.5, 3.5, 4.5, 5.5, 6.5],
            "b": [True, False, True, False, True, False],
            "s": ["a", "b", "c", "d", "e", "f"],
        }
    )


@pytest.fixture()
def sdf(spark, pdf):
    return E.with_rid(spark.createDataFrame(pdf))


def collect(sdf):
    out = sdf.toPandas().sort_values("__rid").reset_index(drop=True)
    return out.drop(columns=["__rid"])


def test_rid_dense_and_scan_ordered(sdf, pdf):
    rids = [r["__rid"] for r in sdf.select("__rid").collect()]
    assert sorted(rids) == list(range(len(pdf)))
    pd.testing.assert_frame_equal(collect(sdf), pdf)


def test_rid_no_global_sort_in_plan(sdf):
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no single-partition row_number window
    assert "Exchange SinglePartition" not in plan


@pytest.mark.parametrize(
    "make, ids",
    [
        (lambda spark: spark.createDataFrame([], "id long"), []),
        # 8 partitions over 10 ids, 4 rows left: most partitions empty
        (lambda spark: spark.range(0, 10, 1, 8).filter("id % 3 = 0"), [0, 3, 6, 9]),
    ],
    ids=["empty", "empty_partitions"],
)
def test_rid_dense_with_empty_partitions(spark, make, ids):
    """Dense 0..n-1 ordinals in scan order when the frame or some of
    its partitions hold no rows, served from the pinned ``__rid``
    frame itself."""
    out = E.with_rid(make(spark))
    got = sorted((r["__rid"], r["id"]) for r in out.collect())
    assert got == list(enumerate(ids))
    assert out.storageLevel.useMemory
    out.unpersist()


def test_with_rid_pins_one_frame_released_by_drop_table(spark):
    """``with_rid`` leaves exactly one persisted RDD, the finished
    ``__rid`` frame (the id pin it builds from is released), and
    closing the document releases that one."""
    from parquet_editor_spark.session import EditorSession

    before = persisted_rdds(spark)
    out = E.with_rid(spark.range(0, 100, 1, 4).toDF("v"))
    assert persisted_rdds(spark) == before + 1
    assert out.storageLevel.useMemory
    out.unpersist()
    assert persisted_rdds(spark) == before
    sess = EditorSession(spark)
    sess.bind("t", spark.range(0, 100, 1, 4).toDF("v"))
    sess.with_rid("t")
    assert persisted_rdds(spark) == before + 1
    sess.drop_table("t")
    assert persisted_rdds(spark) == before


def test_ordered_rid_follows_keys(spark, pdf):
    shuffled = pdf.sample(frac=1.0, random_state=7)
    df = E.ordered_rid(spark.createDataFrame(shuffled), ["i"])
    got = df.toPandas().sort_values("__rid")
    assert list(got["i"]) == sorted(pdf["i"])
    assert sorted(got["__rid"]) == list(range(len(pdf)))


def test_set_cell_coerces_like_v2(sdf, pdf):
    # v2: dtype.type("99") on int column → 99 (main.pyc:70-79)
    got = collect(E.set_cell(sdf, 2, "i", "99"))
    want = pdf.copy()
    want.iloc[2, want.columns.get_loc("i")] = int("99")
    pd.testing.assert_frame_equal(got, want)


def test_set_cell_rejects_like_v2(sdf):
    # v2: int("3.5") raises ValueError → edit rejected (main.pyc:75-79)
    with pytest.raises(E.CellEditRejected):
        E.set_cell(sdf, 0, "i", "3.5")
    with pytest.raises(E.CellEditRejected):
        E.set_cell(sdf, 0, "f", "abc")
    with pytest.raises(E.CellEditRejected):
        E.set_cell(sdf, 0, "b", "maybe")
    # float("3") succeeds (SURVEY.md §7d)
    assert E.set_cell(sdf, 0, "f", "3") is not None


def test_set_cell_bool_checkbox_values(sdf, pdf):
    # BooleanDelegate semantics (main.pyc:24-42)
    got = collect(E.set_cell(sdf, 1, "b", "true"))
    want = pdf.copy()
    want.iloc[1, want.columns.get_loc("b")] = True
    pd.testing.assert_frame_equal(got, want)


def test_delete_row_positional(sdf, pdf):
    got = collect(E.delete_rows(sdf, [2]))
    want = pdf.drop(pdf.index[2]).reset_index(drop=True)  # main.pyc:122-126
    pd.testing.assert_frame_equal(got, want)


def test_cut_paste_splice_matches_v1(sdf, pdf):
    # v1 semantics: cut rows {1,3}, paste at position 0 (main.py:53-65)
    clip, rest = E.cut_rows(sdf, [1, 3])
    got = collect(E.paste_rows(rest, clip, 0))
    clip_p = pdf.iloc[[1, 3]]
    rest_p = pdf.drop(pdf.index[[1, 3]])
    want = pd.concat([clip_p, rest_p]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_paste_middle(sdf, pdf):
    clip, rest = E.cut_rows(sdf, [0])
    got = collect(E.paste_rows(rest, clip, 3))
    rest_p = pdf.drop(pdf.index[[0]]).reset_index(drop=True)
    want = pd.concat(
        [rest_p.iloc[:3], pdf.iloc[[0]], rest_p.iloc[3:]]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_uncompacted_rerank_plans_grow_linearly(spark):
    """Each delete/paste re-rank binds the incoming ``__rid`` once, so
    a page filter pushed down through k uncompacted re-ranks grows
    linearly in k. A re-rank naming ``__rid`` twice (delete) or three
    times (paste) made the optimised plan grow geometrically."""
    from pyspark.sql import functions as F

    base = E.with_rid(spark.range(40).toDF("i"))
    clip, _ = E.cut_rows(base, [5])

    def page_plan_len(k):
        df = base
        for _ in range(k):
            df = E.delete_rows(df, [1, 3])
        for _ in range(k):
            df = E.paste_rows(df, clip, 2)
        page = df.filter((F.col(E.RID) >= 10) & (F.col(E.RID) < 20))
        return len(page._jdf.queryExecution().optimizedPlan().toString())

    l0, l2, l4 = page_plan_len(0), page_plan_len(2), page_plan_len(4)
    assert l4 - l2 <= 2 * (l2 - l0), (l0, l2, l4)


def test_add_column_typed_defaults(sdf, pdf):
    # bool→False, int→0, float→0.0, else None (main.pyc:104-111)
    out = E.add_column(sdf, "nb", "bool", pos=1)
    got = collect(out)
    assert list(got.columns) == ["i", "nb", "f", "b", "s"]
    assert got["nb"].eq(False).all()
    out2 = collect(E.add_column(sdf, "ni", "int64", pos=0))
    assert out2["ni"].eq(0).all() and list(out2.columns)[0] == "ni"
    out3 = collect(E.add_column(sdf, "nf", "float64"))
    assert out3["nf"].eq(0.0).all() and list(out3.columns)[-1] == "nf"
    out4 = E.add_column(sdf, "ns", "string")
    assert collect(out4)["ns"].isna().all()


def test_drop_column_by_position(sdf):
    # drop positional column 1 == 'f' (main.pyc:116-120)
    assert "f" not in E.drop_column(sdf, 1).columns
    assert "s" not in E.drop_column(sdf, "s").columns


def test_rename_and_cast(sdf):
    out = E.cast_column(E.rename_column(sdf, "i", "j"), "j", "double")
    assert dict(out.dtypes)["j"] == "double"


def test_insert_rows(sdf, pdf):
    got = collect(
        E.insert_rows(sdf, [{"i": 70, "f": 7.5, "b": True, "s": "g"}], 2)
    )
    want = pd.concat(
        [pdf.iloc[:2], pd.DataFrame([{"i": 70, "f": 7.5, "b": True, "s": "g"}]), pdf.iloc[2:]]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_insert_rows_pins_nothing(spark, sdf, pdf):
    """The inserted rows carry driver-side ordinals, so repeated
    inserts add no persisted RDD, and the rows land where they did
    when each call pinned an ordinal copy of the inserted rows."""
    before = persisted_rdds(spark)
    rows = [{"i": 70, "f": 7.5, "b": True, "s": "g"}, {"i": 80, "f": None, "b": False, "s": "h"}]
    out = sdf
    for pos in (2, 0, 9):
        out = E.insert_rows(out, rows, pos)
    assert persisted_rdds(spark) == before
    want = pdf.astype({"f": "float64"})
    for pos in (2, 0, 9):
        want = pd.concat([want.iloc[:pos], pd.DataFrame(rows), want.iloc[pos:]]).reset_index(drop=True)
    pd.testing.assert_frame_equal(collect(out), want)


def test_selection_summary(sdf, pdf):
    # main.py:107-123: selected-rows status summary
    row = E.selection_summary(sdf, [0, 2, 4]).collect()[0]
    sel = pdf.iloc[[0, 2, 4]]
    assert row["n_selected"] == 3
    assert row["sum_i"] == sel["i"].sum()
    assert row["avg_f"] == round(sel["f"].mean(), 4)


def test_get_cell_and_compact(sdf, pdf):
    assert E.get_cell(sdf, 4, "s") == "e"
    edited = sdf
    for k in range(5):
        edited = E.set_cell(edited, k, "i", k * 100)
    edited = E.compact(edited)
    got = collect(edited)
    want = pdf.copy()
    for k in range(5):
        want.iloc[k, 0] = k * 100
    pd.testing.assert_frame_equal(got, want)


def test_set_cell_rejects_bad_timestamp_eagerly(spark):
    """An invalid timestamp literal must raise CellEditRejected NOW —
    not poison the bound table with a lazily-throwing ANSI cast."""
    import datetime

    from parquet_editor_spark.operators import edit as E
    from parquet_editor_spark.operators.edit import CellEditRejected

    df = E.with_rid(
        spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1),)], "ts timestamp"
        )
    )
    with pytest.raises(CellEditRejected):
        E.set_cell(df, 0, "ts", "garbage")
    # valid literal still lands
    out = E.set_cell(df, 0, "ts", "2025-02-03 04:05:06")
    assert out.collect()[0]["ts"] == datetime.datetime(2025, 2, 3, 4, 5, 6)

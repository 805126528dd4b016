"""Plot-feeding data-prep tests (SURVEY.md §2.5): server-side
reduction shapes + the gated matplotlib render."""

import pytest
from conftest import persisted_rdds

from parquet_editor_spark.operators import plotting as PL


def test_line_series_downsamples(lineitem):
    out = PL.line_series(
        lineitem, ["l_quantity"], max_points=100,
        order=["l_orderkey", "l_linenumber"],
    )
    n = out.count()
    assert 0 < n <= 101
    assert out.columns == ["x", "l_quantity"]


def test_line_series_small_table_untouched(spark):
    df = spark.createDataFrame([(float(i),) for i in range(7)], "v double")
    out = PL.line_series(df, ["v"], max_points=100)
    assert out.count() == 7


@pytest.mark.parametrize("order", [None, ["v"]], ids=["scan_order", "order"])
def test_line_series_leaves_nothing_persisted(spark, order):
    """Outside the session, the ordinal line_series builds is released
    once the strided rows are taken: repeated calls on distinct frames
    leave the persisted-RDD count where it was, with the same series."""
    before = persisted_rdds(spark)
    for k in range(3):
        df = spark.range(0, 40, 1, 4).selectExpr(f"CAST((39 - id) * {k + 1} AS DOUBLE) AS v")
        got = PL.line_series(df, ["v"], max_points=10, order=order).toPandas()
        # x is the scan position (v descending) or the rank by v
        at = (lambda x: x) if order else (lambda x: 39 - x)
        assert sorted(got["x"]) == list(range(0, 40, 4))
        assert got.sort_values("x")["v"].tolist() == [at(x) * (k + 1.0) for x in range(0, 40, 4)]
    assert persisted_rdds(spark) == before


def test_line_series_rejects_non_numeric(spark):
    df = spark.createDataFrame([("a",)], "s string")
    with pytest.raises(ValueError, match="no numeric columns"):
        PL.line_series(df)


def test_scatter_sample_seeded_deterministic(lineitem):
    a = PL.scatter_sample(lineitem, "l_discount", "l_tax", 0.1).count()
    b = PL.scatter_sample(lineitem, "l_discount", "l_tax", 0.1).count()
    assert a == b > 0


def test_histogram_data_auto_width(lineitem):
    h = PL.histogram_data(lineitem, "l_quantity", bins=10).toPandas()
    assert h["n"].sum() == lineitem.count()
    assert len(h) <= 12  # bins + boundary slop


def test_render_gated_without_matplotlib(lineitem):
    pdf = PL.line_series(
        lineitem, ["l_quantity"], max_points=10,
        order=["l_orderkey", "l_linenumber"],
    ).toPandas()
    try:
        import matplotlib  # noqa: F401

        has_mpl = True
    except ImportError:
        has_mpl = False
    if has_mpl:
        assert PL.render_line(pdf) is not None
    else:
        with pytest.raises(NotImplementedError, match="matplotlib"):
            PL.render_line(pdf)

def test_render_line_svg_end_to_end(spark, sf_dir):
    """The plot surface works end-to-end without matplotlib: reduce
    server-side, render the reduced frame to valid standalone SVG."""
    import xml.etree.ElementTree as ET

    from parquet_editor_spark.operators import plotting as P

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    reduced = P.line_series(
        li, ["l_quantity", "l_extendedprice"], max_points=50
    ).toPandas()
    svg = P.render_line_svg(reduced, title="lineitem")
    root = ET.fromstring(svg)  # well-formed XML
    assert root.tag.endswith("svg")
    polylines = [e for e in root.iter() if e.tag.endswith("polyline")]
    assert len(polylines) == 2  # one per series
    assert all(len(p.get("points", "")) > 0 for p in polylines)


def test_render_histogram_svg(spark, sf_dir):
    import xml.etree.ElementTree as ET

    from parquet_editor_spark.operators import plotting as P

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pdf = P.histogram_data(li, "l_quantity", bins=10).toPandas()
    svg = P.render_histogram_svg(pdf)
    root = ET.fromstring(svg)
    bars = [e for e in root.iter() if e.tag.endswith("rect")]
    assert len(bars) >= 10  # background + one bar per bin


def test_render_svg_guards(spark):
    import pandas as pd
    import pytest as pt

    from parquet_editor_spark.operators import plotting as P

    with pt.raises(ValueError, match="nothing to plot"):
        P.render_line_svg(pd.DataFrame({"x": []}))
    with pt.raises(ValueError, match="nothing to plot"):
        P.render_histogram_svg(pd.DataFrame({"bin": [], "n": []}))


def test_session_plot_all_kinds(spark, sf_dir):
    """The reference's Data>Plot menu end-to-end through the session:
    every kind reduces server-side and renders valid SVG."""
    import xml.etree.ElementTree as ET

    from parquet_editor_spark.session import EditorSession

    sess = EditorSession(spark)
    sess.load("li", f"{sf_dir}/lineitem.parquet")
    for kind, kw in (
        ("line", {"cols": ["l_quantity"], "max_points": 40}),
        ("scatter", {"x": "l_quantity", "y": "l_extendedprice",
                     "fraction": 0.05}),
        ("histogram", {"column": "l_quantity", "bins": 8}),
    ):
        svg = sess.plot("li", kind, **kw)
        assert ET.fromstring(svg).tag.endswith("svg")
    import pytest as pt

    with pt.raises(ValueError, match="unknown plot kind"):
        sess.plot("li", "pie")


def test_render_svg_escapes_markup_and_skips_null_points():
    """ADVICE r5: titles/column names containing XML metacharacters must
    be escaped (session.plot defaults title to the table name), and
    null x/y values must be dropped, not crash float()."""
    import xml.etree.ElementTree as ET

    import pandas as pd

    from parquet_editor_spark.operators import plotting as P

    pdf = pd.DataFrame({"x": [1.0, None, 3.0], "a<&b": [1.0, 2.0, None]})
    svg = P.render_line_svg(pdf, title="t<&>1")
    root = ET.fromstring(svg)  # must be well-formed despite < and &
    texts = [e.text for e in root.iter() if e.tag.endswith("text")]
    assert "t<&>1" in texts and "a<&b" in texts

    sc = pd.DataFrame({"x": [1.0, None, 3.0], "y": [None, 2.0, 4.0]})
    svg2 = P.render_scatter_svg(sc, "x", "y", title="s&s")
    root2 = ET.fromstring(svg2)
    circles = [e for e in root2.iter() if e.tag.endswith("circle")]
    assert len(circles) == 1  # only the (3.0, 4.0) point survives

    import pytest as pt

    allnull = pd.DataFrame({"x": [None], "y": [1.0]})
    with pt.raises(ValueError, match="null"):
        P.render_scatter_svg(allnull, "x", "y")
    with pt.raises(ValueError, match="null"):
        P.render_line_svg(allnull.rename(columns={"y": "v"}), x="x")

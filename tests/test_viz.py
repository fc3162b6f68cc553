"""Chart family (operators/viz.py — reference graph_ext.py VisualDF).

matplotlib is absent in this environment, so tests assert on Plot.spec —
the fully-computed bounded chart data — which is the module's contract;
figure() is exercised only for its ImportError guard.
"""

import math

import pytest

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators.viz import VisualDF, to_visual


@pytest.fixture(scope="module")
def vdf(spark):
    rows = [(i, float(i % 10), float(i * 2 % 7), "c%d" % (i % 3), "v%d" % (i % 25))
            for i in range(200)]
    return VisualDF(spark.createDataFrame(
        rows, ["x", "y1", "y2", "cls", "cat"]))


def test_linechart_sorted_and_capped(vdf):
    p = vdf.linechart("x", ["y1", "y2"])
    assert p.kind == "line" and p.spec["y"] == ["y1", "y2"]
    xs = p.spec["data"]["x"].tolist()
    assert xs == sorted(xs) and len(xs) == 200
    assert p.spec["ylabel"] is None  # two ycols -> no implicit label
    one = vdf.linechart("x", "y1")
    assert one.spec["ylabel"] == "y1"


def test_linechart_multi_class_pivots_and_sums_duplicates(spark):
    d = VisualDF(spark.createDataFrame(
        [(1, 2.0, "a"), (1, 3.0, "a"), (1, 7.0, "b"), (2, 5.0, "a")],
        ["x", "y", "k"]))
    p = d.linechart_multi_class("x", "y", "k")
    pdf = p.spec["data"].set_index("x")
    # duplicates sum-aggregated (reference graph_ext.py:150-156); missing -> 0
    assert pdf.loc[1, "a"] == 5.0 and pdf.loc[1, "b"] == 7.0
    assert pdf.loc[2, "a"] == 5.0 and pdf.loc[2, "b"] == 0.0


def test_scatterplot_class_guard_raises(vdf):
    with pytest.raises(ValueError, match="class column"):
        vdf.scatterplot("y1", "y2", class_col="cat", max_class_col=10)
    p = vdf.scatterplot("y1", "y2", class_col="cls")
    assert p.spec["hue_order"] == ["c0", "c1", "c2"]
    assert len(p.spec["data"]) == 200


def test_scatterplot_downsamples_non_numeric_x(vdf):
    p = vdf.scatterplot("cat", "y1", max_rows=5)
    assert p.spec["data"]["cat"].nunique() <= 5


def test_histogram_distributed_bins(vdf):
    p = vdf.histogram("y1", bins=5)
    assert not p.spec["categorical"]
    edges = p.spec["edges"]
    assert len(edges) == 6 and edges[0] == 0.0 and edges[-1] == 9.0
    assert p.spec["data"]["count"].sum() == 200
    # binwidth overrides bins
    pw = vdf.histogram("y1", binwidth=3.0)
    assert len(pw.spec["edges"]) == 4


def test_histogram_categorical_fallback(vdf):
    p = vdf.histogram("cls")
    assert p.spec["categorical"]
    assert p.spec["data"]["count"].sum() == 200


def test_ecdf_quantile_grid(vdf):
    p = vdf.ecdf("y1", class_col="cls")
    assert set(p.spec["curves"]) == {"c0", "c1", "c2"}
    cur = p.spec["curves"]["c0"]
    assert len(cur["x"]) == len(cur["p"]) == 201
    assert cur["x"] == sorted(cur["x"])  # monotone quantile grid
    assert cur["p"][0] == 0.0 and cur["p"][-1] == 1.0


def test_density_curves_integrate_to_one(vdf):
    p = vdf.density(["y1"])
    cur = p.spec["curves"][(None, "y1")]
    dx = cur["x"][1] - cur["x"][0]
    mass = sum(cur["y"]) * dx
    assert math.isclose(mass, 1.0, rel_tol=0.05)


def test_barchart_mean_estimator(spark):
    d = VisualDF(spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], ["x", "y"]))
    p = d.barchart("x", "y")
    pdf = p.spec["data"].set_index("x")
    assert pdf.loc["a", "y"] == 2.0 and pdf.loc["b", "y"] == 10.0
    assert pdf.loc["a", "y__n"] == 2


def test_boxplot_five_number_summary(spark):
    vals = [float(v) for v in range(1, 101)]
    d = VisualDF(spark.createDataFrame([("g", v) for v in vals], ["x", "y"]))
    p = d.boxplot("x", "y")
    s = p.spec["stats"][0]
    assert s["med"] == 50.5 and s["q1"] == 25.75 and s["q3"] == 75.25
    assert s["whislo"] >= 1.0 and s["whishi"] <= 100.0 and s["n"] == 100


def test_corr_heatmap_matches_duckdb(vdf):
    import duckdb

    p = vdf.corr_heatmap(["y1", "y2", "x"])
    pdf = vdf.df.select("x", "y1", "y2").toPandas()
    exp = duckdb.sql("SELECT corr(y1, y2) FROM pdf").fetchone()[0]
    got = p.spec["matrix"][0][1]
    assert math.isclose(got, exp, rel_tol=1e-9)
    assert p.spec["matrix"][1][0] == got  # symmetric
    assert all(p.spec["matrix"][i][i] == 1.0 for i in range(3))


def test_corr_heatmap_guards(vdf):
    with pytest.raises(ValueError, match="columns is too high"):
        vdf.corr_heatmap(["x", "y1", "y2"], max_rows=2)
    with pytest.raises(ValueError, match="Non numeric"):
        vdf.corr_heatmap(["y1", "cls"])


def test_pairplot_bounded_sample(vdf):
    p = vdf.pairplot(["x", "y1"], class_col="cls")
    assert p.spec["cols"] == ["x", "y1"]
    assert len(p.spec["data"]) <= 2000
    assert p.spec["hue_order"] == ["c0", "c1", "c2"]


def test_plot_chains_and_figure_guard(vdf):
    p = vdf.linechart("x", "y1")
    # reference-style chaining: the Plot re-exposes chart methods
    p2 = p.histogram("y1", bins=4)
    assert p2.kind == "histogram"
    try:
        import matplotlib  # noqa: F401

        assert p.figure() is not None
    except ImportError:
        with pytest.raises(ImportError, match="matplotlib"):
            p.figure()


def test_to_visual_upgrade(spark):
    from omigo_data_analytics_spark import OmigoDF

    base = OmigoDF(spark.createDataFrame([(1, 2.0)], ["a", "b"]))
    v = to_visual(base)
    assert isinstance(v, VisualDF)
    # OmigoDF ops on a VisualDF stay visual (chainable into charts)
    assert isinstance(v.select(["a", "b"]), VisualDF)


def test_linechart_multi_class_null_class_and_bounded_driver(spark):
    """NULL class values must keep their series (coalesced to '' before
    the pivot) and the pivoted frame is limited in Spark, not pandas."""
    df = spark.createDataFrame(
        [(1, None, 2.0), (1, "a", 3.0), (2, None, 4.0), (2, "a", 5.0)],
        ["x", "cls", "y"])
    p = to_visual(OmigoDF(df)).linechart_multi_class("x", ycol="y",
                                                     class_col="cls")
    pdf = p.spec["data"]
    assert list(pdf[""]) == [2.0, 4.0]     # NULL-class series survived
    assert list(pdf["a"]) == [3.0, 5.0]


def test_boxplot_and_ecdf_skip_all_null_groups(spark):
    df = spark.createDataFrame(
        [("g1", "1.0"), ("g1", "2.0"), ("g2", "junk"), ("g2", "nan?")],
        ["cat", "v"])
    p = to_visual(OmigoDF(df)).boxplot("cat", "v")
    labels = [s["label"] for s in p.spec["stats"]]
    assert labels == ["g1"]               # all-null group skipped, no crash
    e = to_visual(OmigoDF(df)).ecdf("v", class_col="cat")
    assert set(e.spec["curves"]) == {"g1"}


def test_numeric_view_dotted_name(spark):
    """The numeric view of a column (histogram's value range, the
    numeric sniff) quotes the name: a '.' is not a struct access."""
    v = VisualDF(spark.createDataFrame(
        [(float(i), float(i % 4)) for i in range(20)]).toDF("x.t", "y.v"))
    assert v.histogram("y.v", bins=4).kind == "histogram"

"""Chart family parity (reference omigo_ext/graph_ext.py:10-43 ``VisualDF``:
linechart, linechart_multi_class, scatterplot, histogram, ecdf, density,
barchart, boxplot, corr_heatmap, pairplot).

Spark-first split: everything data-shaped — the reference's guard caps
(``max_rows``, ``max_class_col``), class-cardinality checks, downsampling,
sorting, and the chart statistics themselves (histogram bins, ECDF grid,
box-plot five-number summaries, bar estimates, the correlation matrix) —
is computed as distributed DataFrame plans; only a bounded result (bin
counts, grid points, k×k matrix, capped samples) reaches the driver. The
reference instead pulls every row into pandas/seaborn (graph_ext.py:103-120
``col_as_float_array``), which cannot work at scale.

Rendering is a separate, import-guarded concern: matplotlib/seaborn are not
in this environment, so every chart method returns a :class:`Plot` whose
``.spec`` carries the fully-computed bounded plot data (assertable headless,
and exactly what a render needs); ``.figure()`` materializes a matplotlib
Figure when the backend exists and raises ImportError otherwise. ``Plot``
also re-exposes the chart methods against the post-guard data, preserving
the reference's chainable ``xdf.linechart(...).histogram(...)`` style
(graph_ext.py returns a VisualDF for the same reason).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..core.colutils import qcol

from ..core.compat import warn
from ..core.dataframe import OmigoDF

_ECDF_GRID = 201        # quantile-grid points per class for ecdf()
_DENSITY_GRID = 200     # evaluation grid for density()
_MAX_POINTS = 10_000    # driver-side point cap for row-level charts


def _numcol(c: str):
    """Numeric view of a column: numeric dtypes pass through, strings go
    through try_cast (ANSI mode — plain cast throws on junk)."""
    return qcol(c).try_cast("double")


def _is_numeric(xdf: OmigoDF, col: str) -> bool:
    """is_float_col parity (reference utils.py): every non-empty value
    parses as a number. Spark-side: one small aggregate, not a driver scan."""
    dt = dict(xdf.df.dtypes)[col]
    if dt in ("string", "binary"):
        r = xdf.df.select(
            F.count(F.when((qcol(col).isNotNull()) & (qcol(col) != ""), 1)
                    ).alias("n"),
            F.count(_numcol(col)).alias("k")).collect()[0]
        return r["n"] == r["k"] and r["n"] > 0
    return dt not in ("date", "timestamp", "boolean") and not dt.startswith(
        ("array", "map", "struct"))


def _class_guard(xdf: OmigoDF, class_col: str | None, max_class_col: int) -> list[str]:
    """The reference's class-cardinality cap (graph_ext.py:189-191 etc.):
    >= max_class_col distinct values raises. Returns the sorted hue order."""
    if class_col is None:
        return []
    vals = [r[0] for r in
            xdf.df.select(class_col).distinct().limit(max_class_col + 1).collect()]
    if len(vals) >= max_class_col:
        raise ValueError(
            f"Number of class column values is more than {max_class_col}: "
            f"{len(vals)}. Probably not a class column. Try max_class_col")
    return sorted("" if v is None else str(v) for v in vals)


def _cap_points(xdf: OmigoDF, n_cols: int, cap: int = _MAX_POINTS) -> OmigoDF:
    """Bound what reaches the driver for row-level charts. The reference
    collects everything; at 100 TB that is the one thing a chart must not
    do, so row-level marks uniform-sample down to ~cap points (warned)."""
    n = xdf.num_rows()
    if n > cap:
        warn(f"chart data has {n} rows; uniform-sampling to ~{cap} points "
             f"for display")
        xdf = xdf.sample(cap / n, seed=42)
    return xdf


class Plot:
    """Result of a chart call: ``spec`` (bounded, fully-computed plot data),
    lazy ``figure()`` (matplotlib, if installed), and the chart methods of
    the post-guard data for reference-style chaining."""

    def __init__(self, spec: dict, xdf: OmigoDF):
        self.spec = spec
        self.xdf = VisualDF(xdf.df) if not isinstance(xdf, VisualDF) else xdf
        self._fig = None

    @property
    def kind(self) -> str:
        return self.spec["kind"]

    def figure(self):
        if self._fig is None:
            self._fig = _render(self.spec)
        return self._fig

    def __getattr__(self, name):
        # delegate chart methods / OmigoDF API to the underlying data
        return getattr(self.xdf, name)


class VisualDF(OmigoDF):
    """OmigoDF + the reference's chart surface (graph_ext.py:10-43)."""

    def _wrap(self, df) -> "VisualDF":
        return VisualDF(df)

    # ------------------------------------------------------------- linechart
    def linechart(self, xcol, ycols, ylabel=None, title=None, subplots=False,
                  xfigsize=25, yfigsize=5, props=None) -> Plot:
        """graph_ext.py:95-121: sort by xcol, one line per ycol."""
        ycols = self._resolve(ycols)
        if ylabel is None and len(ycols) == 1:
            ylabel = ycols[0]
        data = self.select([xcol] + ycols)
        data = _cap_points(data, 1 + len(ycols))
        pdf = (data.df
               .select(data.df[xcol],
                       *[_numcol(c).alias(c) for c in ycols])
               .orderBy(xcol).toPandas())
        spec = {"kind": "line", "x": xcol, "y": ycols, "data": pdf,
                "ylabel": ylabel, "title": title or ylabel,
                "subplots": subplots, "figsize": (xfigsize, yfigsize),
                "props": props or {}}
        return Plot(spec, data)

    def linechart_multi_class(self, xcol, ycol, class_col, ylabel=None,
                              title=None, subplots=False, xfigsize=25,
                              yfigsize=5, props=None,
                              max_class_col=100) -> Plot:
        """graph_ext.py:123-188: one line per class value. Duplicate
        (xcol, class) rows are sum-aggregated like the reference; the
        per-class column fan-out is a single Spark pivot instead of the
        reference's per-class filter + N map-joins."""
        if ycol is None or class_col is None:
            raise ValueError("linechart_multi_class: ycol and class_col are required")
        hue = _class_guard(self, class_col, max_class_col)
        # coalesce BEFORE the pivot: _class_guard maps a NULL class to ''
        # but pivot keys on the raw cast where NULL stays NULL — the NULL
        # class's rows would vanish and a bogus all-zero '' series plot
        base = self.df.select(
            qcol(xcol),
            F.coalesce(qcol(class_col).cast("string"), F.lit(""))
            .alias(class_col),
            _numcol(ycol).alias(ycol))
        # reference aggregates duplicates with sumfloat (graph_ext.py:150-156);
        # pivot's agg does the same in one pass, 0 fill matching default_val="0"
        wide = (base.groupBy(xcol).pivot(class_col, hue).sum(ycol)
                .na.fill(0.0, hue).orderBy(xcol))
        # bound in Spark, not pandas: toPandas().head() would materialize
        # the full frame on the driver first
        pdf = wide.limit(_MAX_POINTS).toPandas()
        spec = {"kind": "line", "x": xcol, "y": hue, "data": pdf,
                "ylabel": ylabel or ycol, "title": title or ylabel or ycol,
                "subplots": subplots, "figsize": (xfigsize, yfigsize),
                "props": props or {}}
        return Plot(spec, self)

    # ----------------------------------------------------------- scatterplot
    def scatterplot(self, xcol, ycol, class_col=None, title=None, xfigsize=25,
                    yfigsize=5, max_rows=20, max_class_col=10,
                    props=None) -> Plot:
        """graph_ext.py:189-230: class-cardinality guard; non-numeric axes
        downsample to max_rows distinct x values."""
        hue = _class_guard(self, class_col, max_class_col)
        data = self
        if max_rows < data.num_rows() and (
                not _is_numeric(data, xcol) or not _is_numeric(data, ycol)):
            warn(f"Scatter plot on non numeric column(s). Doing downsampling "
                 f"for clean display to max_rows: {max_rows}")
            data = data.sample_column_by_max_uniq_values(xcol, max_rows)
        cols = [xcol, ycol] + ([class_col] if class_col else [])
        data = _cap_points(data.select(cols), len(cols))
        pdf = data.df.orderBy(xcol).toPandas()
        spec = {"kind": "scatter", "x": xcol, "y": [ycol], "hue": class_col,
                "hue_order": hue or None, "data": pdf,
                "title": title or f"{xcol} vs {ycol}",
                "figsize": (xfigsize, yfigsize), "props": props or {}}
        return Plot(spec, data)

    # ------------------------------------------------------------- histogram
    def histogram(self, xcol, class_col=None, bins=10, title=None,
                  binwidth=None, xfigsize=25, yfigsize=5, max_class_col=10,
                  props=None) -> Plot:
        """graph_ext.py:232-269. The binning itself is distributed: one
        min/max aggregate fixes the edges, one hash-aggregate counts per
        (class, bucket) — only bins×classes rows reach the driver (seaborn
        would need every value in memory)."""
        hue = _class_guard(self, class_col, max_class_col)
        df = self.df
        if not _is_numeric(self, xcol):
            # categorical fallback: per-value counts, top bins by frequency
            gcols = ([qcol(class_col).cast("string").alias(class_col)]
                     if class_col else [])
            pdf = (df.groupBy(qcol(xcol).cast("string").alias(xcol), *gcols)
                   .count().orderBy(F.desc("count")).limit(max(bins, 50) * 4)
                   .toPandas())
            spec = {"kind": "histogram", "x": xcol, "hue": class_col,
                    "hue_order": hue or None, "categorical": True,
                    "data": pdf, "title": title,
                    "figsize": (xfigsize, yfigsize), "props": props or {}}
            return Plot(spec, self)
        v = _numcol(xcol)
        r = df.select(F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
        lo, hi = r["lo"], r["hi"]
        if lo is None:
            raise ValueError(f"histogram: no numeric values in {xcol}")
        if binwidth is not None:
            bins = max(1, int(math.ceil((hi - lo) / binwidth))) if hi > lo else 1
        width = (hi - lo) / bins if hi > lo else 1.0
        bucket = F.least(F.floor((v - F.lit(lo)) / F.lit(width)),
                         F.lit(bins - 1)).cast("int")
        gcols = ([qcol(class_col).cast("string").alias(class_col)]
                 if class_col else [])
        counts = (df.where(v.isNotNull())
                  .groupBy(bucket.alias("bucket"), *gcols)
                  .count().orderBy("bucket").toPandas())
        edges = [lo + i * width for i in range(bins + 1)]
        spec = {"kind": "histogram", "x": xcol, "hue": class_col,
                "hue_order": hue or None, "categorical": False,
                "edges": edges, "data": counts, "title": title,
                "figsize": (xfigsize, yfigsize), "props": props or {}}
        return Plot(spec, self)

    # ------------------------------------------------------------------ ecdf
    def ecdf(self, xcol, class_col=None, title=None, xfigsize=25, yfigsize=5,
             max_class_col=10, props=None) -> Plot:
        """graph_ext.py:271-305. Computed as an exact distributed quantile
        grid (percentile aggregate, 201 points per class) — the inverse of
        the ECDF — instead of shipping every value to seaborn."""
        hue = _class_guard(self, class_col, max_class_col)
        df = self.df
        v = _numcol(xcol)
        qs = [i / (_ECDF_GRID - 1) for i in range(_ECDF_GRID)]
        agg = F.percentile(v, F.lit(qs)).alias("xs")
        if class_col:
            rows = (df.groupBy(qcol(class_col).cast("string").alias(class_col))
                    .agg(agg).collect())
            # percentile over an all-NULL group returns NULL — skip the
            # curve instead of crashing list(None)
            curves = {r[class_col]: {"x": list(r["xs"]), "p": qs}
                      for r in rows if r["xs"] is not None}
        else:
            rows = df.select(agg).collect()
            curves = ({None: {"x": list(rows[0]["xs"]), "p": qs}}
                      if rows and rows[0]["xs"] is not None else {})
        spec = {"kind": "ecdf", "x": xcol, "hue": class_col,
                "hue_order": hue or None, "curves": curves, "title": title,
                "figsize": (xfigsize, yfigsize), "props": props or {}}
        return Plot(spec, self)

    # --------------------------------------------------------------- density
    def density(self, ycols, class_col=None, title=None, xfigsize=25,
                yfigsize=5, props=None, max_class_col=10) -> Plot:
        """graph_ext.py:307-341 (seaborn kdeplot). Gaussian KDE over a
        bounded uniform sample (Scott's-rule bandwidth), evaluated on a
        fixed grid driver-side — the sample, not the table, crosses the
        boundary."""
        import numpy as np

        ycols = self._resolve(ycols)
        hue = _class_guard(self, class_col, max_class_col)
        cols = ycols + ([class_col] if class_col else [])
        data = _cap_points(self.select(cols), len(cols))
        pdf = data.df.select(
            *[_numcol(c).alias(c) for c in ycols],
            *([qcol(class_col).cast("string").alias(class_col)]
              if class_col else [])).toPandas()
        curves = {}
        groups = ([(h, pdf[pdf[class_col] == h]) for h in hue]
                  if class_col else [(None, pdf)])
        for h, part in groups:
            for c in ycols:
                xs = part[c].dropna().to_numpy(dtype=float)
                if xs.size < 2:
                    continue
                bw = xs.std(ddof=1) * xs.size ** (-1 / 5) or 1.0
                grid = np.linspace(xs.min() - 3 * bw, xs.max() + 3 * bw,
                                   _DENSITY_GRID)
                dens = np.exp(-0.5 * ((grid[:, None] - xs[None, :]) / bw) ** 2
                              ).sum(axis=1) / (xs.size * bw * math.sqrt(2 * math.pi))
                curves[(h, c)] = {"x": grid.tolist(), "y": dens.tolist()}
        spec = {"kind": "density", "y": ycols, "hue": class_col,
                "hue_order": hue or None, "curves": curves, "title": title,
                "figsize": (xfigsize, yfigsize), "props": props or {}}
        return Plot(spec, data)

    # -------------------------------------------------------------- barchart
    def barchart(self, xcol, ycol, class_col=None, title=None, xfigsize=25,
                 yfigsize=5, max_rows=20, max_class_col=10,
                 props=None) -> Plot:
        """graph_ext.py:343-382. seaborn's barplot estimator (mean per
        category ± sd) is computed as one distributed aggregate; x-axis
        cardinality is capped like the reference."""
        hue = _class_guard(self, class_col, max_class_col)
        data = self
        nx = data.df.select(xcol).distinct().count()
        if nx > max_rows:
            warn(f"Number of categorical values on x axis is too high: {nx}. "
                 f"Doing downsampling for clean display to max_rows: {max_rows}")
            data = data.sample_column_by_max_uniq_values(xcol, max_rows)
        df = data.df
        gcols = [qcol(xcol).cast("string").alias(xcol)] + (
            [qcol(class_col).cast("string").alias(class_col)] if class_col else [])
        v = _numcol(ycol)
        pdf = (df.groupBy(*gcols)
               .agg(F.avg(v).alias(ycol), F.stddev(v).alias(f"{ycol}__sd"),
                    F.count(v).alias(f"{ycol}__n"))
               .orderBy(*([class_col, xcol] if class_col else [xcol]))
               .toPandas())
        spec = {"kind": "bar", "x": xcol, "y": [ycol], "hue": class_col,
                "hue_order": hue or None, "data": pdf, "title": title,
                "figsize": (xfigsize, yfigsize), "props": props or {}}
        return Plot(spec, data)

    # --------------------------------------------------------------- boxplot
    def boxplot(self, xcol, ycol, class_col=None, title=None, xfigsize=25,
                yfigsize=5, max_rows=20, max_class_col=10,
                props=None) -> Plot:
        """graph_ext.py:383-418. Five-number summaries per (x, class) in one
        percentile aggregate; whiskers are the Tukey fences clipped to the
        observed min/max. Only groups×7 numbers reach the driver."""
        hue = _class_guard(self, class_col, max_class_col)
        data = self
        nx = data.df.select(xcol).distinct().count()
        if nx > max_rows:
            warn(f"Number of categorical values on x axis is too high: {nx}. "
                 f"Doing downsampling for clean display to max_rows: {max_rows}")
            data = data.sample_column_by_max_uniq_values(xcol, max_rows)
        df = data.df
        v = _numcol(ycol)
        gcols = [qcol(xcol).cast("string").alias(xcol)] + (
            [qcol(class_col).cast("string").alias(class_col)] if class_col else [])
        rows = (df.groupBy(*gcols)
                .agg(F.percentile(v, F.lit([0.25, 0.5, 0.75])).alias("q"),
                     F.min(v).alias("lo"), F.max(v).alias("hi"),
                     F.count(v).alias("n"))
                .orderBy(*([class_col, xcol] if class_col else [xcol]))
                .collect())
        stats = []
        for r in rows:
            if r["q"] is None:
                continue  # all values null/non-numeric in this group
            q1, med, q3 = r["q"]
            iqr = q3 - q1
            stats.append({
                "label": r[xcol] if not class_col else f"{r[xcol]}/{r[class_col]}",
                xcol: r[xcol],
                **({class_col: r[class_col]} if class_col else {}),
                "q1": q1, "med": med, "q3": q3,
                "whislo": max(r["lo"], q1 - 1.5 * iqr),
                "whishi": min(r["hi"], q3 + 1.5 * iqr),
                "n": r["n"], "fliers": []})
        spec = {"kind": "box", "x": xcol, "y": [ycol], "hue": class_col,
                "hue_order": hue or None, "stats": stats, "title": title,
                "figsize": (xfigsize, yfigsize), "props": props or {}}
        return Plot(spec, data)

    # ---------------------------------------------------------- corr_heatmap
    def corr_heatmap(self, cols, title=None, xfigsize=25, yfigsize=5,
                     max_rows=6, props=None) -> Plot:
        """graph_ext.py:420-452. The k×k Pearson matrix is one distributed
        aggregate of k(k-1)/2 corr() expressions — the reference pulls all
        rows and calls pandas .corr()."""
        cols = self._resolve(cols)
        if len(cols) > max_rows:
            raise ValueError(f"Number of columns is too high: {len(cols)}. "
                             f"Max allowed: {max_rows}. Try max_rows")
        for c in cols:
            if not _is_numeric(self, c):
                raise ValueError(f"Non numeric column found for correlation: {c}")
        df = self.df
        exprs = []
        for i, a in enumerate(cols):
            for b in cols[i + 1:]:
                exprs.append(F.corr(_numcol(a), _numcol(b))
                             .alias(f"{a}|{b}"))
        row = df.select(*exprs).collect()[0] if exprs else {}
        matrix = [[1.0 if i == j else None for j in range(len(cols))]
                  for i in range(len(cols))]
        for i, a in enumerate(cols):
            for j in range(i + 1, len(cols)):
                val = row[f"{a}|{cols[j]}"]
                matrix[i][j] = matrix[j][i] = val
        spec = {"kind": "heatmap", "cols": cols, "matrix": matrix,
                "title": title, "figsize": (xfigsize, yfigsize),
                "props": {"annot": True, **(props or {})}}
        return Plot(spec, self)

    # -------------------------------------------------------------- pairplot
    def pairplot(self, cols, class_col=None, title=None, xfigsize=5,
                 yfigsize=5, max_rows=6, max_class_col=6, props=None) -> Plot:
        """graph_ext.py:454-500: scatter-matrix over ≤max_rows numeric
        columns; data bounded by a uniform sample."""
        cols = self._resolve(cols)
        hue = _class_guard(self, class_col, max_class_col)
        if len(cols) > max_rows:
            raise ValueError(f"Number of columns is too high: {len(cols)}. "
                             f"Max allowed: {max_rows}. Try max_rows")
        for c in cols:
            if not _is_numeric(self, c):
                raise ValueError(f"Non numeric column found for correlation: {c}")
        sel = cols + ([class_col] if class_col else [])
        data = _cap_points(self.select(sel), len(sel), cap=2000)
        pdf = data.df.select(
            *[_numcol(c).alias(c) for c in cols],
            *([qcol(class_col).cast("string").alias(class_col)]
              if class_col else [])).toPandas()
        spec = {"kind": "pairplot", "cols": cols, "hue": class_col,
                "hue_order": hue or None, "data": pdf, "title": title,
                "figsize": (xfigsize, yfigsize),
                "aspect": xfigsize / yfigsize, "props": props or {}}
        return Plot(spec, data)


def to_visual(xdf: OmigoDF) -> VisualDF:
    """Upgrade an OmigoDF to the chart surface (reference wraps via the
    VisualDF subclass the same way)."""
    return VisualDF(xdf.df if isinstance(xdf, OmigoDF) else xdf)


# --------------------------------------------------------------- rendering
def _render(spec: dict):
    """Materialize a matplotlib Figure from a spec. Import-guarded — the
    analytics container ships no display stack; specs are the testable
    contract and this function is the thin translation layer."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError as e:  # pragma: no cover - env without matplotlib
        raise ImportError(
            "matplotlib is not installed; Plot.spec carries the computed "
            "chart data") from e

    kind = spec["kind"]
    fig, ax = plt.subplots(figsize=spec.get("figsize", (8, 5)))
    if spec.get("title"):
        ax.set_title(spec["title"])
    if kind == "line":
        for c in spec["y"]:
            ax.plot(spec["data"][spec["x"]], spec["data"][c], label=c)
        ax.legend()
    elif kind == "scatter":
        pdf, hue = spec["data"], spec.get("hue")
        if hue:
            for h in spec["hue_order"]:
                part = pdf[pdf[hue].astype(str) == h]
                ax.scatter(part[spec["x"]], part[spec["y"][0]], label=h)
            ax.legend()
        else:
            ax.scatter(pdf[spec["x"]], pdf[spec["y"][0]])
    elif kind == "histogram":
        pdf = spec["data"]
        if spec.get("categorical"):
            ax.bar(pdf[spec["x"]].astype(str), pdf["count"])
        else:
            edges = spec["edges"]
            for _, r in pdf.iterrows():
                b = int(r["bucket"])
                ax.bar(edges[b], r["count"], width=edges[b + 1] - edges[b],
                       align="edge")
    elif kind == "ecdf":
        for label, cur in spec["curves"].items():
            ax.step(cur["x"], cur["p"], where="post", label=label)
        if spec.get("hue"):
            ax.legend()
    elif kind == "density":
        for (h, c), cur in spec["curves"].items():
            ax.plot(cur["x"], cur["y"], label=f"{c}" + (f" [{h}]" if h else ""))
        ax.legend()
    elif kind == "bar":
        pdf = spec["data"]
        ax.bar(pdf[spec["x"]].astype(str), pdf[spec["y"][0]])
    elif kind == "box":
        ax.bxp(spec["stats"], showfliers=False)
    elif kind == "heatmap":
        im = ax.imshow(spec["matrix"], vmin=-1, vmax=1, cmap="coolwarm")
        ax.set_xticks(range(len(spec["cols"])), spec["cols"], rotation=45)
        ax.set_yticks(range(len(spec["cols"])), spec["cols"])
        fig.colorbar(im, ax=ax)
        if spec["props"].get("annot"):
            for i, rowv in enumerate(spec["matrix"]):
                for j, v in enumerate(rowv):
                    if v is not None:
                        ax.text(j, i, f"{v:.2f}", ha="center", va="center")
    elif kind == "pairplot":
        plt.close(fig)
        k = len(spec["cols"])
        fig, axes = plt.subplots(k, k, figsize=(spec["figsize"][0] * k,
                                                spec["figsize"][1] * k))
        pdf = spec["data"]
        for i, a in enumerate(spec["cols"]):
            for j, b in enumerate(spec["cols"]):
                sub = axes[i][j] if k > 1 else axes
                if i == j:
                    sub.hist(pdf[a].dropna())
                else:
                    sub.scatter(pdf[b], pdf[a], s=4)
    else:  # pragma: no cover
        raise ValueError(f"unknown plot kind: {kind}")
    return fig

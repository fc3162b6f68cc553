"""Exact edit-distance similarity join (ed-join) — entity resolution /
fuzzy dedup for name-like columns.

``fuzzy_pairs`` (self-join), ``fuzzy_join`` (two tables) and
``dedup_fuzzy`` filter, then verify: one candidate core
(``_ed_candidates``) emits key pairs that MAY be within edit distance d,
and exact ``levenshtein`` (a codegen JVM expression) keeps the true ones.
The join stays EXACT as long as the candidates are a superset of the
true pairs. The core unions three routes, each a hash equi-join:

1. **Rare-gram join.** POSITIONAL q-gram count filtering (Gravano et al.
   2001, VLDB "Approximate String Joins in a Database (Almost) for
   Free"): strings within edit distance d share at least
   ``max(|a|,|b|) - q + 1 - q*d`` q-grams at positions within d of each
   other — a NECESSARY condition. The gram stream is ~len(s) (gram,
   position) rows per string, joined on gram equality with a
   position-window predicate; the count filter shrinks the candidates
   before the verify. Only strings with ``len >= q`` emit grams: Spark's
   ``sequence(1, 0)`` steps BACKWARD to [1, 0], so a shorter string would
   emit two junk grams and build a quadratic bucket on exactly the
   strings route 3 already covers.
2. **Unsafe x unsafe length buckets** — the skew guard's fallback, below.
3. **Short-string length buckets.** Pairs whose longer string is shorter
   than q*(d+1) can have a vacuous count bound, so those strings pair by
   length alone (``|len(a)-len(b)| <= d`` is already necessary for
   ed <= d).

Both length-bucket routes explode each string's target lengths
``[l-d, l+d]`` into an equi-join key on the partner's length: a bare
``|la-lb| <= d`` condition has no equi key and plans as a nested loop —
quadratic scan cost on short-string corpora, where route 3 is the MAIN
path.

**Hot-gram skew guard.** A gram shared by a large fraction of the corpus
(common prefixes like "Customer#0000...") would inflate its join bucket
quadratically. The census counts gram frequencies in-plan (one
vocabulary-sized partial agg over every side); grams above a cap are
"hot" and route 1 joins on RARE grams only. With two tables the count is
COMBINED: a bucket's join volume is freq_l x freq_r, and any global
classification keeps rarity a property of the gram. Completeness: at
most q*d gram occurrences of a string are destroyed by d edits
(Gravano), so if EITHER endpoint has >= q*d + 1 rare occurrences
("safe"), one of its rare grams survives the edit script into the
partner — and since rarity is a property of the gram, the partner's
occurrence is in the rare join too. Only the unsafe x unsafe corner
needs route 2: bounded by the unsafe set squared per length bucket,
empty on unskewed corpora, and on vocabulary-dense data exactly the
quadratic such data forces on any exact ed-join. The count filter
weakens by ``least(hot_a, hot_b)`` with ``hot = (l - (q-1)) - rare``: in
the 1-1 occurrence matching the bound counts, hot grams contribute at
most the smaller of the two hot counts, so subtracting it keeps the
filter a necessary condition over rare-only matches. The filter only
prunes — exactness never depends on it.

**Guard off** (``hot_gram_cap=0``): the hot set is statically empty, so
rare = l - (q-1), the ``least()`` term folds to 0 and the filter is the
plain Gravano bound. Routes 1 and 3 alone are complete: any pair whose
longer side is >= q*(d+1) has bound >= 1 (must share a gram), and
both-short pairs go through route 3. No census, no stats, no route 2.
"""

from __future__ import annotations

import warnings
from functools import reduce

from pyspark.sql import functions as F

from ..core.colutils import qcol, qref

from ..core.dataframe import OmigoDF
from .text import ensure_min_parallelism


def _skew_counts(stats, floor: int) -> tuple[int, int]:
    """(n_unsafe, n_total) in ONE job over the checkpointed per-string
    stats (one narrow row per gram-path string) — never a rescan of
    the input; the materialized checkpoint is reused by the main
    action."""
    row = stats.agg(
        F.count(F.when(F.col("__r__") < floor, 1)).alias("__u__"),
        F.count(F.lit(1)).alias("__n__")).collect()[0]
    return int(row["__u__"]), int(row["__n__"])


def _warn_if_skewed(n_unsafe: int, n_total: int, frac: float,
                    source: str, stacklevel: int = 3) -> None:
    """Opt-in skew telemetry: on vocabulary-dense corpora the census
    routes most strings through the quadratic direct-verify fallback —
    exact but expensive. Callers pass ``warn_unsafe_frac`` to get an
    explicit warning with the remedy (an absolute ``hot_gram_cap`` sized
    to the per-gram bucket budget, or ``hot_gram_cap=0`` to disable the
    guard on corpora known to be unskewed)."""
    if n_total and n_unsafe / n_total > frac:
        warnings.warn(
            f"{source}: {n_unsafe}/{n_total} strings "
            f"({n_unsafe / n_total:.0%}) exceeded the unsafe-fraction "
            f"threshold {frac:.0%} — most pairs will route through the "
            "quadratic length-bucket verification. The result stays "
            "EXACT, but consider an absolute hot_gram_cap sized to the "
            "per-gram bucket budget (cap^2 candidate pairs per gram), "
            "or hot_gram_cap=0 to disable the skew guard entirely if "
            "the corpus is known to be unskewed.",
            stacklevel=stacklevel)


def _grams(frame, q: int, *cols):
    """``cols`` plus one (__g__, __p__) row per positional q-gram of
    ``__s__`` (pos 1-based)."""
    gp = F.explode(F.expr(
        f"transform(sequence(1, greatest(length(__s__) - {q - 1}, 0)), "
        f"i -> named_struct('g', substring(__s__, i, {q}), 'p', i))"))
    return (frame.select(*cols, gp.alias("__gp__"))
            .select(*cols, F.col("__gp__.g").alias("__g__"),
                    F.col("__gp__.p").alias("__p__")))


def _tagged(frame, side: str, *cols):
    """``cols`` (``__x__``) renamed ``__x<side>__``: the a / b side of a
    candidate join."""
    return frame.select(*cols).toDF(*(c[:-2] + side + "__" for c in cols))


def _ed_candidates(sides, d: int, q: int, hot_gram_cap, warn_unsafe_frac,
                   source: str, stacklevel: int):
    """Distinct candidate key pairs (__ka__, __kb__): a superset of the
    pairs within edit distance ``d`` (routes and proofs in the module
    docstring). ``sides`` is one frame (self-join, ``__ka__ < __kb__``)
    or two (left, right), each with columns __k__ (key), __s__
    (non-NULL string) and __l__ (its length). ``stacklevel`` places the
    skew warning as seen from the caller."""
    self_join = len(sides) == 1
    if not self_join:  # keys are per side: stats key on (side, key)
        sides = [f.withColumn("__t__", F.lit(i)) for i, f in enumerate(sides)]
    by = ["__k__"] if self_join else ["__t__", "__k__"]
    order = [F.col("__ka__") < F.col("__kb__")] if self_join else []
    floor = q * d + 1  # rare occurrences that survive any d-edit script
    eligible = [f.where(F.col("__l__") >= q) for f in sides]
    guard_off = hot_gram_cap is not None and int(hot_gram_cap) == 0
    if guard_off:
        rare = [_grams(e.withColumn("__r__", F.col("__l__") - (q - 1)), q,
                       "__k__", "__l__", "__r__") for e in eligible]
        unsafe = []
    else:
        # census: one gram stream over every side, one vocabulary-sized
        # partial agg; the hot set (grams above the cap) is tiny and
        # broadcast
        strings = reduce(lambda x, y: x.unionByName(y),
                         [e.select(*by, "__s__") for e in eligible])
        gp = _grams(strings, q, *by)
        gfreq = gp.groupBy("__g__").agg(F.count(F.lit(1)).alias("__gc__"))
        if hot_gram_cap is not None:
            hot = gfreq.where(F.col("__gc__") > int(hot_gram_cap))
        else:  # max(64, 1% of the eligible strings)
            n_ = strings.agg(F.count(F.lit(1)).alias("__nstr__"))
            hot = (gfreq.crossJoin(F.broadcast(n_))
                   .where(F.col("__gc__") > F.greatest(
                       F.lit(64).cast("long"),
                       F.expr("CAST(ceil(__nstr__ * 0.01) AS BIGINT)"))))
        # hot, stats and the enriched strings each feed several
        # branches — lazily checkpoint them so the census agg runs ONCE
        # instead of once per consumer subtree (measured: 3 gfreq
        # aggregations / 7 explodes un-checkpointed). All are narrow:
        # hot is the over-cap gram set, the others one row per string.
        hot = F.broadcast(hot.select("__g__").withColumn("__hot__", F.lit(1))
                          .localCheckpoint(eager=False))
        # per-string rare-occurrence count: map-side combine reduces the
        # gram stream to one row per string before the shuffle
        stats = (gp.join(hot, on="__g__", how="left")
                 .groupBy(*by)
                 .agg(F.sum(F.when(F.col("__hot__").isNull(), 1).otherwise(0))
                      .alias("__r__"))
                 .localCheckpoint(eager=False))
        if warn_unsafe_frac is not None:
            _warn_if_skewed(*_skew_counts(stats, floor),
                            float(warn_unsafe_frac), source,
                            stacklevel=stacklevel + 1)
        enriched = [e.join(stats, on=by).localCheckpoint(eager=False)
                    for e in eligible]
        # re-running the cheap explode beats shuffling the census gram
        # stream by key to attach __r__
        rare = [_grams(e, q, "__k__", "__l__", "__r__")
                .join(hot, on="__g__", how="left")
                .where(F.col("__hot__").isNull()) for e in enriched]
        unsafe = [e.where(F.col("__r__") < floor).select("__k__", "__l__")
                  for e in enriched]

    a, b = (_tagged(r, s, "__k__", "__l__", "__r__", "__g__", "__p__")
            for r, s in ((rare[0], "a"), (rare[-1], "b")))
    cands = (a.join(b, on=[F.col("__ga__") == F.col("__gb__"),
                           F.abs(F.col("__pa__") - F.col("__pb__")) <= d,
                           F.abs(F.col("__la__") - F.col("__lb__")) <= d]
                    + order)
             .groupBy("__ka__", "__kb__")
             .agg(F.count(F.lit(1)).alias("__n__"),
                  *(F.first(c).alias(c)
                    for c in ("__la__", "__lb__", "__ra__", "__rb__")))
             .where(F.col("__n__") >=
                    F.greatest("__la__", "__lb__") - (q - 1) - q * d
                    - F.least(F.col("__la__") - (q - 1) - F.col("__ra__"),
                              F.col("__lb__") - (q - 1) - F.col("__rb__")))
             .select("__ka__", "__kb__"))

    def by_length(frames, lo):
        """Key pairs of one or two (__k__, __l__) frames whose lengths
        differ by <= d; target lengths below ``lo`` are not probed."""
        ex = (_tagged(frames[0], "a", "__k__", "__l__")
              .withColumn("__lt__", F.explode(F.expr(
                  f"sequence(greatest(__la__ - {d}, {lo}), __la__ + {d})"))))
        return (ex.join(_tagged(frames[-1], "b", "__k__", "__l__"),
                        on=[F.col("__lt__") == F.col("__lb__")] + order)
                .select("__ka__", "__kb__"))

    if unsafe:
        cands = cands.union(by_length(unsafe, q))
    short = [f.where(F.col("__l__") < q * (d + 1)).select("__k__", "__l__")
             for f in sides]
    return cands.union(by_length(short, 0)).distinct()


def fuzzy_pairs(odf: OmigoDF, id_col: str, col: str,
                max_dist: int = 1, q: int = 3,
                hot_gram_cap: int | None = None,
                warn_unsafe_frac: float | None = None,
                _stacklevel: int = 3) -> OmigoDF:
    """All pairs (id_a < id_b) with levenshtein(col_a, col_b) <= max_dist
    — exact, via q-gram-count candidate filtering + levenshtein verify.
    Returns (id_a, id_b, dist). NULL values never match (SQL semantics:
    levenshtein(NULL, x) is NULL, filtered).

    ``hot_gram_cap``: occurrence count above which a gram is "hot" and
    excluded from the gram join (see the module docstring's skew-guard
    proof). None (default) = automatic in-plan cap,
    max(64, 1% of the gram-path string count) — no-op on unskewed
    corpora (nothing crosses the cap), mechanical protection on
    common-prefix shapes. The result set is IDENTICAL for any cap
    (property-tested): the cap is purely a COST dial between the two
    exact routes — rare-gram join buckets (≤ cap² pairs per gram
    value) vs direct length-bucket verification for hot-dominated
    strings. At billion-string scale pass an ABSOLUTE cap sized to the
    per-gram bucket budget (cap² pairs) instead of relying on the 1%
    fraction, whose buckets grow quadratically with the corpus. On
    vocabulary-dense corpora (short word lists — TPC-H part names)
    most grams are legitimately common, the census routes most strings
    through direct verification, and the operator honestly degrades to
    the length-bucketed quadratic that such data forces on ANY exact
    ed-join — q-gram filtering has no selectivity to offer there.

    ``hot_gram_cap=0`` DISABLES the guard (module docstring, "Guard
    off"): still exact, and the right dial for corpora known to be
    unskewed, where the census agg is pure overhead. (A literal cap of
    0 — every gram hot, everything through the quadratic fallback — is
    never what anyone wants, so the value is reused as the off switch.)

    ``warn_unsafe_frac`` (opt-in): if set, the operator eagerly counts
    the unsafe set (one small job over the lazily checkpointed census
    stats, reused by the main action) and emits a ``UserWarning`` when
    unsafe/total exceeds the fraction — the signal that the corpus is
    vocabulary-dense and the caller should size an absolute cap. None
    (default) = zero extra jobs. Ignored when the guard is off."""
    odf._resolve([id_col, col])
    d = int(max_dist)
    s = qcol(col).cast("string")
    base = (ensure_min_parallelism(odf.df)
            .select(qcol(id_col).alias("__k__"), s.alias("__s__"),
                    F.length(s).alias("__l__"))
            .where(F.col("__s__").isNotNull())
            .localCheckpoint(eager=False))
    cands = _ed_candidates([base], d, int(q), hot_gram_cap,
                           warn_unsafe_frac, "fuzzy_pairs", _stacklevel)
    strs = base.select("__k__", "__s__")
    verified = (cands.join(_tagged(strs, "a", "__k__", "__s__"), "__ka__")
                .join(_tagged(strs, "b", "__k__", "__s__"), "__kb__")
                .withColumn("dist", F.levenshtein("__sa__", "__sb__"))
                .where(F.col("dist") <= d)
                .select(F.col("__ka__").alias("id_a"),
                        F.col("__kb__").alias("id_b"),
                        F.col("dist").cast("long").alias("dist")))
    return OmigoDF(verified)


def fuzzy_join(left: OmigoDF, right: OmigoDF, left_col: str, right_col: str,
               max_dist: int = 1, q: int = 3,
               lsuffix: str = "_l", rsuffix: str = "_r",
               hot_gram_cap: int | None = None,
               warn_unsafe_frac: float | None = None) -> OmigoDF:
    """Two-table edit-distance join (every left row paired with every
    right row within max_dist), from the same exact candidate core as
    fuzzy_pairs; all columns carried, name collisions suffixed.

    The skew guard classifies grams hot by their COMBINED left+right
    occurrence count (module docstring). ``hot_gram_cap`` None =
    max(64, 1% of the combined gram-path string count); the result is
    identical for any cap. ``hot_gram_cap=0`` disables the guard,
    ``warn_unsafe_frac`` opts into the skew warning — both exactly as in
    ``fuzzy_pairs``."""
    left._resolve(left_col)
    right._resolve(right_col)
    d = int(max_dist)

    def prep(odf, colname):
        return (ensure_min_parallelism(odf.df)
                .withColumn("__s__", qcol(colname).cast("string"))
                .withColumn("__l__", F.length("__s__"))
                .where(F.col("__s__").isNotNull())
                .withColumn("__k__", F.monotonically_increasing_id())
                .localCheckpoint(eager=False))

    lf, rf = prep(left, left_col), prep(right, right_col)
    cands = _ed_candidates([f.select("__k__", "__s__", "__l__")
                            for f in (lf, rf)], d, int(q), hot_gram_cap,
                           warn_unsafe_frac, "fuzzy_join", 3)
    # computed under an internal name: withColumn("dist", ...) would be
    # ambiguous if an input table already carries a 'dist' column
    out = (cands.join(lf.alias("L"), F.col("__ka__") == qref("L", "__k__"))
           .join(rf.alias("R"), F.col("__kb__") == qref("R", "__k__"))
           .withColumn("__dist__", F.levenshtein(qref("L", "__s__"),
                                                 qref("R", "__s__")))
           .where(F.col("__dist__") <= d))
    lcols, rcols = set(left.df.columns), set(right.df.columns)
    # "dist" is reserved for the computed distance: an input column of
    # that name is suffixed unconditionally (else the output would
    # carry two ambiguous 'dist' columns)
    sel = ([qref("L", c).alias(c + lsuffix if c in rcols or c == "dist"
                               else c)
            for c in left.df.columns]
           + [qref("R", c).alias(c + rsuffix if c in lcols or c == "dist"
                                 else c)
              for c in right.df.columns]
           + [F.col("__dist__").cast("long").alias("dist")])
    return OmigoDF(out.select(*sel))


def dedup_fuzzy(odf: OmigoDF, id_col: str, col: str,
                max_dist: int = 1, q: int = 3,
                hot_gram_cap: int | None = None,
                warn_unsafe_frac: float | None = None) -> OmigoDF:
    """Drop the higher id of every fuzzy pair (greedy min-representative,
    the family's shared keep-rule). ``hot_gram_cap`` (0 = guard off) and
    ``warn_unsafe_frac`` pass through to the skew guard (see
    fuzzy_pairs)."""
    dup = (fuzzy_pairs(odf, id_col, col, max_dist, q, hot_gram_cap,
                       warn_unsafe_frac, _stacklevel=4)
           .df.select(F.col("id_b").alias(id_col)).distinct())
    return OmigoDF(odf.df.join(dup, on=id_col, how="left_anti"))

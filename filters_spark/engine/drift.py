"""Distribution-drift checks against a baseline snapshot (BASELINE.json
north_star: "role/tool frequency KL-divergence and text-length PSI
against a baseline snapshot").

Every counting check here is a small finalizer over ONE table,
:func:`_two_sample_counts`: ``(group…, __k, nc, nb)`` — per key (and
group) the number of ``current`` rows (``nc``) and ``baseline`` rows
(``nb``).  Both sides are tagged, unioned and counted in a single hash
aggregation (map-side combine collapses the corpus to #distinct-keys
rows before the shuffle); the optional top-k guard folds the
cardinality tail into ``'__other__'`` by combined count within each
group.  With no baseline the table is the plain one-sided count — no
tag, no union — which is what :func:`frequencies`,
:func:`length_histogram` and the single-scan profile use.

The finalizers only ever touch that bounded table: chi², JS and
per-group PSI attach broadcast side totals, KS and W1 run one
running-CDF window, and the profile paths normalise on the driver
(|categories| or |buckets| rows, per SURVEY.md §4.3(6)).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: driver-safety ceiling on collected category tables: role/tool-style
#: drift columns have a handful of categories by construction, but an
#: accidental ``frequencies()`` over a free-text / id column must not
#: flood the driver with 10^8 rows.
DEFAULT_MAX_CATEGORIES = 10_000


def _category(c: Column) -> Column:
    """Categorical drift key: the value as a string, NULL as the literal
    ``'__null__'`` so presence drift stays visible."""
    return F.coalesce(c.cast("string"), F.lit("__null__"))


def _two_sample_counts(
    current: DataFrame,
    baseline: DataFrame | None,
    key: Column,
    group_cols: tuple | list = (),
    max_categories: int | None = None,
) -> DataFrame:
    """The count table behind every drift check: ``(group…, __k, nc,
    nb)`` — per ``key`` value within each ``group_cols`` group, the
    number of ``current`` rows (``nc``) and ``baseline`` rows (``nb``).
    Both sides are tagged with 1/0 counters and unioned into ONE hash
    aggregation.  ``baseline=None`` gives the one-sided ``(group…, __k,
    nc)`` count: no tag, no union.

    ``max_categories`` keeps the k keys with the largest combined count
    per group (ties broken by key ascending, so every engine folds
    identically) and folds the rest into ``'__other__'``, mass
    preserved.  The rank runs over the aggregated table (one row per
    DISTINCT key) with Spark's external sort — a pathological
    10^8-distinct-key column makes one sorter spill to disk and finish,
    never a driver transfer."""
    g = list(group_cols)
    if baseline is None:
        ns, n = ["nc"], F.col("nc")
        counts = current.groupBy(*g, key.alias("__k")).agg(
            F.count(F.lit(1)).alias("nc")
        )
    else:
        ns, n = ["nc", "nb"], F.col("nc") + F.col("nb")

        def tag(df: DataFrame, c: int, b: int) -> DataFrame:
            tags = [F.lit(c).alias("nc"), F.lit(b).alias("nb")]
            return df.select(*g, key.alias("__k"), *tags)

        counts = (
            tag(current, 1, 0)
            .unionAll(tag(baseline, 0, 1))
            .groupBy(*g, "__k")
            .agg(*[F.sum(c).alias(c) for c in ns])
        )
    if max_categories is None:
        return counts
    w = Window.partitionBy(*g).orderBy(F.desc(n), F.col("__k"))
    keep = F.row_number().over(w) <= max_categories
    return (
        counts.withColumn(
            "__k", F.when(keep, F.col("__k")).otherwise(F.lit("__other__"))
        )
        .groupBy(*g, "__k")
        .agg(*[F.sum(c).alias(c) for c in ns])
    )


def _mass(counts: DataFrame, alias: str) -> DataFrame:
    """``(alias, p)``: a one-sided count table over its broadcast total."""
    total = counts.agg(F.sum("nc").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        F.col("__k").alias(alias), (F.col("nc") / F.col("t")).alias("p")
    )


def _with_totals(
    frame: DataFrame, counts: DataFrame, group_cols: tuple | list = ()
) -> DataFrame:
    """``frame`` plus the per-group side totals ``__tc``/``__tb`` of a
    two-sample count table: a group-keyed join (AQE broadcasts when
    #groups is small), or a broadcast 1-row cross join without groups."""
    g = list(group_cols)
    tot = counts.groupBy(*g).agg(
        F.sum("nc").alias("__tc"), F.sum("nb").alias("__tb")
    )
    return frame.join(tot, g) if g else frame.crossJoin(F.broadcast(tot))


def _sizes() -> list[Column]:
    """``(n_current, n_baseline)`` from the attached side totals."""
    return [
        F.max("__tc").cast("long").alias("n_current"),
        F.max("__tb").cast("long").alias("n_baseline"),
    ]


def frequencies(
    df: DataFrame,
    col: str | Column,
    alias: str = "k",
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> DataFrame:
    """Normalised category frequencies: ``(k, p)`` with sum(p)=1.
    Nulls become the literal category '__null__' so presence drift is
    visible.

    ``max_categories`` is a top-k driver-safety guard: only the k most
    frequent categories keep their identity; the tail is collapsed into
    ``'__other__'`` (probability mass preserved, so KL/PSI stay
    well-defined).  The ranking runs distributed over the *aggregated*
    counts table — the driver never sees more than k+1 rows however
    high the column's cardinality.  ``None`` disables."""
    c = _category(F.col(col) if isinstance(col, str) else col)
    return _mass(_two_sample_counts(df, None, c, (), max_categories), alias)


def _freq_dict(freq: DataFrame, alias: str = "k") -> dict[str, float]:
    return {r[alias]: r["p"] for r in freq.collect()}


def kl_from_dicts(p: dict, q: dict, eps: float = 1e-9) -> float:
    kl = 0.0
    for k, pv in p.items():
        qv = q.get(k, eps)
        if pv > 0:
            kl += pv * math.log(pv / max(qv, eps))
    return kl


def psi_from_dicts(p: dict, q: dict, eps: float = 1e-6) -> float:
    out = 0.0
    for k in set(p) | set(q):
        pv = max(p.get(k, 0.0), eps)
        qv = max(q.get(k, 0.0), eps)
        out += (pv - qv) * math.log(pv / qv)
    return out


def psi_from_histograms(
    current: list[int] | list[float],
    baseline: list[int] | list[float],
    eps: float = 1e-6,
) -> float:
    """PSI between two SAME-GRID count histograms — the drift check
    over the exactly-mergeable histogram state ``run_resumable``
    checkpoints (``hist_cols=``), so a resumed job can compute
    text-length drift against a baseline snapshot's histogram without
    any rescan.  Bins are the categories; counts normalise to mass."""
    if len(current) != len(baseline):
        raise ValueError(
            f"histogram grids differ: {len(current)} vs {len(baseline)} bins"
        )
    cs, bs = float(sum(current)), float(sum(baseline))
    p = {i: (x / cs if cs else 0.0) for i, x in enumerate(current)}
    q = {i: (x / bs if bs else 0.0) for i, x in enumerate(baseline)}
    return psi_from_dicts(p, q, eps)


def kl_divergence(
    current: DataFrame, baseline: DataFrame, alias: str = "k", eps: float = 1e-9
) -> float:
    """KL(P_current ‖ Q_baseline) over two frequency tables from
    :func:`frequencies`.  Missing categories get ``eps`` mass."""
    return kl_from_dicts(
        _freq_dict(current, alias), _freq_dict(baseline, alias), eps
    )


def length_bucket(col: str, bucket_width: int = 20, n_buckets: int = 50) -> Column:
    """Length→bucket expression shared by :func:`length_histogram` and the
    single-pass profile."""
    ln = F.length(F.col(col))
    return (
        F.when(ln.isNull(), F.lit(-1))
        .when(ln >= bucket_width * n_buckets, F.lit(n_buckets))
        .otherwise(F.floor(ln / bucket_width))
    ).cast("int")


def dist_profile(
    df: DataFrame,
    cat_cols: tuple = ("role", "tool"),
    length_col: str | None = "text",
    bucket_width: int = 20,
    n_buckets: int = 50,
) -> dict[str, dict[str, float]]:
    """ALL drift distributions in ONE scan + ONE hash aggregation.

    Each row explodes to one ``(dim, key)`` pair per tracked dimension
    (category columns + the length histogram); map-side partial
    aggregation collapses the 3× row blow-up to |categories| rows per
    task before the shuffle.  Returns ``{dim: {key: probability}}`` —
    the driver-side divergence math consumes these directly.
    """
    entries = []
    for c in cat_cols:
        entries.append(cat_entry(c, F.col(c)))
    if length_col:
        entries.append(
            len_entry(
                length_col, length_bucket(length_col, bucket_width, n_buckets)
            )
        )
    return profile_from_entries(df, entries)


def cat_entry(name: str, col: Column) -> Column:
    """One ``(dim, key)`` profile entry for a categorical column."""
    return F.struct(
        F.lit(f"cat:{name}").alias("dim"),
        _category(col).alias("k"),
    )


def len_entry(name: str, bucket_col: Column) -> Column:
    """One ``(dim, key)`` profile entry for a pre-computed length bucket."""
    return F.struct(
        F.lit(f"len:{name}").alias("dim"),
        bucket_col.cast("string").alias("k"),
    )


def profile_from_entries(
    df: DataFrame,
    entries: list,
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> dict:
    """Shared core of :func:`dist_profile`: explode the per-row entry
    structs, ONE hash aggregation, normalise on the driver.  The collect
    is bounded to ``max_categories`` keys *per dimension* (tail →
    ``'__other__'``, see :func:`frequencies`)."""
    pairs = df.select(F.explode(F.array(*entries)).alias("e")).select(
        "e.dim", "e.k"
    )
    counts = _two_sample_counts(
        pairs, None, F.col("k"), ("dim",), max_categories
    ).collect()
    totals: dict[str, int] = {}
    for r in counts:
        totals[r["dim"]] = totals.get(r["dim"], 0) + r["nc"]
    out: dict[str, dict[str, float]] = {}
    for r in counts:
        out.setdefault(r["dim"], {})[r["__k"]] = r["nc"] / totals[r["dim"]]
    return out


def length_histogram(
    df: DataFrame,
    col: str = "text",
    bucket_width: int = 20,
    n_buckets: int = 50,
) -> DataFrame:
    """Text-length histogram: fixed-width buckets with an overflow bucket;
    nulls get bucket -1.  Distributed hash agg, ``(bucket, p)``."""
    bucket = length_bucket(col, bucket_width, n_buckets)
    return _mass(_two_sample_counts(df, None, bucket), "bucket")


def psi(
    current: DataFrame, baseline: DataFrame, alias: str = "bucket",
    eps: float = 1e-6,
) -> float:
    """Population Stability Index over two histograms:
    ``Σ (p-q) · ln(p/q)``.  <0.1 stable, 0.1-0.25 moderate, >0.25 drifted
    (the standard industry thresholds)."""
    p = {r[alias]: r["p"] for r in current.collect()}
    q = {r[alias]: r["p"] for r in baseline.collect()}
    return psi_from_dicts(p, q, eps)


def ks_statistic(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    grid: float | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between a numeric
    column's distribution in ``current`` and ``baseline`` — the
    nonparametric drift check for CONTINUOUS columns, complementing KL
    (categorical) and PSI (binned): ``D = sup_v |F_cur(v) - F_base(v)|``
    needs no binning choice and is sensitive to location AND shape
    shifts.  Returns ONE row ``(ks_stat, n_current, n_baseline)``;
    compare ``ks_stat`` against ``c(α)·sqrt((n+m)/(n·m))``
    (c(0.05)=1.358) for a significance gate.  Nulls are dropped (they
    are presence drift, ``frequencies``' job).

    Scale shape: EXACT, not sampled — both sides tag-union and feed ONE
    hash aggregation keyed by the value (map-side combine collapses
    10^12 rows to #distinct-values rows); the running-CDF window then
    sorts only that aggregated table.  The window is a single sorted
    run by construction (a CDF is a global order), so bound the
    distinct-value count when the column is truly continuous:
    ``grid=0.01`` snaps values to a fixed lattice first (the KS error
    introduced is at most the mass of one lattice cell).  Totals ride a
    broadcast 1-row cross join — no driver action anywhere.
    """
    return _running_cdf(current, baseline, col, grid).agg(
        F.max("gap").alias("ks_stat"), *_sizes()
    )


def _running_cdf(
    current: DataFrame, baseline: DataFrame, col: str, grid: float | None
) -> DataFrame:
    """Shared core of :func:`ks_statistic` and
    :func:`wasserstein_distance`: one row per distinct non-null value
    (snapped to ``grid`` if given) with ``gap = |F_cur(v) − F_base(v)|``
    and ``dv`` = the distance to the next value, from ONE window over
    the two-sample value table, plus the side totals.  Catalyst prunes
    ``dv`` from the window when the caller never reads it."""
    v = F.col(col).cast("double")
    if grid is not None:
        v = F.round(v / F.lit(float(grid)), 0) * F.lit(float(grid))
    present = F.col(col).isNotNull()
    counts = _two_sample_counts(
        current.where(present), baseline.where(present), v
    )
    order = Window.orderBy("__k")
    upto = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.select(
        F.sum("nc").over(upto).alias("cc"),
        F.sum("nb").over(upto).alias("cb"),
        (F.lead("__k").over(order) - F.col("__k")).alias("dv"),
    )
    gap = F.abs(F.col("cc") / F.col("__tc") - F.col("cb") / F.col("__tb"))
    return _with_totals(cum, counts).select(
        gap.alias("gap"), "dv", "__tc", "__tb"
    )


def chi2_statistic(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    max_categories: int | None = None,
) -> DataFrame:
    """Pearson chi-squared homogeneity test between a CATEGORICAL
    column's distribution in ``current`` and ``baseline`` — the
    significance-testable counterpart to :func:`kl_divergence` (KL says
    how far apart two frequency profiles are, chi-squared says whether
    the gap is explainable by sampling noise given the sample sizes).
    Returns ONE row ``(chi2, dof, cramers_v, n_current, n_baseline)``
    over the 2×K contingency table (sides × categories):

    - ``chi2 = Σ_cells (observed − expected)² / expected`` with
      ``expected = row_total · col_total / grand_total``;
    - ``dof = K − 1`` (2 rows ⇒ (2−1)·(K−1));
    - ``cramers_v = sqrt(chi2 / (n · min(1, K−1)))`` — the [0,1]
      effect size, comparable across sample sizes (chi2 itself grows
      with n, so at 10^12 rows everything is "significant"; gate drift
      alerts on V, not on the p-value).

    Nulls count as the literal ``'__null__'`` (presence drift stays
    visible, mirroring :func:`frequencies`).  Categories with zero
    total never arise (every key comes from an observed row), so no
    expected-count division by zero.

    Scale shape: both sides tag-union into ONE hash aggregation keyed
    by the category (map-side combine collapses 10^12 rows to K rows);
    totals ride a broadcast 1-row cross join; the cell sum is a second
    K-row aggregation.  No window, no sort, no driver action.  For
    unbounded-cardinality columns set ``max_categories``: category
    ranks beyond it fold into ``'__other__'`` (rank by combined count,
    ties broken by category value, so both engines fold identically).
    """
    counts = _two_sample_counts(
        current, baseline, _category(F.col(col)), max_categories=max_categories
    )
    row = F.col("nc") + F.col("nb")
    grand = (F.col("__tc") + F.col("__tb")).cast("double")
    ec = row * F.col("__tc") / grand
    eb = row * F.col("__tb") / grand
    cell = (F.col("nc") - ec) * (F.col("nc") - ec) / ec + (
        F.col("nb") - eb
    ) * (F.col("nb") - eb) / eb
    k1 = F.count(F.lit(1)) - 1
    return (
        _with_totals(counts, counts)
        .agg(
            F.sum(cell).alias("chi2"),
            k1.cast("long").alias("dof"),
            *_sizes(),
            F.sum(row).cast("double").alias("__n"),
            F.least(k1, F.lit(1)).cast("double").alias("__mindim"),
        )
        .select(
            "chi2",
            "dof",
            F.when(
                F.col("__mindim") > 0,
                F.sqrt(F.col("chi2") / (F.col("__n") * F.col("__mindim"))),
            )
            .otherwise(F.lit(0.0))
            .alias("cramers_v"),
            "n_current",
            "n_baseline",
        )
    )


def wasserstein_distance(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    grid: float | None = None,
) -> DataFrame:
    """First Wasserstein (earth-mover) distance between a numeric
    column's distribution in ``current`` and ``baseline`` — the
    integral counterpart to :func:`ks_statistic`:
    ``W1 = ∫ |F_cur(v) − F_base(v)| dv``.  KS reports the single worst
    CDF gap (sup-norm) and so saturates once any one quantile has
    shifted; W1 accumulates the gap over the whole support (L1 norm),
    measuring drift in the COLUMN'S OWN UNITS — "the text lengths moved
    by ~37 characters on average" — which makes it the right alerting
    number for magnitude-thresholded gates where KS is the right one
    for significance gates.  Returns ONE row
    ``(w1, n_current, n_baseline)``.  Nulls are dropped (presence drift
    is ``frequencies``' job).

    Scale shape: identical to :func:`ks_statistic` — EXACT, never
    sampled.  Both sides tag-union into ONE hash aggregation keyed by
    the value (map-side combine collapses 10^12 rows to
    #distinct-values rows); one window over the AGGREGATED table
    produces the running CDFs plus each value's gap to its successor
    (``lead``), and ``Σ |ΔCDF| · Δv`` is a final 1-row aggregation.
    Totals ride a broadcast 1-row cross join — no driver action.  For
    truly continuous columns bound the distinct-value count with
    ``grid=`` (fixed lattice; the W1 error introduced is at most half a
    lattice step).
    """
    return _running_cdf(current, baseline, col, grid).agg(
        F.coalesce(F.sum(F.col("gap") * F.col("dv")), F.lit(0.0)).alias("w1"),
        *_sizes(),
    )


def js_divergence(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    max_categories: int | None = None,
    base: float | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence between a CATEGORICAL column's
    distribution in ``current`` and ``baseline`` — the bounded,
    symmetric companion to :func:`kl_divergence`:
    ``JSD = ½·KL(P‖M) + ½·KL(Q‖M)`` with ``M = (P+Q)/2``.  Unlike KL it
    needs no epsilon floor (a category present on only one side
    contributes ``½·ln 2`` of its mass, never infinity), it is
    symmetric (no "which snapshot is the baseline" asymmetry), and it
    is bounded — ``[0, ln 2]`` in nats, ``[0, 1]`` with ``base=2`` —
    so one alert threshold works across columns of any cardinality.
    Returns ONE row ``(jsd, n_current, n_baseline)``.  Nulls count as
    the literal ``'__null__'`` (presence drift stays visible).

    Scale shape: identical to :func:`chi2_statistic` — both sides
    tag-union into ONE hash aggregation keyed by the category
    (map-side combine collapses 10^12 rows to K rows); totals ride a
    broadcast 1-row cross join; the divergence is a second K-row
    aggregation.  No window, no sort, no driver action.
    ``max_categories=`` folds the cardinality tail into ``'__other__'``
    exactly as chi2 does (rank by combined count, category-value
    tiebreak — both engines fold identically).
    """
    counts = _two_sample_counts(
        current, baseline, _category(F.col(col)), max_categories=max_categories
    )
    p = F.col("nc") / F.col("__tc")
    q = F.col("nb") / F.col("__tb")
    m = (p + q) / F.lit(2.0)
    # p=0 or q=0 terms contribute 0 by the 0·ln(0) = 0 convention;
    # m > 0 always holds on observed categories, so ln(m) is safe.
    cell = (
        F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    scale = F.lit(1.0 / math.log(base)) if base is not None else F.lit(1.0)
    return _with_totals(counts, counts).agg(
        (F.sum(cell) * scale).alias("jsd"), *_sizes()
    )


def quantile_shift(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    qs: tuple = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-quantile drift report: ``(q, v_current, v_baseline, delta)``
    for each requested quantile — WHERE the distribution moved, in the
    column's own units, completing the numeric-drift toolkit
    (:func:`ks_statistic` says whether the shift is significant,
    :func:`wasserstein_distance` how much total mass moved, this says
    which part of the distribution did the moving — "p90 text length
    grew 400 chars, the median didn't" is an actionable alert where a
    single scalar is not).  Quantiles are EXACT interpolated
    ``percentile`` (R-7, = DuckDB/Postgres ``quantile_cont``).  Nulls
    are dropped (presence drift is ``frequencies``' job).

    Scale shape: ONE aggregation per side computes every requested
    quantile in a single pass (one ``percentile(col, array(...))``
    agg; Spark's sort-based percentile state holds the side's
    distinct-value histogram), then the two 1-row results explode and
    equi-join on the quantile — rows moved after the aggs: 2·|qs|.
    """
    if not qs:
        raise ValueError("quantile_shift needs at least one quantile")
    probs = F.array(*[F.lit(float(q)) for q in qs])

    def side(df: DataFrame, name: str) -> DataFrame:
        agg = df.where(F.col(col).isNotNull()).agg(
            F.percentile(F.col(col), [float(q) for q in qs]).alias("__vs")
        )
        return agg.select(
            F.posexplode("__vs").alias("__i", name)
        ).select(
            F.element_at(probs, F.col("__i") + 1).alias("q"), name
        )

    cur = side(current, "v_current")
    base = side(baseline, "v_baseline")
    return cur.join(base, "q").select(
        "q",
        "v_current",
        "v_baseline",
        (F.col("v_current") - F.col("v_baseline")).alias("delta"),
    )


def snapshot_diff(
    current: DataFrame,
    baseline: DataFrame,
    keys: str | list[str],
    compare_cols: list | dict | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of the same table: one row
    per differing key — ``(*keys, status)`` with status ``'added'``
    (key only in current), ``'removed'`` (only in baseline) or
    ``'changed'`` (present in both, compared values differ) — the
    snapshot regression check for re-ingested / re-processed tables
    (distribution drift says the corpus moved; this says WHICH rows,
    at key granularity, without ever shipping the wide rows).

    ``compare_cols``: list of column names, or a dict name → Column
    giving a canonical rendering (REQUIRED for float columns if the
    digest must reproduce across engines — cast to a fixed grid);
    default = every common non-key column, in the current frame's
    column order.  Values are digested per row as md5 over
    length-prefixed string renderings (null → length ``-1``), so no
    concatenation boundary can collide and the digest is a pure
    function of the rendered values.

    Keys must be unique per side (run the uniqueness check first —
    duplicate keys would make "the row changed" ill-posed and the
    join multiplicative).

    Scale shape: each side collapses to a NARROW ``(keys, digest)``
    projection at scan time (the wide row never leaves the scan), then
    ONE full-outer hash join keyed by the keys — shuffle carries
    ~16 B + keys per row; AQE splits skewed key ranges.  The output is
    filtered to differing rows only: a healthy re-run emits nothing.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    if compare_cols is None:
        base_cols = set(baseline.columns)
        compare_cols = [
            c for c in current.columns
            if c not in key_cols and c in base_cols
        ]
    if isinstance(compare_cols, dict):
        rendered = [
            (name, col if isinstance(col, Column) else F.col(col))
            for name, col in compare_cols.items()
        ]
    else:
        rendered = [(c, F.col(c)) for c in compare_cols]
    if not rendered:
        raise ValueError("snapshot_diff needs at least one compare column")

    def digest(side: DataFrame, name: str) -> DataFrame:
        parts = []
        for _, col in rendered:
            s = col.cast("string")
            parts.append(
                F.concat(
                    F.coalesce(F.length(s), F.lit(-1)).cast("string"),
                    F.lit(":"),
                    F.coalesce(s, F.lit("")),
                )
            )
        return side.select(
            *key_cols, F.md5(F.concat(*parts)).alias(name)
        )

    cur = digest(current, "__dc")
    base = digest(baseline, "__db")
    joined = cur.join(base, key_cols, "full_outer")
    status = (
        F.when(F.col("__db").isNull(), F.lit("added"))
        .when(F.col("__dc").isNull(), F.lit("removed"))
        .when(F.col("__dc") != F.col("__db"), F.lit("changed"))
    )
    return (
        joined.select(*key_cols, status.alias("status"))
        .where(F.col("status").isNotNull())
    )


def psi_by_group(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    group_cols: str | tuple | list = (),
    eps: float = 1e-6,
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> DataFrame:
    """Per-group population-stability index between two snapshots —
    drift SLICED BY A DIMENSION (per role, per lang, per source):
    ``(group…, psi, n_current, n_baseline)``.  A corpus-global PSI
    (:func:`psi`) dilutes a drift that hits one slice (the assistant
    role's text-length distribution shifts; user turns don't) by every
    slice that didn't move — at 10^12 turns the global number stays
    asleep while one role is on fire.  Same estimator as
    :func:`psi_from_dicts`: ``sum over the category union of
    (p − q) · ln(p / q)`` with both masses floored at ``eps``; nulls
    are the literal category ``'__null__'``; a group absent from
    either snapshot reports a null psi (no distribution to compare —
    presence is `volume_anomaly`'s job).

    ``max_categories`` caps per-GROUP category identity (tail collapses
    into ``'__other__'``, mass preserved) — the same driver-safety
    guard as :func:`frequencies`, ranked within each group.

    Scale shape: the (group, category)-keyed two-sample count table —
    ONE union + hash aggregation (map-side combine; the corpus collapses to
    #groups × #categories rows before any join), per-group totals are
    a second agg over that bounded table, joined back group-keyed (AQE
    broadcasts when #groups is small); the PSI sum is a final
    group-keyed agg.  No window over raw data, no driver state.
    """
    gcols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    counts = _two_sample_counts(
        current, baseline, _category(F.col(col)), gcols, max_categories
    )
    p = F.greatest(F.col("nc") / F.col("__tc"), F.lit(float(eps)))
    q = F.greatest(F.col("nb") / F.col("__tb"), F.lit(float(eps)))
    term = F.when(
        (F.col("__tc") > 0) & (F.col("__tb") > 0),
        (p - q) * F.log(p / q),
    )
    return _with_totals(counts, counts, gcols).groupBy(*gcols).agg(
        F.sum(term).alias("psi"), *_sizes()
    )

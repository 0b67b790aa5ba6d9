"""Per-group bivariate OLS via the closed-form normal equations.

The multi-feature generalisation of the reference's univariate
contour OLS (``src/preparation/features.py`` slope fits, and this
repo's ``series_kernels.ols_fit``): fit y = b0 + b1·x1 + b2·x2 per group
exactly, with Cramer's rule on the 2×2 centered normal matrix.

Bit-portability contract (the ``welch_t2`` / ``corr_matrix`` one):
every sufficient statistic (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y,
Σx2y) is an exact BIGINT on the caller's quantization grids, and the
n-cleared normal-matrix entries

    a11 = n·Σx1² − (Σx1)²     a12 = n·Σx1x2 − Σx1·Σx2
    a22 = n·Σx2² − (Σx2)²     b1  = n·Σx1y − Σx1·Σy
    b2  = n·Σx2y − Σx2·Σy

are exact BIGINT hash vehicles too. Only the closing solve

    det   = a11·a22 − a12²                (may exceed int64 — double)
    beta1 = (b1·a22 − b2·a12) / det
    beta2 = (b2·a11 − b1·a12) / det
    b0q   = (Σy − beta1·Σx1 − beta2·Σx2) / n

runs in doubles, as a FIXED expression tree over those exact integers
(int64 < 2^53 casts exactly; each IEEE op is correctly rounded) — so
any engine reproduces the same bits; no float accumulation exists
anywhere. Coefficients are in quantized units (y-grid per x-grid).

int64 budget: n·Σx1y ≤ 9.2e18 per group — e.g. 1e6 rows with
|x·y| ≤ 9e6 per row; coarsen the grids beyond. Collinear groups
(det == 0) yield NULL betas; the integer vehicles still gate them.

Scale: ONE map-side-combinable aggregate per group; output is
|groups| rows. Nothing else touches the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bivariate_ols(
    df: DataFrame,
    y: str,
    x1: str,
    x2: str,
    by: str,
    qy: float = 1.0,
    q1: float = 1.0,
    q2: float = 1.0,
) -> DataFrame:
    def _q(c: str, s: float):
        return F.floor(
            F.col(c).cast("double") * F.lit(float(s)) + F.lit(0.5)
        ).cast("long")

    yq, x1q, x2q = _q(y, qy), _q(x1, q1), _q(x2, q2)
    g = df.groupBy(F.col(by).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1q).cast("long").alias("s1"),
        F.sum(x2q).cast("long").alias("s2"),
        F.sum(yq).cast("long").alias("sy"),
        F.sum(x1q * x1q).cast("long").alias("s11"),
        F.sum(x2q * x2q).cast("long").alias("s22"),
        F.sum(x1q * x2q).cast("long").alias("s12"),
        F.sum(x1q * yq).cast("long").alias("s1y"),
        F.sum(x2q * yq).cast("long").alias("s2y"),
    )
    n = F.col("n")
    a11 = (n * F.col("s11") - F.col("s1") * F.col("s1")).cast("long")
    a12 = (n * F.col("s12") - F.col("s1") * F.col("s2")).cast("long")
    a22 = (n * F.col("s22") - F.col("s2") * F.col("s2")).cast("long")
    b1 = (n * F.col("s1y") - F.col("s1") * F.col("sy")).cast("long")
    b2 = (n * F.col("s2y") - F.col("s2") * F.col("sy")).cast("long")
    g = g.select(
        "grp", "n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y",
        a11.alias("a11"), a12.alias("a12"), a22.alias("a22"),
        b1.alias("b1"), b2.alias("b2"),
    )
    det = (
        F.col("a11").cast("double") * F.col("a22").cast("double")
        - F.col("a12").cast("double") * F.col("a12").cast("double")
    )
    beta1 = (
        F.col("b1").cast("double") * F.col("a22").cast("double")
        - F.col("b2").cast("double") * F.col("a12").cast("double")
    ) / det
    beta2 = (
        F.col("b2").cast("double") * F.col("a11").cast("double")
        - F.col("b1").cast("double") * F.col("a12").cast("double")
    ) / det
    b0q = (
        F.col("sy").cast("double")
        - beta1 * F.col("s1").cast("double")
        - beta2 * F.col("s2").cast("double")
    ) / n.cast("double")
    ok = det != F.lit(0.0)
    return g.select(
        "grp", "n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y",
        "a11", "a12", "a22", "b1", "b2",
        F.when(ok, beta1).alias("beta1"),
        F.when(ok, beta2).alias("beta2"),
        F.when(ok, b0q).alias("intercept_q"),
    )


def spearman_corr(
    df: DataFrame,
    x: str,
    y: str,
    by: str,
    qx: float = 1.0,
    qy: float = 1.0,
) -> DataFrame:
    """Per-group Spearman rank correlation with exact average ranks —
    the monotone-association audit that survives outliers and any
    monotone rescaling (where Pearson needs the relationship linear).

    Ranks stay integer by doubling: with ``rank()`` the tie-group start
    position and ``c`` the tie count (peers under a RANGE CURRENT ROW
    frame), the average rank is ``p + (c−1)/2``, so

        R2 = 2·p + c − 1            (exact BIGINT, = 2·avg_rank)

    and Spearman's rho is the Pearson correlation of (R2x, R2y) — the
    common factor 2 cancels. The tie-corrected sufficient statistics
    n, ΣR2x, ΣR2y, ΣR2xR2y, ΣR2x², ΣR2y² are exact BIGINTs, the
    n-cleared moments

        rho_num = n·Σxy − Σx·Σy,   dx = n·Σx² − (Σx)²,   dy likewise

    exact integer hash vehicles, and the closing
    ``rho = rho_num / (sqrt(dx)·sqrt(dy))`` a fixed double tree over
    int64 < 2^53 (sqrt IEEE-correctly-rounded) — bit-portable across
    engines. NULL rho for constant columns (dx·dy = 0).

    Scale: ONE HashPartitioning(by) exchange serves both rank windows
    and the final groupBy (two per-key sorts, no second shuffle); the
    RANGE-frame peer count rides the same sorts. Per-group work is the
    sort, O(n_k log n_k). int64 budget: R2 ≤ 2n, so ΣR2x·R2y ≤ 4n³ —
    exact up to ~1.3M rows per group; beyond that, pre-bucket the
    values (ranks of coarser buckets) or lift to DECIMAL(38).

    Public-knowledge semantics (Spearman 1904, average-rank tie
    handling); no reference counterpart (the reference fits are OLS —
    ``src/preparation/features.py`` — mirrored by
    ``series_kernels.ols_fit``).
    """
    from pyspark.sql import Window

    def _q(c: str, s: float):
        return F.floor(
            F.col(c).cast("double") * F.lit(float(s)) + F.lit(0.5)
        ).cast("long")

    d = df.select(
        F.col(by).alias("grp"), _q(x, qx).alias("__xq"), _q(y, qy).alias("__yq")
    )
    wx = Window.partitionBy("grp").orderBy("__xq")
    wy = Window.partitionBy("grp").orderBy("__yq")
    peers_x = wx.rangeBetween(Window.currentRow, Window.currentRow)
    peers_y = wy.rangeBetween(Window.currentRow, Window.currentRow)
    r = d.select(
        "grp",
        (
            2 * F.rank().over(wx) + F.count(F.lit(1)).over(peers_x) - 1
        ).cast("long").alias("__rx"),
        (
            2 * F.rank().over(wy) + F.count(F.lit(1)).over(peers_y) - 1
        ).cast("long").alias("__ry"),
    )
    g = r.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__rx").cast("long").alias("srx"),
        F.sum("__ry").cast("long").alias("sry"),
        F.sum(F.col("__rx") * F.col("__ry")).cast("long").alias("sxy"),
        F.sum(F.col("__rx") * F.col("__rx")).cast("long").alias("sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).cast("long").alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("srx") * F.col("sry")).cast("long")
    dx = (n * F.col("sxx") - F.col("srx") * F.col("srx")).cast("long")
    dy = (n * F.col("syy") - F.col("sry") * F.col("sry")).cast("long")
    g = g.select(
        "grp", "n", num.alias("rho_num"), dx.alias("dx"), dy.alias("dy")
    )
    rho = F.col("rho_num").cast("double") / (
        F.sqrt(F.col("dx").cast("double")) * F.sqrt(F.col("dy").cast("double"))
    )
    return g.select(
        "grp", "n", "rho_num", "dx", "dy",
        F.when((F.col("dx") > 0) & (F.col("dy") > 0), rho).alias("rho"),
    )

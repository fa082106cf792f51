"""Closed-form linear-model training on Spark — the genuinely-trained
replacement for the reference's declared-but-never-built trajectory
predictor (reference README.md:5-6,94,98; predict_path.py's scoring
stage, SURVEY §3.3 stratum D).

Training is ordinary least squares by the NORMAL EQUATIONS, computed the
only way that survives 100 TB: the sufficient statistics X'X (d x d) and
X'y (d) are plain SUM aggregates of column products — map-side partial
aggregation everywhere, one tiny final row to the driver, a d x d solve
in numpy. No gradient loop, no per-row driver traffic; the same
tiny-metadata-to-driver shape as the deterministic Lloyd's trainer in
queries/extras.py (sim_topk_kmeans_ivf).

Determinism across engines (the oracle problem): float SUM order differs
between Spark partitions and DuckDB, so raw sums agree only to ~1e-9
relative. Both engines therefore ROUND the sufficient statistics (3 dp —
orders of magnitude above the accumulation noise, orders below the
signal) before solving, and ROUND the solved coefficients (8 dp) before
predicting. Identical stats + identical rounding = identical
coefficients = bit-identical predictions from the same linear formula.

The DuckDB twin replicates TRAINING, not just scoring: the same rounded
sums feed a generated Cramer's-rule expansion (``cramer_sql``), so the
oracle check covers the whole pipeline — feature build, split, normal
equations, solve, predict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STAT_ROUND = 3   # dp for sufficient statistics (see module docstring)
COEF_ROUND = 8   # dp for solved coefficients


def xtx_xty_sums(df: DataFrame, features: list[str], target: str) -> list[F.Column]:
    """The aggregate columns for X'X (upper triangle) and X'y.

    Aliases: ``s_{i}_{j}`` for sum(f_i * f_j), ``t_{i}`` for
    sum(f_i * y), ``n`` for count. Every one is a map-side-combinable
    SUM — the whole training pass is one scan + one tiny exchange.
    """
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("n")]
    for i, fi in enumerate(features):
        for j, fj in enumerate(features):
            if j < i:
                continue
            aggs.append(
                F.round(F.sum(F.col(fi) * F.col(fj)), STAT_ROUND).alias(f"s_{i}_{j}")
            )
        aggs.append(F.round(F.sum(F.col(fi) * F.col(target)), STAT_ROUND).alias(f"t_{i}"))
    return aggs


def solve_normal_equations(stats_row, d: int) -> list[float]:
    """Solve (X'X) beta = X'y from one collected stats row; returns
    coefficients rounded to COEF_ROUND dp. The only driver-side compute
    in the training path, on a d x d matrix."""
    import numpy as np

    xtx = np.empty((d, d))
    xty = np.empty(d)
    for i in range(d):
        for j in range(d):
            key = f"s_{min(i, j)}_{max(i, j)}"
            xtx[i, j] = stats_row[key]
        xty[i] = stats_row[f"t_{i}"]
    beta = np.linalg.solve(xtx, xty)
    return [round(float(b), COEF_ROUND) for b in beta]


def fit_ols(df: DataFrame, features: list[str], target: str) -> list[float]:
    """Train OLS on ``df`` (already filtered to the training split).

    One aggregation job; returns the rounded coefficient list, one per
    feature (include a literal-1 column for an intercept).
    """
    stats = df.agg(*xtx_xty_sums(df, features, target)).collect()[0]
    return solve_normal_equations(stats, len(features))


def predict_expr(features: list[str], coefs: list[float]) -> F.Column:
    """The fitted model as a native Column expression (no UDF): the dot
    product of literal coefficients with the feature columns."""
    expr = F.lit(0.0)
    for c, f in zip(coefs, features):
        expr = expr + F.lit(c) * F.col(f)
    return F.round(expr, 5)


# -- SQL generation for the oracle twin --------------------------------------

def _det_sql(m: list[list[str]]) -> str:
    """Determinant of a matrix of SQL expressions by Laplace expansion —
    generated text, evaluated by DuckDB. Fine for the d<=4 models here."""
    n = len(m)
    if n == 1:
        return m[0][0]
    terms = []
    for j in range(n):
        minor = [row[:j] + row[j + 1 :] for row in m[1:]]
        sign = "+" if j % 2 == 0 else "-"
        terms.append(f"{sign} ({m[0][j]}) * ({_det_sql(minor)})")
    return " ".join(terms)


def stats_sql(feature_exprs: list[str], target_expr: str) -> str:
    """The DuckDB twin of xtx_xty_sums: identical aliases, identical
    rounding, over SQL feature expressions."""
    cols = ["count(*) AS n"]
    for i, fi in enumerate(feature_exprs):
        for j in range(i, len(feature_exprs)):
            cols.append(
                f"round(sum(({fi}) * ({feature_exprs[j]})), {STAT_ROUND}) AS s_{i}_{j}"
            )
        cols.append(f"round(sum(({fi}) * ({target_expr})), {STAT_ROUND}) AS t_{i}")
    return ", ".join(cols)


def cramer_sql(d: int) -> str:
    """SELECT list solving the d x d normal equations from a stats row
    with columns ``s_i_j`` / ``t_i`` (as emitted by xtx_xty_sums), via
    Cramer's rule; emits ``c0..c{d-1}`` rounded to COEF_ROUND dp."""
    a = [[f"s_{min(i, j)}_{max(i, j)}" for j in range(d)] for i in range(d)]
    det = _det_sql(a)
    cols = []
    for k in range(d):
        ak = [[(f"t_{i}" if j == k else a[i][j]) for j in range(d)] for i in range(d)]
        cols.append(f"round(({_det_sql(ak)}) / ({det}), {COEF_ROUND}) AS c{k}")
    return ", ".join(cols)


# -- logistic regression by damped IRLS ---------------------------------------
# The trained-quality-classifier trainer (queries/quality.py
# `quality_classifier_trained`): iteratively reweighted least squares with
# a fixed iteration count and a weight floor. Each iteration is ONE
# map-side-combinable aggregation of weighted sufficient statistics (the
# same X'WX / X'Wz sums-of-products shape as the OLS trainer above) + a
# d x d solve on the driver — no per-row driver traffic, so the loop is
# `iters` scans of the (persisted) training frame at any corpus size.
#
# Determinism across engines: stats are rounded like the OLS path, and the
# driver solve is `cramer_solve` — a Python mirror of `cramer_sql`'s exact
# Laplace expansion (same term order, same left-to-right accumulation), so
# identical rounded stats produce BIT-IDENTICAL coefficients in the driver
# and in DuckDB. (numpy's LU solve can disagree with Cramer past the
# COEF_ROUND boundary on ill-conditioned systems; mirroring the formula
# removes the solver as a divergence source.)
#
# The weight floor caps z = xb + (y-p)/w: without it a late-iteration
# p -> 0/1 drives w -> 0 and z -> 1e11-scale, where cross-engine float
# accumulation noise outgrows STAT_ROUND. Floored, w*z stays O(1) per row
# (w*z = w*xb + (y-p)) and the rounded stats are noise-immune. Fixed
# `iters` also bounds coefficient growth under separable data — this is
# damped IRLS, not run-to-convergence Newton, and both engines run the
# same fixed program.

W_FLOOR = 1e-4  # IRLS weight floor (see block comment)


def _det_py(m: list[list[float]]) -> float:
    """Python mirror of _det_sql: identical Laplace expansion, identical
    left-to-right accumulation, so the float result is bit-identical to
    DuckDB evaluating the generated SQL on the same inputs."""
    n = len(m)
    if n == 1:
        return m[0][0]
    acc = 0.0
    for j in range(n):
        minor = [row[:j] + row[j + 1 :] for row in m[1:]]
        term = m[0][j] * _det_py(minor)
        acc = acc + term if j % 2 == 0 else acc - term
    return acc


def cramer_solve(stats_row, d: int) -> list[float]:
    """Solve the d x d system from a collected stats row by Cramer's rule,
    mirroring cramer_sql term for term; coefficients rounded to
    COEF_ROUND dp."""
    a = [[float(stats_row[f"s_{min(i, j)}_{max(i, j)}"]) for j in range(d)] for i in range(d)]
    t = [float(stats_row[f"t_{i}"]) for i in range(d)]
    det = _det_py(a)
    coefs = []
    for k in range(d):
        ak = [[(t[i] if j == k else a[i][j]) for j in range(d)] for i in range(d)]
        coefs.append(round(_det_py(ak) / det, COEF_ROUND))
    return coefs


def dot_expr(features: list[str], coefs: list[float]) -> F.Column:
    """Left-associated literal dot product c0*f0 + c1*f1 + ... — the same
    association order irls_iteration_sql writes, so per-row xb values are
    bit-identical across engines for identical coefficients."""
    expr = F.lit(float(coefs[0])) * F.col(features[0])
    for c, f in zip(coefs[1:], features[1:]):
        expr = expr + F.lit(float(c)) * F.col(f)
    return expr


def _irls_frame(df: DataFrame, features: list[str], target: str, beta: list[float]) -> DataFrame:
    """df + (xb_, p_, w_, z_) working columns for the current coefficients;
    column-by-column so each value is computed once, exactly as the SQL
    twin's nested CTEs do."""
    return (
        df.withColumn("xb_", dot_expr(features, beta))
        .withColumn("p_", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("xb_"))))
        .withColumn("w_", F.greatest(F.col("p_") * (F.lit(1.0) - F.col("p_")), F.lit(W_FLOOR)))
        .withColumn("z_", F.col("xb_") + (F.col(target) - F.col("p_")) / F.col("w_"))
    )


def _weighted_stat_aggs(features: list[str]) -> list[F.Column]:
    """Weighted sufficient statistics (X'WX upper triangle + X'Wz) with the
    same aliases and rounding as xtx_xty_sums."""
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("n")]
    w = F.col("w_")
    for i, fi in enumerate(features):
        for j in range(i, len(features)):
            aggs.append(
                F.round(F.sum(w * F.col(fi) * F.col(features[j])), STAT_ROUND).alias(f"s_{i}_{j}")
            )
        aggs.append(F.round(F.sum(w * F.col(fi) * F.col("z_")), STAT_ROUND).alias(f"t_{i}"))
    return aggs


def fit_logistic_irls(
    df: DataFrame, features: list[str], target: str, iters: int = 3
) -> list[float]:
    """Train logistic regression on ``df`` (already filtered to the
    training split; ``target`` is 0.0/1.0). ``iters`` aggregation jobs,
    one tiny stats row each; returns rounded coefficients."""
    d = len(features)
    df = df.persist()
    try:
        beta = [0.0] * d
        for _ in range(iters):
            row = _irls_frame(df, features, target, beta).agg(*_weighted_stat_aggs(features)).collect()[0]
            beta = cramer_solve(row, d)
    finally:
        df.unpersist()
    return beta


def irls_iterations_sql(
    train_cte: str, feature_exprs: list[str], target_expr: str, iters: int
) -> tuple[str, str]:
    """The DuckDB twin of fit_logistic_irls: CTE fragments unrolling
    ``iters`` IRLS iterations over CTE ``train_cte`` (which must expose the
    feature columns and the 0/1 target). Returns (sql_fragment,
    final_coef_cte) where the final CTE has columns c0..c{d-1}. Mirrors the
    Spark trainer stage for stage: same working columns, same stat aliases
    and rounding, cramer_sql for every solve."""
    d = len(feature_exprs)
    stat_cols = ["count(*) AS n"]
    for i, fi in enumerate(feature_exprs):
        for j in range(i, d):
            stat_cols.append(
                f"round(sum(w_ * ({fi}) * ({feature_exprs[j]})), {STAT_ROUND}) AS s_{i}_{j}"
            )
        stat_cols.append(f"round(sum(w_ * ({fi}) * z_), {STAT_ROUND}) AS t_{i}")
    stats_select = ", ".join(stat_cols)

    zeros = ", ".join(f"0.0 AS c{k}" for k in range(d))
    parts = [f"cf0 AS (SELECT {zeros})"]
    for it in range(1, iters + 1):
        xb = " + ".join(f"c{k} * ({fe})" for k, fe in enumerate(feature_exprs))
        parts.append(
            f"q{it}a AS (SELECT {train_cte}.*, ({xb}) AS xb_ FROM {train_cte}, cf{it - 1})"
        )
        parts.append(f"q{it}b AS (SELECT *, 1.0 / (1.0 + exp(-xb_)) AS p_ FROM q{it}a)")
        parts.append(
            f"q{it}c AS (SELECT *, greatest(p_ * (1.0 - p_), {W_FLOOR}) AS w_ FROM q{it}b)"
        )
        parts.append(
            f"q{it}d AS (SELECT *, xb_ + (({target_expr}) - p_) / w_ AS z_ FROM q{it}c)"
        )
        parts.append(f"st{it} AS (SELECT {stats_select} FROM q{it}d)")
        parts.append(f"cf{it} AS (SELECT {cramer_sql(d)} FROM st{it})")
    return ",\n    ".join(parts), f"cf{iters}"

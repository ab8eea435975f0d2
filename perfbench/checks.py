"""Checks of the program's outputs, computed apart from the program.

mc_grid:
  * every (cell, method, coef) of the metric table used as many
    replications as the cell ran fits (n_reps_used);
  * WCLS-Internal and WCLS-Pooled estimates and SEs, re-derived here in
    numpy from exported panels, match the program's;
  * on traced runs, the rows-parallel estimators agree with the local
    route on the same panel within ROUTE_TOL.
release_catalog:
  * each query's rows equal the DuckDB rows stored under expected/, by the
    rules of tools/check_oracle.py (exact floats, signed zero), and the
    corpus is the one those rows were computed from.
"""
import glob
import hashlib
import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent / "tools"))
from check_oracle import canon, same_value  # noqa: E402

DATA = BENCH / "data"
EXPECTED = BENCH / "expected"
FINGERPRINT = EXPECTED / "FINGERPRINT.json"

# numpy and the program sum in different orders; both agree far inside this
EST_RTOL = 1e-8
EST_ATOL = 1e-10
# ScaleCell's bound between the two estimator routes
ROUTE_TOL = 1e-6

METHODS = ["WCLS-Internal", "WCLS-Pooled", "P-WCLS-Internal", "P-WCLS-Pooled",
           "P-WCLS-Pooled-Obs", "ET-WCLS-Equal", "ET-WCLS-Kron", "ET-WCLS",
           "DR-WCLS", "PET-WCLS"]
COEFS = ["Intercept", "Slope"]


# ---- numpy WCLS --------------------------------------------------------

def logistic_irls(x, y, max_iter=25, tol=1e-8):
    """R glm.fit binomial IRLS: start at mustart = (y+0.5)/2, stop on the
    relative deviance change."""
    mu = (y + 0.5) / 2
    eta = np.log(mu / (1 - mu))
    dev = np.sum(-2 * (y * np.log(mu) + (1 - y) * np.log(1 - mu)))
    beta = None
    for _ in range(max_iter):
        w = mu * (1 - mu)
        z = eta + (y - mu) / w
        xtw = x.T * w
        beta = np.linalg.solve(xtw @ x, xtw @ z)
        eta = x @ beta
        mu = 1 / (1 + np.exp(-eta))
        dev_new = np.sum(-2 * (y * np.log(mu) + (1 - y) * np.log(1 - mu)))
        done = abs(dev_new - dev) / (abs(dev_new) + 0.1) < tol
        dev = dev_new
        if done:
            break
    return beta


def wcls(panel: pd.DataFrame, internal_only: bool):
    """WCLS estimate and SE of the treatment coefficients (a_c, a_c:x1),
    with the reference's blocked sandwich: rows in t-major order,
    clusters of t_max consecutive rows."""
    p = panel.sort_values(["t", "user_id"], kind="mergesort")
    if internal_only:
        p = p[p["is_internal"]]
    y, a = p["y"].to_numpy(float), p["a"].to_numpy(float)
    x1, x2, x3 = (p[c].to_numpy(float) for c in ("x1", "x2", "x3"))
    n = len(p)
    ones = np.ones(n)
    p_hat = 1 / (1 + np.exp(-(logistic_irls(ones[:, None], a)[0] * ones)))
    a_c = a - p_hat
    p_hat_a = a * p_hat + (1 - a) * (1 - p_hat)
    w = p_hat_a / p["p_h_a"].to_numpy(float)
    x = np.column_stack([ones, x1, x2, x3, a_c, a_c * x1])
    xtw = x.T * w
    beta = np.linalg.solve(xtw @ x, xtw @ y)
    wres = w * (y - x @ beta)

    d = 7
    scores = np.column_stack([a - p_hat, x * wres[:, None]])
    h = np.zeros((d, d))
    h[0, 0] = np.sum(p_hat * (1 - p_hat))
    h[1:, 1:] = xtw @ x
    # derivative of the weighted-residual scores in the propensity intercept
    logd = -(2 * a - 1) * p_hat * (1 - p_hat) / p_hat_a
    prd = -(1 - p_hat)
    t1 = (x * wres[:, None]).T @ logd
    blk = np.column_stack([np.zeros((n, 4)), -p_hat[:, None] * np.column_stack([ones, x1])])
    t2 = (blk * wres[:, None]).T @ prd
    fit_r = x[:, 4:] @ beta[4:]
    t3 = (x * (p_hat * fit_r / a_c * w)[:, None]).T @ prd
    h[1:, 0] = t1 + t2 + t3

    n_users = p["user_id"].nunique()
    agg = scores.reshape(n_users, n // n_users, d).sum(axis=1)
    half = np.linalg.solve(h, np.linalg.cholesky(agg.T @ agg))
    v = half @ half.T * n_users / (n_users - d)
    return beta[4:], np.sqrt(np.diag(v)[5:])


def close(got: float, want: float, rtol=EST_RTOL, atol=EST_ATOL) -> bool:
    return abs(got - want) <= atol + rtol * abs(want)


# ---- mc_grid -----------------------------------------------------------

def check_mc(res: dict) -> tuple:
    """Returns (wrong fits, list of problems) for one mc_grid run. Fits the
    program skipped are counted failed by the JVM side already."""
    per_rep = pd.read_csv(res["per_rep_csv"])
    metrics = pd.read_csv(res["metrics_csv"])
    reps = {(c["n_internal"], c["n_external"]): c["reps"] for c in res["reps"]}
    present = per_rep[per_rep["coef"] == COEFS[0]].groupby(
        ["n_internal", "n_external", "method"]).size()
    problems = check_reps_used(metrics, reps, present)
    wrong = 0

    for pan in res["panels"]:
        cell = (pan["n_internal"], pan["n_external"])
        panel = pd.concat([pd.read_parquet(f) for f in glob.glob(pan["path"] + "/*.parquet")])
        for method, internal_only in (("WCLS-Internal", True), ("WCLS-Pooled", False)):
            est, se = wcls(panel, internal_only)
            rows = per_rep[(per_rep["n_internal"] == cell[0]) & (per_rep["n_external"] == cell[1])
                           & (per_rep["replication"] == pan["replication"])
                           & (per_rep["method"] == method)]
            bad = check_fit(rows, est, se)
            if bad:
                wrong += 1
                problems.append(f"{method} at cell {cell} rep {pan['replication']}: {bad}")

    if "route_agreement" in res:
        problems += check_route(res["route_agreement"])
    return wrong, problems


def check_route(route: dict) -> list:
    """The traced run's comparison of the two estimator routes."""
    if route["compared"] == route["expected"] and route["max_abs_diff"] < ROUTE_TOL:
        return []
    return [f"rows-parallel and local routes disagree: {route}"]


def check_reps_used(metrics: pd.DataFrame, reps: dict, present: pd.Series) -> list:
    problems = []
    if len(metrics) != len(reps) * len(METHODS) * len(COEFS):
        problems.append(f"metric table has {len(metrics)} rows, "
                        f"want {len(reps) * len(METHODS) * len(COEFS)}")
    for r in metrics.itertuples():
        fits = int(present.get((r.n_internal, r.n_external, r.method), 0))
        if r.n_reps_used != fits:
            problems.append(f"n_reps_used {r.n_reps_used} != {fits} fits for "
                            f"({r.n_internal}, {r.n_external}, {r.method}, {r.coef})")
    return problems


def check_fit(rows: pd.DataFrame, est, se) -> str:
    """'' when the program's two coefficient rows match (est, se)."""
    if len(rows) != len(COEFS):
        return f"{len(rows)} result rows"
    for i, coef in enumerate(COEFS):
        r = rows[rows["coef"] == coef].iloc[0]
        if not (close(r["estimate"], est[i]) and close(r["se"], se[i])):
            return (f"{coef}: program ({r['estimate']!r}, {r['se']!r}) "
                    f"vs numpy ({est[i]!r}, {se[i]!r})")
    return ""


# ---- release_catalog ---------------------------------------------------

def fingerprint(data_dir: Path = DATA) -> dict:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(data_dir.glob("*.parquet"))}


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal under tools/check_oracle.py's rules."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not same_value(x, y):
                return f"column {c} row {i}: {x!r} vs {y!r}"
    return ""


def check_release(res: dict) -> tuple:
    """Returns (queries whose rows are wrong, list of problems). Queries
    that threw are counted failed by the JVM side already."""
    stored = json.loads(FINGERPRINT.read_text())
    if stored != fingerprint():
        return len(res["queries"]) - len(res["errors"]), [
            "perfbench/data does not match the corpus the expected rows were computed "
            "from; run python3 perfbench/release_oracle.py"]
    wrong, problems = 0, []
    for name in res["queries"]:
        if name in res["errors"]:  # counted failed by the JVM side
            continue
        files = glob.glob(f"{res['outputs']}/{name}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        bad = "no output" if got is None else compare_frames(
            got, pd.read_parquet(EXPECTED / f"{name}.parquet"))
        if bad:
            wrong += 1
            problems.append(f"{name}: {bad}")
    return wrong, problems

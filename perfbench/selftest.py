#!/usr/bin/env python3
"""Shows that every check in checks.py can fail: each case feeds a check
one good input, which it must accept, and one broken copy, which it must
reject. Needs no JVM.

    python3 perfbench/selftest.py
"""
import os
import sys

sys.dont_write_bytecode = True

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import checks  # noqa: E402


def synthetic_panel(seed: int, n_int: int = 30, n_ext: int = 30, t_max: int = 20) -> pd.DataFrame:
    """A panel with the generator's columns and t-major layout."""
    rng = np.random.default_rng(seed)
    n = n_int + n_ext
    t, user = np.divmod(np.arange(n * t_max), n)
    x1, x2, x3 = rng.normal(size=(3, n * t_max))
    p_h = 1 / (1 + np.exp(-(0.2 + 0.05 * x1)))
    a = (rng.uniform(size=n * t_max) < p_h).astype(float)
    y = 4 + 2 * x1 + a * (1 + 2 * x1) + rng.normal(size=n * t_max)
    return pd.DataFrame({"t": t + 1, "user_id": user + 1, "y": y, "a": a, "x1": x1, "x2": x2,
                         "x3": x3, "p_h_a": a * p_h + (1 - a) * (1 - p_h),
                         "is_internal": user < n_int})


def fit_rows(est, se) -> pd.DataFrame:
    return pd.DataFrame({"coef": checks.COEFS, "estimate": est, "se": se})


def main() -> int:
    cases = []

    def case(name, accepted, rejected):
        ok = accepted == "" and rejected != ""
        cases.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: good -> {accepted or 'accepted'}; "
              f"broken -> {rejected or 'ACCEPTED'}")

    # a perturbed estimate, and a perturbed SE
    est, se = checks.wcls(synthetic_panel(7), internal_only=False)
    case("perturbed estimate", checks.check_fit(fit_rows(est, se), est, se),
         checks.check_fit(fit_rows(est * (1 + 1e-6), se), est, se))
    case("perturbed SE", checks.check_fit(fit_rows(est, se), est, se),
         checks.check_fit(fit_rows(est, se * (1 + 1e-6)), est, se))

    # a metric row whose n_reps_used does not match the fits behind it
    reps = {(25, 25): 2}
    present = pd.Series({(25, 25, m): 2 for m in checks.METHODS})
    metrics = pd.DataFrame([(25, 25, c, m, 2) for m in checks.METHODS for c in checks.COEFS],
                           columns=["n_internal", "n_external", "coef", "method", "n_reps_used"])
    short = metrics.copy()
    short.loc[3, "n_reps_used"] = 1
    case("n_reps_used", "; ".join(checks.check_reps_used(metrics, reps, present)),
         "; ".join(checks.check_reps_used(short, reps, present)))

    # the two estimator routes apart by more than the bound
    good = {"compared": 20, "expected": 20, "max_abs_diff": 1e-9}
    case("route agreement", "; ".join(checks.check_route(good)),
         "; ".join(checks.check_route(dict(good, max_abs_diff=2 * checks.ROUTE_TOL))))

    # a dropped release row
    want = pd.read_parquet(checks.EXPECTED / "p11_release_changelog.parquet")
    case("dropped release row", checks.compare_frames(want.copy(), want),
         checks.compare_frames(want.drop(index=want.index[17]), want))

    # a flipped signed zero in a float column of a release table
    want = pd.read_parquet(checks.EXPECTED / "p5cf_domain_mix_from_release.parquet")
    want.loc[want.index[0], "doc_share"] = 0.0
    flipped = want.copy()
    flipped.loc[flipped.index[0], "doc_share"] = -0.0
    case("flipped signed zero", checks.compare_frames(want.copy(), want),
         checks.compare_frames(flipped, want))

    # a corpus that is not the one the expected rows were computed from
    stored = checks.fingerprint()
    changed = dict(stored, **{next(iter(stored)): "0" * 64})
    case("corpus fingerprint", "" if stored == checks.fingerprint() else "differs",
         "" if changed == checks.fingerprint() else "differs")

    print(f"{sum(cases)}/{len(cases)} checks rejected their broken input")
    return 0 if all(cases) else 1


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code)  # as run.py: no interpreter teardown after duckdb

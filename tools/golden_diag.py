"""Golden-gap localization diagnostic.

Runs the pinned Testing.R experiments (lag=1 / lag=5) entirely
locally (numpy, multiprocessing over origins) on a cached end_var,
under perturbations that bracket where the reference's numbers could
live:

  - lambda scale sweep: multiply every equation's CV-selected λ.min
    by c ∈ {0.25, 0.5, 1, 2, 4} — if no c reaches the golden MSE sum,
    the gap is NOT in λ.min selection (it's in the data itself).
  - per-horizon MSFE profile at c=1 for shape comparison.

Usage: python tools/golden_diag.py [--lag N] [--refresh-endvar]
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.golden_repro import EZLASSO_ALL, GOLDEN  # noqa: E402

END_VAR_CACHE = "/tmp/golden_end_var_{variant}.parquet"

H = 8
PRED_IND = (1, 2, 4, 8)


def cached_end_var(variant: str = "testing") -> pd.DataFrame:
    path = END_VAR_CACHE.format(variant=variant)
    if not os.path.exists(path) or "--refresh-endvar" in sys.argv:
        from var_elasticnet_bigdata_spark.session import get_spark
        from tools.golden_repro import build_end_var

        spark = get_spark("golden-diag")
        spark.sparkContext.setLogLevel("ERROR")
        end_var, _ = build_end_var(spark, variant=variant)
        end_var.to_parquet(path)
        spark.stop()
    return pd.read_parquet(path)


SCALES = (0.25, 0.5, 1.0, 2.0, 4.0)


def one_origin(args):
    """(i, Y, lag, alpha, const[, lambda_rule]) -> (i, {scale: preds
    at PRED_IND}, GDP-eq λ used)."""
    i, Y, lag, alpha, const = args[:5]
    rule = args[5] if len(args) > 5 else "min"
    from var_elasticnet_bigdata_spark.ml.var_model import fit_enet_var_local

    m = fit_enet_var_local(Y[: i + 1], [f"s{j}" for j in range(Y.shape[1])],
                           p=lag, alpha=alpha, intercept=const, lambda_rule=rule)
    base = dict(m.lambda_used)
    out = {}
    for c in SCALES:
        for s in m.series:
            m.lambda_used[s] = base[s] * c
        preds = m.predict(H)[:, 0]
        out[c] = [float(preds[p - 1]) for p in PRED_IND]
    return i, out, float(base["s0"])


def mse_sum(Y: np.ndarray, start_idx: int, lag: int, alpha: float,
            workers: int = 32):
    n = Y.shape[0]
    ws = start_idx - H
    origins = list(range(ws, n - 1))
    jobs = [(i, Y, lag, alpha, True) for i in origins]
    with ProcessPoolExecutor(max_workers=workers) as ex:
        res = {i: (p, l0) for i, p, l0 in ex.map(one_origin, jobs, chunksize=1)}
    out = {}
    for c in SCALES:
        sse = {h: 0.0 for h in PRED_IND}
        cnt = {h: 0 for h in PRED_IND}
        for i in origins:
            preds = res[i][0][c]
            for hi, h in enumerate(PRED_IND):
                t = i + h
                if start_idx <= t <= n - 1:
                    e = preds[hi] - Y[t, 0]
                    sse[h] += e * e
                    cnt[h] += 1
        out[c] = (sum(sse.values()), {h: sse[h] / cnt[h] for h in PRED_IND})
    lam0 = {i: res[i][1] for i in origins}
    return out, lam0


def main():
    lag = 1
    variant = "testing"
    for a in sys.argv[1:]:
        if a.startswith("--lag"):
            lag = int(sys.argv[sys.argv.index(a) + 1]) if a == "--lag" else int(a[6:])
        if a == "--variant":
            variant = sys.argv[sys.argv.index(a) + 1]
    end_var = cached_end_var(variant)
    cols = [c for c in EZLASSO_ALL if c in end_var.columns]
    sub = end_var[cols].dropna()
    Y = sub.to_numpy(dtype=float)
    dates = pd.to_datetime(sub.index)
    start_idx = int(np.flatnonzero(dates == pd.Timestamp("2000-01-01"))[0])
    print(f"end_var: {Y.shape}, start_idx={start_idx}")
    golden = {1: GOLDEN["result3"]["mse_sum"], 5: GOLDEN["result2"]["mse_sum"]}[lag]
    out, lam0 = mse_sum(Y, start_idx, lag, 0.4)
    for c in SCALES:
        s, msfe = out[c]
        rel = (s - golden) / golden
        print(f"lam_scale={c:<5} mse_sum={s:.9f} golden={golden:.9f} "
              f"rel={rel:+.1%}  msfe={ {h: round(v, 8) for h, v in msfe.items()} }")
    l0s = np.array(list(lam0.values()))
    print(f"GDP-eq lambda.min across origins: min={l0s.min():.6g} "
          f"med={np.median(l0s):.6g} max={l0s.max():.6g}")


if __name__ == "__main__":
    main()

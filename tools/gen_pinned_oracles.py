"""Generate pinned DuckDB oracles for queries whose engine path is
not SQL-expressible even in principle (seeded k-means training inside
``ann_ivf_top1``).

The VERDICT r2 option exercised here: "pin an independently-computed
expected table (numpy solver, not the engine) as a DuckDB VALUES
oracle with rounded floats". This tool re-implements the ENTIRE IVF
pipeline from its public spec — spherical k-means on the bounded
sample (numpy PCG64 seed, 20 Lloyd rounds), nprobe assignment,
candidate rerank with the (cosine desc, id asc) tie order — WITHOUT
importing any engine module, reads the parquet directly via pyarrow
(sorted by vec_id, the order of the engine's ``orderBy(vec_id)``
bounded sample), and pins the expected output per data fingerprint
(row count, Σ vec_id, content checksum — the checksum is matched with
an absolute tolerance in SQL so parallel-aggregation float drift
cannot flip it). The emitted JSON is consumed by ``queries.py`` at
import time to build a fingerprint-switched VALUES oracle: if the
driver ever regenerates the test data, the fingerprint misses and
the oracle returns 0 rows — a LOUD rowcount failure, never a
silently stale pin.

Usage:  python tools/gen_pinned_oracles.py [testdata_root]
Writes: var_elasticnet_bigdata_spark/pinned/ann_ivf_top1.json
"""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

# public spec constants, mirrored from the operator's docstring —
# re-stated here so this stays an independent implementation
SEED = 20260813
NLIST, NPROBE, K, ITERS, SAMPLE_ROWS = 16, 8, 1, 20, 100_000


def expected_ivf_top1(path: str) -> list[tuple[int, int, int, float]]:
    t = pq.read_table(path).sort_by("vec_id")  # the sample's id order
    ids = np.asarray(t["vec_id"].to_numpy(), dtype=np.int64)
    M = np.array(
        [np.asarray(v.as_py(), dtype=np.float64) for v in t["embedding"]]
    )
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    M = M / norms

    # spherical k-means on the bounded head sample
    S = M[:SAMPLE_ROWS]
    rng = np.random.default_rng(SEED)
    C = S[rng.choice(len(S), size=min(NLIST, len(S)), replace=False)].copy()
    for _ in range(ITERS):
        assign = np.argmax(S @ C.T, axis=1)
        for j in range(len(C)):
            members = S[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n

    sims = M @ C.T
    probes = np.argsort(-sims, axis=1)[:, : min(NPROBE, len(C))]
    home = probes[:, 0]
    out = []
    for qi in range(len(ids)):
        cand = np.flatnonzero(np.isin(home, probes[qi]))
        cand = cand[ids[cand] != ids[qi]]
        if not len(cand):
            continue
        cos = M[qi] @ M[cand].T
        order = np.lexsort((ids[cand], -cos))[:K]
        for rank, ci in enumerate(order, start=1):
            out.append(
                (int(ids[qi]), rank, int(ids[cand[ci]]), round(float(cos[ci]), 6))
            )
    return out


def fingerprint(path: str) -> dict:
    con = duckdb.connect()
    n, id_sum, checksum = con.execute(
        "SELECT COUNT(*), SUM(vec_id), "
        "SUM(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    return {"n": int(n), "id_sum": int(id_sum), "checksum": float(checksum)}


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata"
    pins = []
    for path in sorted(glob.glob(os.path.join(root, "sf*", "embeddings.parquet"))):
        fp = fingerprint(path)
        if any(p["fingerprint"] == fp for p in pins):
            continue
        rows = expected_ivf_top1(path)
        pins.append({"source": path, "fingerprint": fp, "rows": rows})
        print(f"{path}: {len(rows)} rows, fp={fp}")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "var_elasticnet_bigdata_spark", "pinned", "ann_ivf_top1.json",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"query": "ann_ivf_top1", "pins": pins}, f)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

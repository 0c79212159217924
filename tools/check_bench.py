"""Bench regression gate: compare a bench run against the recorded
per-query baseline (bench_baseline.json) and fail on per-query
regressions.

Usage:
    python bench.py > /tmp/bench.json   # or use a driver BENCH_r*.json
    python tools/check_bench.py /tmp/bench.json

With no argument and no /tmp/bench.json, falls back to the committed
bench_full.json so the gate is runnable from a clean checkout.

Queries faster than FLOOR_SEC in the baseline are compared against
``baseline + FLOOR_SEC`` instead of the pure ratio — at sub-second
scale Spark job-setup jitter dominates and a ratio gate just flaps.
Both sides being 3-run medians (bench.py) is what lets the gate sit at
1.3× rather than the 1.5× single-run noise demanded. New queries
(absent from the baseline) are listed, never failed. Update the
baseline deliberately after intentional plan changes, and whenever a
round is accepted, from a warmed bench of the accepted commit on the
gating host:
    python tools/check_bench.py --rebase /tmp/bench.json
The baseline's ``source`` records the commit, sf, cpus and date of
that run (``SPARK_GRAFT_CPUS`` as bench.py's session read it).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "bench_baseline.json")
RATIO = 1.3
FLOOR_SEC = 0.5


def load_bench(path: str) -> dict:
    raw = open(path).read()
    # bench.py emits TWO JSON lines since r4 (full then compact, so the
    # driver's stdout-tail window always holds a parseable one); driver
    # BENCH files wrap lines in a "tail" field. Accept all forms and
    # prefer the candidate with the MOST per-query entries.
    candidates: list[dict] = []

    def consider(doc) -> None:
        if isinstance(doc, dict):
            if "queries" in doc:
                candidates.append(doc)
            if isinstance(doc.get("parsed"), dict) and "queries" in doc["parsed"]:
                candidates.append(doc["parsed"])
            # bench lines end '"sf": ...}' / '"queries_shown": N}', so
            # match whole lines greedily (ADVICE r4: a lazy '.*?\}\}'
            # can never reach either line's end)
            for tail_line in (doc.get("tail", "") or "").splitlines():
                for m in re.findall(r'\{"metric".*\}', tail_line):
                    try:
                        consider(json.loads(m))
                    except json.JSONDecodeError:
                        pass

    try:
        consider(json.loads(raw))
    except json.JSONDecodeError:
        for m in re.findall(r"\{.*\}", raw):
            try:
                consider(json.loads(m))
            except json.JSONDecodeError:
                pass
    if not candidates:
        raise SystemExit(f"no bench queries found in {path}")
    return max(candidates, key=lambda d: len(d.get("queries", {})))


def run_source(path: str, bench: dict) -> str:
    """Where a rebased baseline came from: file, commit, sf, cpus, date."""
    commit = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip() or "unknown"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        f"{os.path.basename(path)}: commit {commit}, sf {bench.get('sf')}, "
        f"{cpus} cpus, {datetime.date.today().isoformat()}"
    )


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rebase = "--rebase" in sys.argv
    path = args[0] if args else "/tmp/bench.json"
    if not os.path.exists(path):
        fallback = os.path.join(REPO, "bench_full.json")
        if not args and os.path.exists(fallback):
            print(f"{path} not found; checking committed {fallback}")
            path = fallback
        else:
            print(f"bench file not found: {path}", file=sys.stderr)
            return 2
    bench = load_bench(path)
    if rebase:
        json.dump(
            {
                "source": run_source(path, bench),
                "sf": bench.get("sf"),
                "queries": bench["queries"],
            },
            open(BASELINE, "w"),
            indent=1,
        )
        print(f"baseline rebased from {path}: {len(bench['queries'])} queries")
        return 0
    base = json.load(open(BASELINE))["queries"]
    regressions, improved, new = [], [], []
    for q, t in sorted(bench["queries"].items()):
        if q not in base:
            new.append(q)
            continue
        b = base[q]
        ceiling = max(b * RATIO, b + FLOOR_SEC)
        if t > ceiling:
            regressions.append((q, b, t))
        elif t < b / RATIO:
            improved.append((q, b, t))
    for q, b, t in regressions:
        print(f"REGRESSION {q}: {b:.2f}s -> {t:.2f}s ({t / b:.1f}x)")
    for q, b, t in improved:
        print(f"improved   {q}: {b:.2f}s -> {t:.2f}s")
    if new:
        print(f"new queries (no baseline): {', '.join(new)}")
    print(
        f"{len(regressions)} regressions / {len(bench['queries'])} queries "
        f"(gate: >{RATIO}x and >+{FLOOR_SEC}s)"
    )
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())

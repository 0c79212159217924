"""Self-test of the benchmark: one short run per workload and mode.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --seconds 1`` untraced and traced and
checks that

* every end-to-end and per-layer metric of ``BENCHMARK.json`` is printed
  with its unit, and every output matched;
* each workload reaches the layer it was chosen for, so a mechanism that
  silently switches off fails here rather than reading as a speed-up.

Exits non-zero on the first workload that fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metric that must be positive on the workload's traced run
REACHES = {
    "var_forecast": [
        "ml.gram.compute_moments.calls", "ml.gram.blocked_fold_column.calls",
        "ml.var_model.fit_enet_var.calls", "ml.tuning.s", "ml.selection.s",
        "ml.group_enet.s", "harness.modeltrain.s", "functions.stats.s",
    ],
    "corpus_stores": [
        "plans.spread.fired_frac", "plans.cachereg.pin_frame.calls", "python.bytes_sent",
        "operators.similarity.s", "operators.multimodal.s", "operators.curation.s",
        "operators.split.s", "sources.write_bucketed.calls",
        "sources.recover_orphaned_compaction.calls",
    ],
}


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    problems = []
    for w in contract["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            want = {m["name"]: m["unit"] for m in contract[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={trace}: metrics {sorted(set(got) ^ set(want))} differ")
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={trace}: {res['failed']} failed executions")
            if trace:
                for metric in REACHES[name]:
                    if not res["metrics"].get(metric, {}).get("value", 0) > 0:
                        problems.append(f"{name}: {metric} is not positive")
        print(f"{name}: {'ok' if not problems else 'FAILED'}", flush=True)
        if problems:
            break
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

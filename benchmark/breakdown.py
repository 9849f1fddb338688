"""Write the traced per-layer breakdown of one workload.

    python3 benchmark/breakdown.py --workload profile --seed 1

Runs the benchmark twice on the same seed, with tracing off and on, and
writes ``benchmark/breakdowns/<workload>.json``:

* ``layers``: per layer, calls, build and exec self time, jobs, tasks,
  executor task time and shuffle megabytes of the measured pass;
* ``ops``: the same split per operation;
* ``spans``: every span of the pass (name, phase, start and end
  relative to the pass, parent, op id, self time);
* ``overhead``: traced minus untraced end-to-end metrics.

Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import LAYERS, costs, self_times  # noqa: E402


def run(workload: str, seed: int, trace: int, spans: str | None) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans:
        cmd += ["--spans", spans]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    os.makedirs(os.path.join(ROOT, ".bench_scratch"), exist_ok=True)
    plain = run(args.workload, args.seed, 0, None)
    with tempfile.NamedTemporaryFile(dir=os.path.join(ROOT, ".bench_scratch"),
                                     suffix=".json") as f:
        traced = run(args.workload, args.seed, 1, f.name)
        with open(f.name) as g:
            dump = json.load(g)

    spans = [s for s in dump["spans"] if s["pass"]]
    selft = self_times(dump["spans"])
    t0 = min(s["start"] for s in spans)
    jobs_of: dict = {}
    for j in dump["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)
    passes = dump["passes"]
    layers = costs(dump["spans"], dump["jobs"], passes, lambda s: s["layer"])
    ops = costs(dump["spans"], dump["jobs"], passes, lambda s: s["op"])

    def rounded(d):
        return {k: round(v, 4) for k, v in d.items()}

    untraced = {k: v["value"] for k, v in plain["metrics"].items()}
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "untraced": untraced,
        "traced": dump["end_to_end"],
        "overhead": {k: round(dump["end_to_end"][k] - untraced[k], 4)
                     for k in untraced},
        "layers": {l: rounded(v) for l, v in layers.items() if l in LAYERS},
        "ops": {o: rounded(v) for o, v in ops.items()},
        "per_layer_metrics": {k: v["value"] for k, v in traced["metrics"].items()},
        "spans": [
            {"id": s["id"], "name": s["name"], "phase": s["phase"],
             "parent": s["parent"], "op_id": s["op_id"],
             "start": round(s["start"] - t0, 4), "end": round(s["end"] - t0, 4),
             "self_s": round(selft[s["id"]], 4),
             "jobs": len(jobs_of.get(s["id"], []))}
            for s in sorted(spans, key=lambda s: s["start"])
        ],
    }
    dest = os.path.join(HERE, "breakdowns", f"{args.workload}.json")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(dest)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark at a tiny size.

    python3 benchmark/selftest.py [--quick]

1. Every check in ``checks.py`` accepts the right answer built from the
   planted truth and rejects a deliberately wrong one (an off-by-one
   count, a shifted mean, a wrong media kind, a missing neighbour...).
2. Unless ``--quick``: every workload runs once at the tiny size with
   tracing off and on, and each run's last line must carry exactly the
   metrics BENCHMARK.json names for that mode, each with its unit, and
   report no failed operation.
3. Unless ``--quick``: in a directory holding only BENCHMARK.json and
   the benchmark's files, the command exits non-zero and prints no
   result.

Exits 0 when everything holds. Run from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


def expect(name: str, errs: list, wrong: bool, problems: list) -> None:
    if bool(errs) != wrong:
        problems.append(f"{name}: {'accepted a wrong answer' if wrong else errs}")


def check_checks(problems: list) -> None:
    os.makedirs(os.path.join(ROOT, ".bench_scratch"), exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".bench_scratch"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_scratch")) as d:
        for sub in ("p", "c", "i"):
            os.makedirs(os.path.join(d, sub))
        prof = gen.profile_inputs(os.path.join(d, "p"), 7, "tiny")["truth"]
        corp = gen.corpus_inputs(os.path.join(d, "c"), 7, "tiny")["truth"]
        ing = gen.ingest_inputs(os.path.join(d, "i"), 7, "tiny")["truth"]

    li = prof["lineitem"]
    intro = {"rows": li["rows"], "columns": li["columns"]}
    expect("introduce", checks.introduce(intro, li), False, problems)
    expect("introduce off by one",
           checks.introduce({**intro, "rows": li["rows"] + 1}, li), True, problems)

    got = {(c, s): v for c, st in li["describe"].items() for s, v in st.items()}
    expect("describe", checks.describe(got, li["describe"]), False, problems)
    bad = dict(got)
    bad[("l_quantity", "count")] += 1
    expect("describe count off by one", checks.describe(bad, li["describe"]),
           True, problems)
    bad = dict(got)
    bad[("l_discount", "mean")] *= 1 + 1e-6
    expect("describe mean off", checks.describe(bad, li["describe"]), True, problems)

    v = li["violations"]
    expect("violations", checks.counts("v", dict(v), v), False, problems)
    k = next(iter(v))
    expect("violation off by one", checks.counts("v", {**v, k: v[k] - 1}, v),
           True, problems)

    price = li["describe"]["l_extendedprice"]
    n = int(price["count"])
    hist = [(1, price["min"], 50_000.0, n // 2), (2, 50_000.0, price["max"], n - n // 2)]
    expect("histogram", checks.histogram(hist, n, price["min"], price["max"], 10),
           False, problems)
    expect("histogram off by one",
           checks.histogram(hist[:1] + [(2, 50_000.0, price["max"], n - n // 2 + 1)],
                            n, price["min"], price["max"], 10), True, problems)

    q = li["describe"]["l_quantity"]
    mom = {"n": q["count"], "n_null": q["n_null"], "min": q["min"],
           "max": q["max"], "mean": q["mean"]}
    expect("moments", checks.moments("m", mom, mom), False, problems)
    expect("moments n off by one",
           checks.moments("m", {**mom, "n": mom["n"] + 1}, mom), True, problems)

    truth_topk = corp["topk"]
    exact = {qid: list(t["ids"]) for qid, t in truth_topk.items()}
    expect("topk", checks.topk(exact, truth_topk), False, problems)
    qid = next(iter(exact))
    far = min(range(corp["vectors"]), key=lambda i: truth_topk[qid]["sims"][i])
    expect("topk wrong neighbour",
           checks.topk({**exact, qid: exact[qid][:-1] + [far]}, truth_topk),
           True, problems)
    expect("recall floor", checks.at_least("r", checks.recall_at_k(exact, truth_topk), 0.99),
           False, problems)
    half = {qid: ids[:5] for qid, ids in exact.items()}
    expect("recall below floor",
           checks.at_least("r", checks.recall_at_k(half, truth_topk), 0.6), True, problems)

    drop = set(corp["semantic_dropped"])
    expect("semantic", checks.semantic(drop, corp["semantic_dropped"], 0.9)[0],
           False, problems)
    expect("semantic drops an unplanted row",
           checks.semantic(drop | {max(range(corp["vectors"])) + 1},
                           corp["semantic_dropped"], 0.9)[0], True, problems)

    pairs = corp["near_pairs"]
    together = {i: min(a, b) for a, b in pairs for i in (a, b)}
    expect("pair recall", checks.at_least(
        "r", checks.pair_recall(together, pairs), 0.9), False, problems)
    expect("pair recall below floor", checks.at_least(
        "r", checks.pair_recall({}, pairs), 0.9), True, problems)

    media = {i: (k, True, w, h) for i, (k, w, h) in corp["media"].items()}
    expect("media", checks.media(media, corp["media"]), False, problems)
    i0, (k0, _, w0, h0) = next(iter(media.items()))
    expect("media wrong kind",
           checks.media({**media, i0: ("gif", True, w0, h0)}, corp["media"]),
           True, problems)
    wide = next(i for i, m in media.items() if m[2] is not None)
    kind, _, w, h = media[wide]
    expect("media width off by one",
           checks.media({**media, wide: (kind, True, w + 1, h)}, corp["media"]),
           True, problems)

    landed = ing["sent"] - ing["dropped"]
    expect("conservation", checks.equal("d", ing["sent"] - landed, ing["dropped"]),
           False, problems)
    expect("conservation off by one",
           checks.equal("d", ing["sent"] - landed - 1, ing["dropped"]), True, problems)


def check_runs(problems: list) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w, "--seed", "3", "--seconds",
                                      "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=900)
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} failed")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(want[trace]) - set(got))}, extra "
                                f"{sorted(set(got) - set(want[trace]))}, units "
                                f"{[k for k in got if got[k] != want[trace].get(k, got[k])]}")
            print(f"ok {tag}: {len(got)} metrics", flush=True)


def check_bare(problems: list) -> None:
    """Without the engine beside it the command fails without a result."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(ROOT, ".bench_scratch"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_scratch")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"],
                                  "--seed", "1", "--seconds", "1", "--trace", "0"]
        p = subprocess.run(cmd, cwd=d, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or '"metrics"' in p.stdout:
            problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")


def main() -> int:
    problems: list[str] = []
    check_checks(problems)
    print(f"checks: {'ok' if not problems else problems}", flush=True)
    if "--quick" not in sys.argv:
        check_bare(problems)
        check_runs(problems)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

"""Drive run.py over several workloads or seeds, one process at a time.

    python3 perfbench/suite.py report   [--seed N]
    python3 perfbench/suite.py spread   --workload W [--seeds 1,2,...]
    python3 perfbench/suite.py selftest [--seed N]

``report`` prints every metric of every workload with its unit and the
output-check verdict. ``spread`` prints, per end-to-end metric, the
median and the quartile spread (Q3 - Q1) / median over the seeds.
``selftest`` plants a delay in every ``fsio.read_text`` call (inside
the benchmark only) and checks that the trace blames ``fsio`` for it,
that the ``reads`` workload slows down, and that its queries, which
never touch the table layer, do not. Per-layer metrics of one workload
come from ``run.py --trace 1``.

Runs are strictly sequential: two Spark sessions on one machine at once
perturb each other's timings.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PLANT_MS = 50.0  # the self-test's delay per fsio.read_text call
SELFTEST_SEEDS = 3  # untraced runs per side; their query latencies are pooled
# a planted sleep costs no CPU, so the self-test judges wall latencies
# (reported by every run, not gated) against this share
SELFTEST_BOUND = 0.24


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, trace: int = 0, seconds: int | None = None, delay_ms: float = 0.0):
    """Run one benchmark process; returns (result line, stamp line)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds or bench()["run_seconds"]), "--trace", str(trace)]
    if delay_ms:
        cmd += ["--plant-read-text-ms", str(delay_ms)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(lines[-1]), json.loads(lines[0])


def report(args) -> int:
    ok = True
    # reads is not in BENCHMARK.json (its timings spread too much for the
    # bounds on a shared machine; see README.md) but belongs in the report
    for w in [w["name"] for w in bench()["workloads"]] + ["reads"]:
        res, _ = run_once(w, args.seed)
        for name, m in res["metrics"].items():
            print(f"{w:14s} {name:34s} {m['value']:14.6f} {m['unit']}")
        verdict = "PASS" if res["correct"] else "FAIL"
        print(f"{w:14s} output check: {verdict} ({res['failed']} failed of {res['attempted']})")
        ok &= res["correct"]
    return 0 if ok else 1


def spread(args) -> int:
    seeds = [int(s) for s in args.seeds.split(",")]
    values: dict[str, list[float]] = {}
    for seed in seeds:
        res, stamp = run_once(args.workload, seed)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items())
              + " setups=" + ",".join(f"{x:.2f}" for x in stamp["report"]["setups_cpu_s"])
              + " wall=" + ",".join(f"{x:.2f}" for x in stamp["report"]["op_latencies_s"])
              + " cpu=" + ",".join(f"{x:.2f}" for x in stamp["report"]["op_cpu_s"]), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench()["end_to_end"]}
    for name, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{args.workload:14s} {name:14s} median {med:10.4f} spread {(q3 - q1) / med:6.3f} "
              f"bound {bounds[name]:.2f}")
    return 0


def selftest(args) -> int:
    seeds = range(args.seed, args.seed + SELFTEST_SEEDS)
    p50, query = ([], []), ([], [])
    for side, delay in enumerate((0.0, PLANT_MS)):
        for seed in seeds:  # the same seeds on both sides
            _, stamp = run_once("reads", seed, delay_ms=delay)
            p50[side].append(stamp["report"]["op_p50_s"])
            query[side].extend(stamp["report"]["query"]["latencies_s"])
    tbase, _ = run_once("reads", args.seed, trace=1)
    tslow, _ = run_once("reads", args.seed, trace=1, delay_ms=PLANT_MS)
    p50 = [statistics.median(xs) for xs in p50]
    qmed = [statistics.median(xs) for xs in query]
    fsio = tbase["metrics"]["fsio.self_s"]["value"], tslow["metrics"]["fsio.self_s"]["value"]
    calls = tslow["metrics"]["fsio.read_text_calls"]["value"]
    planted = calls * PLANT_MS / 1e3  # seconds of delay per op the trace should find
    checks = {
        "fsio.self_s grows by >= half the planted delay": fsio[1] - fsio[0] >= 0.5 * planted,
        f"reads op_p50_s grows by more than its bound ({SELFTEST_BOUND})": p50[1] > p50[0] * (1 + SELFTEST_BOUND),
        f"reads query p50 stays within the bound ({SELFTEST_BOUND})": abs(qmed[1] / qmed[0] - 1) <= SELFTEST_BOUND,
    }
    print(f"planted {PLANT_MS} ms x {calls:.1f} read_text calls/op = {planted:.3f} s/op")
    print(f"fsio.self_s  {fsio[0]:.4f} -> {fsio[1]:.4f} s/op (traced, seed {args.seed})")
    print(f"op_p50_s     {p50[0]:.4f} -> {p50[1]:.4f} s (median over seeds {list(seeds)})")
    print(f"query p50    {qmed[0]:.4f} -> {qmed[1]:.4f} s "
          f"(median of {len(query[0])} / {len(query[1])} queries over the same seeds)")
    for what, ok in checks.items():
        print(f"{'PASS' if ok else 'FAIL'}  {what}")
    return 0 if all(checks.values()) else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("report")
    r.add_argument("--seed", type=int, default=1)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    t = sub.add_parser("selftest")
    t.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    return {"report": report, "spread": spread, "selftest": selftest}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness check: run the benchmark on two disjoint seed sets of the
same code and compare.

Usage, from the root of a dlx_spark checkout:

    python3 dlxbench/steady.py --seeds 5 [--out dlxbench/steadiness.txt]

Set A uses seeds 1..n and set B seeds 101..100+n.  Runs are untraced
and sequential, alternating between the sets (A1, B1, A2, ...) so that
a drift of the host does not read as a disagreement between seeds.
For every workload of BENCHMARK.json and every end-to-end metric it
prints each set's median and quartiles, the spread (IQR / median) of
all 2n values as a share of the metric's bound, and whether set B's
median is within the bound of set A's.  Per-kind medians from the
detail lines that are not end-to-end metrics (field_search, page,
history, edit) are listed the same way, against the bound of the
end-to-end latencies, but not gated.  Exit code 1 when any end-to-end
metric misses its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def run_once(bench: dict, workload: str, seed: int) -> tuple[dict, dict]:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    t0 = time.time()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{out.returncode}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    detail["wall_s"] = time.time() - t0
    return detail, result


def row(name: str, a: list[float], b: list[float], bound: float,
        better: str) -> tuple[str, bool]:
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    sp = stats.spread(a + b)
    change = (qb[1] - qa[1]) / qa[1]
    worse = change if better == "lower" else -change
    ok_spread = sp <= bound
    ok_agree = worse <= bound
    ok = ok_agree and ok_spread
    line = (f"  {name:<22} A {qa[1]:9.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
            f"  B {qb[1]:9.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
            f"  spread {sp:6.3f} = {sp / bound:4.2f} x bound {bound}"
            f"  B vs A {change:+.3f}"
            f"  {'agree' if ok_agree else 'DISAGREE'}"
            f"{'' if ok_spread else ' NOISY'}")
    return line, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="two-seed-set steadiness check")
    ap.add_argument("--seeds", type=int, default=5)
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    sets = {"A": range(1, args.seeds + 1),
            "B": range(101, 101 + args.seeds)}
    latency_bound = min(m["bound"] for m in bench["end_to_end"]
                        if m["name"].endswith("_p50_s"))
    lines, all_ok = [], True
    for wl in (w["name"] for w in bench["workloads"]):
        runs = {"A": [], "B": []}
        for a, b in zip(sets["A"], sets["B"]):
            runs["A"].append(run_once(bench, wl, a))
            runs["B"].append(run_once(bench, wl, b))
        walls = [d["wall_s"] for rs in runs.values() for d, _ in rs]
        lines.append(f"{wl}: {2 * args.seeds} runs, wall per run "
                     f"{min(walls):.1f}-{max(walls):.1f} s, failed ops "
                     f"{sum(r['failed'] for rs in runs.values() for _, r in rs)}")
        for m in bench["end_to_end"]:
            a, b = ([r["metrics"][m["name"]]["value"] for _, r in runs[k]]
                    for k in ("A", "B"))
            text, ok = row(m["name"], a, b, m["bound"], m["better"])
            all_ok &= ok
            lines.append(text)
        gated = {m["name"] for m in bench["end_to_end"]}
        kinds = runs["A"][0][0]["kinds"]
        for kind in sorted(kinds):
            if f"{kind}_p50_s" in gated or kind == "compact":
                continue
            a, b = ([d["kinds"][kind]["p50"] for d, _ in runs[k]]
                    for k in ("A", "B"))
            text, _ = row(f"({kind}_p50_s)", a, b, latency_bound, "lower")
            lines.append(text)
        for k in ("A", "B"):
            probes = [d["cpu_probe_ms"]["start"] for d, _ in runs[k]]
            loads = [d["loadavg"]["start"][0] for d, _ in runs[k]]
            lines.append(f"  set {k} seeds {list(sets[k])}: cpu probe ms "
                         f"{min(probes)}-{max(probes)}, load1 at start "
                         f"{min(loads):.2f}-{max(loads):.2f}")
    text = "\n".join(lines)
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())

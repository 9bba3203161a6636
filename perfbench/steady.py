"""Steadiness self-check: run the benchmark as two sets of runs on the same
commit and report, per ``<workload>/<metric>``, whether the sets agree
within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 5] [--workloads extract,curation] \
        [--out perfbench/baseline_nproc4.json]

Set A uses seeds 1..runs, set B seeds runs+1..2*runs, so every run reads
different inputs. For each metric it reports both sets' medians and
quartile spreads ((q3 - q1) / median, from ``statistics.quantiles``), the
spread of all runs pooled, and ``agree``: each set's spread is within the
bound (``setup_s`` exempt) and set B's median is within the bound of set
A's. Runs execute one at a time, workloads interleaved.
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


def spread(values: list[float]) -> float | None:
    """(q3 - q1) / median; None for fewer than two values."""
    if len(values) < 2:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    cmd[0] = sys.executable if cmd[0] in ("python", "python3") else cmd[0]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"result": result, "warmup_s": report["setup"]["warmup_s"],
            "iterations_s": report["iterations_s"], "env": report["env"]}


def main(argv: list[str] | None = None) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=5, help="runs per workload per set")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)
    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    sets = {"A": range(1, args.runs + 1), "B": range(args.runs + 1, 2 * args.runs + 1)}
    runs = {(s, w): [] for s in sets for w in workloads}
    for s, seeds in sets.items():
        for seed in seeds:
            for w in workloads:
                r = run_once(bench, w, seed)
                runs[(s, w)].append(r)
                m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
                print(f"set {s} {w} seed {seed}: {m}", file=sys.stderr, flush=True)

    table = {}
    for w in workloads:
        for name, bound in bounds.items():
            vals = {s: [r["result"]["metrics"][name]["value"] for r in runs[(s, w)]] for s in sets}
            med = {s: statistics.median(v) for s, v in vals.items()}
            spr = {s: spread(v) for s, v in vals.items()}
            drift = abs(med["B"] - med["A"]) / med["A"]
            agree = drift <= bound and (
                name == "setup_s" or all(x is None or x <= bound for x in spr.values())
            )
            table[f"{w}/{name}"] = {
                "unit": units[name],
                "bound": bound,
                "median": med,
                "spread": spr,
                "spread_pooled": spread(vals["A"] + vals["B"]),
                "median_shift": drift,
                "agree": agree,
                "values": vals,
            }
    failures = {
        f"{w}/s{seed}": r["result"]["failed"]
        for (s, w), rs in runs.items()
        for seed, r in zip(sets[s], rs)
        if r["result"]["failed"] or not r["result"]["correct"]
    }
    out = {
        "env": runs[("A", workloads[0])][0]["env"] | {"seed": None, "input": None},
        "run_seconds": bench["run_seconds"],
        "runs_per_set": args.runs,
        "all_agree": all(v["agree"] for v in table.values()),
        "failed_runs": failures,
        "metrics": table,
        # per run: the set-up iterations (cold first), then the timed ones,
        # to show where the warm-up drift ends
        "warmup_s": {f"{s}/{w}": [r["warmup_s"] for r in rs] for (s, w), rs in runs.items()},
        "iterations_s": {f"{s}/{w}": [r["iterations_s"] for r in rs] for (s, w), rs in runs.items()},
    }
    text = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    fmt = lambda x: "-" if x is None else f"{x:.3f}"  # noqa: E731
    for k, v in table.items():
        print(f"{k:24s} {v['unit']:4s} agree={v['agree']!s:5s} bound={v['bound']:.2f} "
              f"median A={v['median']['A']:.4g} B={v['median']['B']:.4g} "
              f"spread A={fmt(v['spread']['A'])} B={fmt(v['spread']['B'])} "
              f"pooled={fmt(v['spread_pooled'])}")
    print(f"all_agree={out['all_agree']} failed_runs={failures}")


if __name__ == "__main__":
    main()

"""Paired A/B of two checkouts on the perfbench, one cold process per run.

``scripts/ab_inproc.py`` shares one warm JVM between its variants, so it
cannot see per-process costs such as ``setup_s``.  This script runs
``perfbench/run.py`` as a subprocess from each checkout's root, one seed
at a time, alternating which side goes first per seed so box drift hits
both sides alike.  It prints one row per pair, then for each figure each
side's median and quartiles and how many pairs the change won.  The
per-op-kind p50s of each run (``detail.op_p50_s``: read, write, upsert
... on ``datum_crud``) get the same rows and summary, so a pair table
shows which operation moved.

Usage: python scripts/ab_perfbench.py <parent_root> <change_root> \\
           --workload datum_crud --seeds 101 102 103 [--seconds 12] \\
           [--json out.json]
"""
from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

# (label, better, getter over (result, detail)) of every compared figure
FIGURES = (
    ("setup_s", "lower", lambda r, d: r["metrics"]["setup_s"]["value"]),
    ("ops_per_s", "higher", lambda r, d: r["metrics"]["ops_per_s"]["value"]),
    ("warmup_pass_s", "lower", lambda r, d: d["stamp"]["warmup_pass_s"]),
    ("session_phase_s", "lower",
     lambda r, d: d["stamp"]["setup_phases_s"]["session"]),
    ("inputs_phase_s", "lower",
     lambda r, d: d["stamp"]["setup_phases_s"]["inputs"]
     - d["stamp"]["setup_phases_s"]["session"]),
)


def run_once(root: str, workload: str, seed: int, seconds: float):
    """One untraced perfbench run from ``root``: its figures, or None."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        print(f"  {root} seed {seed}: exit {proc.returncode}\n"
              + proc.stderr[-2000:], file=sys.stderr)
        return None
    detail = json.loads(lines[-2])["perfbench"]
    result = json.loads(lines[-1])
    out = {label: get(result, detail) for label, _, get in FIGURES}
    out["op_p50_s"] = detail["detail"]["op_p50_s"]
    out["correct"] = result["correct"]
    out["failed"] = result["failed"]
    return out


def wins(better: str, parent: float, change: float) -> bool:
    return change < parent if better == "lower" else change > parent


def summarize(pairs, label: str, better: str, get) -> dict:
    """Each side's median and quartiles of one figure, and change wins;
    prints one line."""
    row = {"better": better, "change_wins": sum(
        wins(better, get(x["parent"]), get(x["change"])) for x in pairs)}
    for side in ("parent", "change"):
        q1, med, q3 = statistics.quantiles(
            [get(x[side]) for x in pairs], n=4)
        row[side] = {"median": med, "q1": q1, "q3": q3}
    print(f"{label:16s} parent {row['parent']['median']:.3f} "
          f"[{row['parent']['q1']:.3f}, {row['parent']['q3']:.3f}]  "
          f"change {row['change']['median']:.3f} "
          f"[{row['change']['q1']:.3f}, {row['change']['q3']:.3f}]  "
          f"wins {row['change_wins']}/{len(pairs)} ({better} is better)")
    return row


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_root")
    ap.add_argument("change_root")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--json", help="also write every pair here")
    args = ap.parse_args()
    roots = {"parent": args.parent_root, "change": args.change_root}

    pairs = []
    print("seed first " + " ".join(
        f"{label}(parent/change)" for label, _, _ in FIGURES)
        + " correct failed", flush=True)
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        runs = {side: run_once(roots[side], args.workload, seed,
                               args.seconds) for side in order}
        if None in runs.values():
            print(f"{seed} {order[0]} run failed", flush=True)
            continue
        pairs.append({"seed": seed, "first": order[0], **runs})
        p, c = runs["parent"], runs["change"]
        print(f"{seed} {order[0]} " + " ".join(
            f"{p[label]:.3f}/{c[label]:.3f}" for label, _, _ in FIGURES)
            + f" {p['correct']}/{c['correct']} {p['failed']}/{c['failed']}",
            flush=True)
        print("  op p50 s " + " ".join(
            f"{kind}={p['op_p50_s'][kind]:.3f}/{c['op_p50_s'][kind]:.3f}"
            for kind in sorted(p["op_p50_s"].keys() & c["op_p50_s"].keys())),
            flush=True)

    if len(pairs) < 2:
        print("fewer than two complete pairs: no summary")
        return 1
    print(f"\n{len(pairs)} pairs; median [q1, q3] per side, change wins")
    summary = {}
    for label, better, _ in FIGURES:
        summary[label] = summarize(pairs, label, better,
                                   lambda run, key=label: run[key])
    print("\nper-op-kind p50 (s)")
    kinds = set.intersection(*(set(x[side]["op_p50_s"]) for x in pairs
                               for side in ("parent", "change")))
    for kind in sorted(kinds):
        summary[f"op_p50_s.{kind}"] = summarize(
            pairs, kind, "lower", lambda run, key=kind: run["op_p50_s"][key])
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "pairs": pairs,
                       "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

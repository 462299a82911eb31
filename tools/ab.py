#!/usr/bin/env python3
"""Interleaved untraced A/B of the perfbench between two checkouts.

Usage:
  python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload xql_era5 --seeds 301-310 \
      [--out runs.jsonl] [--control]

Each directory is a full checkout of the repository (for example
`git archive <rev> | tar -x -C <dir>`). One warm-up run per side (seed 300)
builds the program and generates its inputs; then, for each seed, both sides
run `perfbench/run.py --seconds 20 --trace 0`, the side that goes first
alternating from seed to seed. The run length and the warm-up are fixed, so
every A/B measures the same thing.

Both sides run from ONE path: before each run, warm-up included, the side's
checkout is renamed to `ab.run` beside PARENT_DIR, run there, and renamed
back (also when the run fails or the tool is interrupted). The same code in
two directories can time differently, and absolute paths reach the inputs'
metadata; one path takes both out of the comparison. The tool refuses to
start if `ab.run` exists (an interrupted A/B may have left a checkout
there: move it back first) or if a checkout is on another filesystem than
`ab.run`, where a rename would be a copy. A cached build that points at
another path is dropped, so the warm-up rebuilds it at `ab.run`.

Every run's JSON line goes to `--out` (one JSON object per line,
with its side, seed, order and the per-shape medians the run printed). The
per-run table, each side's median and quartiles of the end-to-end metrics,
the per-pair win counts, and the per-shape medians with their change and
per-pair win counts (a shape is a latency, so lower wins) are printed at
the end.

`--control` runs the parent's code on both sides: the change side runs from
a fresh copy of PARENT_DIR at `CHANGE_DIR.control` instead of CHANGE_DIR.
The copy includes the build (`target/`) and perfbench's inputs and caches
(`perfbench/.work`), so both sides start from the same state and do the
same warm-up. That directory is replaced only if an earlier `--control`
made it (it holds the marker file `.ab-control`); any other directory there
stops the tool.
A workload that runs no changed code can still move between two checkout
directories; this measures that gap before a move is put down to a change.

Exit status: 1 if any run is not `correct`, 0 otherwise. Run nothing else on
the host meanwhile: a run takes about 40 s on 4 cores.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

METRICS = [("setup_s", "lower"), ("primary_s", "lower"), ("secondary_s", "lower"),
           ("ops_per_s", "higher"), ("peak_rss_mb", "lower")]
SECONDS = 20
WARMUP_SEED = 300
CONTROL_MARKER = ".ab-control"
RUN_DIR = "ab.run"
SHAPE = re.compile(r"^\[perfbench\] shape (\S+) p50 ([0-9.eE+-]+) s n=(\d+)")


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, run_path, workload, seed):
    """One untraced run of `checkout`, moved to `run_path` while it runs: its
    JSON result and the shape medians it printed."""
    os.rename(checkout, run_path)
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
                           cwd=run_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True)
    finally:
        os.rename(run_path, checkout)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stderr[-4000:])
        return {"correct": False, "error": f"run.py exit {p.returncode}"}, {}
    shapes = {m.group(1): float(m.group(2)) for m in map(SHAPE.match, lines) if m}
    return json.loads(lines[-1]), shapes


def value(res, name):
    m = res.get("metrics", {}).get(name)
    return m["value"] if isinstance(m, dict) and m.get("value") is not None else float("nan")


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def copy_control(src, dst):
    """A fresh copy of checkout `src` at `dst`, builds and caches included,
    replacing only an earlier copy."""
    if os.path.lexists(dst):
        if not os.path.isfile(os.path.join(dst, CONTROL_MARKER)):
            sys.exit(f"{dst} exists and is not a copy made by --control; move it away first")
        shutil.rmtree(dst)
    shutil.copytree(src, dst, symlinks=True, ignore=shutil.ignore_patterns(".git"))
    open(os.path.join(dst, CONTROL_MARKER), "w").close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 301,303,305")
    ap.add_argument("--out", default="ab_runs.jsonl")
    ap.add_argument("--control", action="store_true",
                    help="run the parent's code on both sides")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    run_path = os.path.join(os.path.dirname(sides["parent"]), RUN_DIR)
    if os.path.lexists(run_path):
        sys.exit(f"{run_path} exists: an interrupted A/B may have left a checkout there; "
                 "move it back to its own path first")
    if a.control:
        sides["change"] = sides["change"] + ".control"
        copy_control(sides["parent"], sides["change"])
    for d in sides.values():
        if not os.path.exists(os.path.join(d, "perfbench", "run.py")):
            sys.exit(f"{d}: not a checkout with perfbench/run.py")
        if os.stat(d).st_dev != os.stat(os.path.dirname(run_path)).st_dev:
            sys.exit(f"{d} is not on the filesystem of {run_path}")
        # run.py caches the build's absolute classpath
        cp = os.path.join(d, "perfbench", ".work", "build", "classpath")
        if os.path.exists(cp):
            with open(cp) as f:
                stale = run_path + os.sep not in f.read()
            if stale:
                os.remove(cp)

    bad = []
    for side, d in sides.items():
        res, _ = run(d, run_path, a.workload, WARMUP_SEED)
        print(f"warm-up {side} seed {WARMUP_SEED}: correct={res.get('correct')}", flush=True)
        if not res.get("correct"):
            bad.append(f"warm-up {side} seed {WARMUP_SEED}")

    rows = []
    with open(a.out, "w") as out:
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for pos, side in enumerate(order):
                res, shapes = run(sides[side], run_path, a.workload, seed)
                row = {"side": side, "seed": seed, "first": pos == 0,
                       "dir": os.path.basename(sides[side]), "shapes": shapes, **res}
                rows.append(row)
                out.write(json.dumps(row) + "\n")
                out.flush()
                print(f"{seed} {side:6} " + " ".join(
                    f"{value(res, m):.4f}" for m, _ in METRICS) +
                    f" failed={res.get('failed')} correct={res.get('correct')}", flush=True)

    print(f"\n{a.workload}, {len(rows) // 2} pairs" + (" (control: parent on both sides)"
                                                     if a.control else ""))
    print("| seed | side | first | " + " | ".join(m for m, _ in METRICS) + " | failed | correct |")
    print("|" + "---|" * (len(METRICS) + 5))
    for r in rows:
        print(f"| {r['seed']} | {r['side']} | {'yes' if r['first'] else 'no'} | " +
              " | ".join(f"{value(r, m):.4f}" for m, _ in METRICS) +
              f" | {r.get('failed')} | {r.get('correct')} |")

    by = {s: [r for r in rows if r["side"] == s] for s in ("parent", "change")}
    print("\n| metric | parent q1 / median / q3 | change q1 / median / q3 | change vs parent "
          "| change better in |")
    print("|---|---|---|---|---|")
    for m, better in METRICS:
        p = [value(r, m) for r in by["parent"]]
        c = [value(r, m) for r in by["change"]]
        pq, cq = quartiles(p), quartiles(c)
        pairs = {r["seed"]: value(r, m) for r in by["parent"]}
        wins = sum(1 for r in by["change"]
                   if (value(r, m) < pairs[r["seed"]]) == (better == "lower")
                   and value(r, m) != pairs[r["seed"]])
        print(f"| {m} | {pq[0]:.4f} / {pq[1]:.4f} / {pq[2]:.4f} | "
              f"{cq[0]:.4f} / {cq[1]:.4f} / {cq[2]:.4f} | {100 * (cq[1] / pq[1] - 1):+.1f} % | "
              f"{wins}/{len(c)} |")

    shapes = sorted({k for r in rows for k in r["shapes"]})
    if shapes:
        print("\n| shape (median of the runs' p50) | parent | change | change vs parent "
              "| change better in |")
        print("|---|---|---|---|---|")
        for k in shapes:
            med = [statistics.median([r["shapes"][k] for r in by[s] if k in r["shapes"]] or
                                     [float("nan")]) for s in ("parent", "change")]
            # a pair counts when both of its runs printed the shape
            parent = {r["seed"]: r["shapes"][k] for r in by["parent"] if k in r["shapes"]}
            pairs = [(parent[r["seed"]], r["shapes"][k]) for r in by["change"]
                     if k in r["shapes"] and r["seed"] in parent]
            wins = sum(1 for p, c in pairs if c < p)
            print(f"| {k} | {med[0]:.4f} | {med[1]:.4f} | {100 * (med[1] / med[0] - 1):+.1f} % | "
                  f"{wins}/{len(pairs)} |")

    bad += [f"{r['side']} seed {r['seed']}" for r in rows if not r.get("correct")]
    if bad:
        print(f"\n{len(bad)} run(s) not correct: " + ", ".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()

"""Same-sitting A/B of a parent revision against this checkout on one
flow workload.

    python3 tools/ab.py --parent REV --workload W --pairs N --seeds S \
        [--seconds 15] [--trace 0|1] [--extra m1,m2] [--out FILE]

Run from the root of a checkout. `git archive REV` is extracted into
target/ab/parent-<sha> (reused when it is already there), and each pair
runs `perfbench/run.py --workload W --seed s` once in the parent copy
and once here, on the same seed. Even pairs run the parent first, odd
pairs the change, so neither side owns the warmer half of a sitting.
`--seeds` is a first seed (pairs use S, S+1, ...), a range `A-B` or a
comma list; use seeds the change was not tuned on.

W is any workload perfbench/run.py runs, corpus_shards included. The
metrics are the ones BENCHMARK.json lists: `end_to_end` (with
their bounds) for untraced runs, `per_layer` with --trace 1. For each
it prints q1/median/q3 per side (statistics.quantiles, n=4), the pairs
the change won (strictly better in the metric's direction), the shift
of the median and the parent's IQR/median. A metric reads:

  unresolved  the parent's IQR/median exceeds the metric's bound, so
              this sitting cannot tell a change within the bound;
  worse       the change's median is worse than the parent's by more
              than the bound;
  gain        the change won >= 90% of the pairs and its median is
              better by more than the parent's IQR;
  flat        anything else.

`--extra` adds a second table of workload metrics that BENCHMARK.json
does not list, read from the run's `perfbench metrics` line (and its
`perfbench layers` line under --trace 1), e.g. `append_s_p50,serve_s_p95`,
so the mechanism can be shown next to the claim. The `perfbench setup`
line's parts of setup_s read as `setup.session_s`,
`setup.workload_setup_s` (the workload's index builds) and
`setup.warmup_s`, so an untraced run can attribute setup_s. It gives q1/median/q3
per side and the pairs the change won, and no verdict. A metric whose
unit ends in `/s` counts as better higher, any other as better lower.

It reads BENCHMARK.json and calls perfbench/run.py; it changes
neither. A run that exits non-zero stops the tool with its stderr.
"""
import argparse
import ast
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
SETUP_TAG = "perfbench setup "
# the parts of setup_s the `perfbench setup` line times: JVM and session
# start, the workload's index builds, its warmup
SETUP_PARTS = ("session_s", "workload_setup_s", "warmup_s")


def parse_seeds(s, n):
    if "-" in s:
        a, b = s.split("-")
        seeds = list(range(int(a), int(b) + 1))
    elif "," in s:
        seeds = [int(x) for x in s.split(",")]
    else:
        seeds = list(range(int(s), int(s) + n))
    if len(seeds) < n:
        raise SystemExit(f"--seeds gives {len(seeds)} seeds for {n} pairs")
    return seeds[:n]


def extract_parent(rev, work):
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    dest = os.path.join(work, f"parent-{sha[:12]}")
    if not os.path.isdir(dest):
        tmp = dest + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
        os.rename(tmp, dest)
    return sha, dest


def run_once(root, workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{root} seed {seed} exited {p.returncode}:\n"
                         f"{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    last["wall_s"] = time.time() - t
    last["workload_metrics"] = {}
    for line in lines:
        for tag in ("perfbench metrics ", "perfbench layers "):
            if line.startswith(tag):
                last["workload_metrics"].update(json.loads(line[len(tag):]))
        if line.startswith(SETUP_TAG):
            setup = json.loads(line[len(SETUP_TAG):])
            last["workload_metrics"].update(
                {f"setup.{k}": {"value": setup[k], "unit": "s"}
                 for k in SETUP_PARTS if k in setup})
    return last


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def fmt(q):
    return "/".join(f"{x:.4g}" for x in q)


def verdict(parent, change, better, bound, pairs_won, pairs):
    q1, pmed, q3 = quartiles(parent)
    cmed = statistics.median(change)
    iqr_frac = (q3 - q1) / pmed if pmed else float("inf")
    sign = -1.0 if better == "lower" else 1.0
    gain = sign * (cmed - pmed)  # > 0: the change is better
    if bound is not None and iqr_frac > bound:
        return "unresolved", iqr_frac
    if bound is not None and pmed and -gain / abs(pmed) > bound:
        return "worse", iqr_frac
    if pairs_won >= 0.9 * pairs and gain > (q3 - q1):
        return "gain", iqr_frac
    return "flat", iqr_frac


def perfbench_workloads():
    """perfbench/run.py's WORKLOADS, read from its source without
    importing it."""
    with open(os.path.join(ROOT, "perfbench", "run.py")) as f:
        tree = ast.parse(f.read())
    return next(ast.literal_eval(n.value) for n in tree.body
                if isinstance(n, ast.Assign)
                and any(getattr(t, "id", None) == "WORKLOADS"
                        for t in n.targets))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--extra", default="",
                    help="comma list of workload metrics to tabulate too")
    ap.add_argument("--out")
    a = ap.parse_args()
    extras = [m for m in a.extra.split(",") if m]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in perfbench_workloads():
        raise SystemExit(f"{a.workload} is not a perfbench/run.py workload")
    metrics = bench["per_layer" if a.trace else "end_to_end"]
    seeds = parse_seeds(a.seeds, a.pairs)
    sha, parent_root = extract_parent(
        a.parent, os.path.join(ROOT, "target", "ab"))
    print(f"ab: parent {sha[:12]} at {parent_root}; {a.pairs} pairs of "
          f"{a.workload}, seeds {seeds}", file=sys.stderr)

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            root = parent_root if side == "parent" else ROOT
            r = run_once(root, a.workload, seed, a.seconds, a.trace)
            r["seed"] = seed
            runs[side].append(r)
            print(f"ab: pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  f"correct={r['correct']} failed={r['failed']} "
                  f"{r['wall_s']:.0f}s", file=sys.stderr)

    rows = {}
    for m in metrics:
        name = m["name"]
        pv = [r["metrics"][name]["value"] for r in runs["parent"]]
        cv = [r["metrics"][name]["value"] for r in runs["change"]]
        sign = -1.0 if m["better"] == "lower" else 1.0
        won = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
        v, iqr_frac = verdict(pv, cv, m["better"], m.get("bound"), won,
                              len(pv))
        pq, cq = quartiles(pv), quartiles(cv)
        rows[name] = {"unit": m["unit"], "better": m["better"],
                      "bound": m.get("bound"), "parent": pq, "change": cq,
                      "won": won, "pairs": len(pv),
                      "shift": (cq[1] - pq[1]) / pq[1] if pq[1] else None,
                      "parent_iqr_frac": iqr_frac, "verdict": v,
                      "parent_values": pv, "change_values": cv}

    print(f"{'metric':<26} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'won':>6} {'shift':>8} {'p.IQR/med':>9} {'bound':>6}  verdict")
    for name, r in rows.items():
        shift = "n/a" if r["shift"] is None else f"{100 * r['shift']:+.1f}%"
        bound = "-" if r["bound"] is None else f"{r['bound']:.2f}"
        print(f"{name:<26} {fmt(r['parent']):>28} {fmt(r['change']):>28}"
              f" {r['won']:>3}/{r['pairs']:<2} {shift:>8}"
              f" {100 * r['parent_iqr_frac']:>8.1f}% {bound:>6}  {r['verdict']}")
    extra_rows = {}
    for name in extras:
        if any(name not in r["workload_metrics"]
               for rs in runs.values() for r in rs):
            print(f"ab: {name} is not in every run's metrics; skipped",
                  file=sys.stderr)
            continue
        unit = runs["parent"][0]["workload_metrics"][name]["unit"]
        pv = [r["workload_metrics"][name]["value"] for r in runs["parent"]]
        cv = [r["workload_metrics"][name]["value"] for r in runs["change"]]
        sign = 1.0 if unit.endswith("/s") else -1.0
        extra_rows[name] = {
            "unit": unit, "better": "higher" if sign > 0 else "lower",
            "parent": quartiles(pv), "change": quartiles(cv),
            "won": sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0),
            "pairs": len(pv), "parent_values": pv, "change_values": cv}
    if extra_rows:
        print(f"\n{'extra metric':<26} {'parent q1/med/q3':>28}"
              f" {'change q1/med/q3':>28} {'won':>6}  unit (better)")
        for name, r in extra_rows.items():
            print(f"{name:<26} {fmt(r['parent']):>28} {fmt(r['change']):>28}"
                  f" {r['won']:>3}/{r['pairs']:<2}  {r['unit']} ({r['better']})")
    for side in ("parent", "change"):
        rs = runs[side]
        print(f"{side}: correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
              f"failed ops {sum(r['failed'] for r in rs)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"parent": sha, "workload": a.workload, "seeds": seeds,
                       "seconds": a.seconds, "trace": a.trace,
                       "metrics": rows, "extra": extra_rows,
                       "runs": runs}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()

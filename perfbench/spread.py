"""Steadiness evidence for the flow benchmark.

    python3 perfbench/spread.py --workload W --seeds 1-10 --seconds S \
        [--traced K] [--out FILE]

Runs perfbench/run.py once per seed and reports, for every end-to-end
metric, the median and the spread: the distance between the first and
third quartile (statistics.quantiles(values, n=4)) as a share of the
median. With --traced K it also runs the first K seeds with --trace 1,
then the first seed a second time, and reports

  - which count-type per-layer metrics (jobs, stages, tasks, shuffle
    bytes, files, upload.read_amp, progress.rows_per_upload) did not
    repeat exactly for that one seed;
  - the tracing overhead: the traced runs' end-to-end medians minus
    the untraced runs' over the same K seeds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

REPEATING = ("jobs", "stages", "tasks", "bytes", "files", "read_amp",
             "rows_per_upload", "tables", "kept_frac", "per_req")


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    info = {}
    for line in lines[:-1]:
        if line.startswith("perfbench "):
            _, key, body = line.split(" ", 2)
            info[key] = json.loads(body)
    return json.loads(lines[-1]), info


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr_frac": (q3 - q1) / statistics.median(values),
            "values": values}


def parse_seeds(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--traced", type=int, default=0, metavar="K")
    ap.add_argument("--out")
    a = ap.parse_args()
    seeds = parse_seeds(a.seeds)
    bounds = {m["name"]: m["bound"] for m in
              json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]}

    untraced = [run(a.workload, s, a.seconds, 0) for s in seeds]
    report = {"workload": a.workload, "seeds": seeds, "seconds": a.seconds,
              "correct": [r["correct"] for r, _ in untraced],
              "failed": [r["failed"] for r, _ in untraced],
              "end_to_end": {}}
    for name in untraced[0][0]["metrics"]:
        s = spread([r["metrics"][name]["value"] for r, _ in untraced])
        s["bound"] = bounds.get(name)
        s["within_third_of_bound"] = (s["bound"] is not None and
                                      s["iqr_frac"] < s["bound"] / 3)
        report["end_to_end"][name] = s
    report["workload_metrics"] = {
        k: spread([i["metrics"][k]["value"] for _, i in untraced])
        for k, v in untraced[0][1]["metrics"].items()
        if isinstance(v["value"], (int, float)) and v["value"] != 0}

    if a.traced:
        traced = [run(a.workload, s, a.seconds, 1) for s in seeds[:a.traced]]
        again = run(a.workload, seeds[0], a.seconds, 1)
        first = traced[0][1]["layers"]
        second = again[1]["layers"]
        report["traced_correct"] = [r["correct"] for r, _ in traced]
        report["counts_not_repeating"] = {
            k: [first[k]["value"], second[k]["value"]] for k in first
            if any(t in k for t in REPEATING)
            and first[k]["value"] != second[k]["value"]}
        report["counts_checked"] = sorted(
            k for k in first if any(t in k for t in REPEATING))
        report["tracing_overhead"] = {}
        for k, v in untraced[0][1]["metrics"].items():
            if not isinstance(v["value"], (int, float)) or v["value"] == 0:
                continue
            u = statistics.median(i["metrics"][k]["value"]
                                  for _, i in untraced[:a.traced])
            t = statistics.median(i["metrics"][k]["value"] for _, i in traced)
            report["tracing_overhead"][k] = {"traced_minus_untraced": t - u,
                                             "share": (t - u) / u}
        report["layers_median"] = {
            k: statistics.median(i["layers"][k]["value"] for _, i in traced
                                 if i["layers"][k]["value"] is not None)
            for k in first if first[k]["value"] is not None}

    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    summary = {k: round(v["iqr_frac"], 4) for k, v in report["end_to_end"].items()}
    out = {"workload": a.workload, "iqr_frac": summary,
           "all_correct": all(report["correct"])}
    if a.traced:
        out["counts_not_repeating"] = report["counts_not_repeating"]
        out["tracing_overhead_share"] = {
            k: round(v["share"], 4) for k, v in report["tracing_overhead"].items()}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Repeat benchmark runs over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads curate --seeds 1-5 [--trace 0]
        [--seconds N] [--out perfbench/results/steadiness.json]

For each workload and metric: the median of the runs and the distance
between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json. Each run's process CPU seconds and 1-minute load average
are kept, so a run inflated by CPU steal can be picked out instead of
averaged in.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    # a layer the workload does not exercise reads 0 on every run
    return med, (q3 - q1) / abs(med) if med else 0.0


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    wall = time.time() - t0
    lines = r.stdout.decode(errors="replace").splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr.decode(errors="replace")[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed")
    host = next((l for l in lines if l.startswith("host:")), "")
    job = next((l for l in lines if l.startswith("job:")), "")
    traced = {}
    if trace:
        tdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        with open(os.path.join(tdir, "traces", f"{workload}-seed{seed}.json")) as f:
            traced = json.load(f)["e2e_traced"]
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "e2e_traced": traced,
        "run_wall_s": round(wall, 2),
        "result": json.loads(lines[-1]),
        "host": dict((k, float(v)) for k, v in re.findall(r"(\w+)=([\d.]+)", host)),
        "job": dict((k, float(v)) for k, v in re.findall(r"(\w+)=([\d.eE+-]+)", job)),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="bulk_load,curate")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs, summary = [], {}
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            r = one_run(w, s, seconds, a.trace)
            runs.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in
                            r["result"]["metrics"].items())
            print(f"{w} seed={s} wall={r['run_wall_s']}s "
                  f"correct={r['result']['correct']} host={r['host']} {vals}",
                  flush=True)
        ws = [r for r in runs if r["workload"] == w]
        summary[w] = {}
        if a.trace:
            # the traced runs' end-to-end numbers, for the tracing overhead
            for k in ws[0]["e2e_traced"]:
                med = statistics.median(r["e2e_traced"][k] for r in ws)
                summary[w][f"traced:{k}"] = {"median": med}
                print(f"  {w:13s} traced {k:28s} median={med:14.4f}", flush=True)
        for k in ws[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][k]["value"] for r in ws]
            med, iqr = spread(vals)
            summary[w][k] = {"median": med, "iqr_frac": iqr,
                             "bound": bounds.get(k)}
            b = bounds.get(k)
            flag = "" if b is None or iqr < b / 3 else "  <-- over a third of bound"
            print(f"  {w:13s} {k:28s} median={med:14.4f} iqr/median={iqr:.4f}"
                  f" bound={b}{flag}", flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump({"seconds": seconds, "trace": a.trace, "summary": summary,
                       "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()

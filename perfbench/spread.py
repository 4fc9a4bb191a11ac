"""Run the benchmark over several seeds and report, per end-to-end
metric, the median and the run-to-run spread: the distance between the
first and third quartile as a share of the median.

    python3 perfbench/spread.py --workload kv_wide --seeds 1-10 [--trace 1]
        [--out RUNS.jsonl] [--record perfbench/baseline.json]

Run from the repository root. Each seed is one ``run.py`` invocation,
as the benchmark is run for a change; the spread is what a metric's
bound in BENCHMARK.json has to cover.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    # a count can be 0 on every run (no buckets skipped on a fresh run)
    return {"median": med, "iqr_frac": (q3 - q1) / abs(med) if med else None,
            "n": len(values)}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=None, help="append each run's result line here")
    p.add_argument("--record", default=None, metavar="JSON",
                   help="store the medians and spreads, with the machine, in this file")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        run_seconds = json.load(fh)["run_seconds"]

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(run_seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        *_, info, last = proc.stdout.strip().splitlines()
        res = json.loads(last)
        res.update(workload=args.workload, seed=seed, run_s=time.monotonic() - t0,
                   info=json.loads(info))
        runs.append(res)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
        print(json.dumps({"seed": seed, "run_s": round(res["run_s"], 1), "correct": res["correct"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              file=sys.stderr)
    names = runs[0]["metrics"]
    summary = {
        "seeds": args.seeds,
        "all_correct": all(r["correct"] for r in runs),
        "max_run_s": max(r["run_s"] for r in runs),
        "metrics": {k: spread([r["metrics"][k]["value"] for r in runs]) for k in names},
    }
    print(json.dumps({"workload": args.workload, **summary}, indent=1))
    if args.record:
        record(args.record, f"{args.workload}/trace={args.trace}", summary)
    return 0


def machine() -> dict:
    import duckdb
    import pyspark
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "java": java.splitlines()[0] if java else None, "duckdb": duckdb.__version__}


def record(path: str, key: str, summary: dict) -> None:
    try:
        with open(path) as fh:
            data = json.load(fh)
    except FileNotFoundError:
        data = {}
    data["machine"] = machine()
    data.setdefault("runs", {})[key] = summary
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.exit(main())

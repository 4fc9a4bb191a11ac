"""Benchmark of the core job, ``plans.job.run_pipeline``
(scan -> bucket/dedup -> parse -> enrich -> route -> sink write ->
aggregate), on seeded workloads.

    python3 perfbench/run.py --workload kv_wide --seed 1 --seconds 12 --trace 0

Run from the repository root. The inputs are generated from the seed
(``gen.py``) and cached per (workload, seed) under ``.perfbench_cache``.
A run is one fresh worker process (``worker.py``) with one JVM on
``local[nproc]``: set-up, one untimed call, then timed calls until
``--seconds`` have been timed (at least MIN_CALLS), each checked
against a DuckDB oracle (``check.py``) outside its timed window.
Throughput is taken over all the timed calls of the run together: on
this job each call is still faster than the one before (the JIT keeps
compiling), and the middle call of three is the one that moves most
between runs. The JVM's CPU per turn is reported by the traced run
only: on a shared 4-core host its spread between runs of the same code
on resume_half reached 0.30 of its median, past the largest bound a
metric here may have (0.25).

``--trace 1`` instead makes one untraced reference call in one worker,
then one traced call and the layer ladder (``tracing.py``) in another,
and reports the per-layer metrics. The last stdout
line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

MIN_CALLS = 3
DEADLINE_S = 170.0
# JVM shutdown and the result line, after the last call
EXIT_MARGIN_S = 15.0
KEEP_INPUTS = 6

# synth.transcripts' default shape
JOB = gen.Shape(n_conversations=500)
KV_WIDE = gen.Shape(n_conversations=150, hot_factor=20, kv_tokens=16, malformed_pct=0.01)
# name -> (shape, resume from a half-committed warehouse)
WORKLOADS = {
    "kv_wide": (KV_WIDE, False),
    "resume_half": (JOB, True),
}

END_TO_END = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "sink_bytes_per_turn": "B/turn",
}


def per_layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last in ("s", "core_s", "cpu_s", "gc_s"):
        return "s"
    if last.endswith("bytes"):
        return "B"
    if last == "cpu_s_per_mturn":
        return "s/Mturn"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith(("ratio", "fanout", "skew", "frac")):
        return "ratio"
    return "count"


class Bench:
    def __init__(self, root: str, workload: str, seed: int) -> None:
        self.root = root
        self.shape, self.resume = WORKLOADS[workload]
        self.cache = os.path.join(root, ".perfbench_cache")
        self.work = os.path.join(root, ".perfbench_work", str(os.getpid()))
        self.seed = seed
        self.inputs = os.path.join(self.cache, "inputs", f"{workload}-{seed}")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.started = time.monotonic()
        self.attempted = 0
        self.failures: list[str] = []

    def remaining(self) -> float:
        return DEADLINE_S - (time.monotonic() - self.started)

    def prepare(self) -> dict:
        """Inputs and the oracle's answer; cached, not timed."""
        manifest = gen.ensure(self.inputs, self.shape, self.seed)
        os.utime(self.inputs)
        check.expected(self.inputs)
        self._evict()
        return manifest

    def _evict(self) -> None:
        base = os.path.join(self.cache, "inputs")
        dirs = sorted((os.path.join(base, d) for d in os.listdir(base)),
                      key=os.path.getmtime, reverse=True)
        for d in dirs[KEEP_INPUTS:]:
            shutil.rmtree(d, ignore_errors=True)

    def run(self, extra: list[str]) -> dict:
        """One worker process from an empty warehouse. Counts its calls
        and their failures: a call that raised or failed the check, or
        the whole worker if it died or timed out."""
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.makedirs(self.warehouse)
        # the JVM's and Python's temp files go inside the checkout, and
        # no /tmp/hsperfdata file is written; Spark's shuffle and spill
        # files go where build_session puts them
        env = dict(os.environ, TMPDIR=tmp,
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--inputs", self.inputs, "--warehouse", self.warehouse,
               "--work", self.work, "--budget", str(self.remaining() - EXIT_MARGIN_S),
               *extra, *(["--resume-half"] if self.resume else [])]
        log = os.path.join(self.work, "worker.log")
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=self.root, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=max(self.remaining(), 1))
            except subprocess.TimeoutExpired:
                stdout = ""
            finally:
                # the worker's JVM is in the worker's process group
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
        if proc.returncode != 0 or not stdout.strip():
            self.attempted += 1
            with open(log) as fh:
                self.failures.append(f"worker exited {proc.returncode}:\n{fh.read()[-3000:]}")
            return {"calls": []}
        out = json.loads(stdout.strip().splitlines()[-1])
        self.attempted += len(out["calls"])
        good = []
        for c in out["calls"]:
            if "error" in c:
                self.failures.append("run_pipeline raised: " + c["error"])
            elif c["mismatches"]:
                self.failures.append("output check failed: " + "; ".join(c["mismatches"]))
            else:
                good.append(c)
        out["calls"] = good
        return out

    def untraced_wall(self) -> float:
        """Wall time of one untraced call on these inputs, in the same
        position as the traced call: the first after the untimed one."""
        out = self.run(["--min-calls", "1"])
        if not out["calls"]:
            raise RuntimeError("untraced reference call failed")
        return out["calls"][0]["wall_s"]

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def end_to_end(out: dict, n_turns: int) -> dict:
    calls = out["calls"]
    turns = n_turns * len(calls)
    return {
        "turns_per_s": turns / sum(c["wall_s"] for c in calls),
        "setup_s": out["setup_s"],
        "sink_bytes_per_turn": statistics.median(c["sink_bytes"] / n_turns for c in calls),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "logging_spark", "plans", "job.py")):
        print("run from the repository root: logging_spark/plans/job.py not found",
              file=sys.stderr)
        return 2
    bench = Bench(root, args.workload, args.seed)
    try:
        n_turns = bench.prepare()["n_turns"]
        if args.trace:
            import tracing
            ref = bench.untraced_wall()
            out = bench.run(["--trace"])
            if not out["calls"] or "layers" not in out:
                raise RuntimeError("traced call failed")
            spans_dir = os.path.join(bench.cache, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            shutil.copy(os.path.join(bench.work, "spans.json"),
                        os.path.join(spans_dir, f"{args.workload}-{args.seed}.json"))
            values = tracing.layer_metrics(out["calls"][0], out["layers"], out["stages"],
                                           ref, out["peak_rss_mb"])
            metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in values.items()}
        else:
            out = bench.run(["--seconds", str(args.seconds), "--min-calls", str(MIN_CALLS)])
            if not out["calls"]:
                raise RuntimeError("no call succeeded")
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(out, n_turns).items()}
    except RuntimeError as e:
        for f in bench.failures:
            print(f, file=sys.stderr)
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        bench.cleanup()
    for f in bench.failures:
        print(f, file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "n_turns": n_turns,
                      "setup_s": out["setup_s"], "peak_rss_mb": out["peak_rss_mb"],
                      "calls": [{k: c[k] for k in ("wall_s", "jvm_cpu_s")}
                                for c in out["calls"]]}))
    print(json.dumps({"correct": not bench.failures, "attempted": bench.attempted,
                      "failed": len(bench.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

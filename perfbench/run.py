#!/usr/bin/env python3
"""Benchmark of the production job, timed from outside the package.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

This process builds (or reuses) the workload's seeded inputs and never
starts a JVM itself. Untraced, it starts batch.py, one fresh process
per production batch (session start, then one plans.job.main call), as
long as the run is younger than --seconds and at least once, and checks
each output against the DuckDB twin. Traced (--trace 1), it starts
layers.py once instead and samples its memory from outside. Every child
process tree has ended before the run does.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics; a table with medians, quartiles and
sample counts goes to stderr. README.md documents the metrics and why
each workload exists. Everything a run writes stays under
<checkout>/.perfbench_work/.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

_T_PROCESS = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")
sys.path.insert(0, ROOT)

from batch import proc_tree  # noqa: E402

# Why each workload exists: BENCHMARK.json and README.md.
# kind: workloads.build corpus kind; turns: corpus size;
# write: job.main writes its sinks (else --no-write).
WORKLOADS = {
    "batch_uniform": {"kind": "uniform", "turns": 100_000, "write": True},
    "compute_hot_conv": {"kind": "hot", "turns": 100_000, "write": False},
}
# the traced run works on the workload's corpus at this share of its size
TRACE_SHARE = 0.5
# a child still running this long after the run started is killed, so
# that the run ends within 180 s; a run that first builds uncached
# inputs (the first of a checkout) gets DEADLINE_AFTER_INPUTS_S after that
DEADLINE_S = 165
DEADLINE_AFTER_INPUTS_S = 120

# CPU time of the batch's process tree: on this shared host the wall
# times of the same batch drift by more than any bound between sets of
# runs, while CPU time stays within one (README.md); wall times are
# printed for information
E2E_UNITS = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "rows_per_cpu_s": "rows/s",
}
INFO_UNITS = {"setup_wall_s": "s", "job_s": "s", "rows_per_s": "rows/s"}


def master() -> str:
    return f"local[{len(os.sched_getaffinity(0))}]"


def tree_rss_bytes(pids: list[int]) -> int:
    """Resident memory of these processes."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_tree(child: subprocess.Popen, pids: set[int]):
    """Stop `child` if it still runs, then wait until every process of
    its tree has ended (the JVM outlives the Python driver by a moment),
    killing what is left after 5 s."""
    if child.poll() is None:
        child.terminate()
        try:
            child.wait(timeout=5)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
    give_up = time.monotonic() + 5
    while any(_alive(p) for p in pids) and time.monotonic() < give_up:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def run_child(
    script: str, request: dict, scratch: str, sample_rss: bool = False,
    deadline: float | None = None,
) -> tuple[dict, float, float]:
    """Run perfbench/<script> on `request`; returns (its result, the
    monotonic time it was started, its peak tree RSS in MB when
    sample_rss, else 0). Raises on a non-zero exit or on reaching the
    monotonic `deadline`, after the child's whole tree has ended."""
    os.makedirs(scratch, exist_ok=True)
    req_path = os.path.join(scratch, "request.json")
    res_path = os.path.join(scratch, "result.json")
    with open(req_path, "w") as f:
        json.dump(request, f)
    if os.path.exists(res_path):
        os.remove(res_path)
    started = time.monotonic()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, script), req_path, res_path],
        stdout=sys.stderr,
    )
    seen, peak = {child.pid}, 0
    try:
        while child.poll() is None:
            if deadline is not None and time.monotonic() > deadline:
                raise subprocess.TimeoutExpired(child.args, deadline - started)
            tree = proc_tree(child.pid)
            seen.update(tree)
            if sample_rss:
                peak = max(peak, tree_rss_bytes(tree))
            time.sleep(0.2)
    finally:
        end_tree(child, seen - {child.pid})
    if child.returncode != 0:
        raise RuntimeError(f"{script} exited with {child.returncode}")
    with open(res_path) as f:
        return json.load(f), started, peak / 2**20


def summarize(values: list[float]) -> dict:
    vs = sorted(values)
    q1 = q3 = vs[0]
    if len(vs) >= 2:
        q1, _, q3 = statistics.quantiles(vs, n=4)
    return {"median": statistics.median(vs), "q1": q1, "q3": q3, "n": len(vs)}


class Run:
    """One benchmark process: its scratch directory, samples, failures."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: int):
        self.workload = workload
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = os.path.join(WORK, f"run-{os.getpid()}")
        self.samples: dict[str, list[float]] = {}
        self.units = dict(E2E_UNITS)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spans: list[dict] = []
        self.deadline: float | None = None

    def add(self, name: str, value: float):
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str, problems: list[str]):
        self.failed += 1
        self.problems.extend(f"{what}: {p}" for p in problems)

    def measure(self, corpus: str):
        """Production batches in fresh processes, while the run is
        younger than --seconds (at least one); each output verified."""
        import verify

        write = self.spec["write"]
        t_start = time.monotonic()
        while self.attempted < 1 or time.monotonic() - t_start < self.seconds:
            self.attempted += 1
            out = os.path.join(self.scratch, "out")
            shutil.rmtree(out, ignore_errors=True)
            request = {
                "corpus": corpus, "out_dir": out, "master": master(),
                "scratch": os.path.join(self.scratch, "batch"),
                "job_args": [] if write else ["--no-write"],
            }
            try:
                res, started, _ = run_child(
                    "batch.py", request, request["scratch"], deadline=self.deadline
                )
            except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
                self.fail(f"batch {self.attempted}", [repr(e)])
                continue
            self.add("setup_s", res["setup_cpu_s"])
            self.add("job_cpu_s", res["job_cpu_s"])
            self.add("rows_per_cpu_s", res["summary"]["rows"] / res["job_cpu_s"])
            self.add("setup_wall_s", res["ready_monotonic"] - started)
            self.add("job_s", res["job_s"])
            self.add("rows_per_s", res["summary"]["rows"] / res["job_s"])
            problems = (
                verify.check_job_output(out, corpus)
                if write
                else verify.check_sink_counts(res["summary"], corpus)
            )
            if problems:
                self.fail(f"batch {self.attempted}", problems)

    def incremental_corpus(self) -> str:
        """The incremental state's corpus. Its two batches run once per
        checkout, each in a batch.py child, and the second batch's
        output is checked: no (conv_id, turn_idx) twice across batches,
        every row as the twin routes it."""
        import verify
        import workloads

        corpus = workloads.build(
            CACHE, "uniform", workloads.INCREMENTAL_SEED, workloads.INCREMENTAL_TURNS
        )
        first, second = workloads.incremental_states(corpus)
        ready = os.path.join(os.path.dirname(first), "_READY")
        if os.path.exists(ready):
            return corpus
        shutil.rmtree(os.path.dirname(first), ignore_errors=True)
        scratch = os.path.join(self.scratch, "state")
        request = {
            "corpus": workloads.first_batch_input(corpus), "out_dir": first,
            "master": master(), "scratch": scratch, "job_args": [],
        }
        run_child("batch.py", request, scratch)
        shutil.copytree(first, second)
        request.update(
            corpus=corpus, out_dir=second,
            job_args=["--batch-ts", workloads.NEXT_BATCH_TS],
        )
        run_child("batch.py", request, scratch)
        problems = verify.check_job_output(second, corpus, fallback_ts_free=True)
        if problems:
            self.fail("incremental state", problems)
        else:
            open(ready, "w").close()
        return corpus

    def follow_corpus(self) -> str:
        import layers
        import workloads

        return workloads.build_follow(
            CACHE, self.seed, layers.FOLLOW_FILES, layers.FOLLOW_TURNS_PER_FILE
        )

    def traced(self, corpus: str):
        """The traced run (layers.py) in one fresh process."""
        import layers

        self.units = layers.LAYER_UNITS
        self.attempted += 1
        request = {
            "corpus": corpus, "workload": self.workload, "write": self.spec["write"],
            "seed": self.seed, "master": master(),
            "scratch": os.path.join(self.scratch, "trace"),
            "incremental_corpus": self.incremental_corpus(),
            "follow_corpus": self.follow_corpus(),
        }
        try:
            res, _, peak_mb = run_child(
                "layers.py", request, request["scratch"], sample_rss=True,
                deadline=self.deadline,
            )
        except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
            self.fail("traced run", [repr(e)])
            return
        for k, v in res["metrics"].items():
            self.add(k, v)
        self.add("memory.peak_rss_mb", peak_mb)
        self.spans = res["spans"]
        for p in res["problems"]:
            self.fail("traced run", [p])


def report(run: Run) -> dict | None:
    """Print the table to stderr; return the result object, or None
    when a declared metric was not measured."""
    metrics = {k: summarize(run.samples[k]) for k in run.units if k in run.samples}
    status = "verified" if not run.failed else f"{run.failed} FAILED"
    print(
        f"\n{run.workload} seed={run.seed} trace={run.trace} {master()}: outputs "
        f"{status} ({run.attempted} attempted)",
        file=sys.stderr,
    )
    print(f"{'metric':<40} {'unit':<8} {'median':>12} {'q1':>12} {'q3':>12} {'n':>3}",
          file=sys.stderr)
    for name, st in metrics.items():
        print(
            f"{name:<40} {run.units[name]:<8} {st['median']:>12.6g} "
            f"{st['q1']:>12.6g} {st['q3']:>12.6g} {st['n']:>3}",
            file=sys.stderr,
        )
    for name, unit in INFO_UNITS.items():
        if name in run.samples:
            st = summarize(run.samples[name])
            print(
                f"{name + ' (info)':<40} {unit:<8} {st['median']:>12.6g} "
                f"{st['q1']:>12.6g} {st['q3']:>12.6g} {st['n']:>3}",
                file=sys.stderr,
            )
    for p in run.problems:
        print(f"  problem: {p}", file=sys.stderr)
    missing = sorted(set(run.units) - set(metrics))
    if missing:
        print(f"  not measured: {missing}", file=sys.stderr)
        return None
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": st["median"], "unit": run.units[k]} for k, st in metrics.items()
        },
    }


def run_one(args) -> int:
    if importlib.util.find_spec("ci_log_processing_spark") is None:
        print(f"ci_log_processing_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    spec = WORKLOADS[args.workload]
    turns = int(spec["turns"] * TRACE_SHARE) if args.trace else spec["turns"]
    corpus = workloads.build(CACHE, spec["kind"], args.seed, turns)
    run = Run(args.workload, args.seed, args.seconds, args.trace)
    try:
        # built by the first run of a checkout, whichever it is
        run.incremental_corpus()
        if args.trace:
            run.follow_corpus()
        run.deadline = max(
            _T_PROCESS + DEADLINE_S, time.monotonic() + DEADLINE_AFTER_INPUTS_S
        )
        if args.trace:
            run.traced(corpus)
        else:
            run.measure(corpus)
        result = report(run)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
        with open(os.path.join(WORK, "results", name), "w") as f:
            json.dump(
                {"result": result, "samples": run.samples, "spans": run.spans,
                 "problems": run.problems, "master": master()},
                f, indent=1,
            )
    finally:
        shutil.rmtree(run.scratch, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rc = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True,
            )
            rc = rc or p.returncode
            last = (p.stdout.strip().splitlines() or [""])[-1]
            print(f"{w} trace={trace}: {last}")
    return rc


def main() -> int:
    # a terminated run stops its children first (run_child's finally)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

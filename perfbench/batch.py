"""One production batch in a fresh process, the way plans/job.py is
deployed (one spark-submit per poll):

  python3 perfbench/batch.py <request.json> <result.json>

request: {"corpus", "out_dir", "scratch", "master", "job_args"}.
result:  {"ready_monotonic": when get_spark() returned, "setup_cpu_s":
CPU seconds the process tree used until then, "job_s": seconds from the
call into plans.job.main to its return (it stops the session itself),
"job_cpu_s": CPU seconds the process tree used meanwhile, "summary":
the job's own summary}.

The parent (run.py) starts this process and checks its output;
nothing inside the package is timed.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# job.main requires --input-dir even with --transcripts-parquet, which
# it reads instead; this value is never opened
INPUT_DIR_PLACEHOLDER = "unused-transcripts-parquet-given"


def proc_tree(root_pid: int) -> list[int]:
    """root_pid and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by root_pid's process tree: the driver, the JVM and its Python
    workers. Time the hypervisor steals is not in it."""
    ticks = 0
    for pid in proc_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def session_env(scratch: str) -> dict:
    """Keep Spark's scratch files inside the run's directory; returns
    the extra session conf."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # no hsperfdata file in the system temp directory, from spark-submit's
    # launcher JVM or from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(scratch, "tmp"),
    }


def start_session(scratch: str, master: str):
    from ci_log_processing_spark.session import get_spark

    spark = get_spark(master=master, extra_conf=session_env(scratch))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_job(corpus: str, out_dir: str, scratch: str, master: str, *extra: str):
    """plans.job.main on `corpus` into `out_dir` with an active session;
    returns (seconds from call to return, the job's summary, CPU seconds
    this process tree used meanwhile)."""
    from ci_log_processing_spark.plans import job

    summary_path = os.path.join(scratch, "summary.json")
    argv = [
        "--input-dir", INPUT_DIR_PLACEHOLDER,
        "--transcripts-parquet", os.path.join(corpus, "transcripts"),
        "--output-dir", out_dir,
        "--master", master,
        "--summary-json", summary_path,
        *extra,
    ]
    # the job prints its summary on stdout; the benchmark's stdout
    # carries only its own result
    with contextlib.redirect_stdout(sys.stderr):
        cpu = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        job.main(argv)
        dt = time.perf_counter() - t
        cpu = tree_cpu_s(os.getpid()) - cpu
    with open(summary_path) as f:
        return dt, json.load(f), cpu


def main(request_path: str, result_path: str) -> int:
    with open(request_path) as f:
        req = json.load(f)
    start_session(req["scratch"], req["master"])
    ready = time.monotonic()
    setup_cpu_s = tree_cpu_s(os.getpid())
    job_s, summary, cpu_s = run_job(
        req["corpus"], req["out_dir"], req["scratch"], req["master"], *req["job_args"]
    )
    with open(result_path, "w") as f:
        json.dump(
            {"ready_monotonic": ready, "setup_cpu_s": setup_cpu_s, "job_s": job_s,
             "job_cpu_s": cpu_s, "summary": summary},
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))

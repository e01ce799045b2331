"""liken_spark benchmark: one workload per call, run from the repository root.

    python3 perfbench/run.py --workload audio_corpus --seed 1 --seconds 12 --trace 0

Generates the seeded inputs (cached per seed, outside every timing), then runs
the workload in fresh processes at ``local[<cores>]`` and prints each metric
with its unit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: an untraced run, then a run with layer spans and the Spark
event log on, and the tracing overhead between them. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

RUN_DEADLINE_S = 170.0
PSS_PERIOD_S = 0.5
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>
WORKLOADS = ("audio_corpus", "audio_checkpointed")


def unit_of(name: str) -> str:
    if name.endswith("shuffle_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("spark_jobs", "edges", "invariant_failures")):
        return "count"
    return "ratio"


def _procs():
    """(pid, state, parent pid, session id) of every process, from /proc."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        yield int(entry), fields[0], int(fields[1]), int(fields[3])


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of the session led by ``sid``: a child
    started with start_new_session, its JVM and the JVM's Python workers."""
    return [pid for pid, state, _, s in _procs() if s == sid and state != "Z"]


def session_pss_mb(sid: int) -> float:
    """Summed PSS of the session's processes. PSS splits pages shared by the
    forked Python workers among them, so the sum counts each page once; RSS
    would count shared pages once per process."""
    kb = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def become_subreaper() -> None:
    """Make this process the child subreaper: the orphans of its children (the
    JVM once the workload process exits, then the JVM's Python workers) are
    re-parented to it, not to init, so ``stop_descendants`` can kill and reap
    them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_descendants() -> None:
    """Kill every process still below this one and wait until each has ended
    and is reaped, so none outlives the run, not even as a zombie."""
    me = os.getpid()
    while True:
        kids = [pid for pid, _, ppid, _ in _procs() if ppid == me]
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)  # their own orphans are re-parented to us first
            except ChildProcessError:
                pass


class Child:
    """One fresh workload process; samples its session's PSS while it runs.
    The child writes its result to a file and its logs to the work directory."""

    def __init__(self, argv: list[str], work: str, env: dict[str, str], sample_pss: bool) -> None:
        os.makedirs(os.path.join(work, "logs"), exist_ok=True)
        tag = f"{os.getpid()}-{time.time_ns()}"
        self.result_path = os.path.join(work, "logs", f"{tag}.json")
        self.log_path = os.path.join(work, "logs", f"{tag}.log")
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "workload.py"), *argv,
                 "--result", self.result_path],
                env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
        self.t0 = time.monotonic()
        self.ticks0 = cpu_ticks()
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True) if sample_pss else None
        if self._sampler:
            self._sampler.start()

    def _sample(self) -> None:
        while not self._done.wait(PSS_PERIOD_S):
            self.peak_mb = max(self.peak_mb, session_pss_mb(self.proc.pid))

    def result(self, deadline: float) -> dict:
        try:
            self.proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            self._done.set()
            if self._sampler:
                self._sampler.join()
            stop_descendants()
        try:
            with open(self.result_path) as f:
                res = json.load(f)
        except (OSError, json.JSONDecodeError):
            with open(self.log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"workload process failed (exit {self.proc.returncode})") from None
        os.remove(self.result_path)
        with open(self.log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith(("setup", "timed"))))
        os.remove(self.log_path)
        steal, total = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        # the share of this VM's CPU time its host gave to others: when it
        # rises, every timing in the run slows with it
        self.steal_share = steal / max(total, 1)
        sys.stderr.write(f"child {time.monotonic() - self.t0:.1f}s\n")
        return res


def child_env(work: str, cores: int) -> dict[str, str]:
    # defaults only: no LIKEN_SPARK_* knob reaches the program
    env = {k: v for k, v in os.environ.items() if not k.startswith("LIKEN_SPARK_")}
    tmp = os.path.join(work, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # keep the JVM's temp files and perf-data file inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description="liken_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops every process it started (main's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "liken_spark", "__init__.py")):
        print("run from the repository root: liken_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)  # the generator's worker processes import liken_spark
    cores = gen.cores()
    work = os.path.join(root, gen.WORK_DIR)
    os.makedirs(work, exist_ok=True)
    become_subreaper()
    try:
        with open(os.path.join(work, "lock"), "w") as lock:
            # runs share the work directory's scratch, so they take turns
            fcntl.flock(lock, fcntl.LOCK_EX)
            return run_locked(args, work, cores)
    finally:
        stop_descendants()


def run_locked(args, work: str, cores: int) -> int:
    inputs = gen.audio_table(args.seed)
    # the workload processes' deadline: neither waiting for the lock nor
    # generating a new seed's inputs uses it up
    deadline = time.monotonic() + RUN_DEADLINE_S
    for d in ("spark-local", "tmp", "checkpoints", "eventlog"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)  # left by killed sessions
    os.makedirs(os.path.join(work, "tmp"))
    env = child_env(work, cores)
    base = ["--workload", args.workload, "--inputs", inputs, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--cores", str(cores), "--work-dir", work]

    child = Child(base, work, env, sample_pss=True)
    plain = child.result(deadline)
    runs = [plain]
    if args.trace:
        traced = Child(base + ["--trace", "1"], work, env, sample_pss=False).result(deadline)
        runs.append(traced)
        layers = dict(traced["per_layer"])
        layers["peak_rss_mb"] = child.peak_mb
        layers["trace.untraced_wall_s"] = plain["wall_s"]
        layers["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {
            "setup_s": {"value": plain["setup_s"], "unit": "s"},
            "wall_s": {"value": plain["wall_s"], "unit": "s"},
            "rows_per_s": {"value": plain["rows"] / plain["wall_s"], "unit": "1/s"},
            "pair_recall": {"value": plain["pair_recall"], "unit": "ratio"},
            "pair_precision": {"value": plain["pair_precision"], "unit": "ratio"},
        }

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for name, m in metrics.items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'fail_ratio':48s} {failed / attempted:>16.6g} ratio ({failed} of {attempted} iterations)")
    if not args.trace:
        # printed, not gated: the JVM heap's growth makes it vary ~20% between runs
        print(f"{'peak_rss_mb':48s} {child.peak_mb:>16.6g} MB")
    print(f"{'cpu_steal_share':48s} {child.steal_share:>16.6g} ratio (printed, not a metric)")
    for r in runs:
        for reason in r["failures"]:
            print(f"failure: {reason.strip().splitlines()[-1]}")
    result = {
        "correct": all(r["correct"] for r in runs),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""End-to-end kill-and-resume drill at scaling size (north-rule
resumability exercised at the same clip count the scaling evidence uses).

Four legs, each a fresh subprocess JVM at local[CORES] over the
pre-materialized scaling input table (scripts/scaling.py --prep):

  1. control  — jobs.dedup_corpus with NO checkpointing (noop sink — the
                same sink every leg uses, so the delta to leg 2 isolates
                checkpoint machinery, not output-write disk throughput);
  2. cold     — scripts/run_pipeline.py with a fresh checkpoint dir: all
                five narrow stages written + manifests + output;
  3. killed   — same command, fresh run-id, SIGKILLed the moment the
                03_substring_pairs manifest lands (i.e. between the pair
                passes and connected components);
  4. resume   — leg 3's identical command re-run to completion: stages 00-03
                MUST report resumed=true, only CC + canonical map + the
                output write re-execute.

Prints one JSON line: per-leg walls, checkpoint overhead
(cold/control - 1), and resume cost (resume/cold). Usage:

    python scripts/resume_drill.py                # orchestrate
    python scripts/resume_drill.py --leg control  # internal
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_CLIPS = int(os.environ.get("SPARK_GRAFT_SCALING_CLIPS", "800000"))
INPUT_DIR = os.environ.get(
    "SPARK_GRAFT_SCALING_INPUT", f"/tmp/liken_scaling_input_{N_CLIPS}"
)
CORES = int(os.environ.get("SPARK_GRAFT_DRILL_CORES", "8"))
SHUFFLE_PARTITIONS = 64
WORK = os.environ.get("SPARK_GRAFT_DRILL_DIR", "/tmp/liken_drill")


def _env() -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env.setdefault("LIKEN_SPARK_DRIVER_MEM", "48g")
    return env


def control_leg() -> None:
    os.environ.setdefault("LIKEN_SPARK_DRIVER_MEM", "48g")
    import liken_spark as lk
    from liken_spark.jobs import dedup_corpus
    from pyspark.sql import functions as F

    spark = lk.get_spark(
        app_name="liken-drill-control",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "8192"},
    )
    clips = spark.read.parquet(INPUT_DIR)
    # untimed warmup: python workers + page cache (mirrors scaling.py)
    clips.select(F.sum(F.length("bytes")), F.sum(F.length("transcript"))).collect()
    t0 = time.perf_counter()
    out = dedup_corpus(
        clips, text_col="transcript", id_col="clip_id",
        lsh_threshold=0.7, lsh_ngram=3, num_perm=128, substring_min_len=30,
    )
    out.write.format("noop").mode("overwrite").save()
    print(json.dumps({"leg": "control", "wall_sec": round(time.perf_counter() - t0, 2)}))
    spark.stop()


def _pipeline_cmd(run_id: str) -> list[str]:
    return [
        sys.executable,
        str(REPO / "scripts" / "run_pipeline.py"),
        "--input", INPUT_DIR,
        "--output", "noop",
        "--checkpoints", os.path.join(WORK, "ckpt"),
        "--run-id", run_id,
    ]


def _run_pipeline(run_id: str) -> dict:
    proc = subprocess.run(
        _pipeline_cmd(run_id), capture_output=True, text=True, cwd=str(REPO), env=_env()
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise SystemExit(f"pipeline leg {run_id} failed")
    line = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def orchestrate() -> None:
    os.makedirs(WORK, exist_ok=True)
    if not os.path.exists(os.path.join(INPUT_DIR, "_SUCCESS")):
        raise SystemExit(f"input {INPUT_DIR} missing — run scripts/scaling.py --prep")

    # leg 1: no-checkpoint control (fresh JVM)
    proc = subprocess.run(
        [sys.executable, __file__, "--leg", "control"],
        capture_output=True, text=True, cwd=str(REPO), env=_env(),
    )
    line = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
    t_control = json.loads(line)["wall_sec"]
    print(line, flush=True)

    # leg 2: cold checkpointed run
    cold = _run_pipeline("cold")
    assert all(not s["resumed"] for s in cold["stages"]), cold
    print(json.dumps({"leg": "cold", **cold}), flush=True)

    # leg 3: launch and SIGKILL between the pair passes and CC
    kill_manifest = Path(WORK) / "ckpt" / "drill" / "03_substring_pairs" / "_liken_manifest.json"
    t0 = time.perf_counter()
    p = subprocess.Popen(
        _pipeline_cmd("drill"),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        cwd=str(REPO), env=_env(), start_new_session=True,
    )
    while p.poll() is None and not kill_manifest.exists():
        time.sleep(0.5)
    if p.poll() is not None:
        raise SystemExit("killed leg finished before the kill point — drill invalid")
    os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    p.wait()
    t_killed = round(time.perf_counter() - t0, 2)
    print(json.dumps({"leg": "killed", "wall_sec_until_kill": t_killed}), flush=True)

    # leg 4: resume — identical command, must reuse stages 00-03
    res = _run_pipeline("drill")
    resumed = {s["stage"]: s["resumed"] for s in res["stages"]}
    for st in ("00_ingest", "02_lsh_pairs", "03_substring_pairs"):
        assert resumed[st], f"stage {st} recomputed on resume: {resumed}"
    print(json.dumps({"leg": "resume", **res}), flush=True)

    t_cold, t_resume = cold["wall_sec"], res["wall_sec"]
    print(
        json.dumps(
            {
                "n_clips": N_CLIPS,
                "cores": CORES,
                "control_sec": t_control,
                "cold_ckpt_sec": t_cold,
                "killed_partial_sec": t_killed,
                "resume_sec": t_resume,
                "ckpt_overhead": round(t_cold / t_control - 1, 3),
                "resume_frac_of_cold": round(t_resume / t_cold, 3),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--leg", choices=["control"], default=None)
    args = ap.parse_args()
    if args.leg == "control":
        control_leg()
    else:
        orchestrate()

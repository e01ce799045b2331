"""Seeded input generator for the benchmark, kept apart from the timed program.

Writes the synthetic audio-clip table that ``liken_spark.sources.audio``
defines (the same rows ``synth_audio_table(spark, n, seed)`` produces) as
parquet, one file per core, without starting Spark. Tables are cached per
seed under the work directory, so a run's set-up never includes data
generation. ``run.py`` calls ``audio_table``; to pre-generate a seed's table,
run from the repository root:

    python3 perfbench/gen.py --seed 7
"""

from __future__ import annotations

import argparse
import multiprocessing as mp
import os
import shutil
import sys

WORK_DIR = ".perfbench_work"  # relative to the repository root
N_CLIPS = 2000


def cores() -> int:
    """Cores this process may run on: the workload's local[n] and the part count."""
    return len(os.sched_getaffinity(0))


def _write_part(args: tuple[str, int, int, int]) -> int:
    path, seed, lo, hi = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from liken_spark.sources.audio import encode_clip, params_for, synth_pcm, transcript_for

    cols: dict[str, list] = {k: [] for k in ("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")}
    for idx in range(lo, hi):
        sr, dur, codec = params_for(seed, idx)
        cols["clip_id"].append(f"clip{idx:012d}")
        cols["bytes"].append(encode_clip(synth_pcm(seed, idx, sr, dur), codec, sr))
        cols["sr_hz"].append(sr)
        cols["dur_ms"].append(dur)
        cols["codec"].append(codec)
        cols["transcript"].append(transcript_for(seed, idx))
    table = pa.table(
        {
            "clip_id": pa.array(cols["clip_id"], pa.string()),
            "bytes": pa.array(cols["bytes"], pa.binary()),
            "sr_hz": pa.array(cols["sr_hz"], pa.int32()),
            "dur_ms": pa.array(cols["dur_ms"], pa.int32()),
            "codec": pa.array(cols["codec"], pa.string()),
            "transcript": pa.array(cols["transcript"], pa.string()),
        }
    )
    pq.write_table(table, path)
    return hi - lo


def audio_table(seed: int) -> str:
    """Absolute path of the cached parquet table for ``seed``; generated on a miss.
    Run from the repository root."""
    n_clips, parts = N_CLIPS, cores()
    out = os.path.abspath(os.path.join(WORK_DIR, "inputs", f"audio-n{n_clips}-p{parts}-seed{seed}"))
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = [n_clips * k // parts for k in range(parts + 1)]
    tasks = [
        (os.path.join(tmp, f"part-{k:05d}.parquet"), seed, bounds[k], bounds[k + 1])
        for k in range(parts)
    ]
    try:
        # fork, not spawn: spawn starts a resource-tracker process that would
        # outlive the run; the forked workers import the package themselves
        with mp.get_context("fork").Pool(parts) as pool:
            written = sum(pool.map(_write_part, tasks))
        if written != n_clips:
            raise RuntimeError(f"generated {written} clips, expected {n_clips}")
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    print(audio_table(a.seed))

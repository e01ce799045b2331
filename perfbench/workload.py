"""One benchmark workload in one fresh process.

Started by ``run.py`` with the checkout root as working directory. Times set-up
(process start to a warm ``liken_spark.get_spark`` session), runs the cold
iteration, the reference map and a fixed warm-up, then times iterations for
``--seconds``, at least three. Every iteration is checked
outside its timing. The result is written as JSON to the ``--result`` file
for ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from collections import Counter

from spans import Tracer, per_span_medians, read_event_log, span_metrics

ITER_TIMEOUT_S = 60.0  # an iteration slower than this counts as failed
# Untimed passes over the pair and CC layers after the cold iteration; on
# audio_checkpointed the reference dedup_corpus pass is the first of them.
# Fixed, not "until times stop falling": at 2000 clips times keep falling for
# more iterations than a one-minute run holds, and iteration noise (about
# 10%) hides where they level off. The median of the timed iterations
# absorbs a slow first one.
WARM_PASSES = 2
MIN_TIMED = 3
# Floors that catch a broken clustering: lost duplicate classes, or
# over-merging into a few giant clusters. They are not the quality targets,
# which the pair_recall and pair_precision metrics carry. Measured at 2000
# clips over 45 seeds: recall 0.984-0.996 (below the 0.99 north star on 20
# of them) and precision 0.85-0.96.
MIN_RECALL = 0.97
MIN_PRECISION = 0.8

CC_SPAN = "operators.cc.cc"
# the spans that together cover one iteration of each workload
TOP_SPANS = {
    "audio_corpus": ["jobs.dedup_corpus.pairs", "jobs.dedup_corpus.join_back", "sources.audio.invariant"],
    "audio_checkpointed": ["sources.checkpoint.plan", "sources.checkpoint.join_back"],
}
STAGES = ["00_ingest", "01_exact_pairs", "02_lsh_pairs", "03_substring_pairs",
          "04_components", "05_canonical_map"]
# every per-layer span, reported on every workload (zero where a layer does not run)
REPORTED_SPANS = (
    ["jobs.dedup_corpus.pairs", CC_SPAN, "jobs.dedup_corpus.join_back", "sources.audio.invariant"]
    + [f"sources.checkpoint.{s}" for s in STAGES]
    + ["sources.checkpoint.plan", "sources.checkpoint.join_back"]
)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (includes interpreter start)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pair_scores(pred: list, truth: list) -> tuple[float, float]:
    """(recall, precision) of co-clustered pairs against the reference pairs."""

    def pairs(counts: Counter) -> int:
        return sum(c * (c - 1) // 2 for c in counts.values())

    both = pairs(Counter(zip(pred, truth)))
    return both / max(pairs(Counter(truth)), 1), both / max(pairs(Counter(pred)), 1)


class Bench:
    def __init__(self, spark, args, tracer: Tracer | None) -> None:
        from pyspark.sql import functions as F

        self.F = F
        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.table = spark.read.parquet(args.inputs)
        self.work = os.path.abspath(args.work_dir)
        self.edges: list[int] = []
        self.count_edges = False
        self.edge_count_s = 0.0  # time spent counting edges, kept out of every timing
        self.last_out = None  # the last audio_corpus iteration's dedup_corpus output
        self.last_ckpt: str | None = None
        row = self.table.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(clip_id, bytes))").alias("payload"),
            F.sum(F.octet_length("clip_id") + F.octet_length("transcript")).alias("text_bytes"),
        ).collect()[0]
        self.n, self.payload_digest, self.text_bytes = int(row["n"]), int(row["payload"]), int(row["text_bytes"])
        self.canon_digest: int | None = None
        self.last_canon: int | None = None
        self.invariant_bad = 0
        if tracer is not None:
            self._patch_layers()

    def _span(self, name: str):
        import contextlib

        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _patch_layers(self) -> None:
        """Wrap the module-level entry points the jobs call, for the traced run."""
        import liken_spark.jobs as jobs_mod
        import liken_spark.operators.cc as cc_mod
        from liken_spark.sources.checkpoint import StageCheckpointer

        cc = cc_mod.connected_components
        tracer = self.tracer

        def traced_cc(pairs, *a, **k):
            if self.count_edges:
                t = time.perf_counter()
                self.edges.append(pairs.count())
                self.edge_count_s += time.perf_counter() - t
            with tracer.span(CC_SPAN):
                return cc(pairs, *a, **k)

        jobs_mod.connected_components = traced_cc
        cc_mod.connected_components = traced_cc  # checkpointed_dedup imports it at call time
        materialize = StageCheckpointer.materialize

        def traced_materialize(ckpt, name, df, *a, **k):
            with tracer.span(f"sources.checkpoint.{name}"):
                return materialize(ckpt, name, df, *a, **k)

        StageCheckpointer.materialize = traced_materialize

    def _observed_write(self, out, span: str):
        """Materialize ``out`` through the noop sink; an Observation on the same
        job returns the row count and digests used by the correctness check."""
        from pyspark.sql import Observation

        F = self.F
        obs = Observation()
        with self._span(span):
            out.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(clip_id, canonical_id))").alias("canon"),
                F.expr("bit_xor(xxhash64(clip_id, bytes))").alias("payload"),
            ).write.format("noop").mode("overwrite").save()
        return obs.get

    def iteration(self) -> dict:
        if self.args.workload == "audio_corpus":
            from liken_spark.jobs import dedup_corpus
            from liken_spark.sources.audio import audio_invariant

            self.last_out = None
            with self._span("jobs.dedup_corpus.pairs"):
                out = dedup_corpus(self.table)
            self.last_out = out
            res = dict(self._observed_write(out, "jobs.dedup_corpus.join_back"))
            with self._span("sources.audio.invariant"):
                res["bad"] = (
                    audio_invariant(self.table, seed=self.args.seed)
                    .where("NOT audio_ok OR NOT transcript_ok")
                    .count()
                )
            return res
        from liken_spark.sources.checkpoint import StageCheckpointer, checkpointed_dedup

        # a fresh run id: every stage is written, none is resumed
        ckpt = StageCheckpointer(os.path.join(self.work, "checkpoints"), uuid.uuid4().hex)
        self.last_ckpt = os.path.join(ckpt.base_path, ckpt.run_id)
        with self._span("sources.checkpoint.plan"):
            out = checkpointed_dedup(self.spark, self.table, ckpt)
        return dict(self._observed_write(out, "sources.checkpoint.join_back"))

    def drop_checkpoint(self) -> None:
        if self.last_ckpt:
            shutil.rmtree(self.last_ckpt, ignore_errors=True)
            self.last_ckpt = None

    def verify_reference(self) -> tuple[float, float]:
        """Untimed: the dedup_corpus canonical map, scored against the planted
        truth. Its digest is what every iteration's output must reproduce
        (for audio_checkpointed: the same assignment as dedup_corpus).

        On audio_corpus the map is read from the cold iteration's own
        dedup_corpus output, so no separate pass runs; audio_checkpointed
        runs dedup_corpus once here."""
        from liken_spark.jobs import dedup_corpus
        from liken_spark.sources.audio import truth_clusters

        F = self.F
        out = self.last_out
        if out is None:
            self.count_edges = True
            try:
                out = dedup_corpus(self.table)
            finally:
                self.count_edges = False
        m = out.select("clip_id", "canonical_id").toPandas()
        truth = truth_clusters(self.spark, self.n).toPandas()
        joined = m.merge(truth, on="clip_id", how="inner")
        if len(joined) != self.n or len(m) != self.n:
            raise RuntimeError(f"canonical map covers {len(joined)} of {self.n} clips")
        recall, precision = pair_scores(joined["canonical_id"].tolist(), joined["true_cluster"].tolist())
        self.canon_digest = int(
            self.spark.createDataFrame(m, "clip_id string, canonical_id string")
            .agg(F.expr("bit_xor(xxhash64(clip_id, canonical_id))").alias("h"))
            .collect()[0]["h"]
        )
        return recall, precision

    def check(self, res: dict) -> str | None:
        self.invariant_bad += res.get("bad", 0)
        self.last_canon = res["canon"]
        if res["n"] != self.n:
            return f"output has {res['n']} rows, input {self.n}"
        if res["payload"] != self.payload_digest:
            return "output payload differs from input"
        if self.canon_digest is not None and res["canon"] != self.canon_digest:
            return "canonical assignment differs from the verified dedup_corpus map"
        if res.get("bad", 0):
            return f"{res['bad']} clips fail the audio invariant"
        return None

    def checkpoint_stats(self) -> dict[str, float]:
        """Bytes the last checkpointed iteration wrote, and LSH edge duplication."""
        F = self.F
        written = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.last_ckpt)
            for f in files
        )
        lsh = self.spark.read.parquet(os.path.join(self.last_ckpt, "02_lsh_pairs", "data"))
        rows = lsh.count()
        distinct = lsh.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct().count()
        return {
            "sources.checkpoint.bytes_written": written,
            "sources.checkpoint.write_amp": written / self.text_bytes,
            "sources.checkpoint.lsh_edge_dup_ratio": rows / max(distinct, 1),
        }


def run(args) -> dict:
    sys.path.insert(0, os.getcwd())
    import liken_spark as lk

    extra = None
    log_dir = None
    if args.trace:
        log_dir = os.path.join(os.path.abspath(args.work_dir), "eventlog", uuid.uuid4().hex)
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    t = time.perf_counter()
    spark = lk.get_spark(app_name="perfbench", master=f"local[{args.cores}]", extra_conf=extra)
    get_spark_s = time.perf_counter() - t
    setup_s = _process_age_s()

    tracer = Tracer() if args.trace else None
    bench = Bench(spark, args, tracer)
    attempted = failed = 0
    failures: list[str] = []

    def one(timed_index: int | None = None) -> tuple[float, bool]:
        nonlocal attempted, failed
        attempted += 1
        bench.drop_checkpoint()
        if tracer is not None:
            tracer.iteration = timed_index
        counted = bench.edge_count_s
        t0 = time.perf_counter()
        try:
            res = bench.iteration()
            elapsed = time.perf_counter() - t0 - (bench.edge_count_s - counted)
            reason = bench.check(res)
            if reason is None and elapsed > ITER_TIMEOUT_S:
                reason = f"iteration took {elapsed:.1f} s"
        except Exception:  # one failed iteration is counted, not fatal
            elapsed = time.perf_counter() - t0
            reason = traceback.format_exc()
        finally:
            if tracer is not None:
                tracer.iteration = None
        if reason is not None:
            failed += 1
            failures.append(reason)
            print(f"iteration failed: {reason}", file=sys.stderr)
        return elapsed, reason is None

    # audio_corpus takes its reference map, and its edge count, from the
    # cold iteration's dedup_corpus call
    bench.count_edges = args.workload == "audio_corpus"
    cold_iter_s, _ = one()
    bench.count_edges = False
    cold_canon = bench.last_canon
    t = time.perf_counter()
    recall, precision = bench.verify_reference()
    ref_s = time.perf_counter() - t
    if cold_canon is not None and cold_canon != bench.canon_digest:
        # the cold iteration ran before the reference existed; check it now
        failed += 1
        failures.append("cold iteration: canonical assignment differs from the dedup_corpus map")
    ref_passes = args.workload == "audio_checkpointed"  # its reference pass ran dedup_corpus
    warm = [one()[0] for _ in range(WARM_PASSES - ref_passes)]
    print(
        f"setup {setup_s:.2f}s cold {cold_iter_s:.2f}s reference {ref_s:.2f}s "
        "warm " + " ".join(f"{t:.2f}" for t in warm),
        file=sys.stderr,
    )

    timed: list[tuple[float, bool]] = []
    start = time.perf_counter()
    while len(timed) < MIN_TIMED or time.perf_counter() - start < args.seconds:
        timed.append(one(len(timed)))
    print("timed " + " ".join(f"{t:.2f}" for t, _ in timed), file=sys.stderr)
    # a failed iteration is counted in `failed`, not timed (unless all failed)
    times = [t for t, ok in timed if ok] or [t for t, _ in timed]
    ckpt_layer = {}
    if tracer is not None and bench.last_ckpt:
        ckpt_layer = bench.checkpoint_stats()
    bench.drop_checkpoint()
    if tracer is not None:
        spark.stop()  # flushes the event log
    correct = failed == 0 and recall >= MIN_RECALL and precision >= MIN_PRECISION
    result = {
        "setup_s": setup_s,
        "wall_s": statistics.median(times),
        "rows": bench.n,
        "pair_recall": recall,
        "pair_precision": precision,
        "attempted": attempted,
        "failed": failed,
        "correct": correct,
        "timed_iterations": len(timed),
        "cold_iter_s": cold_iter_s,
        "failures": failures[:3],
    }
    if tracer is not None:
        result["per_layer"] = traced_layers(args, bench, tracer, log_dir, timed, ckpt_layer)
        result["per_layer"].update({
            "session.get_spark_s": get_spark_s,
            "session.cold_iter_s": cold_iter_s,
            "fail_ratio": failed / attempted,
            "sources.audio.invariant_failures": bench.invariant_bad,
        })
    return result


def traced_layers(args, bench: Bench, tracer: Tracer, log_dir: str, timed, ckpt_layer) -> dict:
    jobs, stages = read_event_log(log_dir)
    per = span_metrics(tracer.spans, jobs, stages, args.cores)
    iters = list(range(len(timed)))
    med = per_span_medians(per, iters, REPORTED_SPANS)
    top_walls = [
        sum(per.get((i, n), {"wall_s": 0.0})["wall_s"] for n in TOP_SPANS[args.workload])
        for i in iters
    ]
    out: dict[str, float] = {
        "trace.wall_s": statistics.median(t for t, _ in timed),
        "trace.uncovered_s": statistics.median(t - c for (t, _), c in zip(timed, top_walls)),
        "jobs.dedup_corpus.edges": bench.edges[0] if bench.edges else 0,
        "sources.checkpoint.bytes_written": 0,
        "sources.checkpoint.write_amp": 0.0,
        "sources.checkpoint.lsh_edge_dup_ratio": 0.0,
    }
    out.update(ckpt_layer)
    for name in REPORTED_SPANS:
        m = med[name]
        out[f"{name}_s"] = m["self_s"]
        for k in ("task_s", "gc_s", "core_util", "spark_jobs", "shuffle_bytes"):
            out[f"{name}.{k}"] = m[k]
    os.makedirs(os.path.join(args.work_dir, "trace"), exist_ok=True)
    tracer.dump(os.path.join(args.work_dir, "trace", f"{args.workload}-seed{args.seed}.json"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="one benchmark workload (started by run.py)")
    ap.add_argument("--workload", choices=sorted(TOP_SPANS))
    ap.add_argument("--inputs")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True, help="file the result JSON is written to")
    args = ap.parse_args()
    res = run(args)
    with open(args.result + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(args.result + ".tmp", args.result)
    if not args.trace:
        # skip session and interpreter teardown: run.py kills the session's
        # processes and clears their scratch directories
        os._exit(0)


if __name__ == "__main__":
    main()

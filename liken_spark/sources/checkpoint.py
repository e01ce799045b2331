"""Stage checkpointing with per-partition lineage + resume.

North-rule requirement: "every stage checkpoints to Iceberg with
per-partition lineage and row-count/signature metrics so the pipeline
resumes mid-run."

Each stage is written as a plain parquet directory plus a JSON manifest;
no Iceberg table is written (pyspark bundles no Iceberg runtime jar). The
manifest records:

- row_count, schema, an order-insensitive xxhash64 XOR checksum of all
  columns (cheap, distributed, deterministic)
- per-partition lineage: rows per spark partition at write time
- the stage name + logical params fingerprint, so a resume only reuses a
  checkpoint produced by the *same* logical stage

``StageCheckpointer.materialize(name, df)`` returns the checkpointed
DataFrame — reading back from storage when a valid checkpoint exists
(that's the resume path: a killed run re-executes only the stages whose
checkpoints are missing or stale)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from liken_spark.jobs import dedup_corpus


def _scan_stats(df: DataFrame) -> tuple[int, int, list[dict]]:
    """(row count, XOR checksum, per-partition lineage) from ONE
    per-partition aggregate: the driver sums the counts and XOR-folds the
    partition hashes, which equals the global ``bit_xor``."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))"), F.lit(0)).alias("h"),
        )
        .collect()
    )
    lineage, cnt, h = [], 0, 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        lineage.append({"partition": int(r["pid"]), "rows": int(r["rows"])})
        cnt += int(r["rows"])
        h ^= int(r["h"])
    return cnt, h, lineage


@dataclass
class StageCheckpointer:
    base_path: str
    run_id: str
    verify_checksum_on_resume: bool = False
    stages: list[dict] = field(default_factory=list)

    def _dir(self, name: str) -> str:
        return os.path.join(self.base_path, self.run_id, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_liken_manifest.json")

    def has_valid(self, name: str, params_fingerprint: str = "") -> bool:
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                manifest = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return manifest.get("complete") is True and manifest.get("params") == params_fingerprint

    def materialize(self, name: str, df: DataFrame, params_fingerprint: str = "") -> DataFrame:
        """Write-or-reuse: if a complete, parameter-matching checkpoint
        exists, read it back (resume); else compute, write data + manifest,
        and return the read-back frame (truncating lineage either way)."""
        spark = df.sparkSession
        path = self._dir(name)
        data_path = os.path.join(path, "data")

        if self.has_valid(name, params_fingerprint):
            with open(self._manifest_path(name)) as f:
                manifest = json.load(f)
            out = spark.read.parquet(data_path)
            if self.verify_checksum_on_resume:
                cnt, h, _ = _scan_stats(out)
                if [cnt, h] != manifest["checksum"]:
                    raise RuntimeError(
                        f"stage {name!r}: checkpoint corrupt (checksum mismatch)"
                    )
            self.stages.append({"stage": name, "resumed": True, **manifest["stats"]})
            return out

        df.write.mode("overwrite").parquet(data_path)

        out = spark.read.parquet(data_path)
        cnt, h, lineage = _scan_stats(out)
        manifest = {
            "complete": True,
            "stage": name,
            "params": params_fingerprint,
            "checksum": [cnt, h],
            "schema": out.schema.jsonValue(),
            "stats": {"row_count": cnt, "n_partitions": len(lineage)},
            "partition_lineage": lineage,
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))
        self.stages.append({"stage": name, "resumed": False, **manifest["stats"]})
        return out


def checkpointed_dedup(
    spark: SparkSession,
    df: DataFrame,
    ckpt: StageCheckpointer,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    lsh_threshold: float = 0.7,
    lsh_ngram: int = 3,
    num_perm: int = 128,
    substring_min_len: int = 30,
) -> DataFrame:
    """``jobs.dedup_corpus`` with a checkpoint after every stage (listed in
    the ``jobs`` module docstring). Checkpoints are NARROW (ids, edges,
    labels — never the payload column); the canonicalized frame is a
    lazy join of the input against the checkpointed canonical map.

    Killing the job between any two stages and re-running resumes from the
    last complete checkpoint (see tests/test_checkpoint.py for the
    kill-and-resume proof)."""
    return dedup_corpus(
        df,
        text_col=text_col,
        id_col=id_col,
        lsh_threshold=lsh_threshold,
        lsh_ngram=lsh_ngram,
        num_perm=num_perm,
        substring_min_len=substring_min_len,
        ckpt=ckpt,
    )

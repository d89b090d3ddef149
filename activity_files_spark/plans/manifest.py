"""Checkpoint manifest: per-stage lineage + row/byte metrics + idempotent
resume (north_rule: "every stage writes per-partition lineage + row-count/
byte metrics to a checkpoint manifest so the job resumes idempotently
mid-tiling").

The Spark analogue of the reference's diagnostics-everywhere design
(lib/src/parse/parse_result.dart:25-40): every stage emits a structured
record of what it did, and a restarted job skips stages whose outputs are
already committed.

Layout under ``manifest_dir``:
    <stage>.json        — manifest: status, per-file rows/bytes, lineage
    <stage>.parquet/    — the stage output (atomic via Spark's _SUCCESS)

A stage is COMPLETE iff its manifest exists with status "complete" AND the
output's _SUCCESS marker exists — both written only after a successful
materialization, so a kill at any point leaves a state that re-runs cleanly
(partial parquet dirs are overwritten on retry; mode="overwrite").

Determinism contract: a stage's output must be a pure function of
(inputs, config) — no wall clock, no unseeded RNG in the DataFrame it
builds. Wall-clock appears only in manifest *metadata* (duration), never in
data.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _output_metrics(path: str) -> dict:
    """Per-file (per-partition) rows/bytes from the parquet footers."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(".")
    )
    per_file = {}
    total_rows = 0
    total_bytes = 0
    for f in files:
        fp = os.path.join(path, f)
        meta = pq.ParquetFile(fp).metadata
        size = os.path.getsize(fp)
        per_file[f] = {"rows": meta.num_rows, "bytes": size}
        total_rows += meta.num_rows
        total_bytes += size
    return {"files": per_file, "rows": total_rows, "bytes": total_bytes, "n_files": len(files)}


class Manifest:
    """Stage-by-stage checkpointed pipeline runner."""

    def __init__(self, spark: SparkSession, manifest_dir: str):
        self.spark = spark
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def _output_path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.parquet")

    def is_complete(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        op = self._output_path(stage)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return m.get("status") == "complete" and os.path.exists(
            os.path.join(op, "_SUCCESS")
        )

    def read(self, stage: str) -> DataFrame:
        """The committed output, read with the schema the stage recorded: no
        footer-inference job, and partition keys keep their written types
        (a digit-string key would otherwise come back as an int). Manifests
        from before ``schema_json`` was recorded are read by inference."""
        reader = self.spark.read
        schema = ((self.stage_info(stage) or {}).get("lineage") or {}).get("schema_json")
        if schema:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(self._output_path(stage))

    def stage_info(self, stage: str) -> dict | None:
        mp = self._manifest_path(stage)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return json.load(f)

    def run_stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        inputs: list[str] | None = None,
        partition_by: list[str] | None = None,
        config: dict | None = None,
    ) -> DataFrame:
        """Run ``build`` and commit its output, or skip if already complete.

        ``inputs`` (upstream stage names or source paths) become the lineage
        record; ``config`` is recorded so a changed config is visible in the
        manifest (callers bump the stage name or clear the dir to recompute).
        """
        if self.is_complete(stage):
            return self.read(stage)
        out = self._output_path(stage)
        t0 = time.monotonic()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        metrics = _output_metrics(out) if not partition_by else _partitioned_metrics(out)
        manifest = {
            "stage": stage,
            "status": "complete",
            "output": out,
            "lineage": {
                "inputs": inputs or [],
                "config": config or {},
                "schema_json": df.schema.json(),
            },
            "metrics": metrics,
            "duration_s": round(time.monotonic() - t0, 3),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path(stage))  # atomic commit
        return self.read(stage)


def _partitioned_metrics(path: str) -> dict:
    """Metrics for a partitionBy layout (one level of key=value dirs)."""
    import pyarrow.parquet as pq

    per_part = {}
    total_rows = 0
    total_bytes = 0
    n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet") or f.startswith("."):
                continue
            fp = os.path.join(root, f)
            part = os.path.relpath(root, path)
            meta = pq.ParquetFile(fp).metadata
            size = os.path.getsize(fp)
            rec = per_part.setdefault(part, {"rows": 0, "bytes": 0, "files": 0})
            rec["rows"] += meta.num_rows
            rec["bytes"] += size
            rec["files"] += 1
            total_rows += meta.num_rows
            total_bytes += size
            n_files += 1
    return {
        "partitions": per_part,
        "rows": total_rows,
        "bytes": total_bytes,
        "n_files": n_files,
    }

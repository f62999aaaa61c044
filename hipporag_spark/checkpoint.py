"""Superstep checkpoint store: parquet state + JSON manifest with lineage.

North_rule: *every superstep checkpoints per-partition state with lineage
and iteration metrics so a killed job resumes mid-iteration*.  In
production this is an Iceberg table (snapshot-per-superstep, time travel
= lineage); the sandbox has no Iceberg runtime jar, so the same contract
is implemented as a parquet directory per superstep plus an atomically
renamed ``manifest.json``:

    <dir>/step=<k>/ranks.parquet        per-partition rank state
    <dir>/step=<k>/manifest.json        {step, metrics, partitions, parent,
                                         state_format}
    <dir>/LATEST                        pointer file (atomic rename)

``parent`` in each manifest chains to the previous step → full lineage of
the iteration.  ``state_format`` tags the layout of the state table, so a
reader checks it (:meth:`CheckpointStore.read_latest`) before it reads a
column.  Writers write to a temp name then ``os.replace`` so a
kill mid-write never corrupts the latest valid checkpoint.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _step_dir(self, step: int) -> str:
        return os.path.join(self.root, f"step={step}")

    def latest_step(self) -> int | None:
        p = os.path.join(self.root, "LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            step = int(f.read().strip())
        # only trust a step whose manifest landed
        if os.path.exists(os.path.join(self._step_dir(step), "manifest.json")):
            return step
        return None

    def write(self, step: int, ranks: DataFrame, metrics: dict,
              partitions: list[dict] | None = None, state_format: str | None = None) -> None:
        d = self._step_dir(step)
        # parent = the previous checkpoint actually on disk (batched runs
        # checkpoint at batch boundaries, not every superstep).  When
        # overwriting an existing step (a re-run into the same store), keep
        # that step's original parent so lineage() still walks the full
        # chain instead of truncating at the overwrite.
        parent = self.latest_step()
        if parent is not None and parent >= step:
            prev_manifest = os.path.join(self._step_dir(step), "manifest.json")
            if os.path.exists(prev_manifest):
                with open(prev_manifest) as f:
                    parent = json.load(f).get("parent")
            else:
                parent = None
        ranks.write.mode("overwrite").parquet(os.path.join(d, "ranks.parquet"))
        manifest = {
            "step": step,
            "metrics": metrics,
            "partitions": partitions or [],
            "parent": parent,
            "state_format": state_format,
        }
        tmp = os.path.join(d, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(d, "manifest.json"))
        ltmp = os.path.join(self.root, "LATEST.tmp")
        with open(ltmp, "w") as f:
            f.write(str(step))
        os.replace(ltmp, os.path.join(self.root, "LATEST"))

    def read(self, spark: SparkSession, step: int) -> tuple[DataFrame, dict]:
        d = self._step_dir(step)
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
        return spark.read.parquet(os.path.join(d, "ranks.parquet")), manifest

    def read_latest(self, spark: SparkSession,
                    state_format: str) -> tuple[int, DataFrame, dict] | None:
        """``(step, state, manifest)`` of the latest durable step, or
        ``None`` when there is none.  Raises ``ValueError`` when that
        step's manifest is not tagged ``state_format`` (an untagged one
        included), so an incompatible checkpoint fails instead of being
        read as this format."""
        step = self.latest_step()
        if step is None:
            return None
        state, manifest = self.read(spark, step)
        found = manifest.get("state_format")
        if found != state_format:
            raise ValueError(
                f"checkpoint {self.root} step {step} has state format {found!r}; "
                f"this run reads {state_format!r}")
        return step, state, manifest

    def lineage(self) -> list[dict]:
        """All manifests, oldest→newest — the iteration's lineage chain."""
        out = []
        step = self.latest_step()
        while step is not None:
            with open(os.path.join(self._step_dir(step), "manifest.json")) as f:
                m = json.load(f)
            out.append(m)
            step = m["parent"]
        return list(reversed(out))

    def clear(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)

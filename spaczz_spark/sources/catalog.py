"""Checkpoint catalog: committed stage tables with resume semantics.

Production path: an Iceberg catalog — each stage is
``df.writeTo(f"{ns}.{name}").createOrReplace()`` and resume reads the last
committed snapshot (config-hash match checked against snapshot summary
properties). This sandbox has no Iceberg runtime jar, so the same contract
is implemented over Parquet (N files per stage) plus an atomic JSON
manifest:

    write temp dir -> write manifest.tmp -> os.replace (atomic rename)

A stage table is valid iff its manifest exists AND the recorded config hash
matches the current run config — config changes invalidate downstream
checkpoints automatically (the hash covers every semantic knob: shingle k,
permutations, bands/rows, thresholds, seeds).

The manifest also records each stage's lineage: the rows it committed
(counted by the write job itself), its file count and its schema, so a
resumed run reports every stage's row count without recomputation.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

__all__ = ["CheckpointCatalog"]


class CheckpointCatalog:
    def __init__(self, spark: SparkSession, root: str, use_iceberg: bool = False,
                 namespace: str = "dedup"):
        self.spark = spark
        self.root = root
        self.use_iceberg = use_iceberg
        self.namespace = namespace
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    # -- API -----------------------------------------------------------------
    def write(
        self,
        name: str,
        df: DataFrame,
        config_hash: str,
        *,
        input_fingerprint: str = "",
        metrics: dict | None = None,
    ) -> DataFrame:
        """Commit a stage table as laid out by its builder, one file per
        partition; returns a reader over the committed data (so downstream
        stages consume the checkpoint, truncating lineage)."""
        if self.use_iceberg:  # pragma: no cover - needs Iceberg runtime jar
            writer = (
                df.writeTo(f"{self.namespace}.{name}")
                .tableProperty("spaczz.config_hash", config_hash)
                .tableProperty("spaczz.input_fingerprint", input_fingerprint)
            )
            writer.createOrReplace()
            return self.spark.read.table(f"{self.namespace}.{name}")

        path = self._dir(name)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # Lineage counters ride the write job itself via observe() — no
        # extra count pass over the committed table (north rule: per-stage
        # rows in/out recorded alongside every checkpoint).
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))

        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)

        committed = self.spark.read.parquet(path)
        manifest = {
            "name": name,
            "config_hash": config_hash,
            "input_fingerprint": input_fingerprint,
            "rows": int(obs.get["rows"]),
            "n_files": len(
                [f for f in os.listdir(path) if f.endswith(".parquet")]
            ),
            "schema": committed.schema.simpleString(),
            "metrics": metrics or {},
        }
        mtmp = self._manifest(name) + ".tmp"
        with open(mtmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(mtmp, self._manifest(name))
        return committed

    def read_if_valid(
        self, name: str, config_hash: str, input_fingerprint: str = ""
    ) -> DataFrame | None:
        """Read a committed stage table iff its manifest matches the config
        AND the input dataset identity — a re-run over a *different* input
        with the same config must rebuild, not silently resume the previous
        corpus's stage outputs."""
        if self.use_iceberg:  # pragma: no cover - needs Iceberg runtime jar
            try:
                props = {
                    r["key"]: r["value"]
                    for r in self.spark.sql(
                        f"SHOW TBLPROPERTIES {self.namespace}.{name}"
                    ).collect()
                }
            except Exception:
                return None
            if props.get("spaczz.config_hash") != config_hash:
                return None
            if props.get("spaczz.input_fingerprint", "") != input_fingerprint:
                return None
            return self.spark.read.table(f"{self.namespace}.{name}")

        meta = self.manifest(name)
        if not meta or meta.get("config_hash") != config_hash:
            return None
        if meta.get("input_fingerprint", "") != input_fingerprint:
            return None
        path = self._dir(name)
        if not os.path.isdir(path):
            return None
        return self.spark.read.parquet(path)

    def manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest(name)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

"""Checkpointed stage tables with per-partition lineage + idempotent resume.

The reference checkpoints by writing a BioC JSON file per stage and feeding
its path to the next stage (src/tagger/__init__.py:140-144 etc.). Here each
stage boundary is a **snapshotted table**: parquet data plus a JSON manifest
recording the snapshot id, row count, per-partition row counts (lineage)
and the input snapshot ids it was derived from.

This is the Iceberg-shaped behavior the north rule requires (snapshot ids
as checkpoint tokens, per-partition lineage, idempotent resume) implemented
over plain parquet — the image has no Iceberg jars; ``iceberg_available``
gates the real-catalog path so `USING iceberg` DDL can slot in on a
cluster with the runtime jar present.

Resume semantics: ``StageCatalog.run_stage`` derives the snapshot id from
(stage name, input snapshot ids, config fingerprint). If a committed
manifest for that id exists, the stage is skipped and its table re-read —
re-running a half-finished pipeline recomputes only missing stages and
yields byte-identical outputs (kernels are deterministic; writes go to a
temp dir and are atomically renamed on commit).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_catalog_name(spark: SparkSession) -> str | None:
    """First configured Iceberg catalog (spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog), or None."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in v.lower():
            return k.rsplit(".", 1)[-1]
    return None


@dataclass
class Manifest:
    stage: str
    snapshot_id: str
    row_count: int
    partition_counts: dict[str, int]
    inputs: list[str]
    config_fingerprint: str
    committed_at: float
    # Iceberg's own snapshot id for the committed write, when the stage
    # table lives in an Iceberg catalog (None on the parquet fallback).
    iceberg_snapshot_id: int | None = None
    # Storage backend the stage data was committed under, so resume in a
    # DIFFERENT session (e.g. an Iceberg catalog now configured where the
    # commit was parquet, or vice versa) still reads the right place:
    # read() routes by the manifest's backend, not the session's.
    backend: str = "parquet"
    # Fully-qualified Iceberg table identifier of the commit (backend ==
    # "iceberg" only): resume must not re-derive it from the current
    # session's catalog config.
    iceberg_ident: str | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2, sort_keys=True)


class StageCatalog:
    """``use_iceberg=None`` auto-detects: when the Iceberg runtime jar AND
    a configured ``spark.sql.catalog.<name>`` are present (a real cluster
    with ``spark-submit --packages org.apache.iceberg:...``), stage data
    lands in ``<catalog>.<namespace>.<stage>_<snapshot>`` Iceberg tables
    via ``writeTo().createOrReplace()`` and the manifest records Iceberg's
    own snapshot id as an extra checkpoint token; otherwise the parquet
    layout below ``root`` is used. Manifest JSONs live under ``root``
    either way, so resume semantics are identical."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        use_iceberg: bool | None = None,
        namespace: str = "bionext",
    ):
        self.spark = spark
        self.root = root
        self.namespace = namespace
        self.catalog = iceberg_catalog_name(spark)
        if use_iceberg is None:
            use_iceberg = iceberg_available(spark) and self.catalog is not None
        self.use_iceberg = bool(use_iceberg and self.catalog)
        if self.use_iceberg:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")
        os.makedirs(root, exist_ok=True)

    def _iceberg_ident(self, stage: str, snapshot_id: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}_{snapshot_id}"

    # -- paths ------------------------------------------------------------
    def _stage_dir(self, stage: str, snapshot_id: str) -> str:
        return os.path.join(self.root, stage, snapshot_id)

    def _manifest_path(self, stage: str, snapshot_id: str) -> str:
        return os.path.join(self._stage_dir(stage, snapshot_id), "_manifest.json")

    @staticmethod
    def snapshot_id(stage: str, inputs: list[str], config_fingerprint: str) -> str:
        key = json.dumps([stage, sorted(inputs), config_fingerprint])
        return hashlib.sha256(key.encode()).hexdigest()[:16]

    # -- core -------------------------------------------------------------
    def is_committed(self, stage: str, snapshot_id: str) -> bool:
        return os.path.exists(self._manifest_path(stage, snapshot_id))

    def read(self, stage: str, snapshot_id: str) -> DataFrame:
        """Route by the COMMITTED manifest's backend (falling back to the
        session's configured backend when no manifest exists yet): a stage
        committed under parquet must re-read as parquet even if this
        session auto-detected an Iceberg catalog, and an Iceberg commit
        must resume from its recorded table identifier."""
        backend, ident = ("iceberg" if self.use_iceberg else "parquet"), None
        if self.is_committed(stage, snapshot_id):
            m = self.read_manifest(stage, snapshot_id)
            backend, ident = m.backend, m.iceberg_ident
            # manifests written before the backend field existed default to
            # "parquet" on deserialize, but an Iceberg commit is
            # unambiguous from its snapshot id — never route it to a
            # parquet path that was never written
            if m.iceberg_snapshot_id is not None:
                backend = "iceberg"
        if backend == "iceberg":
            return self.spark.read.table(ident or self._iceberg_ident(stage, snapshot_id))
        return self.spark.read.parquet(os.path.join(self._stage_dir(stage, snapshot_id), "data"))

    def read_manifest(self, stage: str, snapshot_id: str) -> Manifest:
        with open(self._manifest_path(stage, snapshot_id)) as f:
            return Manifest(**json.load(f))

    def write(
        self,
        stage: str,
        df: DataFrame,
        inputs: list[str],
        config_fingerprint: str = "",
    ) -> tuple[DataFrame, Manifest]:
        """Write a stage table + manifest atomically (temp dir → rename on
        parquet; Iceberg's own atomic commit + manifest rename otherwise)."""
        snap = self.snapshot_id(stage, inputs, config_fingerprint)
        if self.use_iceberg:
            return self._write_iceberg(stage, df, inputs, config_fingerprint, snap)
        final_dir = self._stage_dir(stage, snap)
        tmp_dir = final_dir + ".tmp"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        data_dir = os.path.join(tmp_dir, "data")
        df.write.mode("overwrite").parquet(data_dir)

        written = self.spark.read.parquet(data_dir)
        # per-partition lineage/metrics (A5 analog: the reference prints
        # per-stage counts; we persist them per written FILE — a stable
        # property of the snapshot — not spark_partition_id() of a re-read,
        # which reflects the reader's split planning and changes with
        # maxPartitionBytes/file packing)
        pc_rows = (
            written.groupBy(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file")
            )
            .count()
            .collect()
        )
        manifest = Manifest(
            stage=stage,
            snapshot_id=snap,
            row_count=sum(r["count"] for r in pc_rows),
            partition_counts={str(r["file"]): r["count"] for r in pc_rows},
            inputs=inputs,
            config_fingerprint=config_fingerprint,
            committed_at=time.time(),
            backend="parquet",
        )
        with open(os.path.join(tmp_dir, "_manifest.json"), "w") as f:
            f.write(manifest.to_json())
        shutil.rmtree(final_dir, ignore_errors=True)
        os.makedirs(os.path.dirname(final_dir), exist_ok=True)
        os.rename(tmp_dir, final_dir)
        return self.read(stage, snap), manifest

    def _write_iceberg(
        self,
        stage: str,
        df: DataFrame,
        inputs: list[str],
        config_fingerprint: str,
        snap: str,
    ) -> tuple[DataFrame, Manifest]:  # pragma: no cover - needs iceberg jar
        """`writeTo(...).createOrReplace()` (atomic in the catalog), then
        the Iceberg snapshot id is captured into the manifest as the
        durable checkpoint token. Manifest JSON placement stays atomic via
        tmp-file rename, so a crash between the two leaves a readable
        table but an uncommitted stage — exactly the parquet semantics."""
        ident = self._iceberg_ident(stage, snap)
        df.writeTo(ident).using("iceberg").createOrReplace()
        written = self.spark.read.table(ident)
        ice_snap = self.spark.sql(
            f"SELECT snapshot_id FROM {ident}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).collect()[0][0]
        pc_rows = (
            written.groupBy(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file")
            )
            .count()
            .collect()
        )
        manifest = Manifest(
            stage=stage,
            snapshot_id=snap,
            row_count=sum(r["count"] for r in pc_rows),
            partition_counts={str(r["file"]): r["count"] for r in pc_rows},
            inputs=inputs,
            config_fingerprint=config_fingerprint,
            committed_at=time.time(),
            iceberg_snapshot_id=int(ice_snap),
            backend="iceberg",
            iceberg_ident=ident,
        )
        path = self._manifest_path(stage, snap)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(manifest.to_json())
        os.rename(tmp, path)
        return written, manifest

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        inputs: list[str],
        config_fingerprint: str = "",
    ) -> tuple[DataFrame, Manifest]:
        """Compute-or-resume: skip ``fn`` entirely when this (stage,
        inputs, config) snapshot is already committed."""
        snap = self.snapshot_id(stage, inputs, config_fingerprint)
        if self.is_committed(stage, snap):
            return self.read(stage, snap), self.read_manifest(stage, snap)
        return self.write(stage, fn(), inputs, config_fingerprint)

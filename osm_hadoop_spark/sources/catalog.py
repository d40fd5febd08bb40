"""SnapshotCatalog — checkpointed table storage with lineage metrics.

The reference checkpoints every stage as a SequenceFile on HDFS, which is
what makes its 4-job pipeline restartable (NodeJoiner.scala:67-68 output ->
WayBuilder.scala:51 input, etc.). The modern equivalent demanded by the north
rule is Iceberg snapshots with per-partition lineage + row/byte metrics.

This catalog exposes ONE writer/reader API with two backends:
  - Iceberg (`spark.sql.catalog.local`) when the runtime jar is configured —
    snapshots, row counts and file metrics come from Iceberg itself;
  - Parquet snapshot directories otherwise (this container has no Iceberg
    jar): each write lands in `<root>/<table>/snap-<n>/` and appends a
    snapshot record to `<root>/<table>/_snapshots.json` carrying
    snapshot id, parent id, row count, per-partition row counts (lineage)
    and byte size. `read` resolves the latest snapshot; `read(table, snapshot_id=k)`
    time-travels. The plans layer (plans/pipeline.py) uses `exists`/`read`
    to resume mid-pipeline exactly like re-running a reference MR job chain.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.root = root
        if use_iceberg is None:
            use_iceberg = bool(spark.conf.get("spark.sql.catalog.local", None))
        self.use_iceberg = use_iceberg
        if not use_iceberg:
            os.makedirs(root, exist_ok=True)

    # ---- paths / metadata (parquet backend) -------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _meta_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_snapshots.json")

    def _snapshots(self, table: str) -> list[dict]:
        p = self._meta_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    # ---- API ---------------------------------------------------------------
    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"local.db.{table}")
        return len(self._snapshots(table)) > 0

    def drop(self, table: str) -> None:
        """Remove a table and its snapshot history — the force-recompute
        lever for Pipeline.run(resume=True) (drop a stage, rerun, only that
        stage and nothing upstream re-executes)."""
        if self.use_iceberg:
            # PURGE: without it Iceberg drops only the catalog entry and
            # leaks the data/metadata files of every recomputed stage
            self.spark.sql(f"DROP TABLE IF EXISTS local.db.{table} PURGE")
            return
        import shutil

        shutil.rmtree(self._tdir(table), ignore_errors=True)

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        bucket_by: tuple[list[str], int] | None = None,
    ) -> dict:
        """Write a new snapshot; returns the snapshot record (lineage metrics).

        `bucket_by=(cols, n)` hash-buckets the snapshot on `cols` into `n`
        buckets: two snapshots bucketed the same way join WITHOUT a shuffle
        (co-located join — the north rule's explicit partitioning lever;
        the reference gets the same effect from identical MR partitioners
        across job boundaries). Parquet backend uses Spark bucketed tables
        (bucketBy + saveAsTable, read back via spark.table so the bucketing
        metadata survives); Iceberg backend maps to a bucket partition
        transform.
        """
        if self.use_iceberg:
            w = df.writeTo(f"local.db.{table}")
            if bucket_by:
                from pyspark.sql import functions as F

                cols, n = bucket_by
                w = w.partitionedBy(*[F.bucket(n, c) for c in cols])
            elif partition_by:
                # plain names (not F.col): pyspark converts them, and the
                # branch stays drivable by the no-JVM contract test
                w = w.partitionedBy(*partition_by)
            w.createOrReplace()
            snap = self.spark.sql(
                f"SELECT snapshot_id, committed_at FROM local.db.{table}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).collect()[0]
            return {"snapshot_id": snap[0], "backend": "iceberg"}

        snaps = self._snapshots(table)
        snap_id = (snaps[-1]["snapshot_id"] + 1) if snaps else 1
        path = os.path.join(self._tdir(table), f"snap-{snap_id}")
        managed_name = None
        if bucket_by:
            cols, n = bucket_by
            # bucketed layout requires a catalog entry (saveAsTable); the
            # data still lands under the snapshot path via `path` option.
            # The name embeds a hash of the catalog root: two catalogs
            # writing the same table name must not overwrite each other's
            # session-catalog entry (saveAsTable re-points on collision).
            import hashlib

            root_tag = hashlib.sha1(
                os.path.abspath(self.root).encode()
            ).hexdigest()[:8]
            managed_name = f"snap_{root_tag}_{table}_{snap_id}"
            (
                df.write.mode("overwrite")
                .bucketBy(n, *cols).sortBy(*cols)
                .option("path", path)
                .saveAsTable(managed_name, format="parquet")
            )
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)

        # lineage metrics from parquet footers only (no second data pass —
        # the same place Iceberg manifests get them): one output file == one
        # write partition, keyed by its path relative to the snapshot root so
        # partition_by directory values stay visible in the lineage.
        import pyarrow.parquet as pq

        part_counts = []
        nbytes = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in sorted(filenames):
                full = os.path.join(dirpath, fn)
                nbytes += os.path.getsize(full)
                if fn.endswith(".parquet"):
                    part_counts.append({
                        "partition": os.path.relpath(full, path),
                        "rows": pq.ParquetFile(full).metadata.num_rows,
                    })
        total_rows = sum(p["rows"] for p in part_counts)
        rec = {
            "snapshot_id": snap_id,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "table": table,
            "path": path,
            "committed_at": time.time(),
            "rows": total_rows,
            "bytes": nbytes,
            "partition_lineage": part_counts,
            "partition_by": partition_by or [],
            "bucket_by": (
                {"cols": bucket_by[0], "n": bucket_by[1]} if bucket_by else None
            ),
            "managed_name": managed_name,
            "backend": "parquet",
        }
        snaps.append(rec)
        os.makedirs(self._tdir(table), exist_ok=True)
        # temp file + rename: a crash mid-dump leaves the previous log whole
        meta = self._meta_path(table)
        tmp = meta + ".tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(snaps, f, indent=1)
            os.replace(tmp, meta)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        return rec

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        if self.use_iceberg:
            if snapshot_id is not None:
                return (
                    self.spark.read.option("snapshot-id", str(snapshot_id))
                    .format("iceberg").load(f"local.db.{table}")
                )
            return self.spark.table(f"local.db.{table}")
        snaps = self._snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no snapshots under {self.root}")
        rec = snaps[-1] if snapshot_id is None else next(
            s for s in snaps if s["snapshot_id"] == snapshot_id
        )
        if rec.get("managed_name"):
            # bucketed snapshot: read through the table catalog so the
            # bucketing metadata survives (a raw path read would lose it
            # and re-shuffle on the next join). saveAsTable registers only
            # in the SESSION catalog (in-memory by default), so a NEW
            # session reading an existing catalog root won't find it —
            # fall back to the snapshot path. The data is identical;
            # only the bucketing metadata (shuffle elision) is lost
            # across sessions on the parquet backend. The Iceberg backend
            # persists the bucket transform in table metadata and has no
            # such gap.
            if self.spark.catalog.tableExists(rec["managed_name"]):
                return self.spark.table(rec["managed_name"])
        return self.spark.read.parquet(rec["path"])

    def snapshot_log(self, table: str) -> list[dict]:
        return self._snapshots(table)

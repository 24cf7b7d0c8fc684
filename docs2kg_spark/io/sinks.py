"""Catalog-agnostic table store.

The design target is Iceberg (`df.writeTo(...).overwritePartitions()`
with snapshot-id-based lineage); the sandbox has no Iceberg runtime, so
the store is parquet-backed behind the same narrow interface
(SURVEY.md §7 phase 4).

Every stage and state table is replaced through ONE commit protocol,
Iceberg's copy-on-write snapshot model on parquet:

  1. ``write`` puts the new rows in a fresh ``{name}/snap-{id}/`` dir;
  2. one atomic log commit (write ``_version_log.json.tmp``, then
     ``os.replace``) advances ``{"current": id, "key": key}``;
  3. only then is the superseded snapshot dir deleted.

A reader resolves the committed dir through the log, so a crash at any
point leaves the table readable as either its old or its new version: a
failed or killed data write is an orphan dir no read can see, and the
next write reuses its id.  ``key`` is the resume key — the pipeline's
input-and-config fingerprint — so "is this stage current?" is one
comparison against the last commit (``committed``), with no separate
marker file that can disagree with the data.

The per-micro-batch delta logs (``append_batch``) keep their flat
``{name}/_batch_id=N`` layout: Structured Streaming replays a failed
batch under the same id, and Spark's dynamic partition overwrite renames
each partition into place from a hidden staging dir.  ``append_rows``
(per-batch metrics) writes a temp file and renames it into place.

Replaces the reference's per-stage full-JSON-rewrite persistence
(semantic_kg/base.py:86-96 rewrites the whole layout file after every
enrichment stage) with idempotent overwrite-by-stage table commits, and
its per-file error swallowing (cli.py:208-213) with an explicit
quarantine table.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docs2kg_spark.session import arrow_table

_LOG = "_version_log.json"


class TableStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ---- the commit log -------------------------------------------------

    def _log(self, name: str) -> dict | None:
        p = os.path.join(self.path(name), _LOG)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _next_snapshot(self, name: str) -> tuple[int, str]:
        """Id and dir of the next snapshot (ids come from the log, so an
        orphan dir left by a failed write is reused, not skipped)."""
        log = self._log(name)
        sid = log["current"] + 1 if log else 1
        return sid, os.path.join(self.path(name), f"snap-{sid}")

    def _commit(self, name: str, sid: int, key: str | None) -> None:
        """Atomically make ``snap-{sid}`` the committed version of
        ``name`` under ``key``, then delete every other snapshot dir."""
        p = os.path.join(self.path(name), _LOG)
        with open(p + ".tmp", "w") as f:
            json.dump({"current": sid, "key": key}, f)
        os.replace(p + ".tmp", p)
        keep = f"snap-{sid}"
        for d in os.listdir(self.path(name)):
            if d.startswith("snap-") and d != keep:
                shutil.rmtree(os.path.join(self.path(name), d), ignore_errors=True)

    def _dir(self, name: str) -> str:
        """The dir a read of ``name`` lists: the committed snapshot, or
        the table dir itself for delta logs, which have no log."""
        log = self._log(name)
        return os.path.join(self.path(name), f"snap-{log['current']}") if log else self.path(name)

    def committed(self, name: str, key: str) -> bool:
        """The resume check: True iff the last commit of ``name`` carries
        ``key``."""
        log = self._log(name)
        return log is not None and log["key"] == key

    # ---- writes ---------------------------------------------------------

    def write(self, df: DataFrame, name: str, key: str | None = None) -> str:
        """Replace ``name`` with ``df`` as one committed snapshot (the
        parquet stand-in for Iceberg overwritePartitions); returns the
        snapshot dir.  A failed Spark job raises before the commit, so
        the previous version and its key stay current."""
        sid, d = self._next_snapshot(name)
        df.write.mode("overwrite").parquet(d)
        self._commit(name, sid, key)
        return d

    def write_rows(self, rows: list[tuple], schema: str, name: str, key: str | None = None) -> str:
        """``write`` for a small driver-side row set (metrics, an empty
        quarantine, the ontology): a direct pyarrow write, zero Spark
        jobs, committed through the same log.  ``schema`` is the usual
        DDL string."""
        import pyarrow.parquet as pq

        sid, d = self._next_snapshot(name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(arrow_table(schema, rows), os.path.join(d, "part-00000.parquet"))
        self._commit(name, sid, key)
        return d

    def append_batch(self, df: DataFrame, name: str, batch_id: int) -> str:
        """Idempotent per-micro-batch delta write: the batch's rows land
        in partition ``_batch_id=N`` via DYNAMIC partition overwrite, so
        a retried foreachBatch body (Structured Streaming replays a
        failed batch under the same batch_id) replaces exactly its own
        slice instead of appending duplicates — the parquet analog of
        Iceberg's replace-partition commit."""
        p = self.path(name)
        (
            df.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(p)
        )
        return p

    def append_rows(self, rows: list[tuple], schema: str, name: str, suffix: str) -> str:
        """Driver-side append of a small row set into table ``name`` as
        one file keyed by ``suffix`` (idempotent: a retried micro-batch
        replaces its own file instead of duplicating rows).  The file is
        written under a hidden temp name and renamed into place, so a
        reader never sees a torn file.  Zero Spark jobs — the analog of
        an Iceberg metadata commit."""
        import pyarrow.parquet as pq

        p = self.path(name)
        os.makedirs(p, exist_ok=True)
        tmp = os.path.join(p, f".part-{suffix}.parquet.tmp")
        pq.write_table(arrow_table(schema, rows), tmp)
        os.replace(tmp, os.path.join(p, f"part-{suffix}.parquet"))
        return p

    # ---- reads ----------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(name))

    def exists(self, name: str) -> bool:
        """True iff ``read(name)`` has files to read: a committed
        snapshot, or a delta log holding at least one parquet file
        (recursively — partitioned logs nest their files).  Uncommitted
        snapshot dirs do not count."""
        if self._log(name) is not None:
            return True
        for _root, dirs, files in os.walk(self.path(name)):
            dirs[:] = [d for d in dirs if not d.startswith("snap-")]
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def partition_counts(self, name: str) -> list[tuple[int, int]]:
        """Per-write-partition row counts from parquet file footers —
        driver-side metadata only (no Spark job, no data rescan).  The
        file index in the part-NNNNN name IS the write partition id.
        On Iceberg this comes from manifest-file stats through the same
        interface; either way stage metrics cost O(files) driver reads
        instead of a full table re-scan per stage."""
        import pyarrow.parquet as pq

        d = self._dir(name)
        out = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            try:
                idx = int(f.split("-")[1])
            except (IndexError, ValueError):
                idx = len(out)
            out.append((idx, pq.ParquetFile(os.path.join(d, f)).metadata.num_rows))
        return out

    def drop(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    def compact(self, name: str, target_file_bytes: int = 128 << 20) -> dict:
        """Small-file compaction for a committed UNPARTITIONED table:
        rewrite it into ``ceil(total_bytes / target_file_bytes)`` files
        as one committed ``write`` that keeps the table's key (content is
        unchanged, so the resume check still matches).  At 10¹²-turn
        scale a table written by a wide job becomes a scan of tiny files
        whose per-file open/footer cost dominates the read.

        Sizing is FOOTER-DRIVEN (os-level byte sum, no data scan, no
        Spark job) so deciding "needs compaction?" is O(files) driver
        work; the rewrite itself is one repartition job.

        Partitioned layouts (``key=value`` subdirs — the per-batch delta
        logs) are refused: their compaction is the log-fold
        ``streaming/incremental.py::compact_kg`` owns.  On Iceberg this
        whole method maps to the ``rewrite_data_files`` action through
        the same interface.
        """
        d = self._dir(name)
        total, n_files = 0, 0
        for root, dirs, files in os.walk(d):
            for sub in dirs:
                if "=" in sub:
                    raise ValueError(
                        f"compact({name!r}): partitioned layout ({sub}) — "
                        "use the delta-log fold (compact_kg), not file compaction"
                    )
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
                    n_files += 1
        log = self._log(name)
        if log is None:
            raise ValueError(f"compact({name!r}): no committed snapshot to rewrite")
        n_out = max(1, math.ceil(total / target_file_bytes))
        if n_files <= n_out:
            return {"files_before": n_files, "files_after": n_files, "rewritten": False}
        self.write(self.read(name).repartition(n_out), name, key=log["key"])
        return {"files_before": n_files, "files_after": n_out, "rewritten": True}

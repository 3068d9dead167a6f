"""Partitioned-parquet table layer with lineage manifests and resume.

The production design targets Iceberg tables (``MERGE INTO``, snapshot
ids, hidden partitioning); this sandbox has no Iceberg runtime jar, so the
same contract is implemented over partitioned parquet:

* every stage write lands as a parquet table + ``_manifest.json`` holding
  stage name, row count, schema, per-bucket row counts, duration, and the
  fingerprint of the stage's inputs/config;
* bucketed stages (hash of conv_id -> ``bucket=N`` directories) can resume:
  completed buckets are listed in the manifest and skipped on re-run —
  a killed job restarts without recomputing finished partitions;
* cross-batch MERGE upserts are read-merge-overwrite under the batch
  build's own rule (operators/graph.merge_edge_rows / merge_node_rows:
  first writer per edge, last writer per node), which Iceberg MERGE INTO
  would express as mapped on :class:`ParquetTableSink`.

Swap-in point for Iceberg: replace ``write_table``/``read_table`` with
``df.writeTo(...).createOrReplace()`` / ``spark.table`` — the pipeline
code does not change.
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from islamic_ner_spark.operators.materialize import cache, owned

MANIFEST_NAME = "_manifest.json"
COMPACT_LOCK_NAME = "_compact.lock"


def compaction_lock_path(graph_dir: str | Path) -> Path:
    return Path(graph_dir) / COMPACT_LOCK_NAME


def _lock_holder_alive(lock: Path) -> bool:
    """True when the lock file names a live pid (same container)."""
    import os

    try:
        pid = int(json.loads(lock.read_text())["pid"])
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # EPERM: the process EXISTS, just not signalable by us
    return True


def acquire_compaction_lock(graph_dir: str | Path) -> Path:
    """Exclusive whole-graph maintenance lock (compaction / rebucketing):
    while held, :meth:`ParquetTableSink.merge_buckets` refuses to merge
    micro-batches into the graph's tables — a concurrent stream batch
    merged mid-compaction would be silently discarded by the table swap.
    A lock whose recorded pid is dead (crashed compaction) is stolen.
    Caller must ``release_compaction_lock`` in a finally block."""
    import os

    lock = compaction_lock_path(graph_dir)
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if _lock_holder_alive(lock):
                raise RuntimeError(
                    f"graph maintenance already running on {graph_dir} "
                    f"(live lock {lock}); wait for it or remove a stale lock"
                )
            lock.unlink(missing_ok=True)  # dead holder: steal
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(json.dumps({"pid": os.getpid(), "at": int(time.time())}))
        return lock
    raise RuntimeError(f"could not acquire {lock} after stale-steal retry")


def release_compaction_lock(graph_dir: str | Path) -> None:
    compaction_lock_path(graph_dir).unlink(missing_ok=True)


def manifest_path(table_path: str | Path) -> Path:
    return Path(table_path) / MANIFEST_NAME


def read_manifest(table_path: str | Path) -> Optional[dict]:
    path = manifest_path(table_path)
    if not path.exists():
        return None
    try:
        return json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return None


def write_table(
    df: DataFrame,
    table_path: str | Path,
    *,
    stage: str,
    fingerprint: str,
    partition_by: Optional[Sequence[str]] = None,
) -> dict:
    """Write (overwrite) a stage output with a lineage manifest.

    The manifest is written only after the parquet commit succeeds, so a
    missing/st stale manifest means "recompute this stage"."""
    table_path = str(table_path)
    started = time.time()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(table_path)

    spark = df.sparkSession
    written = spark.read.parquet(table_path)
    per_partition = None
    if partition_by:
        per_partition = {
            "|".join(str(row[c]) for c in partition_by): row["rows"]
            for row in written.groupBy(*partition_by)
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        }
    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "rows": written.count(),
        "schema": written.schema.simpleString(),
        "partition_by": list(partition_by or []),
        "per_partition_rows": per_partition,
        "duration_s": round(time.time() - started, 3),
        "written_at_unix": int(started),
    }
    manifest_path(table_path).write_text(json.dumps(manifest, indent=2))
    return manifest


def read_table(spark: SparkSession, table_path: str | Path) -> DataFrame:
    return spark.read.parquet(str(table_path))


def table_is_current(table_path: str | Path, fingerprint: str) -> bool:
    manifest = read_manifest(table_path)
    return bool(manifest) and manifest.get("fingerprint") == fingerprint


def completed_buckets(table_path: str | Path) -> set[str]:
    """Bucket values recorded complete by the manifest (for partition-level
    resume of bucketed stages)."""
    manifest = read_manifest(table_path)
    if not manifest or not manifest.get("per_partition_rows"):
        return set()
    return set(manifest["per_partition_rows"].keys())


class ParquetTableSink:
    """The managed-table seam of the streaming graph maintenance: the
    bucketed MERGE, the whole-table swap and their crash recovery route
    through this object (``tables.SINK``), so swapping in a
    catalog-managed format there is one assignment, not a code hunt.
    The batch pipeline's stage tables do not go through it:
    plans/pipeline.py calls the module functions :func:`write_table`,
    :func:`read_table` and :func:`table_is_current` directly.

    **Iceberg mapping** (the production target; no Iceberg runtime jar in
    this sandbox).  The stage-table functions map to
    ``df.writeTo(tbl).using("iceberg").createOrReplace()`` (the
    manifest's lineage fields ride in snapshot summary properties),
    ``spark.table(tbl)``, and a comparison with the fingerprint stored in
    the latest snapshot's summary properties.  An ``IcebergTableSink``
    implements this object's methods:

    * ``merge_buckets`` -> one ``MERGE INTO`` per table instead of the
      hand-rolled per-bucket directory swap, keyed and resolved exactly
      as the shared MERGE rule (``operators/graph.merge_edge_rows`` /
      ``merge_node_rows``) is:

      - edges (``operators/graph.EDGE_KEY``) — the first writer (min
        ``first_emit``) keeps confidence and evidence::

            MERGE INTO kg_edges t USING batch s
            ON  t.pred = s.pred AND t.src_label = s.src_label
            AND t.src_key = s.src_key AND t.tgt_label = s.tgt_label
            AND t.tgt_key = s.tgt_key AND t.source_hadith = s.source_hadith
            WHEN MATCHED THEN UPDATE SET
              confidence  = CASE WHEN s.first_emit < t.first_emit
                                 THEN s.confidence ELSE t.confidence END,
              evidence    = CASE WHEN s.first_emit < t.first_emit
                                 THEN s.evidence ELSE t.evidence END,
              merge_count = t.merge_count + s.merge_count,
              first_emit  = least(t.first_emit, s.first_emit)
            WHEN NOT MATCHED THEN INSERT *

      - nodes (key ``(label, key)``) — properties resolve by the
        writer-ordinal comparison (graph.merge_node_rows), NOT blind
        incoming-wins, so out-of-order batches stay correct::

            MERGE INTO kg_nodes t USING batch s
            ON t.label = s.label AND t.key = s.key
            WHEN MATCHED THEN UPDATE SET
              name_ar    = CASE WHEN (s.best_conv, s.best_turn, s.best_emit)
                                     >= (t.best_conv, t.best_turn, t.best_emit)
                                THEN s.name_ar ELSE t.name_ar END,
              confidence = CASE WHEN ... same ordinal test ...
                                THEN s.confidence ELSE t.confidence END,
              best_conv/best_turn/best_emit = the winning ordinal,
              book_ref / chapter = the same ordinal test's side,
              variants = array_sort(array_union(t.variants, s.variants)),
              mention_count = t.mention_count + s.mention_count
            WHEN NOT MATCHED THEN INSERT *

      Exactly-once replay dedup then comes from Iceberg snapshot
      isolation plus the batch-id marker, replacing the per-bucket
      ``_batch.json`` watermark; ``recover`` becomes a no-op (atomic
      metadata commits cannot leave half-swapped buckets).
    """

    # -- bucketed incremental MERGE (streaming graph maintenance) ---------

    def recover(self, table_dir: str | Path) -> None:
        """Finish/undo an interrupted per-bucket swap.  ``_swap_K`` holds
        complete new content (its ``_batch.json`` watermark included) not
        yet renamed into place; ``_backup_K`` holds the displaced old
        content.  A missing final dir is restored from swap (preferred:
        already merged + marked) or backup; leftovers are discarded.
        Idempotent."""
        import shutil

        table_dir = Path(table_dir)
        if not table_dir.exists():
            return
        for staged in table_dir.glob("_swap_*"):
            k = staged.name.rsplit("_", 1)[1]
            final = table_dir / f"bucket={k}"
            if not final.exists():
                staged.rename(final)
            else:
                shutil.rmtree(staged, ignore_errors=True)
        for backup in table_dir.glob("_backup_*"):
            k = backup.name.rsplit("_", 1)[1]
            final = table_dir / f"bucket={k}"
            if not final.exists():
                backup.rename(final)
            else:
                shutil.rmtree(backup, ignore_errors=True)

    def bucket_watermark(self, table_dir: str | Path, k: int) -> int:
        meta = Path(table_dir) / f"bucket={k}" / "_batch.json"
        try:
            return int(json.loads(meta.read_text())["batch_id"])
        except (OSError, ValueError, KeyError):
            return -1

    def merge_buckets(
        self,
        spark: SparkSession,
        table_dir: str | Path,
        new_df: DataFrame,
        bucket_col,
        merge_fn,
        batch_id: int,
    ) -> None:
        """MERGE ``new_df`` into the bucketed table at ``table_dir``,
        touching only the buckets its keys hash into — O(touched
        buckets) per call, not O(table).  Exactly-once at bucket
        granularity via the ``_batch.json`` watermark inside each
        bucket's staged content (crash anywhere leaves every bucket
        fully old or fully new+marked)."""
        table_dir = Path(table_dir)
        # HOLD the graph maintenance lock for the whole merge (not a
        # check-then-act peek): a compaction/rebucket acquiring the lock
        # mid-merge would wholesale-swap the tables and silently discard
        # this batch's rows after the streaming checkpoint commits.
        # Holding it makes the exclusion symmetric — maintenance refuses
        # while a merge is in flight, merges refuse (here, via the
        # acquire failure) while maintenance runs.  A dead holder's lock
        # is stolen by acquire; recover_replace below resolves whatever
        # state a crashed maintenance job left.
        acquire_compaction_lock(table_dir.parent)
        try:
            with owned() as persisted:
                self._merge_buckets_locked(
                    spark, table_dir, new_df, bucket_col, merge_fn, batch_id, persisted
                )
        finally:
            release_compaction_lock(table_dir.parent)

    def _merge_buckets_locked(
        self, spark, table_dir, new_df, bucket_col, merge_fn, batch_id: int, persisted
    ) -> None:
        import shutil

        self.recover_replace(table_dir)
        self.recover(table_dir)
        new_df = cache(new_df.withColumn("bucket", bucket_col), persisted)
        touched = sorted(
            r["bucket"] for r in new_df.select("bucket").distinct().collect()
        )
        pending = [
            k for k in touched if self.bucket_watermark(table_dir, k) < batch_id
        ]
        if not pending:
            return
        new_pending = new_df.where(F.col("bucket").isin(pending))
        existing_dirs = [
            str(table_dir / f"bucket={k}")
            for k in pending
            if (table_dir / f"bucket={k}").exists()
        ]
        if existing_dirs:
            existing = spark.read.option("basePath", str(table_dir)).parquet(
                *existing_dirs
            )
            merged = merge_fn(existing, new_pending).withColumn("bucket", bucket_col)
        else:
            merged = new_pending

        tmp = table_dir.parent / f"_{table_dir.name}_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy("bucket").parquet(str(tmp))

        table_dir.mkdir(parents=True, exist_ok=True)
        for k in pending:
            produced = tmp / f"bucket={k}"
            if not produced.exists():  # defensive: no rows for this bucket
                continue
            # marker travels inside the staged content => content and
            # watermark become visible in the same rename
            (produced / "_batch.json").write_text(json.dumps({"batch_id": batch_id}))
            staged = table_dir / f"_swap_{k}"
            shutil.rmtree(staged, ignore_errors=True)
            produced.rename(staged)
            final = table_dir / f"bucket={k}"
            backup = table_dir / f"_backup_{k}"
            shutil.rmtree(backup, ignore_errors=True)
            if final.exists():
                final.rename(backup)
            staged.rename(final)
            shutil.rmtree(backup, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    # -- full-table rewrite (compaction) ----------------------------------

    def replace_table(
        self,
        spark: SparkSession,
        table_dir: str | Path,
        df: DataFrame,
        bucket_col,
        batch_id: int,
    ) -> None:
        """Rewrite a bucketed table wholesale via a staged directory swap
        — used by re-canonicalization compaction, where rows MOVE between
        buckets (a merge-only protocol cannot remove a row from its old
        bucket).

        Crash windows: (a) staged dir incomplete -> old table intact, the
        partial stage is discarded on the next attempt; (b) staged dir
        complete (``_COMPLETE`` marker) but swap unfinished ->
        :meth:`recover_replace` rolls FORWARD.  Every bucket carries the
        usual ``_batch.json`` watermark so replayed micro-batches older
        than the compaction skip their merge.  (An Iceberg sink replaces
        all of this with one ``REPLACE TABLE ... AS SELECT`` snapshot
        commit.)"""
        import shutil

        table_dir = Path(table_dir)
        staged = table_dir.parent / f"_replace_{table_dir.name}"
        old = table_dir.parent / f"_replaced_{table_dir.name}"
        shutil.rmtree(staged, ignore_errors=True)
        df.withColumn("bucket", bucket_col).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(str(staged))
        for bucket_dir in staged.glob("bucket=*"):
            (bucket_dir / "_batch.json").write_text(
                json.dumps({"batch_id": batch_id})
            )
        (staged / "_COMPLETE").write_text("")
        shutil.rmtree(old, ignore_errors=True)
        if table_dir.exists():
            table_dir.rename(old)
        staged.rename(table_dir)
        (table_dir / "_COMPLETE").unlink(missing_ok=True)
        shutil.rmtree(old, ignore_errors=True)

    def recover_replace(self, table_dir: str | Path) -> None:
        """Finish or discard an interrupted :meth:`replace_table`.
        Idempotent; call before reading a table that compaction may have
        been rewriting."""
        import shutil

        table_dir = Path(table_dir)
        staged = table_dir.parent / f"_replace_{table_dir.name}"
        old = table_dir.parent / f"_replaced_{table_dir.name}"
        if staged.exists() and (staged / "_COMPLETE").exists():
            # stage finished: roll forward
            if table_dir.exists():
                shutil.rmtree(old, ignore_errors=True)
                table_dir.rename(old)
            staged.rename(table_dir)
            (table_dir / "_COMPLETE").unlink(missing_ok=True)
        elif staged.exists():
            # stage incomplete: discard, old table is authoritative
            shutil.rmtree(staged, ignore_errors=True)
        if not table_dir.exists() and old.exists():
            old.rename(table_dir)  # crashed between renames
        shutil.rmtree(old, ignore_errors=True)


SINK = ParquetTableSink()

"""Table IO seam: Iceberg-style snapshot/append semantics over partitioned
parquet + a JSON manifest (north rule: "Iceberg snapshot-based checkpointing
so any partition can resume with per-partition lineage and metrics tables").

No Iceberg runtime jar ships in this sandbox (probed: pyspark/jars has no
iceberg artifact), so the production mapping is documented here and the
sandbox implementation emulates the same semantics:

    production                     | sandbox
    -------------------------------+----------------------------------------
    df.writeTo(tbl).append()       | partitionBy(batch_id) write + manifest
    snapshot id per commit         | manifest entry {batch_id, seq, ts, ...}
    tbl.snapshots metadata table   | manifest.json -> lineage DataFrame
    resume via snapshot diff       | skip batch ids already in manifest

The manifest append is atomic (write tmp + os.replace), so a killed run
never leaves a half-registered batch: a batch is either fully written and
in the manifest, or invisible and redone on resume.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class Manifest:
    """Append-only commit log for one logical table (snapshot emulation)."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        # underscore prefix: Spark's file index ignores _-prefixed files,
        # so the commit log can live inside the table directory without
        # breaking a whole-directory parquet read.
        self.path = os.path.join(table_dir, "_manifest.json")

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return json.load(f)

    def committed_batches(self) -> set[int]:
        return {e["batch_id"] for e in self.entries()}

    def commit(self, batch_id: int, metrics: dict) -> dict:
        entries = self.entries()
        entry = {
            "batch_id": batch_id,
            "sequence_number": len(entries),  # snapshot-id analog
            "committed_at": time.time(),
            **metrics,
        }
        entries.append(entry)
        tmp = self.path + ".tmp"
        os.makedirs(self.table_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self.path)  # atomic on POSIX
        return entry

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage + metrics as a DataFrame (the `snapshots`
        metadata-table analog)."""
        entries = self.entries()
        schema = (
            "batch_id int, sequence_number int, committed_at double, "
            "n_rows bigint, n_error bigint, wall_sec double"
        )
        rows = [
            (
                int(e["batch_id"]), int(e["sequence_number"]),
                float(e["committed_at"]), int(e.get("n_rows", 0)),
                int(e.get("n_error", 0)), float(e.get("wall_sec", 0.0)),
            )
            for e in entries
        ]
        return spark.createDataFrame(rows, schema)


def compact_table(
    spark: SparkSession,
    table_dir: str,
    manifest: Manifest,
    files_per_batch: int = 1,
) -> dict[int, tuple[int, int]]:
    """Small-files compaction: rewrite each committed batch directory into
    ``files_per_batch`` parquet files (the Iceberg ``rewrite_data_files``
    analog for this seam). Incremental checkpointed runs append small
    files per batch; a long-lived table accumulates thousands, and scan
    planning cost grows with file count, not data size.

    OFFLINE maintenance: assumes no concurrent reader/writer of the table
    (production Iceberg does this as a transactional snapshot commit; the
    sandbox seam swaps directories with a brief rename window). Returns
    {batch_id: (files_before, files_after)}. Row data, the manifest, and
    resume behavior are unchanged — verified in tests/test_compaction.py.
    """
    import shutil

    stats: dict[int, tuple[int, int]] = {}
    for b in sorted(manifest.committed_batches()):
        path = os.path.join(table_dir, f"batch_id={b}")
        if not os.path.isdir(path):  # legitimately empty batch
            continue
        before = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if len(before) <= files_per_batch:
            stats[b] = (len(before), len(before))
            continue
        tmp = os.path.join(table_dir, f".compact-{b}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        spark.read.parquet(path).coalesce(files_per_batch).write.parquet(tmp)
        # dot-prefixed so Spark's file index ignores it if a crash between
        # the two renames (or before the rmtree) leaves it behind — a bare
        # 'batch_id=<b>.old' dir inside the table root would otherwise be
        # partition-discovered by whole-directory reads with a conflicting
        # string-typed batch_id (same convention as '.compact-<b>.tmp').
        old = os.path.join(table_dir, f".old-{b}")
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        after = [f for f in os.listdir(path) if f.endswith(".parquet")]
        stats[b] = (len(before), len(after))
    # drop Spark's cached file listings for the rewritten directories —
    # stale entries would point readers at the deleted pre-compaction files
    spark.catalog.refreshByPath(table_dir)
    return stats


def read_table(
    spark: SparkSession,
    table_dir: str,
    manifest: Manifest,
    as_of_sequence: int | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Read ONLY manifest-committed batches (uncommitted = invisible,
    exactly Iceberg's read isolation).

    ``as_of_sequence`` is snapshot time-travel (the ``VERSION AS OF``
    analog): read the table as it existed at that commit — only batches
    whose manifest ``sequence_number`` is <= the given value are visible.
    None reads the latest snapshot.

    A committed batch may legitimately have NO directory: hash bucketing
    can leave a batch id empty, and ``partitionBy`` writes no dir for an
    empty partition — the manifest entry (n_rows=0) is still the record
    that the batch was processed, so missing dirs are skipped, not
    errors.

    ``merge_schema`` (default True) makes reads schema-evolution-safe:
    without it Spark infers the table schema from ONE parquet footer, so
    columns added by later batches silently vanish when an old file is
    sampled.  With it, old rows surface the new columns as null — the
    Iceberg add-column semantics.  The cost is a footer read per file
    (metadata-only); pass False on hot paths where the schema is known
    frozen."""
    entries = manifest.entries()
    if as_of_sequence is not None:
        entries = [e for e in entries if e["sequence_number"] <= as_of_sequence]
    committed = sorted({e["batch_id"] for e in entries})
    if not committed:
        raise ValueError(
            f"no committed batches under {table_dir}"
            + (f" at sequence {as_of_sequence}" if as_of_sequence is not None else "")
        )
    paths = [
        p
        for b in committed
        if os.path.exists(p := os.path.join(table_dir, f"batch_id={b}"))
    ]
    if not paths:
        raise ValueError(
            f"manifest lists batches {committed} but no batch directories "
            f"exist under {table_dir}"
        )
    return (
        spark.read.option("basePath", table_dir)
        .option("mergeSchema", "true" if merge_schema else "false")
        .parquet(*paths)
    )

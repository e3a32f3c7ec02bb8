"""Snapshot-committed table layer: Iceberg when available, else
parquet + a JSON snapshot manifest.

The north rule / BASELINE.json ``input_hint`` name Iceberg tables with
snapshot-id checkpointing. This module provides that contract in two
tiers:

* **Real Iceberg** — if the iceberg-spark-runtime jar is on the
  classpath (``iceberg_available``), ``write_snapshot`` appends through
  the DataFrame v2 ``writeTo`` API and snapshot ids come from the
  table's own metadata. (The sandbox image has no Iceberg jar, so this
  branch is probed but cannot execute here; it is kept deliberately
  thin — one writeTo call — so there is nothing sandbox-specific to
  port.)
* **Manifest emulation** — parquet data files under
  ``<table>/data/snapshot_id=<id>/`` plus an append-only JSON manifest
  at ``<table>/_manifest/manifest.json`` recording committed snapshot
  ids. The manifest write is atomic (temp file + ``os.replace``), and
  a data write that crashed before its manifest commit is invisible to
  readers — the same commit-then-visible semantics an Iceberg snapshot
  gives, which is exactly what resume needs.

Resume contract (used by ``sinks.run_batch`` via ``snapshot_id``): a
snapshot id present in the manifest is *committed* — re-running it is
a no-op; an id absent from the manifest re-runs from scratch,
overwriting any partial orphan data dir (idempotent).

The table is append-only, like the reference's output (a line is
routed once and counted once): a committed snapshot is never rewritten
or retired. Readers take the union of every committed snapshot
(``read_committed``) or one of them by id (``read_snapshot``, time
travel).
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# manifest emulation


def manifest_root(table_path: str) -> str:
    """ONE canonical manifest location per table, shared by the commit
    and the resume check. Filesystem tables keep the manifest inside
    the table dir; catalog identifiers (``cat.db.tbl`` — no ``/``) map
    to a sidecar dir since the identifier is not a path. Deriving this
    in exactly one place is load-bearing: round 2 computed it ad hoc on
    the commit side only, so ``is_committed`` never saw Iceberg commits
    and every resume would have re-appended the snapshot."""
    return table_path if "/" in table_path else table_path.replace(".", "_")


def _manifest_path(table_path: str) -> str:
    return os.path.join(manifest_root(table_path), "_manifest", "manifest.json")


def read_manifest(table_path: str) -> dict:
    p = _manifest_path(table_path)
    if not os.path.exists(p):
        return {"snapshots": []}
    with open(p) as fh:
        return json.load(fh)


def committed_snapshot_ids(table_path: str) -> list[str]:
    return [s["snapshot_id"] for s in read_manifest(table_path)["snapshots"]]


def _commit_manifest(table_path: str, entry: dict, lock_timeout: float = 10.0) -> None:
    """Atomically append one snapshot entry (idempotent per id). Two
    layers:

    * temp file + ``os.replace`` — readers never see a torn manifest;
    * an ``O_EXCL`` lock file serialising the read-modify-write, so two
      concurrent committers cannot lose an entry. This is the local-fs
      stand-in for what a real deployment delegates to the catalog
      (Iceberg's metastore/REST commit is the same single-writer swap);
      O_EXCL is not atomic on some object stores — there, the catalog
      IS the lock.
    """
    d = os.path.dirname(_manifest_path(table_path))
    os.makedirs(d, exist_ok=True)
    lock = os.path.join(d, ".manifest.lock")
    deadline = time.monotonic() + lock_timeout
    while True:
        try:
            lock_fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"manifest lock {lock} held past {lock_timeout}s — "
                    "crashed committer? remove the lock file to recover"
                )
            time.sleep(0.02)
    try:
        man = read_manifest(table_path)
        man["snapshots"] = [
            s for s in man["snapshots"] if s["snapshot_id"] != entry["snapshot_id"]
        ] + [entry]
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(man, fh, indent=1)
        os.replace(tmp, _manifest_path(table_path))
    finally:
        os.close(lock_fd)
        os.unlink(lock)


def snapshot_data_path(table_path: str, snapshot_id: str) -> str:
    return os.path.join(table_path, "data", f"snapshot_id={snapshot_id}")


def is_committed(table_path: str, snapshot_id: str) -> bool:
    return snapshot_id in committed_snapshot_ids(table_path)


def write_snapshot(
    df: DataFrame,
    table_path: str,
    snapshot_id: str,
    partition_by: tuple[str, ...] = (),
    extra: dict | None = None,
) -> bool:
    """Write ``df`` as one committed snapshot. Returns False (no work)
    if the snapshot is already committed — the resume path.

    Emulation tier: data lands in ``data/snapshot_id=<id>/`` (mode
    overwrite, so a previous *uncommitted* partial attempt is simply
    replaced), then the manifest commit makes it visible.
    """
    if is_committed(table_path, snapshot_id):
        return False
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in table_path:
        # Real Iceberg (table_path is a catalog identifier here): one
        # atomic append per snapshot; Iceberg assigns its own snapshot
        # id, and our manifest still carries the *logical* id so resume
        # logic is engine-independent. The manifest commit goes through
        # the SAME canonical location `is_committed` reads
        # (manifest_root) — a path computed only on the commit side
        # made resume a silent double-append in round 2.
        from pyspark.errors import AnalysisException

        try:
            df.writeTo(table_path).append()
        except AnalysisException as e:
            # Only table-not-exists falls through to create; any other
            # append failure (auth, network, schema drift) must surface
            # — retrying it as a CREATE would at best fail confusingly
            # and at worst shadow real data loss.
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(e):
                raise
            df.writeTo(table_path).using("iceberg").create()
        _commit_manifest(
            table_path,
            {"snapshot_id": snapshot_id, "engine": "iceberg", **(extra or {})},
        )
        return True
    w = df.write.mode("overwrite")
    if partition_by:
        # align writers with partitions: without the shuffle every task
        # writes a sliver of every partition value (tasks x values tiny
        # files — the small-files failure mode at scale)
        df = df.repartition(*[F.col(c) for c in partition_by])
        w = df.write.mode("overwrite").partitionBy(*partition_by)
    w.parquet(snapshot_data_path(table_path, snapshot_id))
    _commit_manifest(
        table_path,
        {"snapshot_id": snapshot_id, "engine": "parquet-manifest", **(extra or {})},
    )
    return True


def read_committed(spark: SparkSession, table_path: str) -> DataFrame:
    """Union of all committed snapshots (uncommitted orphan dirs are
    NOT read — commit-then-visible). The ``snapshot_id`` partition
    column is kept on the rows (basePath read), so per-snapshot lineage
    survives."""
    ids = committed_snapshot_ids(table_path)
    if not ids:
        raise FileNotFoundError(f"no committed snapshots in {table_path}")
    paths = [snapshot_data_path(table_path, s) for s in ids]
    return (
        spark.read.option("basePath", os.path.join(table_path, "data"))
        .parquet(*paths)
    )


def read_snapshot(spark: SparkSession, table_path: str, snapshot_id: str) -> DataFrame:
    """Time-travel read of one committed snapshot (Iceberg's
    ``VERSION AS OF`` equivalent)."""
    if not is_committed(table_path, snapshot_id):
        raise FileNotFoundError(f"snapshot {snapshot_id} not committed in {table_path}")
    return spark.read.parquet(snapshot_data_path(table_path, snapshot_id))


def snapshot_doc_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Doc-level diff between two corpus versions (crawl N vs crawl
    N+1, or raw vs curated): one row per doc_id seen in either side
    with status ``added`` (only in B), ``removed`` (only in A),
    ``changed`` (both sides, content fingerprint differs), or
    ``unchanged``. Content identity is the repo-wide exact-dedup
    fingerprint — md5 of lower/trim/space-collapsed text — compared
    NULL-SAFELY, so two null-text versions of a doc are unchanged,
    not changed. The aggregate-level companion is
    ``textops.card_diff`` (what moved); this is the row-level "which
    docs moved" a release gate drills into.

    Scale shape: ONE full-outer sort-merge join keyed on the doc id —
    each side reduced to (id, 16-byte fingerprint) BEFORE the
    shuffle, so the wire carries ~24 bytes/doc, never text.
    """
    from hnormalise_spark.ops.dedup import normalized_text

    fa = a.select(
        F.col(id_col).alias("_id"),
        F.md5(normalized_text(F.col(text_col))).alias("_fp_a"),
        F.lit(1).alias("_in_a"),
    )
    fb = b.select(
        F.col(id_col).alias("_id"),
        F.md5(normalized_text(F.col(text_col))).alias("_fp_b"),
        F.lit(1).alias("_in_b"),
    )
    status = (
        F.when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_fp_a").eqNullSafe(F.col("_fp_b")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        fa.join(fb, "_id", "full_outer")
        .select(F.col("_id").alias(id_col), status.alias("status"))
    )

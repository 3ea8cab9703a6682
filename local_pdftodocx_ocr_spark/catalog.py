"""Snapshot-committed table I/O with idempotent resume.

The north rule mandates Iceberg-snapshot checkpoint/restart semantics.
The sandbox image carries no Iceberg runtime jar, so this module provides
the same *semantics* behind a thin seam (SURVEY.md §7.1 "Iceberg note"):

* When a Spark Iceberg catalog is configured (``spark.sql.catalog.*``
  conf present), :func:`open_table` returns an :class:`IcebergTable`
  that delegates to real Iceberg snapshots.
* Otherwise (this sandbox), :class:`SnapshotTable` implements
  append-only snapshots as parquet directories plus an atomically
  replaced JSON manifest — commit is ``os.replace`` (atomic on POSIX),
  uncommitted staging data is invisible to readers, and resume reads
  only the committed snapshot list. At cluster scale the manifest swap
  maps 1:1 onto an Iceberg snapshot commit.

Scale notes: readers get the committed file list (partition pruning and
column pruning still apply — resume reads only the ``doc_id`` column);
the resume anti-join is the only cluster-wide join in the engine
(SURVEY.md §2.3). Readers that know the table's schema pass it, so a
read launches no parquet schema-inference job; :class:`IcebergTable`
ignores it, since Iceberg metadata carries the schema.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST = "_manifest.json"


def _read_parquet(spark: SparkSession, paths: list[str],
                  schema: StructType | None) -> DataFrame:
    """A known schema skips the parquet footer-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


class SnapshotTable:
    """Append-only snapshot table over a parquet directory tree."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "_staging"), exist_ok=True)

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def snapshots(self) -> list[dict]:
        try:
            with open(self._manifest_path(), encoding="utf-8") as f:
                return json.load(f)["snapshots"]
        except FileNotFoundError:
            return []

    def _write_manifest(self, snapshots: list[dict]) -> None:
        tmp = self._manifest_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"snapshots": snapshots}, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    # -- write path -------------------------------------------------------

    def begin(self) -> tuple[str, str]:
        """Start a snapshot: returns (snapshot_id, staging_path). Data
        written under staging_path is invisible until commit()."""
        snap_id = f"snap-{len(self.snapshots()):06d}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(self.root, "_staging", snap_id)
        return snap_id, staging

    def commit(self, snap_id: str, staging: str, meta: dict | None = None) -> None:
        final = os.path.join(self.root, "snapshots", snap_id)
        os.replace(staging, final)  # atomic dir move (same filesystem)
        snaps = self.snapshots()
        snaps.append({"id": snap_id, "path": final, "ts": time.time(),
                      "meta": meta or {}})
        self._write_manifest(snaps)

    def abort(self, staging: str) -> None:
        shutil.rmtree(staging, ignore_errors=True)

    def compact(self, spark: SparkSession) -> str | None:
        """Rewrite all committed snapshots into one (Iceberg's
        rewrite_data_files + expire_snapshots in a single atomic
        manifest swap). Readers before/after see identical rows; stale
        snapshot dirs are removed only after the swap commits."""
        old = self.snapshots()
        if len(old) <= 1:
            return None
        df = spark.read.parquet(*[s["path"] for s in old])
        snap_id, staging = self.begin()
        df.write.mode("overwrite").parquet(staging)
        final = os.path.join(self.root, "snapshots", snap_id)
        os.replace(staging, final)
        self._write_manifest([{"id": snap_id, "path": final, "ts": time.time(),
                               "meta": {"kind": "compaction",
                                        "replaced": [s["id"] for s in old]}}])
        for s in old:
            shutil.rmtree(s["path"], ignore_errors=True)
        return snap_id

    # -- read path --------------------------------------------------------

    def committed_paths(self) -> list[str]:
        return [s["path"] for s in self.snapshots()]

    def read(self, spark: SparkSession,
             schema: StructType | None = None) -> DataFrame | None:
        paths = self.committed_paths()
        if not paths:
            return None
        return _read_parquet(spark, paths, schema)

    def read_at(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel: the table AS OF `snapshot_id` — the union of all
        snapshots committed up to and including it (Iceberg's
        VERSION AS OF). Raises KeyError for unknown ids (e.g. an id
        whose commit never happened after a crash)."""
        paths = []
        for s in self.snapshots():
            paths.append(s["path"])
            if s["id"] == snapshot_id:
                return spark.read.parquet(*paths)
        raise KeyError(f"unknown snapshot {snapshot_id!r}")

    def committed_doc_ids(self, spark: SparkSession,
                          schema: StructType | None = None) -> DataFrame | None:
        """doc_id column only (parquet column pruning) from committed
        snapshots — the right side of the resume anti-join. Not
        de-duplicated: an anti-join's result does not depend on
        duplicate keys on its right side, and a distinct would cost a
        shuffle."""
        df = self.read(spark, schema)
        if df is None:
            return None
        return (df.filter(F.col("row_type").isin("doc", "quarantine"))
                .select("doc_id"))

    def read_snapshot(self, spark: SparkSession, snapshot_id: str,
                      schema: StructType | None = None) -> DataFrame:
        """ONLY the rows committed by `snapshot_id`."""
        for s in self.snapshots():
            if s["id"] == snapshot_id:
                return _read_parquet(spark, [s["path"]], schema)
        raise KeyError(f"unknown snapshot {snapshot_id!r}")


class IcebergTable:
    """The same begin/commit/abort/read/read_at/committed_doc_ids
    contract over a REAL Iceberg catalog table (requires the
    iceberg-spark-runtime jar + a ``spark.sql.catalog.<name>`` conf;
    tests/test_catalog_contract.py runs the identical sequence against
    both backends and skips this one when the runtime is absent).

    Mapping onto Iceberg:

    * begin()   -> a parquet staging dir (keeps the job's two-phase
                   write API); nothing Iceberg-visible happens. It is
                   a local path that run_job's tasks write with
                   pyarrow, so the driver and every executor must
                   share it: one host, or a `staging_root` on a shared
                   mount.
    * commit()  -> ONE atomic ``writeTo(...).append()`` of the staged
                   rows, labeled via a ``snapshot-property.*`` write
                   option so our snapshot ids survive in the Iceberg
                   snapshot summary.
    * read()    -> the current table state; read_at() -> time travel
                   (``snapshot-id`` read option = VERSION AS OF), which
                   for an append-only table IS the union of snapshots
                   up to and including the labeled one — exactly
                   SnapshotTable.read_at's semantics.
    * committed_doc_ids() -> same pruned projection; Iceberg manifests
                   give file-level pruning on top.
    """

    _LABEL = "spark-graft-label"

    def __init__(self, spark: SparkSession, identifier: str,
                 staging_root: str | None = None):
        import tempfile
        self.spark = spark
        self.identifier = identifier
        self._staging_root = staging_root or tempfile.mkdtemp(
            prefix="iceberg_staging_")

    # -- snapshot metadata --------------------------------------------------

    def _table_exists(self) -> bool:
        try:
            self.spark.sql(f"DESCRIBE TABLE {self.identifier}")
            return True
        except Exception:
            return False

    def snapshots(self) -> list[dict]:
        if not self._table_exists():
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self.identifier}.snapshots "
            "ORDER BY committed_at, snapshot_id").collect()  # tie-stable
        return [{"id": (r["summary"] or {}).get(self._LABEL,
                                                str(r["snapshot_id"])),
                 "iceberg_snapshot_id": r["snapshot_id"],
                 "meta": dict(r["summary"] or {})}
                for r in rows]

    # -- write path ---------------------------------------------------------

    def begin(self) -> tuple[str, str]:
        snap_id = f"snap-{len(self.snapshots()):06d}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(self._staging_root, snap_id)
        return snap_id, staging

    def commit(self, snap_id: str, staging: str, meta: dict | None = None) -> None:
        df = self.spark.read.parquet(staging)
        writer = df.writeTo(self.identifier).option(
            f"snapshot-property.{self._LABEL}", snap_id)
        for k, v in (meta or {}).items():
            writer = writer.option(f"snapshot-property.graft-{k}", str(v))
        if self._table_exists():
            writer.append()          # one atomic Iceberg snapshot commit
        else:
            writer.create()
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, staging: str) -> None:
        shutil.rmtree(staging, ignore_errors=True)

    def compact(self, spark: SparkSession) -> str | None:
        """Iceberg-native compaction with the SAME contract as
        SnapshotTable.compact (pinned by the backend contract test):
        afterwards exactly ONE snapshot remains, its content equals the
        pre-compaction union, its id carries the same labeled
        ``snap-NNNNNN-...`` format as SnapshotTable.compact's, and
        read_at() on expired ids raises KeyError. rewrite_data_files
        folds the data files; a labeled EMPTY append then becomes the
        surviving snapshot (the rewrite's replace snapshot carries no
        graft label in its summary — returning its raw numeric Iceberg
        id would diverge from the contract); finally
        expire_snapshots(retain_last=1, older_than=now) drops every
        superseded snapshot's metadata. Time travel to the empty
        append IS the full union (append-only table), so read_at(new
        id) keeps its meaning."""
        import datetime

        old = self.snapshots()
        if len(old) <= 1:
            return None
        catalog = self.identifier.split(".", 1)[0]
        self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => "
            f"'{self.identifier}')")
        snap_id = f"snap-{len(old):06d}-{uuid.uuid4().hex[:8]}"
        (self.spark.table(self.identifier).limit(0)
         .writeTo(self.identifier)
         .option(f"snapshot-property.{self._LABEL}", snap_id)
         .option("snapshot-property.graft-kind", "compaction")
         .append())
        now = datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S.%f")
        self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots(table => "
            f"'{self.identifier}', older_than => TIMESTAMP '{now}', "
            "retain_last => 1)")
        return self.snapshots()[-1]["id"]

    # -- read path ----------------------------------------------------------

    def read(self, spark: SparkSession | None = None,
             schema: StructType | None = None) -> DataFrame | None:
        if not self.snapshots():
            return None
        return (spark or self.spark).table(self.identifier)

    def read_at(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        for s in self.snapshots():
            if s["id"] == snapshot_id:
                return ((spark or self.spark).read
                        .option("snapshot-id", s["iceberg_snapshot_id"])
                        .table(self.identifier))
        raise KeyError(f"unknown snapshot {snapshot_id!r}")

    def committed_doc_ids(self, spark: SparkSession,
                          schema: StructType | None = None) -> DataFrame | None:
        df = self.read(spark)
        if df is None:
            return None
        return (df.filter(F.col("row_type").isin("doc", "quarantine"))
                .select("doc_id"))

    def read_snapshot(self, spark: SparkSession, snapshot_id: str,
                      schema: StructType | None = None) -> DataFrame:
        """ONLY the rows committed by `snapshot_id` (Iceberg incremental
        append scan between the previous snapshot and this one)."""
        snaps = self.snapshots()
        ids = [s["id"] for s in snaps]
        if snapshot_id not in ids:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        i = ids.index(snapshot_id)
        if i == 0:
            return self.read_at(spark, snapshot_id)
        return ((spark or self.spark).read
                .option("start-snapshot-id", snaps[i - 1]["iceberg_snapshot_id"])
                .option("end-snapshot-id", snaps[i]["iceberg_snapshot_id"])
                .table(self.identifier))


def _looks_like_identifier(s: str) -> bool:
    """``catalog.db.table`` (>= 2 dots, no path separators) — anything
    else, including RELATIVE output dirs like ``out/tbl`` or ``out``,
    is a filesystem root. Routing a path to Iceberg would fail only at
    commit time (after all extraction work); routing an identifier to
    the parquet fallback would silently os.makedirs() the identifier."""
    return ("/" not in s and os.sep not in s
            and not s.startswith(".") and s.count(".") >= 2)


def _is_ambiguous_dotted_name(s: str) -> bool:
    """Exactly one dot, no path separators: ``db.table`` (legal with a
    default Iceberg catalog) is indistinguishable from a relative
    output dir named ``out.parquet``."""
    return ("/" not in s and os.sep not in s
            and not s.startswith(".") and s.count(".") == 1)


def open_table(spark: SparkSession, root_or_identifier: str):
    """Seam for real Iceberg: a table identifier with an Iceberg
    catalog configured delegates to :class:`IcebergTable`; every
    filesystem path (absolute OR relative) gets the parquet-snapshot
    fallback. An identifier without a configured catalog fails loud
    immediately instead of at first write. When a catalog IS
    configured, a one-dot no-slash name (``db.table`` — legal under a
    default catalog, but equally a plausible relative dir like
    ``out.parquet``) is rejected loudly instead of silently
    os.makedirs()-ing a literal ``db.table`` directory: qualify it as
    ``catalog.db.table`` or spell the path ``./out.parquet``."""
    # one prefix lookup on the live conf: getConf() copies every entry
    jconf = spark.sparkContext._jsc.sc().conf()
    has_iceberg = len(jconf.getAllWithPrefix("spark.sql.catalog.")) > 0
    if _looks_like_identifier(root_or_identifier):
        if not has_iceberg:
            raise ValueError(
                f"{root_or_identifier!r} looks like a table identifier but "
                "no spark.sql.catalog.* is configured — pass a directory "
                "path for the parquet-snapshot fallback")
        return IcebergTable(spark, root_or_identifier)
    if has_iceberg and _is_ambiguous_dotted_name(root_or_identifier):
        raise ValueError(
            f"{root_or_identifier!r} is ambiguous with an Iceberg catalog "
            "configured: qualify the table as 'catalog.db.table', or make "
            f"the path explicit as './{root_or_identifier}'")
    return SnapshotTable(root_or_identifier)

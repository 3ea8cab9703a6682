"""Backend-agnostic snapshot-table CONTRACT (VERDICT r2 item 8).

One parameterized sequence — commit visibility, abort, crash-before-
commit, resume projection, time travel, unknown-snapshot error — runs
against BOTH catalog backends:

* ``parquet``  — SnapshotTable (the sandbox fallback; always runs)
* ``iceberg``  — IcebergTable over a real Iceberg catalog; skipped
  unless the session has the runtime jar + a ``spark.sql.catalog.*``
  conf (vendor iceberg-spark-runtime and set e.g.
  ``spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog``
  ``spark.sql.catalog.local.type=hadoop``
  ``spark.sql.catalog.local.warehouse=/tmp/wh`` to enable).

The point: the documented Iceberg semantics and the fallback are the
SAME contract, so the deployment seam cannot drift silently.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

from local_pdftodocx_ocr_spark.catalog import IcebergTable, SnapshotTable

ROWS_A = [("doc-1", "doc"), ("doc-2", "doc"), ("doc-3", "quarantine")]
ROWS_B = [("doc-4", "doc"), ("doc-5", "doc")]
SCHEMA = "doc_id string, row_type string"


def _make_table(kind, spark, tmp_path):
    if kind == "parquet":
        return SnapshotTable(str(tmp_path / f"tbl_{uuid.uuid4().hex[:6]}"))
    confs = {k for k, _ in spark.sparkContext.getConf().getAll()}
    cats = sorted(k.split(".")[3] for k in confs
                  if k.startswith("spark.sql.catalog.") and k.count(".") == 3)
    if not cats:
        pytest.skip("no Iceberg catalog configured in this session")
    try:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {cats[0]}.contract_db")
    except Exception as e:  # runtime jar missing
        pytest.skip(f"Iceberg catalog unusable: {e}")
    return IcebergTable(
        spark, f"{cats[0]}.contract_db.t_{uuid.uuid4().hex[:8]}")


def _write_staging(spark, rows, staging):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(staging)


def _doc_ids(df):
    return sorted(r["doc_id"] for r in df.collect()) if df is not None else []


@pytest.fixture(params=["parquet", "iceberg"])
def table(request, spark, tmp_path):
    return _make_table(request.param, spark, tmp_path)


class TestSnapshotContract:
    def test_empty_table_reads_none(self, spark, table):
        assert table.read(spark) is None
        assert table.committed_doc_ids(spark) is None

    def test_uncommitted_data_is_invisible(self, spark, table):
        snap, staging = table.begin()
        _write_staging(spark, ROWS_A, staging)
        assert table.read(spark) is None       # nothing committed yet
        table.abort(staging)
        assert not os.path.exists(staging)
        assert table.read(spark) is None       # abort leaves no trace

    def test_commit_then_resume_projection(self, spark, table):
        snap, staging = table.begin()
        _write_staging(spark, ROWS_A, staging)
        table.commit(snap, staging, meta={"kind": "extract"})
        assert _doc_ids(table.read(spark)) == ["doc-1", "doc-2", "doc-3"]
        # resume projection: docs + quarantine, doc_id only
        done = table.committed_doc_ids(spark)
        assert done.columns == ["doc_id"]
        assert _doc_ids(done) == ["doc-1", "doc-2", "doc-3"]

    def test_crash_before_commit_then_retry(self, spark, table):
        snap, staging = table.begin()
        _write_staging(spark, ROWS_A, staging)
        table.commit(snap, staging)
        # crash simulation: a second writer stages data and dies
        snap2, staging2 = table.begin()
        _write_staging(spark, ROWS_B, staging2)
        # a FRESH handle (restarted driver) sees only the committed rows
        fresh = (SnapshotTable(table.root) if isinstance(table, SnapshotTable)
                 else IcebergTable(spark, table.identifier))
        assert _doc_ids(fresh.read(spark)) == ["doc-1", "doc-2", "doc-3"]
        # the retry re-stages and commits; now everything is visible
        snap3, staging3 = fresh.begin()
        _write_staging(spark, ROWS_B, staging3)
        fresh.commit(snap3, staging3)
        assert _doc_ids(fresh.read(spark)) == [
            "doc-1", "doc-2", "doc-3", "doc-4", "doc-5"]

    def test_time_travel_as_of(self, spark, table):
        s1, st1 = table.begin()
        _write_staging(spark, ROWS_A, st1)
        table.commit(s1, st1)
        s2, st2 = table.begin()
        _write_staging(spark, ROWS_B, st2)
        table.commit(s2, st2)
        assert _doc_ids(table.read_at(spark, s1)) == ["doc-1", "doc-2", "doc-3"]
        assert _doc_ids(table.read_at(spark, s2)) == [
            "doc-1", "doc-2", "doc-3", "doc-4", "doc-5"]
        with pytest.raises(KeyError):
            table.read_at(spark, "snap-never-committed")

    def test_read_snapshot_isolates_one_commit(self, spark, table):
        s1, st1 = table.begin()
        _write_staging(spark, ROWS_A, st1)
        table.commit(s1, st1)
        s2, st2 = table.begin()
        _write_staging(spark, ROWS_B, st2)
        table.commit(s2, st2)
        assert _doc_ids(table.read_snapshot(spark, s2)) == ["doc-4", "doc-5"]
        assert _doc_ids(table.read_snapshot(spark, s1)) == [
            "doc-1", "doc-2", "doc-3"]
        with pytest.raises(KeyError):
            table.read_snapshot(spark, "snap-bogus")

    def test_compact_folds_to_one_snapshot(self, spark, table):
        s1, st1 = table.begin()
        _write_staging(spark, ROWS_A, st1)
        table.commit(s1, st1)
        s2, st2 = table.begin()
        _write_staging(spark, ROWS_B, st2)
        table.commit(s2, st2)
        before = _doc_ids(table.read(spark))
        new_id = table.compact(spark)
        assert len(table.snapshots()) == 1
        assert _doc_ids(table.read(spark)) == before     # content unchanged
        # contract: BOTH backends return/retain the labeled id format
        # (Iceberg does this via a labeled empty append surviving the
        # expire — the raw rewrite snapshot id would diverge)
        assert new_id == table.snapshots()[-1]["id"]
        assert new_id.startswith("snap-")
        assert _doc_ids(table.read_at(spark, new_id)) == before
        with pytest.raises(KeyError):                    # old ids expired
            table.read_at(spark, s1)

    def test_snapshot_ids_are_ordered_and_labeled(self, spark, table):
        s1, st1 = table.begin()
        _write_staging(spark, ROWS_A, st1)
        table.commit(s1, st1, meta={"kind": "extract"})
        s2, st2 = table.begin()
        _write_staging(spark, ROWS_B, st2)
        table.commit(s2, st2, meta={"kind": "extract"})
        ids = [s["id"] for s in table.snapshots()]
        assert ids == [s1, s2]     # commit order preserved, labels survive


class TestOpenTableRouting:
    """open_table must never misroute: filesystem paths (absolute OR
    relative) -> parquet fallback; catalog.db.table identifiers ->
    Iceberg (loud error when no catalog is configured, instead of a
    silent empty table + a commit-time crash after the work is done)."""

    def test_paths_route_to_snapshot_table(self, spark, tmp_path, monkeypatch):
        from local_pdftodocx_ocr_spark.catalog import open_table
        monkeypatch.chdir(tmp_path)   # relative roots get created here
        assert isinstance(open_table(spark, str(tmp_path / "t")), SnapshotTable)
        assert isinstance(open_table(spark, "rel/dir"), SnapshotTable)
        # a relative dir name with dots is still a path, not an identifier
        assert isinstance(open_table(spark, "out.dir.v2/x"), SnapshotTable)

    def test_identifier_without_catalog_fails_loud(self, spark):
        from local_pdftodocx_ocr_spark.catalog import open_table
        confs = {k for k, _ in spark.sparkContext.getConf().getAll()}
        if any(k.startswith("spark.sql.catalog.") for k in confs):
            pytest.skip("session has an Iceberg catalog; routing differs")
        with pytest.raises(ValueError, match="identifier"):
            open_table(spark, "local.db.extract_out")
        # without a catalog, a one-dot name is unambiguously a path
        assert isinstance(open_table(spark, "out.parquet"), SnapshotTable)
        shutil.rmtree("out.parquet", ignore_errors=True)

    def test_one_dot_name_with_catalog_rejected_loudly(self, spark):
        """'db.table' under a configured catalog is legal Iceberg AND a
        plausible relative dir — silently os.makedirs()-ing it is the
        exact misroute the routing docstring promises to prevent."""
        from local_pdftodocx_ocr_spark import catalog as cat
        assert cat._is_ambiguous_dotted_name("db.table")
        assert not cat._is_ambiguous_dotted_name("out.dir.v2/x")  # a path
        assert not cat._is_ambiguous_dotted_name("cat.db.table")  # 2 dots

        class _FakeConf:
            def getAllWithPrefix(self, prefix):
                assert prefix == "spark.sql.catalog."
                return [("local", "x")]

        class _FakeJSC:
            def sc(self):
                return self

            def conf(self):
                return _FakeConf()

        class _FakeSC:
            _jsc = _FakeJSC()

        class _FakeSpark:
            sparkContext = _FakeSC()

        with pytest.raises(ValueError, match="ambiguous"):
            cat.open_table(_FakeSpark(), "db.table")
        # a fully qualified identifier still routes to Iceberg
        assert isinstance(cat.open_table(_FakeSpark(), "local.db.t"),
                          cat.IcebergTable)

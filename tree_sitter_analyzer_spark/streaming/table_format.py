"""Table-format abstraction: Iceberg-readiness proof (round-4 verdict #8).

The north rule targets Iceberg tables (MERGE INTO, snapshot reads,
manifest/changelog diffs).  No Iceberg jars ship in this sandbox image,
so the engine executes its commit semantics with the parquet + atomic
marker layout (``checkpoint.run_stage``) and the delta-mode DataFrame
MERGE algebra (``incremental.merge_delta``), called directly.
``IcebergFormat`` states what each of those calls becomes on a real
cluster, so the swap is mechanical: it EMITS the exact Spark SQL / reader
options each call would run against a real Iceberg catalog (golden-tested
in tests/test_table_format.py — the contract a deployment engineer codes
against).  ``execute`` raises: there is no Iceberg runtime here, and a
silent parquet fallback inside the Iceberg impl would be a lie.

Reference behavior being carried: incremental_sync.py:78-330 (diff +
re-extract only changed), ast_cache.py:368-378 (commit markers).
"""

from __future__ import annotations


class IcebergFormat:
    """Emits the exact Iceberg SQL the engine's write/merge/read calls
    map to on a real cluster (catalog configured via
    ``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``)."""

    def __init__(self, catalog: str = "lake", namespace: str = "engine"):
        self.catalog = catalog
        self.namespace = namespace

    def _fq(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def merge_delta_sql(self, table: str, changes_view: str, key: str) -> str:
        """Delta-mode MERGE: ``changes_view`` carries an ``_op`` column
        ('U' upsert / 'D' delete) — incremental.merge_delta semantics in
        one atomic Iceberg MERGE."""
        return (
            f"MERGE INTO {self._fq(table)} t USING {changes_view} s "
            f"ON t.{key} = s.{key} "
            "WHEN MATCHED AND s._op = 'D' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED AND s._op != 'D' THEN INSERT *"
        )

    def snapshot_read_sql(self, table: str, snapshot_id: int) -> str:
        """Time-travel read — resume-from-last-committed-snapshot."""
        return (
            f"SELECT * FROM {self._fq(table)} "
            f"VERSION AS OF {snapshot_id}"
        )

    def changelog_read_options(
        self, table: str, start_snapshot_id: int
    ) -> dict[str, str]:
        """Incremental (CDC) read between snapshots — the Iceberg analog
        of merkle_diff's changed-set."""
        return {
            "format": "iceberg",
            "path": self._fq(table),
            "start-snapshot-id": str(start_snapshot_id),
        }

    def audit_overwrite_sql(self, table: str, stage: str, metrics_view: str) -> str:
        """Per-partition lineage metrics into the stage's partition of the
        Iceberg audit table (checkpoint.write_audit's target on a real
        cluster). A static partition overwrite replaces the stage's rows,
        so a crash and re-run leaves one set of them, not two."""
        lit = stage.replace("'", "''")
        return (
            f"INSERT OVERWRITE {self._fq(table)}_audit PARTITION (stage = '{lit}') "
            f"SELECT _pid, rows, committed_at FROM {metrics_view}"
        )

    def execute(self, *_args, **_kwargs):
        raise EnvironmentError(
            "no Iceberg runtime in this image — deploy with the Iceberg "
            "Spark runtime jar and a configured catalog, then execute "
            "the SQL this class emits"
        )

"""Snapshot-committed multi-table warehouse.

The reference's resume story is "the DB ledgers survive a restart"
(ref: ocr_translate/ocr_tsl/full.py:28-74 lazy path); at batch scale the
analog is snapshot isolation: a killed run must leave either a complete,
visible commit or nothing (north_rule: resume idempotently from the last
committed snapshot).

On a real cluster this is Iceberg (``writeTo(...).append()`` — atomic
snapshot commits, used automatically when the runtime has the Iceberg
catalog configured).  This container has no Iceberg jars, so the same
contract is implemented directly over parquet:

* data files are written under ``<root>/<table>/commit-<uuid>/`` (invisible
  to readers until referenced);
* a snapshot manifest ``<root>/_snapshots/<n>.json`` lists, for every
  table, ALL data directories visible at snapshot ``n`` (full listing, not
  a delta — manifests are tiny);
* the manifest is published with an atomic create-if-absent ``os.link``
  (a concurrent writer claiming the same id loses cleanly and retries on
  top of the winner); a crash at any earlier point leaves only orphan
  data directories that no reader sees.

All tables in one ``commit()`` become visible atomically together.

The extraction pipeline commits ONE table, ``extracted``, whose rows carry
the memoization-ledger keys and the per-partition lineage columns
(``run_id``, ``snapshot_id``, ``partition_id``, ``input_split``,
``wall_ms``, ``bytes_in``).  The ``runs`` ledger and the ``metrics``
lineage table are views over those rows, derived on read
(:func:`ledger_view`), so results can never publish without their ledger
rows — which is what makes re-runs idempotent.  Neither name can be
staged: both are only views.
"""

from __future__ import annotations

import glob
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import partition_metrics
from ..schemas import RUNS

# tables a read derives from the ledger and lineage columns of `extracted`
LEDGER_VIEWS = ("runs", "metrics")
# the `extracted` columns the views use; an explicit read schema keeps the
# scan column-pruned and needs no footer job to infer it
_LEDGER_SOURCE = (
    "url string, extractor_version string, options_hash string, "
    "text_hash long, snapshot_id long, run_id string, partition_id int, "
    "input_split string, bytes_in long, wall_ms double"
)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath + configured."""
    try:
        return bool(
            spark.conf.get("spark.sql.catalog.spark_catalog", None)
            and "iceberg" in spark.conf.get("spark.sql.catalog.spark_catalog")
        )
    except Exception:  # pragma: no cover
        return False


def open_warehouse(spark: SparkSession, root: str):
    """Warehouse factory: the real Iceberg catalog when the runtime has one
    configured (cluster deployments), the parquet+manifest emulation with
    the same contract otherwise (this container ships no Iceberg jars).
    Callers (pipeline.run_extraction) are branch-agnostic."""
    if iceberg_available(spark):
        return IcebergWarehouse(spark, root)
    return Warehouse(root)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """A zero-partition frame with ``schema``.  Reading it starts no task —
    ``createDataFrame([], schema)`` would parallelize the empty list into
    ``defaultParallelism`` Python-RDD tasks on every read of a table that
    has no commit yet (the ``runs`` ledger of each fresh warehouse)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema=schema)


def ledger_view(table: str, extracted: DataFrame) -> DataFrame:
    """``runs`` or ``metrics`` over the rows run_extraction committed to
    ``extracted``.

    ``runs`` is a column-pruned projection to RUNS of the rows with a
    ``snapshot_id``.  A forced re-run writes already-ledgered keys with a
    NULL ``snapshot_id``, so they are skipped: ledger keys stay unique with
    no aggregate on the path the memo anti-join scans.  ``metrics`` is the
    per-(run, partition) lineage aggregate
    (operators.extract.partition_metrics)."""
    if table == "runs":
        return extracted.filter(F.col("snapshot_id").isNotNull()).select(
            *RUNS.fieldNames()
        )
    return partition_metrics(extracted)


def _source(table: str) -> str:
    """The committed table a read of ``table`` resolves."""
    return "extracted" if table in LEDGER_VIEWS else table


def _finish_read(spark: SparkSession, table: str, frame, schema) -> DataFrame:
    """The read of ``table`` from ``frame``, its :func:`_source` as
    published (None when it has no published data): the ledger view over
    it, the frame itself, or an empty frame with ``schema``."""
    if frame is None:
        if schema is None:
            raise ValueError(f"table {table!r} is empty and no schema given")
        return empty_frame(spark, schema)
    return ledger_view(table, frame) if table in LEDGER_VIEWS else frame


# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _written_schema(paths: list):
    """The schema Spark's writer stored in the footer of the path-sorted
    first ``*.parquet`` file under ``paths`` — the file Spark's own
    inference reads (its parquet source sorts leaf files by path) — or
    None when there is no such file or it carries no Spark schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = [
        f for p in paths
        for f in glob.glob(os.path.join(glob.escape(p), "*.parquet"))
    ]
    if not files:
        return None
    raw = (pq.read_metadata(min(files)).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _read_parquet(spark: SparkSession, paths: list, schema=None) -> DataFrame:
    """Parquet at ``paths``.  With no ``schema``, the writer's schema is
    read from a file footer on the driver: Spark's inference would spend
    a job reading that footer.  Only files Spark did not write (no schema
    in the footer) are left to Spark to infer."""
    if schema is None:
        schema = _written_schema(paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


_TABLE_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_table_name(table: str) -> None:
    """Reject table names that are not plain identifiers.

    Table names are interpolated into catalog SQL (table identifiers,
    the snapshot-log WHERE clauses) — the namespace is sanitized at
    construction, but caller-supplied table names were not, so a quote
    or dot in a name could break a statement.  Every public entry point
    funnels through ``_full``, which calls this."""
    if not _TABLE_NAME_RE.match(table):
        raise ValueError(
            f"invalid table name {table!r}: warehouse table names must "
            "match [A-Za-z_][A-Za-z0-9_]* (they are interpolated into "
            "catalog SQL as identifiers)"
        )


def _check_stage_name(table: str) -> None:
    """Reject non-identifiers and the ledger views: a read derives those
    from ``extracted``, never from rows committed under their name."""
    _check_table_name(table)
    if table in LEDGER_VIEWS:
        raise ValueError(f"{table!r} is a view over 'extracted'; it cannot be staged")


class ConcurrentCommitError(RuntimeError):
    """Two writers published the same logical snapshot id concurrently.

    The warehouse write contract is SINGLE WRITER per warehouse root
    (readers are unlimited): the extraction pipeline, its streaming form,
    and batch backfills all serialize through one driver.  The parquet
    emulation enforces serialization natively (create-if-absent manifest
    publish + rebase-retry); the Iceberg branch cannot — two log appends
    both succeed — so it DETECTS the violation post-publish and raises.
    Catching this means both commits' table appends are live but the log
    holds duplicate logical ids; re-run the losing job (its ledger rows
    re-resolve) or roll the tables back to the last agreed snapshot.
    """


class IcebergWarehouse:
    """Iceberg-catalog-backed warehouse with the same interface and the
    same SNAPSHOT CONTRACT as :class:`Warehouse` (stage / read_staged /
    commit / write / compact / read with sequential logical snapshot ids).

    Iceberg's own snapshot ids are random per-table longs and there are no
    cross-table transactions, so the multi-table contract is carried by a
    tiny ``_snapshot_log`` Iceberg table — the catalog analog of the
    parquet emulation's manifest files:

    * ``stage`` writes to an uncommitted staging table
      ``<ns>.<table>__stage_<uuid>`` (in the catalog, but no reader
      resolves it);
    * ``commit`` appends every staged table into its final table
      (an atomic Iceberg snapshot each), records each table's resulting
      Iceberg snapshot id, then publishes ONE log append
      ``(snapshot_id, table, iceberg_snapshot_id, commit_uuid)`` covering
      all tables — the log append is the single atomic publish point;
    * ``read`` resolves through the log: it time-travels each table with
      the Iceberg snapshot the log recorded for the requested (or latest)
      logical snapshot, so data appended by a crashed (never-logged)
      commit is invisible and logical snapshot ids are sequential ints on
      both branches.  A table with no log row holds nothing published,
      and a warehouse with no log reads empty.

    **Crash recovery** (parity with the emulation's orphan-dir behavior):
    before touching a table, ``commit``/``compact`` compare its CURRENT
    Iceberg snapshot to the last *logged* one; a mismatch means an earlier
    commit died between its table append and its log publish, and the
    orphan append is rolled back (``system.rollback_to_snapshot``) so the
    never-published rows can never leak into a later snapshot's lineage.
    A table with no logged snapshot at all was created by a first commit
    that died before its log append; it is dropped.

    **Write concurrency**: single writer per warehouse root (see
    :class:`ConcurrentCommitError`).  ``commit`` detects a concurrent
    publish after the log append and raises; ``read`` stays deterministic
    even over a corrupted (duplicate-id) log by tie-breaking on the
    smallest ``iceberg_snapshot_id``.

    Exercised only when an Iceberg catalog is configured (tests skip
    otherwise); the emulation covers the contract in this container, and
    the log protocol itself (orphan invisibility, crash resume) is
    crash-simulated against the emulation in tests/test_pipeline.py.
    """

    LOG_TABLE = "_snapshot_log"

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        # accept a path-like root and sanitize it into a namespace name
        ns = namespace.strip("/").replace("/", "_").replace("-", "_") or "warehouse"
        self.namespace = ns
        self._sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")

    def _full(self, table: str) -> str:
        _check_table_name(table)
        return f"{self.namespace}.{table}"

    # -- engine seam -----------------------------------------------------
    # Every catalog interaction flows through these five primitives, and
    # every protocol READ is a plain SQL string, so the full
    # commit/compact/crash-recovery state machine — including the
    # exact rollback_to_snapshot / INSERT OVERWRITE / log-query strings and
    # their ordering — executes un-skipped against a recording fake
    # engine (tests/test_iceberg_protocol.py).  Only the thin primitive
    # bodies below stay jar-dependent (live test skip-marked).
    # Table/namespace names are internal identifiers (sanitized in
    # __init__), never user text — safe to interpolate.

    def _sql(self, statement: str):
        """Run one SQL statement; result exposes ``.first()``."""
        return self.spark.sql(statement)

    def _table_exists(self, full: str) -> bool:
        return self.spark.catalog.tableExists(full)

    def _write_table(self, df: DataFrame, full: str, mode: str) -> None:
        """``mode``: 'create' | 'append' — each an atomic Iceberg snapshot."""
        if mode == "create":
            df.writeTo(full).create()
        else:
            df.writeTo(full).append()

    def _read_table(self, full: str, snapshot_id: "int | None" = None) -> DataFrame:
        if snapshot_id is None:
            return self.spark.table(full)
        return self.spark.read.option("snapshot-id", int(snapshot_id)).table(full)

    def _make_df(self, rows, schema: str) -> DataFrame:
        return self.spark.createDataFrame(rows, schema)

    # -- write ---------------------------------------------------------

    def stage(self, df: DataFrame, table: str) -> str:
        _check_stage_name(table)
        handle = self._full(f"{table}__stage_{uuid.uuid4().hex[:12]}")
        self._write_table(df, handle, "create")
        return handle

    def read_staged(
        self, spark: SparkSession, handle: str, schema=None
    ) -> DataFrame:
        # `spark` and `schema` are accepted for Warehouse-interface parity;
        # catalog resolution always goes through the construction-time
        # session (the seam primitives), as a staged handle only exists
        # there, and the catalog already knows the table's schema
        return self._read_table(handle)

    def discard_staged(self, handle: str) -> None:
        """Drop a staged-but-never-committed handle.  Callers that bail out
        after staging (e.g. a fully-memoized run) MUST call this, or every
        replayed streaming micro-batch leaks a permanent ``__stage_*``
        table in the catalog."""
        self._sql(f"DROP TABLE IF EXISTS {handle}")

    def _iceberg_snapshot(self, full: str) -> int:
        """Current snapshot of the main branch via the ``refs`` metadata
        table — deterministic, unlike ordering ``snapshots`` by the
        millisecond-granularity ``committed_at`` (which can tie)."""
        row = self._sql(
            f"SELECT snapshot_id FROM {full}.refs WHERE name = 'main'"
        ).first()
        return int(row["snapshot_id"]) if row else 0

    def _last_logged_snapshot(self, table: str) -> "int | None":
        """The Iceberg snapshot id the log recorded at the table's highest
        logical snapshot — i.e. the last PUBLISHED state of the table."""
        log_full = self._full(self.LOG_TABLE)
        if not self._table_exists(log_full):
            return None
        row = self._sql(
            f"SELECT iceberg_snapshot_id FROM {log_full} "
            f"WHERE table_name = '{table}' "
            "ORDER BY snapshot_id DESC, iceberg_snapshot_id ASC LIMIT 1"
        ).first()
        return int(row["iceberg_snapshot_id"]) if row else None

    def _rollback_orphans(self, table: str) -> None:
        """Crash recovery: a commit that died between its table append and
        its log publish leaves the table's current snapshot ahead of the
        last logged one.  Readers never see the orphan (read() time-travels
        to logged snapshots), but a subsequent append would fold it into
        the NEXT published snapshot — so roll the table back to the logged
        state first, or drop it when no snapshot of it was ever logged (a
        first commit that died after creating it).  The removed rows are
        pure recomputable output (their run was never published, so the
        ledger never references them), exactly like the emulation's
        unreferenced orphan dirs."""
        full = self._full(table)
        if not self._table_exists(full):
            return
        last = self._last_logged_snapshot(table)
        if last is None:
            self._sql(f"DROP TABLE IF EXISTS {full}")
        elif self._iceberg_snapshot(full) != last:
            self._sql(
                f"CALL spark_catalog.system.rollback_to_snapshot"
                f"('{full}', {last})"
            )

    def _publish_log(self, tables: "list[str]", commit_uuid: str) -> int:
        """Append ONE log row per table at the next logical snapshot id —
        the single atomic publish point — then verify no concurrent writer
        claimed the same id (Iceberg appends never conflict, so the
        single-writer contract is detected, not enforced)."""
        new_id = self.current_snapshot_id() + 1
        log_rows = [
            (new_id, t, self._iceberg_snapshot(self._full(t)), commit_uuid)
            for t in tables
        ]
        log_df = self._make_df(
            log_rows,
            "snapshot_id long, table_name string, iceberg_snapshot_id long, "
            "commit_uuid string",
        )
        log_full = self._full(self.LOG_TABLE)
        mode = "append" if self._table_exists(log_full) else "create"
        self._write_table(log_df, log_full, mode)  # atomic publish
        clash = self._sql(
            f"SELECT count(*) AS n FROM {log_full} "
            f"WHERE snapshot_id = {new_id} AND commit_uuid <> '{commit_uuid}'"
        ).first()
        if clash and int(clash["n"]):
            raise ConcurrentCommitError(
                f"logical snapshot {new_id} was published by another "
                "writer concurrently; the warehouse write contract is "
                "single-writer per root (see ConcurrentCommitError)"
            )
        return new_id

    def commit(self, staged: "dict[str, list[str]]") -> int:
        commit_uuid = uuid.uuid4().hex
        for table, handles in sorted(staged.items()):
            self._rollback_orphans(table)
            full = self._full(table)
            for handle in handles:
                mode = "append" if self._table_exists(full) else "create"
                self._write_table(self._read_table(handle), full, mode)
                self._sql(f"DROP TABLE IF EXISTS {handle}")
        return self._publish_log(sorted(staged), commit_uuid)

    def write(self, df: DataFrame, table: str) -> int:
        return self.commit({table: [self.stage(df, table)]})

    def compact(
        self,
        spark: SparkSession,
        tables: "dict[str, DataFrame | None]",
        retain_last: "int | None" = None,
    ) -> int:
        """Catalog-native compaction, with the contract of
        :meth:`Warehouse.compact` (curate.compact_warehouse and
        curate.retier_warehouse call it on both branches).  ``tables`` maps
        table name to either

        * ``None`` — metadata-only bin-pack: ``CALL system.rewrite_data_files``
          rewrites small files into target-sized ones without changing rows
          (what per-batch appends need); or
        * a DataFrame — the table's rows are REPLACED by it, staged
          exactly as given, via ``INSERT OVERWRITE`` (the log-structured
          ledgers — host_counts, tier_counts — collapse to their summed
          form with identical read-side semantics).

        All touched tables then publish under ONE logical snapshot (one
        log append), so readers switch atomically — and because Iceberg
        retains pre-rewrite snapshots, TIME TRAVEL through the snapshot
        log keeps working, same contract as the emulation.

        ``retain_last`` (opt-in) additionally runs
        ``CALL system.expire_snapshots(retain_last => N)`` per table —
        the storage-reclaim half of Iceberg maintenance.  It DELETES the
        data files old snapshots reference, so logical snapshots older
        than the retained window stop being time-travelable; leave it
        ``None`` (default) unless storage pressure demands it.

        Single-writer contract applies (see ConcurrentCommitError).
        """
        commit_uuid = uuid.uuid4().hex
        done: "list[str]" = []
        for table in sorted(tables):
            full = self._full(table)
            self._rollback_orphans(table)
            if not self._table_exists(full):
                continue  # never committed — nothing to compact
            folded = tables[table]
            if folded is None:
                self._sql(
                    f"CALL spark_catalog.system.rewrite_data_files"
                    f"(table => '{full}')"
                )
            else:
                # fold = full-row replace: stage the folded form (so the
                # overwrite never reads the table it is rewriting), then
                # one atomic INSERT OVERWRITE snapshot
                handle = self.stage(folded, table)
                try:
                    self._sql(
                        f"INSERT OVERWRITE {full} SELECT * FROM {handle}"
                    )
                finally:
                    self._sql(f"DROP TABLE IF EXISTS {handle}")
            done.append(table)
        if not done:
            return self.current_snapshot_id()
        snap = self._publish_log(done, commit_uuid)
        if retain_last is not None:
            for table in done:
                self._sql(
                    f"CALL spark_catalog.system.expire_snapshots"
                    f"(table => '{self._full(table)}', "
                    f"retain_last => {int(retain_last)})"
                )
        return snap

    # -- read ------------------------------------------------------------

    def current_snapshot_id(self) -> int:
        log_full = self._full(self.LOG_TABLE)
        if not self._table_exists(log_full):
            return 0
        row = self._sql(
            f"SELECT max(snapshot_id) AS m FROM {log_full}"
        ).first()
        return int(row["m"]) if row and row["m"] is not None else 0

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema=None,
        snapshot_id: "int | None" = None,
    ) -> DataFrame:
        """Committed state of ``table`` at a logical snapshot (the latest
        when ``snapshot_id`` is None).  ``runs`` and ``metrics`` are
        :func:`ledger_view` over ``extracted`` at that snapshot."""
        frame = None
        if self._table_exists(self._full(self.LOG_TABLE)):
            snap = self.current_snapshot_id() if snapshot_id is None else snapshot_id
            frame = self._resolve(_source(table), snap)
        return _finish_read(self.spark, table, frame, schema)

    def _resolve(self, table: str, snap: int) -> "DataFrame | None":
        """``table`` as logged at logical snapshot ``snap``, or None when it
        has no published data there."""
        full = self._full(table)
        exists = self._table_exists(full)
        row = self._sql(
            f"SELECT iceberg_snapshot_id FROM {self._full(self.LOG_TABLE)} "
            f"WHERE table_name = '{table}' AND snapshot_id <= {snap} "
            # deterministic even over a corrupted log with duplicate
            # logical ids (ConcurrentCommitError was raised but the
            # rows exist): the smallest iceberg snapshot wins
            "ORDER BY snapshot_id DESC, iceberg_snapshot_id ASC LIMIT 1"
        ).first()
        if row is not None and exists:
            return self._read_table(full, int(row["iceberg_snapshot_id"]))
        # a table with data but no log row = a crashed, never-published
        # commit: stays invisible (the parquet emulation's orphan-dir
        # behavior)
        return None


class Warehouse:
    """Multi-table snapshot store rooted at a local/posix path."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)

    # -- snapshot log ----------------------------------------------------

    def _snapshot_dir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self._snapshot_dir()):
            if name.endswith(".json"):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1] if snaps else 0

    def _manifest(self, snapshot_id: int) -> dict:
        if snapshot_id == 0:
            return {"id": 0, "tables": {}}
        path = os.path.join(self._snapshot_dir(), f"{snapshot_id}.json")
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)

    # -- write -----------------------------------------------------------

    def stage(self, df: DataFrame, table: str) -> str:
        """Write ``df`` as parquet into an uncommitted data directory."""
        _check_stage_name(table)  # table names become path components here
        commit_dir = os.path.join(self.root, table, f"commit-{uuid.uuid4().hex[:12]}")
        df.write.mode("errorifexists").parquet(commit_dir)
        return commit_dir

    def read_staged(
        self, spark: SparkSession, handle: str, schema=None
    ) -> DataFrame:
        """Read back a staged-but-uncommitted handle (columnar, cheap)."""
        return _read_parquet(spark, [handle], schema)

    def discard_staged(self, handle: str) -> None:
        """Delete a staged-but-never-committed data directory (no manifest
        references it, so this is pure orphan cleanup — see
        IcebergWarehouse.discard_staged for why callers must bother)."""
        import shutil

        shutil.rmtree(handle, ignore_errors=True)

    def commit(
        self, staged: dict[str, list[str]], replace: "set[str] | None" = None
    ) -> int:
        """Atomically publish staged directories for one or more tables.

        Returns the new snapshot id.  ``staged`` maps table name -> list of
        directories previously returned by :meth:`stage`.  Tables named in
        ``replace`` have their directory list REPLACED by the staged dirs
        (full-table rewrite, the emulation's row-level-update stand-in)
        instead of extended; earlier manifests still reference the old
        dirs, so time travel is unaffected.

        Concurrent-writer safe (optimistic concurrency, the same protocol
        Iceberg's catalog runs): the manifest is published with an atomic
        create-if-absent (``os.link`` fails with EEXIST if another writer
        claimed the id — a plain rename would silently REPLACE the loser's
        snapshot); on collision the loser re-reads the winner's manifest as
        its new parent and retries, so both commits land, serialized, each
        containing the other's tables.  Staged data directories are
        writer-private, so retries never re-write data."""
        replace = replace or set()
        tmp = os.path.join(self._snapshot_dir(), f".tmp-{uuid.uuid4().hex}.json")
        try:
            while True:
                parent = self.current_snapshot_id()
                manifest = self._manifest(parent)
                tables = {k: list(v) for k, v in manifest["tables"].items()}
                for table, dirs in staged.items():
                    rel = [os.path.relpath(d, self.root) for d in dirs]
                    if table in replace:
                        tables[table] = rel
                    else:
                        tables.setdefault(table, []).extend(rel)
                new_id = parent + 1
                payload = {"id": new_id, "parent": parent, "tables": tables}
                with open(tmp, "w", encoding="utf-8") as fh:
                    json.dump(payload, fh)
                final = os.path.join(self._snapshot_dir(), f"{new_id}.json")
                try:
                    os.link(tmp, final)  # atomic create-if-absent publish
                    return new_id
                except FileExistsError:
                    continue  # lost the race: rebase on the winner, retry
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def write(self, df: DataFrame, table: str) -> int:
        """stage + commit one table (convenience)."""
        return self.commit({table: [self.stage(df, table)]})

    def compact(
        self,
        spark: SparkSession,
        tables: "dict[str, DataFrame | None]",
        retain_last: "int | None" = None,
    ) -> int:
        """The contract of :meth:`IcebergWarehouse.compact` over parquet:
        a table mapped to ``None`` is rewritten as it is, one file per
        ``spark.sql.files.maxPartitionBytes`` (the setting that sizes its
        scans) of its committed files — one file for a small table; one
        mapped to a DataFrame is replaced by it, staged exactly as given.
        Every committed table named gets one new directory, all in ONE
        replace-commit; tables with no committed data are skipped.  Earlier
        manifests still list the old directories, so time travel is
        unaffected and ``retain_last`` expires nothing (it is accepted for
        interface parity).  Single-writer contract applies."""
        snap = self.current_snapshot_id()
        committed = self._manifest(snap)["tables"]
        staged: "dict[str, list[str]]" = {}
        for table in sorted(tables):
            if not committed.get(table):
                continue  # never committed — nothing to compact
            frame = tables[table]
            if frame is None:
                nbytes = sum(
                    os.path.getsize(f) for d in committed[table]
                    for f in glob.glob(os.path.join(self.root, d, "*.parquet"))
                )
                conf = spark._jsparkSession.sessionState().conf()
                frame = self.read(spark, table, snapshot_id=snap).coalesce(
                    max(1, -(-nbytes // conf.filesMaxPartitionBytes())))
            staged[table] = [self.stage(frame, table)]
        if not staged:
            return snap
        return self.commit(staged, replace=set(staged))

    # -- read ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema=None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read the committed state of ``table`` (optionally time-traveled),
        with ``schema`` applied when given.

        ``runs`` and ``metrics`` are :func:`ledger_view` over ``extracted``
        at the same snapshot.  Returns an empty DataFrame with ``schema``
        when the table has no committed data yet.
        """
        snap = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        dirs = self._manifest(snap)["tables"].get(_source(table))
        frame = None
        if dirs:
            paths = [os.path.join(self.root, d) for d in dirs]
            scan_schema = _LEDGER_SOURCE if table in LEDGER_VIEWS else schema
            frame = _read_parquet(spark, paths, scan_schema)
        return _finish_read(spark, table, frame, schema)

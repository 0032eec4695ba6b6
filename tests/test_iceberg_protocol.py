"""Iceberg branch protocol tests — no jars, no SparkSession.

The round-3 risk: ``IcebergWarehouse``'s SQL strings (``MERGE INTO``,
``rollback_to_snapshot``, log queries) were plausible but unexecuted —
the one live test skips in this container.  The class now routes every
catalog interaction through five seam primitives and expresses every
protocol read as a SQL string, so this file drives the FULL state
machine (commit / merge / upsert / crash-recovery / concurrency /
compaction) against a recording fake engine that
simulates Iceberg catalog semantics and rejects any SQL shape it does
not recognize — a drifted statement fails loudly here instead of on
first contact with a cluster.

Only the five primitive bodies (writeTo/table/catalog calls) remain
jar-dependent; those are covered by the skip-marked live test in
test_pipeline.py.
"""

from __future__ import annotations

import os
import re

import pytest

from ocr_translate_spark.io.tables import ConcurrentCommitError, IcebergWarehouse


# ---------------------------------------------------------------- fake engine

class FakeRow(dict):
    """dict with Spark-Row-style [] access (already native to dict)."""


class FakeResult:
    def __init__(self, rows):
        self.rows = [FakeRow(r) for r in rows]

    def first(self):
        return self.rows[0] if self.rows else None


class FakeDF:
    """Tiny stand-in for the DataFrames the warehouse passes through the
    seam: a bag of dict rows + the one transform merge/upsert apply
    (dropDuplicates)."""

    def __init__(self, rows, columns=None):
        self.rows = [dict(r) for r in rows]
        self._columns = list(columns) if columns is not None else (
            list(self.rows[0]) if self.rows else []
        )

    @property
    def columns(self):
        return self._columns

    def dropDuplicates(self, keys):
        seen, out = set(), []
        for r in self.rows:
            k = tuple(r[c] for c in keys)
            if k not in seen:
                seen.add(k)
                out.append(r)
        return FakeDF(out, self._columns)


class FakeIcebergWarehouse(IcebergWarehouse):
    """IcebergWarehouse over an in-memory catalog.  Every ``_sql`` call is
    recorded verbatim; unrecognized statements raise — the protocol test
    asserts exact strings AND their ordering."""

    def __init__(self, namespace: str):
        # state BEFORE super().__init__ — it issues CREATE NAMESPACE via _sql
        # per-instance counter: a class-level one would couple tests (the
        # concurrency test's rival id must stay above every local id)
        self._SNAPSHOT_COUNTER = [100]
        self.statements: list[str] = []
        # full table name -> list of (iceberg_snapshot_id, rows) versions;
        # the last entry is the current state
        self.tables: dict[str, list[tuple[int, list[dict]]]] = {}
        self.spark = None  # any accidental primitive fallthrough explodes
        ns = namespace.strip("/").replace("/", "_").replace("-", "_") or "warehouse"
        self.namespace = ns
        self._sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")

    # -- helpers ---------------------------------------------------------

    def _rows(self, full):
        return self.tables[full][-1][1]

    def _snap(self, full):
        return self.tables[full][-1][0]

    def _next_snap(self):
        self._SNAPSHOT_COUNTER[0] += 1
        return self._SNAPSHOT_COUNTER[0]

    def plant_orphan_append(self, table, rows):
        """Simulate a crashed commit: table append happened, log publish
        did not (new Iceberg snapshot, no log row)."""
        full = self._full(table)
        merged = self._rows(full) + [dict(r) for r in rows]
        self.tables[full].append((self._next_snap(), merged))

    # -- seam primitives -------------------------------------------------

    def _table_exists(self, full):
        return full in self.tables

    _rival_log_row = None  # set by the concurrency test

    def _write_table(self, df, full, mode):
        if full == self._full(self.LOG_TABLE) and self._rival_log_row is not None:
            # simulate the race: another writer's log append lands between
            # our id pick and our publish (Iceberg appends never conflict)
            rival, self._rival_log_row = self._rival_log_row, None
            self.tables[full].append(
                (self._next_snap(), self._rows(full) + [dict(rival)])
            )
        rows = [dict(r) for r in df.rows]
        if mode == "create":
            assert full not in self.tables, f"create over existing {full}"
            self.tables[full] = [(self._next_snap(), rows)]
        else:
            assert full in self.tables, f"append to missing {full}"
            merged = self._rows(full) + rows
            self.tables[full].append((self._next_snap(), merged))

    def _read_table(self, full, snapshot_id=None):
        if snapshot_id is None:
            return FakeDF(self._rows(full))
        for snap, rows in self.tables[full]:
            if snap == snapshot_id:
                return FakeDF(rows)
        raise AssertionError(f"time-travel to unknown snapshot {snapshot_id} of {full}")

    def _make_df(self, rows, schema):
        cols = [f.strip().split()[0] for f in schema.split(",")]
        return FakeDF([dict(zip(cols, r)) for r in rows], cols)

    # -- the recorded SQL interpreter ------------------------------------

    def _sql(self, statement):
        self.statements.append(statement)
        s = " ".join(statement.split())

        if m := re.fullmatch(r"CREATE NAMESPACE IF NOT EXISTS (\w+)", s):
            return FakeResult([])

        if m := re.fullmatch(r"DROP TABLE IF EXISTS ([\w.]+)", s):
            self.tables.pop(m.group(1), None)
            return FakeResult([])

        if m := re.fullmatch(
            r"SELECT snapshot_id FROM ([\w.]+)\.refs WHERE name = 'main'", s
        ):
            full = m.group(1)
            if full not in self.tables:
                return FakeResult([])
            return FakeResult([{"snapshot_id": self._snap(full)}])

        if m := re.fullmatch(
            r"SELECT iceberg_snapshot_id FROM ([\w.]+) WHERE table_name = '(\w+)'"
            r"(?: AND snapshot_id <= (\d+))?"
            r" ORDER BY snapshot_id DESC, iceberg_snapshot_id ASC LIMIT 1",
            s,
        ):
            log_full, table, bound = m.group(1), m.group(2), m.group(3)
            rows = [
                r for r in self._rows(log_full)
                if r["table_name"] == table
                and (bound is None or r["snapshot_id"] <= int(bound))
            ]
            rows.sort(key=lambda r: (-r["snapshot_id"], r["iceberg_snapshot_id"]))
            return FakeResult(rows[:1])

        if m := re.fullmatch(r"SELECT max\(snapshot_id\) AS m FROM ([\w.]+)", s):
            rows = self._rows(m.group(1))
            ids = [r["snapshot_id"] for r in rows]
            return FakeResult([{"m": max(ids) if ids else None}])

        if m := re.fullmatch(
            r"SELECT count\(\*\) AS n FROM ([\w.]+) "
            r"WHERE snapshot_id = (\d+) AND commit_uuid <> '(\w+)'",
            s,
        ):
            log_full, sid, cuid = m.group(1), int(m.group(2)), m.group(3)
            n = sum(
                1 for r in self._rows(log_full)
                # SQL three-valued logic: NULL <> x is NULL, not true
                if r["snapshot_id"] == sid
                and r.get("commit_uuid") is not None
                and r["commit_uuid"] != cuid
            )
            return FakeResult([{"n": n}])

        if m := re.fullmatch(
            r"CALL spark_catalog\.system\.rollback_to_snapshot\('([\w.]+)', (\d+)\)", s
        ):
            full, target = m.group(1), int(m.group(2))
            versions = self.tables[full]
            idx = [i for i, (snap, _) in enumerate(versions) if snap == target]
            assert idx, f"rollback to unknown snapshot {target} of {full}"
            self.tables[full] = versions[: idx[0] + 1]
            return FakeResult([])

        if m := re.fullmatch(
            r"MERGE INTO ([\w.]+) t USING ([\w.]+) s ON (.+?) "
            r"WHEN (MATCHED THEN UPDATE SET \* WHEN )?NOT MATCHED THEN INSERT \*",
            s,
        ):
            full, handle, cond, update = m.groups()
            keys = re.findall(r"t\.(\w+) <=> s\.\1", cond)
            assert keys, f"unparseable merge condition {cond!r}"
            target = {tuple(r[k] for k in keys): r for r in self._rows(full)}
            for srow in self._rows(handle):
                k = tuple(srow[c] for c in keys)
                if k not in target:
                    target[k] = srow  # NOT MATCHED -> INSERT
                elif update:
                    target[k] = srow  # MATCHED -> UPDATE (last write wins)
            self.tables[full].append((self._next_snap(), list(target.values())))
            return FakeResult([])

        if m := re.fullmatch(
            r"CALL spark_catalog\.system\.rewrite_data_files\(table => '([\w.]+)'\)", s
        ):
            full = m.group(1)
            assert full in self.tables, f"rewrite_data_files on missing {full}"
            # bin-pack: rows unchanged, new replace snapshot
            self.tables[full].append((self._next_snap(), list(self._rows(full))))
            return FakeResult([])

        if m := re.fullmatch(
            r"INSERT OVERWRITE ([\w.]+) SELECT \* FROM ([\w.]+)", s
        ):
            full, handle = m.group(1), m.group(2)
            assert full in self.tables, f"INSERT OVERWRITE on missing {full}"
            self.tables[full].append(
                (self._next_snap(), [dict(r) for r in self._rows(handle)])
            )
            return FakeResult([])

        if m := re.fullmatch(
            r"CALL spark_catalog\.system\.expire_snapshots"
            r"\(table => '([\w.]+)', retain_last => (\d+)\)", s
        ):
            full, n = m.group(1), int(m.group(2))
            versions = self.tables[full]
            self.tables[full] = versions[-n:]
            return FakeResult([])

        raise AssertionError(f"fake engine: unrecognized SQL shape: {statement!r}")


# ---------------------------------------------------------------- tests

@pytest.fixture()
def wh():
    return FakeIcebergWarehouse("proto_wh")


def _df(*pairs):
    return FakeDF([{"url": u, "text": t} for u, t in pairs], ["url", "text"])


def test_commit_publishes_log_and_reads_resolve(wh):
    staged = {
        "extracted": [wh.stage(_df(("u1", "a"), ("u2", "b")), "extracted")],
        "t2": [wh.stage(_df(("u1", "r"), ("u2", "r")), "t2")],
    }
    snap = wh.commit(staged)
    assert snap == 1 == wh.current_snapshot_id()
    assert {r["url"] for r in wh.read(None, "extracted").rows} == {"u1", "u2"}

    snap2 = wh.commit({"extracted": [wh.stage(_df(("u3", "c")), "extracted")]})
    assert snap2 == 2
    assert len(wh.read(None, "extracted").rows) == 3
    # time travel resolves through the log, per logical snapshot
    assert len(wh.read(None, "extracted", snapshot_id=1).rows) == 2
    assert len(wh.read(None, "t2", snapshot_id=2).rows) == 2

    # exact protocol ordering for the second commit: the staged handle is
    # read + appended, dropped, then ONE log append publishes atomically
    drops = [s for s in wh.statements if s.startswith("DROP TABLE IF EXISTS")]
    assert len(drops) == 3  # one per committed handle across both commits
    assert any("__stage_" in s for s in drops)
    clashes = [s for s in wh.statements if "commit_uuid <>" in s]
    assert len(clashes) == 2  # one concurrency check per publish


def test_merge_is_first_writer_wins_with_exact_sql(wh):
    wh.merge(None, _df(("u1", "old"), ("u1", "dup")), "texts", ["url"])
    assert [r["text"] for r in wh.read(None, "texts").rows] == ["old"]

    wh.merge(None, _df(("u1", "new"), ("u2", "b")), "texts", ["url"])
    got = {r["url"]: r["text"] for r in wh.read(None, "texts").rows}
    # u1 kept the FIRST writer's value (get_or_create), u2 inserted
    assert got == {"u1": "old", "u2": "b"}

    merges = [s for s in wh.statements if s.startswith("MERGE INTO")]
    assert len(merges) == 1  # first merge creates; second runs MERGE INTO
    assert re.fullmatch(
        r"MERGE INTO proto_wh\.texts t USING proto_wh\.texts__stage_\w+ s "
        r"ON t\.url <=> s\.url WHEN NOT MATCHED THEN INSERT \*",
        merges[0],
    )


def test_upsert_is_last_writer_wins_with_exact_sql(wh):
    wh.upsert(None, _df(("u1", "old")), "overrides", ["url"])
    wh.upsert(None, _df(("u1", "new"), ("u2", "b")), "overrides", ["url"])
    got = {r["url"]: r["text"] for r in wh.read(None, "overrides").rows}
    assert got == {"u1": "new", "u2": "b"}

    merges = [s for s in wh.statements if s.startswith("MERGE INTO")]
    assert len(merges) == 1
    assert "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *" in merges[0]


def test_crash_orphan_rolled_back_before_next_append(wh):
    wh.commit({"extracted": [wh.stage(_df(("u1", "a")), "extracted")]})
    published_snap = wh._iceberg_snapshot(wh._full("extracted"))

    # crashed commit: table append landed, log publish never happened
    wh.plant_orphan_append("extracted", [{"url": "ghost", "text": "x"}])
    # readers never see the orphan (read() time-travels to logged state)
    assert {r["url"] for r in wh.read(None, "extracted").rows} == {"u1"}

    snap = wh.commit({"extracted": [wh.stage(_df(("u2", "b")), "extracted")]})
    # the orphan was rolled back BEFORE the append — exact CALL recorded
    rollbacks = [s for s in wh.statements if "rollback_to_snapshot" in s]
    assert rollbacks == [
        f"CALL spark_catalog.system.rollback_to_snapshot"
        f"('proto_wh.extracted', {published_snap})"
    ]
    # and the ghost row can never leak into the published lineage
    assert {r["url"] for r in wh.read(None, "extracted", snapshot_id=snap).rows} == {
        "u1", "u2",
    }


def test_first_commit_crash_stays_invisible(wh, monkeypatch):
    """A first commit that creates its table and dies before the log
    append published nothing: reads see no rows, and the next commit
    drops the never-logged table before it creates its own, so its
    snapshot holds only its own rows."""
    def killed(tables, commit_uuid):
        raise RuntimeError("killed before the log append")

    monkeypatch.setattr(wh, "_publish_log", killed)
    with pytest.raises(RuntimeError):
        wh.commit({"extracted": [wh.stage(_df(("ghost", "x")), "extracted")]})
    monkeypatch.undo()
    assert wh._table_exists(wh._full("extracted"))  # the crash left its table
    with pytest.raises(ValueError):  # no published rows, no schema given
        wh.read(None, "extracted")

    snap = wh.commit({"extracted": [wh.stage(_df(("u1", "a")), "extracted")]})
    assert snap == 1
    assert [r["url"] for r in wh.read(None, "extracted", snapshot_id=snap).rows] == [
        "u1"
    ]
    drop = "DROP TABLE IF EXISTS proto_wh.extracted"
    assert wh.statements.count(drop) == 1
    assert not any("rollback_to_snapshot" in s for s in wh.statements)


def test_concurrent_publish_detected(wh):
    wh.commit({"t": [wh.stage(_df(("u1", "a")), "t")]})
    # another writer claims logical snapshot 2 between our id pick and our
    # publish — its log append lands first (Iceberg appends never conflict,
    # so both land; the clash is detected post-publish)
    wh._rival_log_row = {
        "snapshot_id": 2, "table_name": "t",
        "iceberg_snapshot_id": 999, "commit_uuid": "other",
    }
    with pytest.raises(ConcurrentCommitError):
        wh.commit({"t": [wh.stage(_df(("u2", "b")), "t")]})
    # reads stay deterministic over the corrupted duplicate-id log: the
    # smallest iceberg snapshot id wins the tie-break
    log_full = wh._full(wh.LOG_TABLE)
    row = wh._sql(
        f"SELECT iceberg_snapshot_id FROM {log_full} WHERE table_name = 't' "
        "ORDER BY snapshot_id DESC, iceberg_snapshot_id ASC LIMIT 1"
    ).first()
    assert row["iceberg_snapshot_id"] != 999


def test_stage_discard_leaves_no_catalog_entry(wh):
    handle = wh.stage(_df(("u1", "a")), "t")
    assert wh._table_exists(handle)
    wh.discard_staged(handle)
    assert not wh._table_exists(handle)
    assert wh.current_snapshot_id() == 0  # nothing published


def test_read_before_any_commit_returns_empty_or_raises(wh):
    with pytest.raises(ValueError):
        wh.read(None, "missing")


def test_compact_rewrites_folds_publishes_one_snapshot(wh):
    """compact(): append-style tables bin-pack via rewrite_data_files,
    ledger tables REPLACE via stage + INSERT OVERWRITE, everything
    publishes under ONE logical snapshot, time travel to pre-compaction
    logical snapshots still resolves, and no snapshots expire unless
    asked — the catalog half of curate.compact_warehouse (r6 missing #2).
    """
    hosts = lambda *rows: FakeDF(  # noqa: E731
        [{"host": h, "n": n} for h, n in rows], ["host", "n"]
    )
    wh.commit({
        "curated": [wh.stage(_df(("u1", "a")), "curated")],
        "host_counts": [wh.stage(hosts(("h", 1)), "host_counts")],
    })
    wh.commit({
        "curated": [wh.stage(_df(("u2", "b")), "curated")],
        "host_counts": [wh.stage(hosts(("h", 2)), "host_counts")],
    })
    snap = wh.compact(
        None,
        {"curated": None, "host_counts": hosts(("h", 3)),
         "never_committed": None},
    )
    assert snap == 3 == wh.current_snapshot_id()

    rewrites = [s for s in wh.statements if "rewrite_data_files" in s]
    assert rewrites == [
        "CALL spark_catalog.system.rewrite_data_files"
        "(table => 'proto_wh.curated')"
    ]
    overwrites = [s for s in wh.statements if s.startswith("INSERT OVERWRITE")]
    assert len(overwrites) == 1
    assert re.fullmatch(
        r"INSERT OVERWRITE proto_wh\.host_counts "
        r"SELECT \* FROM proto_wh\.host_counts__stage_\w+",
        overwrites[0],
    )
    # ordering: both table rewrites precede the single log publish (the
    # clash check runs right after the log append)
    clash_idx = max(
        i for i, s in enumerate(wh.statements) if "commit_uuid <>" in s
    )
    assert all(
        wh.statements.index(s) < clash_idx for s in rewrites + overwrites
    )
    assert not any("expire_snapshots" in s for s in wh.statements)

    # reads at the new snapshot: folded ledger, unchanged corpus rows
    assert wh.read(None, "host_counts").rows == [{"host": "h", "n": 3}]
    assert {r["url"] for r in wh.read(None, "curated").rows} == {"u1", "u2"}
    # time travel to the pre-compaction logical snapshots still resolves
    assert len(wh.read(None, "host_counts", snapshot_id=2).rows) == 2
    assert len(wh.read(None, "curated", snapshot_id=1).rows) == 1


def test_compact_rolls_back_orphans_and_optionally_expires(wh):
    """A crashed append (table snapshot ahead of the log) is rolled back
    BEFORE the rewrite so it can't fold into the compacted state; with
    retain_last, expire_snapshots runs AFTER the publish."""
    wh.commit({"curated": [wh.stage(_df(("u1", "a")), "curated")]})
    published = wh._iceberg_snapshot(wh._full("curated"))
    wh.plant_orphan_append("curated", [{"url": "ghost", "text": "x"}])

    snap = wh.compact(None, {"curated": None}, retain_last=1)
    assert snap == 2
    stmts = wh.statements
    rb = [i for i, s in enumerate(stmts) if "rollback_to_snapshot" in s]
    rw = [i for i, s in enumerate(stmts) if "rewrite_data_files" in s]
    exp = [i for i, s in enumerate(stmts) if "expire_snapshots" in s]
    assert len(rb) == len(rw) == len(exp) == 1
    assert rb[0] < rw[0] < exp[0]
    assert stmts[rb[0]] == (
        f"CALL spark_catalog.system.rollback_to_snapshot"
        f"('proto_wh.curated', {published})"
    )
    assert stmts[exp[0]] == (
        "CALL spark_catalog.system.expire_snapshots"
        "(table => 'proto_wh.curated', retain_last => 1)"
    )
    # the ghost row never reaches the compacted state
    assert {r["url"] for r in wh.read(None, "curated").rows} == {"u1"}


def test_table_names_validated_as_identifiers(wh, tmp_path):
    """Caller-supplied table names are interpolated into catalog SQL and
    (in the emulation) filesystem paths — non-identifier names must be
    rejected at the public API boundary (advisor r4).  The ledger views
    are readable names that no warehouse stages: a read derives them
    from ``extracted``, so rows written under them would never be read."""
    import pytest as _pytest

    from ocr_translate_spark.io.tables import Warehouse, _check_table_name

    for ok in ("extracted", "runs", "_snapshot_log", "t2", "A_B_c"):
        _check_table_name(ok)
    for bad in ("bad'name", "a.b", "a b", "", "a-b", "x;drop", "../x"):
        with _pytest.raises(ValueError):
            _check_table_name(bad)
    parquet = Warehouse(str(tmp_path / "wh"))
    for view in ("runs", "metrics"):
        for target in (wh, parquet):
            with _pytest.raises(ValueError, match="view"):
                target.stage(_df(("u1", "a")), view)
    assert not wh.tables.keys() - {wh._full(wh.LOG_TABLE)}
    assert os.listdir(tmp_path / "wh") == ["_snapshots"]



def test_ledger_views_read_extracted_at_the_logged_snapshot(wh, monkeypatch):
    """``runs``/``metrics`` reads derive from ``extracted`` as logged at
    the requested snapshot."""
    from ocr_translate_spark.io import tables

    seen = []

    def view(table, extracted):
        seen.append((table, sorted(r["url"] for r in extracted.rows)))
        return extracted

    monkeypatch.setattr(tables, "ledger_view", view)
    row = lambda u: {"url": u, "text": "t", "run_id": "r"}  # noqa: E731
    wh.commit({"extracted": [wh.stage(FakeDF([row("u1")]), "extracted")]})
    wh.commit({"extracted": [wh.stage(FakeDF([row("u2")]), "extracted")]})
    assert [r["url"] for r in wh.read(None, "runs", snapshot_id=1).rows] == ["u1"]
    assert len(wh.read(None, "metrics").rows) == 2
    assert seen == [("runs", ["u1"]), ("metrics", ["u1", "u2"])]

"""The daily ETL pipeline: files/db-tables → STG → DWH (SCD) → report.

Reproduces the reference lifecycle (etl.py:132-284, main.py:14-18):

    from_file   : discover → stage (truncate-and-load) → watermark guard
                  → SCD merge (stg doubles as the delete snapshot for
                  file-fed SCD2 dims) → run log → archive
    from_database (here: from_table_snapshot) : incremental extract via
                  watermark predicate + full key snapshot for delete
                  detection → same SCD path
    mart_update : fraud_report() increment appended to the report

The steps log into one buffer of run-log rows (the reference logs each
step with the row count of its SQL statement, etl.py:108-130);
run_daily writes the buffer in one job just before the commit. The
counts come from the footers of the files each write added, so they add
no Spark job either.

Storage is a three-layer parquet warehouse (stg/dwh/rep) with versioned
tables. SCD merges read and logically overwrite the same table; parquet
can't do that in-place, so Warehouse.overwrite materializes a new
immutable version dir and flips a pointer file — the "careful
write-read-same-path handling" SURVEY §4.2 calls out, with no window
where the table is absent. A per-run write-ahead journal plus a commit
manifest (Warehouse.begin_run/commit_run/recover) gives the reference's
multi-table commit semantics (database.py:34-40): a crash anywhere in
run_daily rolls back to the last committed run boundary.

Deliberate deviations from the reference (SURVEY §7 quirks list):
- an already-loaded file (watermark guard) skips the whole batch; the
  reference would still run SCD against the now-empty stage and
  tombstone every key (etl.py:150-177 with empty stg).
- archive() is explicit after commit, not a __del__ side effect.

Scale notes: at 100 TB the fact table is the only big table; it flows
through scd1_merge whose join against the daily delta broadcasts the
delta side. Partition dwh fact parquet by create_dt date (done here via
partitionBy) so the report's watermark filter prunes partitions.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .mapping import MAPPINGS, TableMapping
from .operators.scd import scd1_merge, scd2_merge
from .plans.fraud import fraud_report
from .sources import files as fsrc
from .state import RunLog, RunRows, WatermarkStore

FILE_TEMPLATES = ["transactions_*.txt", "passport_blacklist_*.xlsx", "terminals_*.xlsx",
                  "transactions_*.csv", "passport_blacklist_*.csv", "terminals_*.csv"]


def _atomic_write(path: str, data: str) -> None:
    """Durable atomic small-file write: tmp + fsync + rename + dir fsync."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(data)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    try:
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        os.fsync(dfd)
        os.close(dfd)
    except OSError:  # pragma: no cover - platform without dir fsync
        pass


def _link_tree(src: str, dst: str) -> None:
    """Hardlink every data file under ``src`` into ``dst`` (metadata-only
    copy — parquet files are immutable once written, so versions can
    share them). Marker/checksum files (``_SUCCESS``, ``.*.crc``) are
    skipped: Spark ignores them on read, and a later writer would
    truncate the shared inode in place."""
    for root, _dirs, fs in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tgt, exist_ok=True)
        for f in fs:
            if f.startswith(("_", ".")):
                continue
            os.link(os.path.join(root, f), os.path.join(tgt, f))


class Warehouse:
    """Three-layer parquet warehouse with VERSIONED tables.

    Each table directory holds immutable version subdirs (``v000001``,
    ``v000002``, ...) plus a ``_CURRENT`` pointer file naming the live
    one. Writers materialize a complete new version, then flip the
    pointer with an atomic rename — there is no instant at which the
    table doesn't exist (the previous rmtree→rename swap had exactly
    that crash window), and a reader holding the old pointer keeps a
    consistent snapshot. Appends hardlink the current version's files
    into the new version (metadata-only) and add the increment's files
    beside them. This is the local-filesystem expression of the
    manifest-of-immutable-files design Delta/Iceberg use on object
    storage; on a real cluster you'd swap this class for a Delta/Iceberg
    table and keep every call site unchanged.

    Bookkeeping costs no Spark job of its own. :meth:`overwrite` and
    :meth:`append` return the rows written, summed from the footers of
    the files they added.
    A version records its schema in a ``_SCHEMA`` marker whenever the
    writer knows it without inference (an unpartitioned overwrite, an
    append that creates the table or adds the same columns to a version
    that records them, an adopt of a version that records them, any
    version without data files), so :meth:`read` starts no
    schema-inference job.
    Partitioned versions with data keep inference, which types the
    partition columns from their directory names.

    Multi-table atomicity (the reference's single ``conn.commit`` per
    run spanning all tables — database.py:34-40, etl.py:127-130) comes
    from a write-ahead journal: :meth:`begin_run` records each table's
    pre-run version plus the small meta files in
    ``meta/commits/<run_id>.inprogress.json``; :meth:`commit_run`
    snapshots the committed versions to ``meta/commits/<run_id>.json``
    and removes the journal; :meth:`recover` rolls every pointer (and
    the meta files) back to the journal's pre-run state — so a crash
    anywhere inside ``run_daily`` restores the exact last-committed run
    boundary instead of leaving tables at mixed run states.

    Commit manifests double as TIME TRAVEL: versions referenced by the
    last ``retain_commits`` committed runs are retained (hardlinked
    files make this near-free), and :meth:`read_at` reads any table as
    of a retained run's commit — the Delta ``VERSION AS OF`` idiom.
    Older versions are vacuumed as commits land.
    """

    def __init__(self, spark: SparkSession, root: str, retain_commits: int = 2):
        self.spark = spark
        self.root = root
        self.retain_commits = max(1, retain_commits)
        self._journal: dict | None = None

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.root, layer, table)

    # -- version plumbing ---------------------------------------------------

    @staticmethod
    def _vdir(p: str, v: int) -> str:
        return os.path.join(p, f"v{v:06d}")

    def _current(self, p: str) -> int | None:
        """Live version of the table at ``p``, or None if the table
        doesn't exist."""
        cur = os.path.join(p, "_CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as fh:
            return int(fh.read().strip())

    def _set_current(self, layer: str, table: str, v: int, pre: int) -> None:
        """Flip the pointer to ``v``; ``pre`` is the version that was
        live before the caller staged ``v`` (0 = table didn't exist) —
        passed explicitly because by flip time the new version dir
        already exists and can't be re-derived."""
        p = self.path(layer, table)
        key = f"{layer}/{table}"
        if self._journal is not None and key not in self._journal["pre"]:
            # first touch inside this run: journal the rollback point.
            # The partition spec is journaled too — overwrite() rewrites
            # _PARTITION after the pointer flip, so a crashed
            # layout-changing run would otherwise leave a stale spec that
            # later append()/compact() silently resolve against the
            # rolled-back data (the mixed-layout hazard _PARTITION
            # exists to prevent). _set_current runs BEFORE overwrite's
            # _PARTITION write, so the file still holds pre-run content.
            self._journal["pre"][key] = pre
            pf = os.path.join(p, "_PARTITION")
            self._journal.setdefault("part_pre", {})[key] = (
                open(pf).read() if os.path.exists(pf) else None
            )
            self._flush_journal()
        _atomic_write(os.path.join(p, "_CURRENT"), str(v))
        # keep the live version, (inside a run) the journaled rollback
        # version, and anything a retained commit still references —
        # everything else is unreachable
        keep = {v} | self._retained().get(key, set())
        if self._journal is not None:
            keep.add(self._journal["pre"].get(key, 0))
        self._prune_versions(p, keep)

    # -- partition-spec metadata -------------------------------------------
    # The layout a table was created with is TABLE metadata, not per-call
    # caller discipline: append() without the right partition_by would mix
    # root-level files into a partition-dir tree, and compact() would
    # silently flatten it. overwrite() records the spec once (_PARTITION
    # next to _CURRENT); append/compact resolve it automatically and
    # reject a conflicting explicit spec.

    def _partition_spec(self, layer: str, table: str) -> list[str] | None:
        f = os.path.join(self.path(layer, table), "_PARTITION")
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            cols = fh.read().strip()
        return cols.split(",") if cols else None

    def _resolve_partition_by(
        self, layer: str, table: str, partition_by: list[str] | None
    ) -> list[str] | None:
        stored = self._partition_spec(layer, table)
        if partition_by is None:
            return stored
        if stored is not None and list(partition_by) != stored:
            raise ValueError(
                f"{layer}.{table} was created partitioned by {stored}; "
                f"got partition_by={list(partition_by)} — layout changes "
                f"require an explicit overwrite()"
            )
        return list(partition_by)

    def read(self, layer: str, table: str) -> DataFrame | None:
        p = self.path(layer, table)
        v = self._current(p)
        if v is None:
            return None
        return self._read_vdir(self._vdir(p, v))

    def table_bytes(self, layer: str, table: str) -> int | None:
        """Total data-file bytes of the CURRENT version — driver-side
        filesystem metadata only, no Spark job (the manifest-size read
        the cost-based probe-filter switch keys off: dedup_index /
        media_index ingest enable their static scan filters only when
        the ledger is big enough that skipped row groups repay the
        filters' fixed collect latency). None if the table doesn't
        exist."""
        p = self.path(layer, table)
        v = self._current(p)
        if v is None:
            return None
        total = 0
        for root, _dirs, fs in os.walk(self._vdir(p, v)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in fs
                if f.endswith(".parquet")
            )
        return total

    def read_rows(
        self, layer: str, table: str, columns: list[str] | None = None
    ) -> list[dict] | None:
        """The CURRENT version's rows as dicts, read on the driver with
        pyarrow — no Spark job. For small unpartitioned tables only
        (metadata rows, quantizer artifacts). None if the table doesn't
        exist."""
        import pyarrow.parquet as pq

        p = self.path(layer, table)
        v = self._current(p)
        if v is None:
            return None
        vdir = self._vdir(p, v)
        return [
            row
            for f in sorted(self._parquet_files(vdir))
            for row in pq.read_table(
                os.path.join(vdir, f), columns=columns
            ).to_pylist()
        ]

    @staticmethod
    def _recorded_schema(vdir: str) -> StructType | None:
        """The schema a version's writer recorded in its ``_SCHEMA``
        marker, or None when it recorded none."""
        sf = os.path.join(vdir, "_SCHEMA")
        if not os.path.exists(sf):
            return None
        with open(sf) as fh:
            return StructType.fromJson(json.load(fh))

    def _read_vdir(self, vdir: str) -> DataFrame:
        """Read one version directory, with the schema its writer
        recorded in ``_SCHEMA`` when there is one. That read starts no
        Spark job; schema inference (the fallback, for partitioned
        versions and versions written before markers) runs one. A
        version holding ZERO data files (an empty PARTITIONED write
        emits no parquet at all — e.g. a corpus whose train split gated
        out) always carries the marker, because inference would fail."""
        schema = self._recorded_schema(vdir)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(vdir)

    def _mark_schema(
        self, tmp: str, df: DataFrame, partition_by: list[str] | None,
        known: StructType | None,
    ) -> None:
        """Write the staged version's ``_SCHEMA`` marker. A version
        holding no data files records ``df``'s schema. A partitioned
        version with files records none: inference types its partition
        columns from the directory names (a bigint ``cid`` reads back as
        int, ``timestamp_ntz`` as ``timestamp``), and a recorded schema
        would change those types. Any other version records ``known``,
        the schema the writer has without inference, if there is one."""
        if not self._parquet_files(tmp):
            known = df.schema
        elif partition_by:
            known = None
        if known is not None:
            _atomic_write(os.path.join(tmp, "_SCHEMA"), known.json())

    @staticmethod
    def _parquet_files(d: str) -> set[str]:
        return {
            os.path.relpath(os.path.join(r, f), d)
            for r, _d, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        }

    def _write_counted(
        self, df: DataFrame, mode: str, partition_by: list[str] | None, path: str
    ) -> int:
        """Write ``df`` as parquet into ``path`` and return the rows
        written, summed from the footers of the files the write added —
        driver-side metadata reads, not a second Spark job. (An
        ``Observation`` would count in the write job, but on Spark 4.1 it
        leaves the session unserializable, and any closure capturing the
        session then fails: MLlib's LogisticRegressionModel.transform
        does, through its training summary.)"""
        import pyarrow.parquet as pq

        before = self._parquet_files(path)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in self._parquet_files(path) - before
        )

    # -- writers ------------------------------------------------------------

    def overwrite(
        self,
        layer: str,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_files: int = 16,
    ) -> int:
        """Materialize a complete new version then flip the pointer —
        safe when df reads the version being replaced (the SCD
        recompute pattern): the old version's files are untouched.

        ``zorder_by`` lays the new version out z-ordered on those
        columns (operators/layout.zorder_layout): range-partitioned on
        (partition columns, Morton key) and sorted the same way, so
        each data file's min/max stats cover a tight multi-column box
        — combined with ``partition_by`` this gives a hypertable both
        partition pruning on its date column AND file-level stats
        pruning inside each partition. Layout-only: appends are not
        re-ordered (run compact + a z-ordered overwrite periodically)."""
        if zorder_by:
            from .operators.layout import zorder_layout

            df = zorder_layout(
                df, list(zorder_by), n_files=zorder_files,
                within=list(partition_by or []),
            )
        p = self.path(layer, table)
        cur = self._current(p) or 0
        v = cur + 1
        vdir = self._vdir(p, v)
        tmp = vdir + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        n = self._write_counted(df, "overwrite", partition_by, tmp)
        self._mark_schema(tmp, df, partition_by, df.schema)
        if os.path.exists(vdir):
            # Orphan from a crash between os.replace and _set_current's
            # journal write: any version > _CURRENT that no committed
            # manifest references is unreachable, so discard it — else
            # os.replace onto the non-empty dir raises ENOTEMPTY and
            # permanently blocks writes to this table.
            shutil.rmtree(vdir)
        os.replace(tmp, vdir)
        self._set_current(layer, table, v, pre=cur)
        # overwrite DEFINES the layout: record (or clear) the partition
        # spec so append/compact can resolve it without caller discipline
        _atomic_write(
            os.path.join(p, "_PARTITION"),
            ",".join(partition_by) if partition_by else "",
        )
        # Invalidate cached plans/file listings over the table: the SCD
        # merge persists intermediates, and Spark's CacheManager would
        # otherwise match a later run's structurally-equal plan to the
        # now-stale cached data (FAILED_READ_FILE on old part files).
        self.spark.catalog.refreshByPath(vdir)
        self.spark.catalog.refreshByPath(p)
        return n

    def append(self, layer: str, table: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Append as a new version: hardlink the current files, write
        the increment beside them (Spark part filenames are UUIDs — no
        collision), flip the pointer. The partition layout is resolved
        from the table's stored spec (recorded by overwrite), so callers
        normally omit ``partition_by``; passing one that conflicts with
        the stored layout raises instead of mixing root-level files
        into a partition-dir tree."""
        partition_by = self._resolve_partition_by(layer, table, partition_by)
        p = self.path(layer, table)
        cur = self._current(p)
        v = (cur or 0) + 1
        vdir = self._vdir(p, v)
        tmp = vdir + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        known = df.schema
        if cur is not None:
            _link_tree(self._vdir(p, cur), tmp)
            # the current version's recorded schema still describes the
            # union only when the increment has the same columns and types
            known = self._recorded_schema(self._vdir(p, cur))
            if known is not None and known.simpleString() != df.schema.simpleString():
                known = None
        n = self._write_counted(df, "append", partition_by, tmp)
        self._mark_schema(tmp, df, partition_by, known)
        if os.path.exists(vdir):
            # same crash-orphan case as overwrite(): unreachable stale dir
            shutil.rmtree(vdir)
        os.replace(tmp, vdir)
        self._set_current(layer, table, v, pre=cur or 0)
        self.spark.catalog.refreshByPath(vdir)
        self.spark.catalog.refreshByPath(p)
        return n

    def adopt(self, layer: str, table: str, src_layer: str, src_table: str) -> int:
        """Metadata-only publish: flip ``layer.table`` to a new version
        whose data files are HARDLINKS of ``src_layer.src_table``'s
        current version — no data is rewritten. This is how a staged
        table (built incrementally across several commits) becomes the
        served table in O(files) time: at 100 TB the final publish of a
        resumable export is a directory of hardlinks plus one pointer
        flip, not a second copy of the corpus. The source's partition
        spec is carried over so later append/compact resolve the right
        layout. Participates in the run journal like any write."""
        sp = self.path(src_layer, src_table)
        sv = self._current(sp)
        if sv is None:
            raise ValueError(
                f"adopt: source table {src_layer}.{src_table} does not exist"
            )
        p = self.path(layer, table)
        cur = self._current(p) or 0
        v = cur + 1
        vdir = self._vdir(p, v)
        tmp = vdir + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        _link_tree(self._vdir(sp, sv), tmp)
        # _link_tree skips marker files; the adopted version holds the
        # source's files, so the source's _SCHEMA describes it too (and
        # a source holding ZERO parquet files would fail inference)
        src_schema = os.path.join(self._vdir(sp, sv), "_SCHEMA")
        if os.path.exists(src_schema):
            shutil.copyfile(src_schema, os.path.join(tmp, "_SCHEMA"))
        if os.path.exists(vdir):
            shutil.rmtree(vdir)
        os.replace(tmp, vdir)
        self._set_current(layer, table, v, pre=cur)
        spec = self._partition_spec(src_layer, src_table)
        _atomic_write(
            os.path.join(p, "_PARTITION"), ",".join(spec) if spec else ""
        )
        self.spark.catalog.refreshByPath(vdir)
        self.spark.catalog.refreshByPath(p)
        return v

# -- multi-table run transaction ----------------------------------------

    _META_FILES = ("meta/watermarks.json",)

    def _commits_dir(self) -> str:
        return os.path.join(self.root, "meta", "commits")

    def commits(self) -> list[int]:
        """Committed run_ids, oldest first."""
        cj = self._commits_dir()
        if not os.path.isdir(cj):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(cj)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _manifest(self, run_id: int) -> dict:
        with open(os.path.join(self._commits_dir(), f"{run_id}.json")) as fh:
            return json.load(fh)

    def _retained(self) -> dict[str, set[int]]:
        """key -> versions still referenced by the last retain_commits
        committed manifests (the time-travel retention set)."""
        out: dict[str, set[int]] = {}
        for rid in self.commits()[-self.retain_commits:]:
            for key, v in self._manifest(rid)["tables"].items():
                if v is not None:
                    out.setdefault(key, set()).add(v)
        return out

    def read_at(self, layer: str, table: str, run_id: int) -> DataFrame | None:
        """Time travel: the table exactly as of ``run_id``'s commit
        (Delta's ``VERSION AS OF``). Only the last ``retain_commits``
        runs are retained — older versions have been vacuumed and raise
        a clear error rather than returning wrong data."""
        manifest = self._manifest(run_id)  # KeyError/IOError if never committed
        v = manifest["tables"].get(f"{layer}/{table}")
        if v is None:
            return None
        vdir = self._vdir(self.path(layer, table), v)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"{layer}/{table}@run{run_id} (v{v}) was vacuumed: only the "
                f"last {self.retain_commits} commits are retained"
            )
        return self._read_vdir(vdir)

    def _flush_journal(self) -> None:
        j = self._journal
        _atomic_write(
            os.path.join(self._commits_dir(), f"{j['run_id']}.inprogress.json"),
            json.dumps(j, indent=1, sort_keys=True),
        )

    def _tables(self):
        # enumerate layers from disk, not a hardcoded list — extension
        # layers (e.g. the dedup band index's "index") must appear in
        # commit manifests or their versions are invisible to
        # recover()/read_at() and unprotected from retention pruning
        for layer in sorted(os.listdir(self.root)):
            if layer == "meta" or not os.path.isdir(os.path.join(self.root, layer)):
                continue
            d = os.path.join(self.root, layer)
            for t in sorted(os.listdir(d)):
                if os.path.isdir(os.path.join(d, t)):
                    yield layer, t

    def begin_run(self, run_id: int) -> None:
        """Open the run's write-ahead journal: per-table rollback
        versions are recorded lazily on first touch (_set_current);
        the small driver-side meta files (watermarks) and the run-log
        file set are snapshotted up front so recover() can restore
        them byte-exactly.

        Refuses while a journal of an uncommitted run is on disk: that
        journal's rollback points predate this run, so a later
        recover() would undo this run's committed writes. Call
        :meth:`recover` first."""
        cj = self._commits_dir()
        stale = sorted(
            f for f in os.listdir(cj) if f.endswith(".inprogress.json")
        ) if os.path.isdir(cj) else []
        if stale:
            raise RuntimeError(
                f"run {stale[0][:-len('.inprogress.json')]} was begun and "
                f"never committed ({os.path.join(cj, stale[0])}); call "
                f"Warehouse.recover() before beginning run {run_id}"
            )
        files: dict[str, str | None] = {}
        for rel in self._META_FILES:
            fp = os.path.join(self.root, rel)
            files[rel] = open(fp).read() if os.path.exists(fp) else None
        log_dir = os.path.join(self.root, "meta", "run_log")
        log_files = sorted(
            os.path.relpath(os.path.join(r, f), log_dir)
            for r, _d, fs in os.walk(log_dir)
            for f in fs
        ) if os.path.isdir(log_dir) else []
        self._journal = {
            "run_id": run_id,
            "pre": {},
            "files": files,
            "run_log_files": log_files,
        }
        self._flush_journal()

    def commit_run(self, run_id: int) -> None:
        """The multi-table commit point (reference database.py:34-40:
        one conn.commit spans every table of the run): snapshot all
        live versions into meta/commits/<run_id>.json, then drop the
        journal. Until this rename lands, recover() rolls the whole
        run back; after it, the run is durable as a unit. Old versions
        superseded in this run are pruned afterwards (data files they
        share with the live version survive via hardlinks)."""
        j = self._journal
        assert j is not None and j["run_id"] == run_id
        manifest = {
            "run_id": run_id,
            "tables": {
                f"{layer}/{t}": self._current(self.path(layer, t))
                for layer, t in self._tables()
            },
        }
        _atomic_write(
            os.path.join(self._commits_dir(), f"{run_id}.json"),
            json.dumps(manifest, indent=1, sort_keys=True),
        )
        ip = os.path.join(self._commits_dir(), f"{run_id}.inprogress.json")
        if os.path.exists(ip):
            os.remove(ip)
        self._journal = None
        # vacuum: drop versions no retained commit references
        retained = self._retained()
        for key in manifest["tables"]:
            layer, t = key.split("/", 1)
            self._prune_versions(self.path(layer, t), retained.get(key, set()))

    def _prune_versions(self, p: str, keep: set[int] | None = None) -> None:
        cur = self._current(p)
        if cur is None:
            return
        keep_names = {f"v{k:06d}" for k in (keep or set()) | {cur}}
        for name in os.listdir(p):
            if (
                name.startswith("v")
                and not name.endswith(".__tmp__")
                and name not in keep_names
            ):
                full = os.path.join(p, name)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)

    def recover(self) -> int | None:
        """Roll back a crashed run to the last committed boundary.
        Called at run_daily start; returns the rolled-back run_id or
        None if the previous run committed cleanly. Every pointer the
        crashed run flipped is flipped back (the pre-run version dirs
        are immutable and still present), meta files are restored
        byte-exactly, and run-log files the crashed run appended are
        removed — the warehouse is exactly as of the last commit."""
        import glob as _glob

        cj = self._commits_dir()
        inprog = sorted(_glob.glob(os.path.join(cj, "*.inprogress.json")))
        if not inprog:
            return None
        with open(inprog[-1]) as fh:
            j = json.load(fh)
        retained = self._retained()
        for key, pre in j["pre"].items():
            layer, t = key.split("/", 1)
            p = self.path(layer, t)
            if pre == 0:
                # table born in the crashed run: remove it entirely
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
            else:
                _atomic_write(os.path.join(p, "_CURRENT"), str(pre))
                # restore the journaled partition spec: the crashed run
                # may have overwritten _PARTITION with a new layout
                if key in j.get("part_pre", {}):
                    spec = j["part_pre"][key]
                    pf = os.path.join(p, "_PARTITION")
                    if spec is None:
                        if os.path.exists(pf):
                            os.remove(pf)
                    else:
                        _atomic_write(pf, spec)
                self._prune_versions(p, retained.get(key, set()))
            self.spark.catalog.refreshByPath(p)
        for rel, content in j["files"].items():
            fp = os.path.join(self.root, rel)
            if content is None:
                if os.path.exists(fp):
                    os.remove(fp)
            else:
                _atomic_write(fp, content)
        log_dir = os.path.join(self.root, "meta", "run_log")
        if os.path.isdir(log_dir):
            keep = set(j.get("run_log_files", []))
            for r, _d, fs in os.walk(log_dir):
                for f in fs:
                    full = os.path.join(r, f)
                    if os.path.relpath(full, log_dir) not in keep:
                        os.remove(full)
            self.spark.catalog.refreshByPath(log_dir)
        for ip in inprog:
            os.remove(ip)
        return j["run_id"]

    def compact(
        self,
        layer: str,
        table: str,
        target_mb: int = 128,
        partition_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction: rewrite the table into
        ceil(bytes / target_mb) files via the same swap-on-overwrite
        path. Daily appends (and per-batch streaming sinks) accrete
        small files that tax scan planning and the file-listing step at
        scale; periodic compaction to ~HDFS-block-sized files restores
        scan efficiency. Returns the new file count.

        The partition layout is resolved from the table's stored spec
        (recorded by overwrite), so a partitioned table (e.g. the IVF
        index's cid-partitioned ivf_assign) compacts correctly with no
        caller discipline: rows re-cluster by the partition key before
        a partitioned overwrite, each partition directory collapses to
        one file, and the layout — and every probe's dynamic partition
        pruning — survives the rewrite. (``target_mb`` applies to the
        unpartitioned path; the partitioned path targets one file per
        partition directory, which is the right granularity when
        partitions are value-bounded like cid/event_date.) A plain
        coalesce would silently flatten the directory tree — resolving
        the spec here is what prevents that.

        ``zorder_by`` restores Z-ORDER during the rewrite (the
        Delta/Iceberg OPTIMIZE ZORDER maintenance step): appends land
        unordered, so an incrementally-grown z table's file stats
        degrade until a compaction re-clusters it on (partition
        columns, Morton key)."""
        import math

        partition_by = self._resolve_partition_by(layer, table, partition_by)
        p = self.path(layer, table)
        vdir = self._vdir(p, self._current(p))
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
        if zorder_by:
            self.overwrite(
                layer, table, self.read(layer, table),
                partition_by=partition_by, zorder_by=list(zorder_by),
                zorder_files=n_files,
            )
        elif partition_by:
            df = self.read(layer, table).repartition(
                *[F.col(c) for c in partition_by]
            )
            self.overwrite(layer, table, df, partition_by=partition_by)
        else:
            df = self.read(layer, table).coalesce(n_files)
            self.overwrite(layer, table, df)
        new_vdir = self._vdir(p, self._current(p))
        return sum(
            1
            for root, _, fs in os.walk(new_vdir)
            for f in fs
            if f.endswith(".parquet")
        )


def _rename_to_target(df: DataFrame, m: TableMapping) -> DataFrame:
    """P2 positional source→target rename (reference etl.py:286-295)."""
    cols = [F.col(s).alias(t) for s, t in zip(m.stg_columns, m.dwh_columns)]
    extra = [c for c in df.columns if c not in m.stg_columns]
    return df.select(*cols, *[F.col(c) for c in extra])


def _merge_to_dwh(
    wh: Warehouse,
    m: TableMapping,
    stg: DataFrame,
    src_keys: DataFrame | None,
    now=None,
    today=None,
) -> int:
    """SCD dispatch (reference etl.py:158-177): 1 → scd1, 2 → scd2
    (delete+update), both + insert — all inside one functional merge."""
    dwh = wh.read("dwh", m.dwh_table)
    cols = list(m.dwh_columns)
    keys = list(m.dwh_keys)
    # a first load merges into an empty table, derived from stg with
    # limit(0): the optimizer makes it an empty local relation, which
    # runs no task (an empty createDataFrame would start Python workers)
    if m.scd == 1:
        if dwh is None:
            dwh = stg.select(*cols, "create_dt").limit(0).select(
                "*",
                F.lit(None).cast("timestamp_ntz").alias("update_dt"),
                F.lit(None).cast("timestamp_ntz").alias("processed_dt"),
            )
        merged = scd1_merge(dwh, stg, keys, cols, now=now)
    elif m.scd == 2:
        if dwh is None:
            dwh = stg.select(*cols).limit(0).select(
                "*",
                F.lit(None).cast("timestamp_ntz").alias("effective_from"),
                F.lit(None).cast("timestamp_ntz").alias("effective_to"),
                F.lit(False).alias("deleted_flg"),
                F.lit(None).cast("timestamp_ntz").alias("processed_dt"),
            )
        merged = scd2_merge(dwh, stg, keys, cols, src_keys=src_keys, now=now, today=today)
    else:
        raise ValueError(f"unsupported scd mode {m.scd}")
    return wh.overwrite("dwh", m.dwh_table, merged)


def ingest_file(spark: SparkSession, wh: Warehouse, wm: WatermarkStore, log: RunLog,
                f: fsrc.SourceFile, run_id: int, now=None, today=None,
                do_archive: bool = False) -> bool:
    """One file batch: stage → guard → SCD merge → log (reference
    etl.py:132-180). Returns False when the watermark guard skipped it."""
    m = MAPPINGS[f.name]
    if not wm.should_load(f.name, f.dt):
        log.append(run_id, f.name, inserted=0)
        return False
    kw = {"decimal_comma_cols": list(m.decimal_comma_cols)} if f.ext in ("txt", "csv") else {}
    raw = fsrc.read_any(spark, f, **kw)
    for c, t in zip(m.stg_columns, m.stg_types):
        raw = raw.withColumn(c, F.col(c).cast(t))
    stg = _rename_to_target(fsrc.with_batch_date(raw, f), m)
    n_stg = wh.overwrite("stg", f.name, stg)  # S9 truncate-and-load
    stg = wh.read("stg", f.name)
    # File-fed SCD2 dims: the daily file IS the full snapshot, so it is
    # also the delete-detection key set (reference etl.py:165 passes the
    # stg table as stg_del).
    src_keys = stg.select(*m.dwh_keys) if m.scd == 2 else None
    n_dwh = _merge_to_dwh(wh, m, stg, src_keys, now=now, today=today)
    wm.advance(f.name, f.dt)
    log.append(run_id, f.name, inserted=n_stg)
    log.append(run_id, m.dwh_table, inserted=n_dwh)
    if do_archive:
        fsrc.archive(f)
    return True


def _merge_staged(wh: Warehouse, wm: WatermarkStore, log: RunLog, m: TableMapping,
                  name: str, stg: DataFrame, src_keys: DataFrame | None, run_id: int,
                  now, today) -> None:
    """The DB-source tail shared by both extract paths: stage the delta,
    SCD-merge the staged table, advance the watermark to the delta's
    latest change and log both tables."""
    n_stg = wh.overwrite("stg", name, stg)
    staged = wh.read("stg", name)
    n_dwh = _merge_to_dwh(wh, m, staged, src_keys, now=now, today=today)
    # max(create_dt) as a top-1 sort: one Spark job, where agg() runs two
    newest = staged.select("create_dt").orderBy(F.desc_nulls_last("create_dt")).first()
    if newest is not None and newest[0] is not None:
        wm.advance(name, newest[0])
    log.append(run_id, name, inserted=n_stg)
    log.append(run_id, m.dwh_table, inserted=n_dwh)


def ingest_table_snapshot(spark: SparkSession, wh: Warehouse, wm: WatermarkStore,
                          log: RunLog, name: str, src: DataFrame, run_id: int,
                          now=None, today=None) -> None:
    """DB-source batch (reference etl.py:219-284): incremental rows via
    ``COALESCE(update_dt, create_dt) > watermark`` (S6 — the filter
    pushes into the source scan), plus the full key snapshot (S7) for
    delete detection."""
    m = MAPPINGS[name]
    last = wm.get(name)
    eff_dt = F.coalesce(F.col("update_dt"), F.col("create_dt"))
    delta = (
        src.where(eff_dt > F.lit(last.isoformat(sep=" ")).cast("timestamp_ntz"))
        .select(*m.stg_columns, eff_dt.alias("create_dt"))
    )
    stg = _rename_to_target(delta, m)
    src_keys = src.selectExpr(
        *[f"{s} AS {t}" for s, t in zip(m.stg_keys, m.dwh_keys)]
    )
    _merge_staged(wh, wm, log, m, name, stg, src_keys if m.scd == 2 else None,
                  run_id, now, today)


def ingest_database(spark: SparkSession, wh: Warehouse, wm: WatermarkStore,
                    log: RunLog, name: str, url: str, table: str, run_id: int,
                    driver: str | None = None, ts_literal=None,
                    now=None, today=None, **jdbc_kw) -> None:
    """DB-source batch over a real JDBC connection (reference
    etl.py:190-209, database.py:49-68): the watermark predicate is part
    of the source-side SQL — the database evaluates
    ``COALESCE(update_dt, create_dt) > <watermark>`` and only the delta
    ever crosses the wire (S6) — plus the full key snapshot (S7, keys
    only) for delete detection. From staging on, identical to the
    snapshot path."""
    from .sources import jdbc as jsrc

    m = MAPPINGS[name]
    kw = dict(jdbc_kw)
    if ts_literal is not None:
        kw["ts_literal"] = ts_literal
    delta = jsrc.read_incremental(
        spark, url, table, m.stg_columns, wm.get(name), driver=driver, **kw
    )
    stg = _rename_to_target(delta, m)
    if m.scd == 2:
        src_keys = jsrc.read_keys(spark, url, table, m.stg_keys, driver=driver).selectExpr(
            *[f"{s} AS {t}" for s, t in zip(m.stg_keys, m.dwh_keys)]
        )
    else:
        src_keys = None
    _merge_staged(wh, wm, log, m, name, stg, src_keys, run_id, now, today)


def mart_update(spark: SparkSession, wh: Warehouse, log: RunLog, run_id: int, now=None) -> int:
    """DWH → accumulating fraud report (reference etl.py:409-414)."""
    now = now if now is not None else F.current_timestamp().cast("timestamp_ntz")
    report = wh.read("rep", "rep_fraud")
    tables = {
        t: wh.read("dwh", t)
        for t in ("fact_transaction", "dim_cards_hist", "dim_accounts_hist",
                  "dim_clients_hist", "dim_terminals_hist", "fact_passport_blacklist")
    }
    missing = [t for t, df in tables.items() if df is None]
    if missing:
        raise RuntimeError(f"mart_update before tables exist: {missing}")
    if report is None:
        # the first report is empty: an empty local relation (limit 0),
        # which runs no task
        report = tables["fact_transaction"].select(
            F.lit(None).cast("date").alias("report_dt")
        ).limit(0)
    inc = fraud_report(
        tables["fact_transaction"], tables["dim_cards_hist"],
        tables["dim_accounts_hist"], tables["dim_clients_hist"],
        tables["dim_terminals_hist"], tables["fact_passport_blacklist"],
        report, now,
    )
    n = wh.append("rep", "rep_fraud", inc)
    log.append(run_id, "rep_fraud", inserted=n)
    return n


def run_daily(spark: SparkSession, data_dir: str, warehouse_dir: str,
              db_tables: dict[str, DataFrame] | None = None,
              jdbc_tables: dict[str, dict] | None = None,
              now=None, today=None, do_archive: bool = False) -> int:
    """One scheduled run (reference main.py:14-18 order: files → db
    tables → mart). Returns the run_id.

    ``jdbc_tables`` maps mapping-name → kwargs for ingest_database
    (at least ``url`` and ``table``) for sources read over a live JDBC
    connection; ``db_tables`` remains the DataFrame-snapshot form."""
    wh = Warehouse(spark, warehouse_dir)
    # Roll back any run that crashed mid-swap: the warehouse returns to
    # the last committed multi-table boundary before new work starts.
    wh.recover()
    wm = WatermarkStore(os.path.join(warehouse_dir, "meta", "watermarks.json"))
    log = RunLog(spark, os.path.join(warehouse_dir, "meta", "run_log"))
    run_id = log.next_run_id()
    wh.begin_run(run_id)
    # the steps log into one buffer, written in one job before the
    # commit (recover() removes the log files of a run that crashed)
    rows = RunRows(log)
    for f in fsrc.discover(data_dir, FILE_TEMPLATES):
        ingest_file(spark, wh, wm, rows, f, run_id, now=now, today=today, do_archive=do_archive)
    for name, src in (db_tables or {}).items():
        ingest_table_snapshot(spark, wh, wm, rows, name, src, run_id, now=now, today=today)
    for name, kw in (jdbc_tables or {}).items():
        ingest_database(spark, wh, wm, rows, name, run_id=run_id, now=now, today=today, **kw)
    mart_update(spark, wh, rows, run_id, now=now)
    rows.write()
    wh.commit_run(run_id)
    return run_id

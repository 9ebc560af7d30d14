"""Snapshot-versioned MERGE table: the package's one MERGE sink.

The container ships no Delta/Iceberg jars, so ``MERGE INTO`` is not
available as a table-format primitive. This table provides the same
contract the way those formats do under the hood -- bucket-scoped
copy-on-write plus **immutable snapshots with time travel**:
append-only data files + a manifest per version that says which files
are live:

- data files are append-only: version ``K`` writes ONLY the affected
  buckets' new files under ``data/v{K}/`` (partitioned by ``__bucket``
  inside the version dir); nothing is ever overwritten;
- ``_manifests/v{K}.json`` maps every bucket to the version dir holding
  its live data (affected buckets point at ``v{K}``, untouched buckets
  keep their old pointer -- the O(n_buckets) metadata commit);
- ``_current`` names the latest version; commit order is
  files -> manifest -> pointer, so a crash mid-merge leaves the old
  version intact and the half-written files invisible (the atomicity a
  format's log commit provides);
- ``read(version=...)`` reconstructs ANY retained snapshot: group the
  manifest's buckets by version dir, read each dir partition-pruned to
  its live buckets, union -- cost proportional to live data, not
  history;
- ``vacuum(keep_last=N)`` drops manifests older than the last N and
  deletes version dirs no kept manifest references (Iceberg's
  expire-snapshots);
- merges use optimistic concurrency: the version-numbered manifest is
  created O_EXCL and the pointer is re-checked against the merge's
  base version, so of two racing writers exactly one commits and the
  other gets ``ConcurrentWriteError`` (re-read + retry) -- the CAS a
  real format runs against its catalog.

Merge cost stays proportional to touched buckets; history cost is
bounded by vacuum policy. At 100 TB the manifest is still kilobytes
(n_buckets entries), and snapshot reads prune to live files exactly as
the current-version read does.

The reference has no table surface at all (its output is an in-memory
vector, MapReduceFramework.cpp:336-347); this is charter scope
(training-pipeline sinks).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

DEFAULT_N_BUCKETS = 64


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a snapshot after this merge's base was
    read; the caller must re-read and retry (optimistic concurrency)."""


class SnapshotMergeTable:
    """Bucket-partitioned MERGE table with immutable snapshot versions."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        n_buckets: int = DEFAULT_N_BUCKETS,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets

    # -- layout helpers ----------------------------------------------------

    def _bucket(self, df: DataFrame) -> DataFrame:
        # repartition on the bucket column before any partitionBy write:
        # without it every write task emits a file into every bucket dir
        # (tasks x buckets small files); with it each bucket is one
        # task's contiguous write -- the standard bucketed-layout shape
        # (and ~3x faster table builds at test scale)
        return df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*self.keys), F.lit(self.n_buckets)).cast("int"),
        ).repartition(self.n_buckets, F.col("__bucket"))

    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    def _schema_dir(self) -> str:
        return os.path.join(self.path, "_schemas")

    def _write_schema(self, version: int, bucketed: DataFrame) -> None:
        """Persist version ``version``'s LOGICAL schema (layout column
        dropped) as snapshot metadata -- what a format keeps in its
        snapshot log. Required to read a version whose live-bucket set
        is empty (an empty overwrite, or merges that emptied every
        bucket), and it is the read schema of ``data/v{version}``. Written
        before the manifest commit, so every committed version has one
        (vacuum and recovery never delete it); an orphan from a failed
        commit is harmless. The field list comes from the already
        analysed ``bucketed`` schema, so no plan is analysed again."""
        os.makedirs(self._schema_dir(), exist_ok=True)
        spath = os.path.join(self._schema_dir(), f"v{version}.json")
        tmp = spath + ".tmp"
        logical = StructType(
            [f for f in bucketed.schema.fields if f.name != "__bucket"]
        )
        with open(tmp, "w") as f:
            json.dump(logical.jsonValue(), f)
        os.replace(tmp, spath)

    def _load_schema(self, version: int) -> StructType:
        """The logical schema version ``version`` committed."""
        with open(os.path.join(self._schema_dir(), f"v{version}.json")) as f:
            return StructType.fromJson(json.load(f))

    def _write_version(self, version: int, bucketed: DataFrame) -> set[int]:
        """Write ``bucketed`` as ``data/v{version}`` plus its schema and
        return the buckets it holds, read from the ``__bucket=N`` dirs
        the write created (a partitioned write makes a dir only for a
        bucket that has rows), which costs no Spark job."""
        root = self._data_dir(version)
        bucketed.write.mode("overwrite").partitionBy("__bucket").parquet(root)
        self._write_schema(version, bucketed)
        return {
            int(n.split("=", 1)[1])
            for n in os.listdir(root)
            if n.startswith("__bucket=")
        }

    def _current_file(self) -> str:
        return os.path.join(self.path, "_current")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"v{version}")

    def current_version(self) -> int | None:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except OSError:
            return None

    def versions(self) -> list[int]:
        """Retained snapshot versions, ascending."""
        try:
            names = os.listdir(self._manifest_dir())
        except OSError:
            return []
        return sorted(
            int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def _load_manifest(self, version: int) -> dict[str, int]:
        with open(os.path.join(self._manifest_dir(), f"v{version}.json")) as f:
            return json.load(f)["buckets"]

    def _write_manifest(
        self, version: int, buckets: dict[str, int], base: int | None = None
    ) -> None:
        """Stage the version manifest (no visibility change yet).

        With ``base`` set the manifest file is created O_EXCL and the
        pointer is re-checked against base -- two writers racing to the
        same version number lose deterministically (exactly one os.open
        succeeds); the CAS a real format runs against its catalog.
        """
        os.makedirs(self._manifest_dir(), exist_ok=True)
        mpath = os.path.join(self._manifest_dir(), f"v{version}.json")
        payload = json.dumps({"version": version, "buckets": buckets})
        if base is not None:
            try:
                fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                raise ConcurrentWriteError(
                    f"version v{version} already committed by another "
                    f"writer (base was v{base}); re-read and retry"
                ) from None
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            if self.current_version() != base:
                os.remove(mpath)  # roll back our manifest; pointer untouched
                raise ConcurrentWriteError(
                    f"current advanced past base v{base} during commit; "
                    "re-read and retry"
                )
        else:
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, mpath)  # atomic on POSIX

    def _drop_manifest(self, version: int) -> None:
        try:
            os.remove(os.path.join(self._manifest_dir(), f"v{version}.json"))
        except OSError:
            pass

    def _swing_pointer(self, version: int) -> None:
        """Make ``version`` the visible snapshot (atomic rename)."""
        tmp_cur = self._current_file() + ".tmp"
        with open(tmp_cur, "w") as f:
            f.write(str(version))
        os.replace(tmp_cur, self._current_file())

    def _commit(
        self, version: int, buckets: dict[str, int], base: int | None = None
    ) -> None:
        """files -> manifest -> pointer: the crash-safe commit order."""
        self._write_manifest(version, buckets, base=base)
        self._swing_pointer(version)

    # -- public API --------------------------------------------------------

    def overwrite(self, df: DataFrame) -> None:
        """Create snapshot v0 (or a fresh full snapshot) from ``df``."""
        version = 0 if self.current_version() is None else self.current_version() + 1
        present = self._write_version(version, self._bucket(df))
        self._commit(version, {str(b): version for b in present})

    def merge(
        self,
        updates: DataFrame,
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    ) -> None:
        """MERGE ``updates`` as a NEW snapshot; prior versions stay
        readable. Only affected buckets' data is rewritten (into the new
        version dir); untouched buckets are carried by manifest pointer.
        """
        cur = self.current_version()
        if cur is None:
            if merge_fn is not None:
                raise ValueError(
                    f"SnapshotMergeTable at {self.path} does not exist; seed "
                    "it with overwrite() before merging with a custom "
                    "merge_fn"
                )
            self.overwrite(updates)
            return
        base, version, new_manifest = self._prepare_merge(updates, merge_fn)
        self._commit(version, new_manifest, base=base)

    def _prepare_merge(
        self,
        updates: DataFrame,
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    ) -> tuple[int, int, dict[str, int]]:
        """Write the merged data files for the NEXT version and return
        (base, version, manifest) WITHOUT committing -- the prepare
        phase of a (multi-table) transactional commit. Uncommitted
        version dirs are invisible (no manifest references them) and
        reclaimable."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"SnapshotMergeTable at {self.path} does not exist; seed "
                "it with overwrite() before staging a merge"
            )
        manifest = self._load_manifest(cur)
        # materialize the bucketed updates once: the affected-bucket
        # collect and the merge must see the SAME rows, or a
        # non-deterministic updates frame (rand keys, a directory that
        # gains files between actions) writes a bucket the manifest
        # never moves to the new version
        bucketed_updates = self._bucket(updates).localCheckpoint(eager=True)
        affected = [
            r["__bucket"]
            for r in bucketed_updates.select("__bucket").distinct().collect()
        ]
        existing = self._read_buckets(manifest, affected, version=cur)
        if merge_fn is None:
            merge_fn = self._upsert
        merged = merge_fn(existing, bucketed_updates.drop("__bucket"))
        version = cur + 1
        survivors = self._write_version(version, self._bucket(merged))
        new_manifest = dict(manifest)
        for b in affected:
            if b in survivors:
                new_manifest[str(b)] = version
            else:
                new_manifest.pop(str(b), None)  # merge emptied the bucket
        return cur, version, new_manifest

    def _upsert(self, existing: DataFrame, updates: DataFrame) -> DataFrame:
        # allowMissingColumns = schema evolution on merge: an update
        # batch may carry columns the table never saw (null-padded into
        # existing rows) and vice versa -- the additive evolution a
        # format's schema registry allows
        return existing.join(updates, self.keys, "left_anti").unionByName(
            updates, allowMissingColumns=True
        )

    def _read_buckets(
        self, manifest: dict[str, int], buckets: list[int], version: int
    ) -> DataFrame:
        """Read the given buckets at the manifest's version pointers,
        partition-pruned per version dir. Each dir is read with the
        schema its version stored (no parquet footer inference); dirs
        written before a schema evolution lack the newer columns, and
        unionByName null-pads them (read-time schema merge)."""
        by_version: dict[int, list[int]] = {}
        for b in buckets:
            v = manifest.get(str(b))
            if v is not None:
                by_version.setdefault(v, []).append(b)
        parts = [
            self.spark.read.schema(
                self._load_schema(v).add(StructField("__bucket", IntegerType()))
            )
            .parquet(self._data_dir(v))
            .filter(F.col("__bucket").isin(bs))
            .drop("__bucket")
            for v, bs in by_version.items()
        ]
        if not parts:
            # schema-only read for an empty selection: the snapshot
            # metadata is authoritative (and the ONLY source when the
            # table is empty -- zero data files anywhere)
            return self.spark.createDataFrame([], self._load_schema(version))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def compact(self) -> int:
        """Rewrite the CURRENT snapshot into one fresh version dir.

        After many merges the live table is scattered across version
        dirs (one pointer per bucket); reads stay partition-pruned but
        touch one dir per distinct pointer. Compaction collapses the
        scatter: materialize the current state as a new full snapshot
        (all bucket pointers -> the new dir), after which vacuum can
        expire every older version. The Iceberg rewrite-data-files
        action, expressed as overwrite(). Returns the new version."""
        self.overwrite(self.read())
        return self.current_version()

    def read(self, version: int | None = None) -> DataFrame:
        """The table AS OF ``version`` (default: current snapshot)."""
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"SnapshotMergeTable at {self.path} does not exist")
        manifest = self._load_manifest(v)
        return self._read_buckets(manifest, [int(b) for b in manifest], version=v)

    def changes(
        self, v_from: int, v_to: int, before_image: bool = False
    ) -> DataFrame:
        """Change data feed between two snapshots: one row per changed
        key with change_type in (insert, update, delete) plus the
        after-image columns (null for deletes). With ``before_image``,
        each value column additionally appears as ``{col}__before``
        (null for inserts) -- what a downstream incremental consumer
        (e.g. view maintenance, which must SUBTRACT an update's old
        contribution) needs beyond upsert replay.

        The diff never reads the whole table: data dirs are immutable,
        so a bucket whose manifest pointer is IDENTICAL in both
        snapshots holds byte-identical data and cannot contribute a
        change row. Both sides therefore read only the buckets whose
        pointer differs between the two manifests (file-granular change
        tracking -- the same trick a format's snapshot diff plays with
        its file lists), and the full outer join on the table keys
        shuffles only those buckets' rows: cost proportional to changed
        data, not table size. Rows whose non-key columns are unchanged
        are dropped.

        Duplicate-key rows (ingestion replays; the table never enforces
        uniqueness) pair by ROW IDENTITY, not key alone: each side
        numbers its rows per key (ordered by the value columns, so the
        pairing is deterministic) and the diff joins on (keys, occ).
        Two old copies vs two new copies of an updated key therefore
        yield exactly two update rows -- a key-only join would fan out
        2x2 and a delta consumer would double-apply the update. Surplus
        occurrences on one side become inserts/deletes, which is the
        correct multiset delta."""
        m_from = self._load_manifest(v_from)
        m_to = self._load_manifest(v_to)
        changed = sorted(
            int(b)
            for b in set(m_from) | set(m_to)
            if m_from.get(b) != m_to.get(b)
        )
        # Occurrence pairing without extra shuffles: each side folds to
        # ONE row per key -- __key = struct(key cols), whose plain ==
        # is null-safe key matching (container comparison treats NULL
        # fields as equal; a NULL key is a legitimate key value) and a
        # SORTED array of that key's value rows. The diff is then a
        # full-outer join on __key alone (the grouping exchange is
        # reused: __key is ALL the join's cluster keys) and a
        # scan-local zip_with that pairs the i-th old copy with the
        # i-th new copy -- value-sorted, so the pairing is
        # deterministic. Surplus copies pad as NULL structs and
        # classify as insert/delete: the correct multiset delta, at
        # exactly the two delta-sized exchanges the key-only diff had.
        def fold(df: DataFrame):
            vcols = [c for c in df.columns if c not in self.keys]
            return (
                df.groupBy(F.struct(*self.keys).alias("__key"))
                .agg(
                    F.sort_array(
                        F.collect_list(F.struct(*vcols))
                    ).alias("rows")
                ),
                vcols,
            )

        old_g, old_vcols = fold(
            self._read_buckets(m_from, changed, version=v_from)
        )
        new_g, value_cols = fold(
            self._read_buckets(m_to, changed, version=v_to)
        )
        old_g, new_g = old_g.alias("o"), new_g.alias("n")
        j = old_g.join(
            new_g, old_g["__key"] == new_g["__key"], "full_outer"
        ).select(
            F.coalesce(new_g["__key"], old_g["__key"]).alias("__key"),
            F.coalesce(old_g["rows"], F.array()).alias("o_rows"),
            F.coalesce(new_g["rows"], F.array()).alias("n_rows"),
        )
        pairs = j.select(
            "__key",
            F.explode(
                F.zip_with(
                    "o_rows",
                    "n_rows",
                    lambda o, n: F.struct(o.alias("o"), n.alias("n")),
                )
            ).alias("p"),
        )
        o_p, n_p = F.col("p.o"), F.col("p.n")
        # classify by PAIR-SIDE PRESENCE (zip_with pads the shorter
        # side with NULL structs); struct equality is the null-safe
        # all-columns unchanged test
        change = (
            F.when(o_p.isNull(), F.lit("insert"))
            .when(n_p.isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        out_cols = [F.col(f"__key.{k}").alias(k) for k in self.keys] + [
            n_p[c].alias(c) for c in value_cols
        ]
        if before_image:
            out_cols += [o_p[c].alias(f"{c}__before") for c in old_vcols]
        return (
            pairs.withColumn("change_type", change)
            .filter(
                (F.col("change_type") != "update") | ~(o_p == n_p)
            )
            .select("change_type", *out_cols)
        )

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Expire all but the last ``keep_last`` snapshots; delete
        version dirs no retained manifest references, and inside
        retained dirs delete bucket partitions no retained manifest
        points at (bucket-granular expiry -- REQUIRED for physical
        deletes: a merge that drops rows rewrites the affected buckets
        into the new version dir, so the old rows survive only in the
        old dir's now-unreferenced bucket partitions; removing them is
        what makes a right-to-be-forgotten delete physical, not just
        logical). ``keep_last <= 0`` is a no-op (a retention policy
        that keeps nothing would delete the live table). Returns
        removed versions.

        **Concurrent-reader contract** (same as Iceberg's
        expire-snapshots): vacuum does NOT coordinate with in-flight
        readers. ``read(version=v)`` raises once v's manifest is
        expired, and a DataFrame constructed *before* the vacuum over a
        since-expired snapshot may fail mid-scan (Spark plans file
        lists lazily, so the scan hits deleted paths) -- behavior for
        such readers is undefined, not merely an error guarantee.
        Readers that need a stable historical view pin it by retention:
        choose ``keep_last`` (or the transaction coordinator's
        ``retain_last_tx``) to cover every snapshot a reader may still
        hold, exactly as a catalog's snapshot-retention SLA does."""
        vs = self.versions()
        return self._vacuum_keep(vs[-keep_last:] if keep_last > 0 else vs)

    def _vacuum_keep(self, keep: Sequence[int]) -> list[int]:
        """Expire every snapshot NOT in ``keep`` (the policy-agnostic
        core: ``vacuum`` keeps a trailing count, a transaction
        coordinator keeps whatever its retained commit records still
        reference)."""
        vs = self.versions()
        keep = [v for v in vs if v in set(keep)]
        drop = [v for v in vs if v not in set(keep)]
        if not drop:
            return []
        live: set[tuple[int, int]] = set()  # (version dir, bucket)
        for v in keep:
            for b, vdir in self._load_manifest(v).items():
                live.add((vdir, int(b)))
        removed = []
        for v in drop:
            os.remove(os.path.join(self._manifest_dir(), f"v{v}.json"))
            removed.append(v)
        live_dirs = {vdir for vdir, _b in live}
        for v in set(vs) - set(keep):
            if v not in live_dirs:
                shutil.rmtree(self._data_dir(v), ignore_errors=True)
        # bucket-granular pass inside retained dirs
        for vdir in live_dirs:
            root = self._data_dir(vdir)
            try:
                parts = os.listdir(root)
            except OSError:
                continue
            for name in parts:
                if not name.startswith("__bucket="):
                    continue
                b = int(name.split("=", 1)[1])
                if (vdir, b) not in live:
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        return removed


class SnapshotTransaction:
    """Atomic multi-table commit across SnapshotMergeTables (the
    multi-table transaction a shared-catalog lakehouse provides).

    Two-phase protocol over a coordinator log:

    1. **prepare** -- each staged merge writes its table's next-version
       data files AND manifest (manifest created O_EXCL against the
       table's base, so a concurrent single-table writer conflicts
       here), but no ``_current`` pointer moves: nothing is visible.
    2. **commit point** -- one record ``_tx/tx{K}.json`` is created
       O_EXCL listing every (table, base, version). Its existence IS the
       transaction: created = committed, absent = aborted.
    3. **roll forward** -- every table's pointer is swung to its staged
       version. A crash between 2 and 3 leaves a committed-but-
       unswung transaction; ``recover()`` re-reads the last record and
       completes the swings (pointers are idempotent), so readers never
       observe table A at the new version with table B at the old one
       for longer than a recover() call.

    Failures before the commit point drop staged manifests and leave
    every table untouched (data dirs are unreferenced and reclaimable).
    This is exactly the write-ahead commit-record pattern; the fsync
    granularity of a catalog database is approximated by POSIX atomic
    rename/O_EXCL, consistent with the single-node commit story of the
    sibling classes.
    """

    def __init__(self, root: str, tables: dict[str, SnapshotMergeTable]):
        self.root = root
        self.tables = tables
        self._staged: dict[str, tuple[int, int, dict[str, int]]] = {}

    def _tx_dir(self) -> str:
        return os.path.join(self.root, "_tx")

    def _tx_ids(self) -> list[int]:
        try:
            names = os.listdir(self._tx_dir())
        except OSError:
            return []
        return sorted(
            int(n[2:-5]) for n in names if n.startswith("tx") and n.endswith(".json")
        )

    def stage_merge(
        self,
        name: str,
        updates: DataFrame,
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    ) -> None:
        """Prepare ``updates`` against table ``name`` (files written,
        nothing visible)."""
        if name in self._staged:
            raise ValueError(f"table {name} already staged in this transaction")
        self._staged[name] = self.tables[name]._prepare_merge(updates, merge_fn)

    def commit(self) -> int:
        """Write every staged manifest (CAS against each table's base),
        then the transaction record (the commit point), then swing every
        pointer. Returns the transaction id."""
        if not self._staged:
            raise ValueError("nothing staged")
        written: list[tuple[SnapshotMergeTable, int]] = []
        try:
            for name, (base, version, manifest) in self._staged.items():
                t = self.tables[name]
                t._write_manifest(version, manifest, base=base)
                written.append((t, version))
        except ConcurrentWriteError:
            for t, v in written:  # abort: drop staged manifests, no pointer moved
                t._drop_manifest(v)
            self._staged.clear()
            raise
        tx_id = (self._tx_ids()[-1] + 1) if self._tx_ids() else 0
        os.makedirs(self._tx_dir(), exist_ok=True)
        record = {
            name: {"base": base, "version": version}
            for name, (base, version, _m) in self._staged.items()
        }
        tx_path = os.path.join(self._tx_dir(), f"tx{tx_id}.json")
        try:
            fd = os.open(tx_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            for t, v in written:
                t._drop_manifest(v)
            self._staged.clear()
            raise ConcurrentWriteError(
                f"transaction tx{tx_id} already committed by another writer"
            ) from None
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(record))
        # ---- commit point passed: roll forward (crash-safe via recover) ----
        for name, (_base, version, _m) in self._staged.items():
            self.tables[name]._swing_pointer(version)
        self._staged.clear()
        return tx_id

    def vacuum(self, retain_last_tx: int = 2) -> dict[str, list[int]]:
        """Expire table history beyond the transaction-retention window.

        A per-table ``SnapshotMergeTable.vacuum(keep_last=N)`` counts
        versions, which is the wrong unit once tables commit through
        transactions: expiring table A's v3 while a retained commit
        record still names (A@v3, B@v7) breaks the one guarantee the
        coordinator exists for -- that readers can reconstruct a
        CONSISTENT cross-table state for any retained transaction.
        This policy ties expiry to the commit log instead: keep the
        last ``retain_last_tx`` transaction records, and for every
        table THOSE RECORDS REFERENCE keep every snapshot from the
        oldest referenced version onward (a contiguous tail, so
        single-table merges that landed between transactions stay
        time-travelable too); older manifests and their unreferenced
        data dirs are deleted, as are the expired tx records. Tables
        the retained records never name are left UNTOUCHED -- the
        commit log says nothing about what of theirs is safe to drop,
        and "expire everything" is the wrong default for a retention
        policy (use the per-table ``vacuum(keep_last=)`` for those).
        At least one record is always retained so ``recover()`` keeps
        its crash anchor. Returns {table: removed versions}.
        """
        if retain_last_tx < 1:
            raise ValueError("retain_last_tx must be >= 1 (recover() "
                             "needs the last commit record)")
        ids = self._tx_ids()
        kept_ids = ids[-retain_last_tx:]
        floors: dict[str, int] = {}
        for tx_id in kept_ids:
            with open(os.path.join(self._tx_dir(), f"tx{tx_id}.json")) as f:
                record = json.load(f)
            for name, vs in record.items():
                floors[name] = min(floors.get(name, vs["version"]), vs["version"])
        removed: dict[str, list[int]] = {}
        for name, t in self.tables.items():
            cur = t.current_version()
            if cur is None or name not in floors:
                continue
            floor = min(floors[name], cur)
            removed[name] = t._vacuum_keep([v for v in t.versions() if v >= floor])
        for tx_id in ids[:-retain_last_tx]:
            try:
                os.remove(os.path.join(self._tx_dir(), f"tx{tx_id}.json"))
            except OSError:
                pass
        return removed

    def recover(self) -> dict[str, int]:
        """Complete the pointer swings of the last committed transaction
        (no-op if all pointers already reached it), then drop
        staged-but-uncommitted manifests. Run at writer startup after a
        crash; assumes no concurrent in-flight transaction (an in-flight
        writer's staged manifests are indistinguishable from crash
        leftovers). Returns {table: version} rolled forward.

        The orphan sweep is required for liveness, not just hygiene: a
        crash DURING the prepare loop (after some tables' staged
        manifests were written but before the commit record) leaves
        manifest files above each table's pointer. Absent a commit
        record they are invisible to readers, but the NEXT writer's
        O_EXCL manifest CAS at that version number would collide with
        them forever -- the crashed transaction would wedge the table.
        Any manifest above the rolled-forward pointer is, by the commit
        protocol (files -> manifest -> record -> pointer), exactly such
        a leftover, so it is removed; its data dir is unreferenced and
        reclaimed by the next vacuum."""
        ids = self._tx_ids()
        moved: dict[str, int] = {}
        if ids:
            with open(os.path.join(self._tx_dir(), f"tx{ids[-1]}.json")) as f:
                record = json.load(f)
            for name, vs in record.items():
                t = self.tables.get(name)
                if t is None:
                    continue
                cur = t.current_version()
                if cur is None or cur < vs["version"]:
                    t._swing_pointer(vs["version"])
                    moved[name] = vs["version"]
        for t in self.tables.values():
            cur = t.current_version()
            if cur is None:
                continue
            for v in t.versions():
                if v > cur:
                    t._drop_manifest(v)
        return moved

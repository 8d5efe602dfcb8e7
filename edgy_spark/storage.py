"""Versioned snapshot storage — the engine's analogue of the reference's
STM atomicity + write-behind persistence
(/root/reference/src/Edgy/Operations.hs:73-89, app/Main.hs:163-164).

Layout under a root directory::

    root/
      CURRENT                 # pointer CACHE: a recent version number
      manifest.v3.json        # {"version":3, "next_id":17, "tables":{name:relpath},
                              #  "schemas":{relpath: spark schema json}, ...}
      data/<table>.v3.parquet # immutable parquet per table-version

``schemas`` (optional) records, per table-version relpath the engine wrote,
the schema Spark reads that parquet back with — the written schema with
every field nullable.  Snapshot reads pass it to ``spark.read.schema``,
which skips the one-job footer inference a schema-less
``spark.read.parquet`` launches on every read.  It is keyed by relpath,
not table name: a relpath's files never change, so an entry can never
describe another version.  Entries whose relpath left ``tables`` are
dropped; a relpath with no entry (older manifests, ``pysource``
bulk/stream writes) reads with inference, and ``fsck(deep=True)`` checks
every entry against the files' footers.

A transaction pins the latest version (snapshot pinning: all reads inside
one transaction see one version — parity with app/Main.hs:175-179's
read-your-own-scan atomicity), stages mutations, writes only the
*changed* tables as new parquet versions, and commits through
:func:`publish`, the store's ONE commit point for every writer: a
:class:`CommitArbiter` exclusively creates ``manifest.v{N+1}`` — that
create IS the commit and arbitrates racing committers (the loser removes
its written data and raises :class:`ConflictError`).  CURRENT is swapped
after, by ``os.replace``, and is only a roll-forward pointer cache
(:func:`current_version` probes past it for newer manifests), so a crash
between create and pointer swap neither loses the commit nor wedges the
store.  Readers never see a partial commit; unchanged tables are shared
across versions (manifest points at the old files).  Only the v0
manifests (``GraphStore`` bootstrap, :meth:`GraphStore.clone`) are
created outside :func:`publish`.

Every published manifest has the same fields: each writer sets the ones
below, the rest of :data:`CARRIED_FIELDS` carry forward from its base,
``cdc`` is null unless set, and ``committed_at`` is always stamped.

==================  =========================================  ==============
writer              sets                                       carries
==================  =========================================  ==============
GraphStore.commit   next_id, tables, bucketed, indexes,        —
                    stats (written tables: footer rows/bytes
                    and NDV), schemas, defaults, checks,
                    stream_batches, cdc (when captured)
GraphStore.restore  the restored version's tables, bucketed,   stream_batches
                    indexes, stats and schemas; next_id (max
                    of then and now); defaults, checks
format("edgy")      next_id (past the loaded ids), tables,     defaults,
writers             bucketed and indexes (the written tables'  checks,
                    entries dropped), stats (written tables:   schemas
                    footer rows/bytes, ``ndv: {}``); the
                    stream sink also stream_batches
==================  =========================================  ==============

The ``format("edgy")`` writers (``sources/pysource.py``) commit inside
Spark's DataSource protocol with no ``GraphStore`` in reach, so they
always arbitrate by hard link (:class:`HardLinkArbiter`), whatever
arbiter the store's engine uses.  On a local filesystem that still
excludes an engine commit racing them under :class:`ConditionalPutArbiter`
(both create the manifest exclusively); on an object store they would
need the store's arbiter, which no manifest records.

Scale stance: this is the same manifest-pointer-swap design as
Delta/Iceberg commit protocols — mutation batches are DataFrame-sized
(never driver loops), table files are parquet and can be partitioned;
only the tiny manifest is driver-side.

Driver-side Arrow tier.  A table version small enough to hold on the
driver is also served as a ``pyarrow.Table`` (:meth:`Snapshot.local`), so
point reads, small commits and traversals over it run no Spark job:

- size rule: the version's stored bytes — the manifest's ``stats`` entry,
  else the sizes of its files — against :func:`local_limit`, the session's
  ``spark.sql.autoBroadcastJoinThreshold``: the size up to which Spark
  itself collects a table to the driver to broadcast it (and the one
  ``read_store_table`` compares the same stats with).  A bigger table
  returns None and its readers take the Spark path;
- cache: one process-wide LRU keyed by the ABSOLUTE relpath, bounded by
  :data:`LOCAL_CACHE_BYTES`.  A relpath's files never change, so an entry
  stays valid across commits, ``restore``, clones (absolute entries) and
  other processes' commits with no invalidation step; ``vacuum`` drops the
  entries of the relpaths it deletes.  Another process's vacuum is not
  seen here, so a relpath it deleted may still be served from this cache
  to a snapshot pinned before it — the same version that snapshot's Spark
  read would fail on;
- fill: a miss reads the files with ``pyarrow.parquet`` and casts them to
  the read schema (recorded, else the footer's); node tables are then
  projected onto the current NodeType like :func:`_reconcile_to_schema`;
- write-through: :meth:`GraphStore.commit` accepts a ``pyarrow.Table`` in
  place of a DataFrame, writes it as a one-partition LocalRelation (one
  write job, one file) and puts it in the cache under the new relpath, so
  the read after a commit never pays a fill.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import tempfile
import threading
from collections import OrderedDict
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from edgy_spark.schema import GraphSchema

#: Override of :func:`local_limit`; None (the default) follows the
#: session's broadcast threshold.  Tests set it to -1 to force the Spark
#: path.
LOCAL_MAX_BYTES: int | None = None
#: Arrow bytes the process-wide table cache holds before evicting the
#: least recently used versions: a bound on driver memory, not a tuned
#: value.
LOCAL_CACHE_BYTES = 512 * 2**20


def local_limit(spark: SparkSession) -> int:
    """Largest stored table version (bytes on disk) the Arrow tier serves,
    and the budget of a driver-side traversal result: ``LOCAL_MAX_BYTES``
    when set, else ``spark.sql.autoBroadcastJoinThreshold`` (-1: no tier)."""
    if LOCAL_MAX_BYTES is not None:
        return LOCAL_MAX_BYTES
    from edgy_spark.sources.pysource import _parse_spark_bytes

    try:
        return _parse_spark_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:  # noqa: BLE001 - unreadable conf: no tier
        return -1

EDGE_STRUCT = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("pos", T.LongType(), False),
        T.StructField("ipos", T.LongType(), False),
    ]
)


class Snapshot:
    """An immutable, pinned view of one committed version."""

    def __init__(self, store: "GraphStore", manifest: dict):
        self._store = store
        self.manifest = manifest
        self.version: int = manifest["version"]

    def local(self, key: str) -> pa.Table | None:
        """Table ``key`` (``n_<type>`` or ``e_<table>``) of this version as
        a ``pyarrow.Table`` from the driver-side tier (module docstring),
        or None when it is too big for the driver.  Node tables come back
        projected onto the current NodeType; a table with no committed
        version is empty."""
        kind, name = key[:2], key[2:]
        if kind == "n_":
            struct = self._store.schema.node_type(name).struct_type()
        elif kind == "e_":
            struct = EDGE_STRUCT
        else:
            raise ValueError(f"no driver-side form for table {key!r}")
        rel = self.manifest["tables"].get(key)
        if rel is None:
            return arrow_table([], struct)
        path = os.path.join(self._store.root, rel)
        size = (self.manifest.get("stats") or {}).get(key, {}).get("bytes")
        if size is None:
            try:
                size = sum(os.path.getsize(f) for f in _data_files(path))
            except OSError:  # vacuumed: the Spark read reports it
                return None
        if size > local_limit(self._store.spark):
            return None
        hit = _LOCAL.get(path)
        if hit is None:
            recorded = (self.manifest.get("schemas") or {}).get(rel)
            hit = _read_local(path, recorded)
            if hit is None:
                return None
            _LOCAL.put(path, hit)
        stored, tbl = hit
        if kind == "e_":
            return tbl
        return _reconcile_arrow(stored, tbl, self._store.schema.node_type(name))

    def nodes(self, node_type: str) -> DataFrame:
        nt = self._store.schema.node_type(node_type)
        rel = self.manifest["tables"].get(f"n_{node_type}")
        if rel is None:
            return local_df(self._store.spark, arrow_table([], nt.struct_type()))
        tbl = self.manifest.get("bucketed", {}).get(f"n_{node_type}")
        if tbl is not None and self._store.spark.catalog.tableExists(tbl):
            # bucketed-by-id catalog table (bucket_nodes=N): a point read —
            # get_attribute's filter(id == k) — prunes to ONE bucket, and
            # id-equi-joins (rehydrate after id-only algebra) skip their
            # Exchange.  Same parquet-path fallback contract as edge_table.
            return _reconcile_to_schema(self._store.spark.table(tbl), nt)
        return _reconcile_to_schema(self._parquet(rel), nt)

    def _parquet(self, rel: str) -> DataFrame:
        return _read_parquet(
            self._store.spark, self._store.root, rel, self.manifest.get("schemas")
        )

    def edge_table(self, table: str) -> DataFrame:
        rel = self.manifest["tables"].get(f"e_{table}")
        if rel is None:
            return local_df(self._store.spark, arrow_table([], EDGE_STRUCT))
        tbl = self.manifest.get("bucketed", {}).get(f"e_{table}")
        if tbl is not None and self._store.spark.catalog.tableExists(tbl):
            # bucketed-by-src catalog table: a point read filtering on src
            # prunes to ONE bucket file (SelectedBucketsCount 1/N in the
            # scan), and src-equi-joins need no Exchange.  Falls back to the
            # plain parquet files (same bytes, just unpruned) when the
            # session catalog doesn't know the table (e.g. a fresh session
            # reading an existing store root).
            return self._store.spark.table(tbl)
        return self._parquet(rel)

    def attr_index(self, node_type: str, attr: str) -> DataFrame | None:
        """The secondary index ``(attr, id)`` for this snapshot's version of
        ``node_type`` — bucketed by the attribute value, so an equality
        lookup prunes to ONE bucket of a two-column projection instead of
        scanning the full node table (the win at 100 TB, where the node
        table carries wide/binary payload columns the lookup never needs).

        Returns None — callers MUST fall back to scan+filter — when no
        index is committed for the pair, or when the committed index no
        longer matches the CURRENT schema (attribute dropped, re-typed, or
        its optional default changed: the index bakes READ-semantics values
        in, see GraphStore commit).  A stale-schema index is never read.
        """
        key = _index_key(node_type, attr)
        rel = self.manifest["tables"].get(key)
        meta = self.manifest.get("indexes", {}).get(key)
        if rel is None or meta is None:
            return None
        try:
            a = self._store.schema.node_type(node_type).attr(attr)
        except Exception:
            return None
        if meta.get("type") != a.spark_type().simpleString():
            return None
        expected_default = (
            _jsonable_default(a.default)
            if (not a.required and a.default is not None)
            else None
        )
        if meta.get("default") != expected_default:
            return None
        tbl = self.manifest.get("bucketed", {}).get(key)
        if tbl is not None and self._store.spark.catalog.tableExists(tbl):
            return self._store.spark.table(tbl)
        return self._parquet(rel)


def _read_parquet(
    spark: SparkSession, root: str, rel: str, schemas: dict | None
) -> DataFrame:
    """Read one table version, with its recorded schema when the manifest
    has one (no inference job), else with footer inference."""
    recorded = (schemas or {}).get(rel)
    reader = spark.read
    if recorded is not None:
        reader = reader.schema(T.StructType.fromJson(recorded))
    return reader.parquet(os.path.join(root, rel))


class _ArrowCache:
    """Process-wide LRU of table versions, ``abs path -> (read schema,
    pyarrow.Table)``.  Locked: ``WriteBehind`` commits (and fills) from its
    worker thread while other threads read."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: OrderedDict[str, tuple[T.StructType, pa.Table]] = OrderedDict()
        self._bytes = 0

    def get(self, path: str) -> tuple[T.StructType, pa.Table] | None:
        with self._lock:
            hit = self._entries.get(path)
            if hit is not None:
                self._entries.move_to_end(path)
            return hit

    def put(self, path: str, entry: tuple[T.StructType, pa.Table]) -> None:
        with self._lock:
            old = self._entries.pop(path, None)
            if old is not None:
                self._bytes -= old[1].nbytes
            self._entries[path] = entry
            self._bytes += entry[1].nbytes
            while self._bytes > LOCAL_CACHE_BYTES and len(self._entries) > 1:
                _, (_, evicted) = self._entries.popitem(last=False)
                self._bytes -= evicted.nbytes

    def discard(self, path: str) -> None:
        with self._lock:
            old = self._entries.pop(path, None)
            if old is not None:
                self._bytes -= old[1].nbytes


_LOCAL = _ArrowCache()


def _data_files(path: str) -> list[str]:
    """The parquet files Spark reads for one table-version location."""
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(path, n)
        for n in sorted(os.listdir(path))
        if not n.startswith(("_", "."))
    ]


def _arrow_schema(struct: T.StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct)


def _read_local(path: str, recorded: dict | None):
    """Fill for the Arrow tier: ``(read schema, table)`` for one table
    version read with ``pyarrow.parquet``, typed as Spark reads it (the
    recorded schema, else the first footer's), or None when the files
    cannot be read that way — the caller then takes the Spark path."""
    import pyarrow.parquet as pq

    try:
        files = _data_files(path)
        if recorded is not None:
            struct = T.StructType.fromJson(recorded)
        elif files:
            struct = _footer_schema(pq.ParquetFile(files[0]))
        else:
            return None
        target = _arrow_schema(struct)
        parts = [
            pq.read_table(f, coerce_int96_timestamp_unit="us")
            .select(struct.names)
            .cast(target)
            for f in files
        ]
        return struct, pa.concat_tables(parts) if parts else target.empty_table()
    except Exception:  # noqa: BLE001 - any unreadable shape: use Spark
        return None


def _reconcile_arrow(stored: T.StructType, tbl: pa.Table, nt) -> pa.Table:
    """:func:`_reconcile_to_schema` for a driver-side table: the same
    projection onto the current NodeType, decided on the same Spark types."""
    by_name = {f.name: f.dataType for f in stored.fields}
    cols = [tbl.column("id")]
    for a in nt.attrs:
        if by_name.get(a.name) == a.spark_type():
            cols.append(tbl.column(a.name))
        else:
            cols.append(arrow_column([a.default] * tbl.num_rows, a.spark_type()))
    return pa.Table.from_arrays(cols, schema=_arrow_schema(_as_nullable(nt.struct_type())))


def arrow_column(values: list, dt: T.DataType) -> pa.Array:
    """Python values (as ``createDataFrame`` accepts them) as one Arrow
    array of Spark type ``dt``: timestamps go through Spark's own
    ``toInternal``, so a naive datetime means the same instant on both
    paths."""
    if isinstance(dt, T.TimestampType):
        values = [dt.toInternal(v) if v is not None else None for v in values]
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.array(values, type=to_arrow_type(dt))


def arrow_table(rows: list[dict], struct: T.StructType) -> pa.Table:
    """Driver rows (dicts) as a ``pyarrow.Table`` of ``struct``, checked by
    the same verifier ``spark.createDataFrame(rows, struct)`` runs, so a
    value that path rejects raises the same error here."""
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(struct)
    for r in rows:
        verify(r)
    return pa.Table.from_arrays(
        [arrow_column([r.get(f.name) for r in rows], f.dataType) for f in struct.fields],
        schema=_arrow_schema(struct),
    )


def local_df(spark: SparkSession, tbl: pa.Table, struct: T.StructType | None = None) -> DataFrame:
    """A driver-side table as a DataFrame: a LocalRelation, planned as a
    ``LocalTableScan`` with a size estimate and run with no Python worker."""
    if struct is None:
        from pyspark.sql.pandas.types import from_arrow_schema

        struct = from_arrow_schema(tbl.schema)
    return spark.createDataFrame(tbl, schema=struct)


def to_rows(tbl: pa.Table, struct: T.StructType) -> list:
    """``Row`` objects with the values ``DataFrame.collect`` returns for the
    same rows (``bytes`` for binary, naive local ``datetime`` for
    timestamps)."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    return ArrowTableToRowsConversion.convert(tbl, struct)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — how Spark's
    file sources read back any written schema."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _footer_schema(pf) -> T.StructType:
    """The schema Spark infers from one parquet footer (``pf`` is a
    ``pyarrow.parquet.ParquetFile``): the Spark row schema its writer
    stored, else the Arrow schema converted; every field nullable."""
    from pyspark.sql.pandas.types import from_arrow_schema

    meta = pf.schema_arrow.metadata or {}
    stored = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored is not None:
        st = T.StructType.fromJson(json.loads(stored))
    else:
        st = from_arrow_schema(pf.schema_arrow)
    return _as_nullable(st)


def _index_key(node_type: str, attr: str) -> str:
    """Manifest/table key for a secondary index — ``x_`` prefixed so the
    entries ride the existing manifest GC (vacuum sweeps ``tables`` +
    ``bucketed`` values) while staying inert to the n_/e_ read paths."""
    return f"x_{node_type}__{attr}"


def _reconcile_to_schema(df: DataFrame, nt, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Schema-evolution-tolerant decode: project a stored node table onto the
    CURRENT NodeType, the reference's load semantics
    (/root/reference/src/Edgy/Node.hs:181-189 — the attr map is keyed by
    (name, typeRep): unknown keys are dropped on load, missing keys read as
    the attribute default).

    - attribute added since the file was written → literal default column
      (optional attrs carry their mempty-analogue default; required attrs
      get NULL, which the point-read path rejects at get time — same lazy
      "unset required attribute" error as the reference);
    - attribute removed → stored column dropped;
    - attribute re-typed → old (name, oldType) is an unknown key: dropped,
      and the new-typed attribute reads as default.

    A pure projection, so Catalyst still prunes the parquet scan to the
    surviving columns; old versions never need rewriting (the manifest keeps
    pointing at the original immutable files).
    """
    from pyspark.sql import functions as F  # local: keep module import light

    by_name = {f.name: f.dataType for f in df.schema.fields}
    cols = [F.col("id")]
    for a in nt.attrs:
        if by_name.get(a.name) == a.spark_type():
            cols.append(F.col(a.name))
        else:
            cols.append(F.lit(a.default).cast(a.spark_type()).alias(a.name))
    cols += [F.col(c) for c in passthrough]
    return df.select(*cols)


class CommitArbiter:
    """The ONE pluggable point of the commit protocol: atomically create a
    manifest file if and only if it does not already exist (Delta's
    LogStore seam).  Everything else in the protocol — staleness pre-check,
    roll-forward past a stale CURRENT pointer, loser cleanup — is
    arbiter-independent; only "who arbitrates the exclusive create" varies
    by storage system.  A POSIX filesystem arbitrates via hard-link
    exclusive create (:class:`HardLinkArbiter`, the default); an object
    store has no link/rename, so it arbitrates via conditional PUT
    (If-None-Match — :class:`ConditionalPutArbiter` emulates that API shape
    locally).  The CURRENT pointer needs NO arbitration (it is a cache:
    ``current_version`` rolls forward past it), so plain overwrite-PUT
    suffices there on any backend.
    """

    def put_if_absent(self, path: str, payload: str) -> bool:
        """Atomically create ``path`` with ``payload`` iff absent.  Returns
        True when this call created the file, False when it already
        existed.  Readers must never observe partial content."""
        raise NotImplementedError


class HardLinkArbiter(CommitArbiter):
    """POSIX arbitration: write a temp file, then ``os.link`` it to the
    final name — the link is both an atomic full-content publish and an
    exclusive create, so the filesystem arbitrates racing committers."""

    def put_if_absent(self, path: str, payload: str) -> bool:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        try:
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            try:
                os.link(tmp, path)
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)
        return True


class ConditionalPutArbiter(CommitArbiter):
    """Object-store arbitration, emulated locally: a single
    create-if-absent of the full payload (S3/GCS/ABFS conditional PUT with
    If-None-Match: * — no link, no rename, which object stores don't
    have).  On a real object store the PUT itself is all-or-nothing; the
    local O_CREAT|O_EXCL emulation has ONE non-atomic observable state —
    the empty just-created file before its single write lands — so (a)
    ``current_version``'s roll-forward treats empty manifests as absent,
    and (b) a putter finding an EMPTY file older than the grace period
    reclaims a crashed attempt's slot instead of wedging the version
    forever (review r10).  A live putter's open→write window is
    microseconds, and it holds a shared flock on the fd for the whole
    write — with the claim re-validated UNDER the lock (the inode must
    still be empty), so a reclaimer (LOCK_EX|LOCK_NB) either loses the
    lock race or visibly wins it: a putter stalled past the grace period
    wakes, sees the reclaimer's bytes, and loses cleanly instead of
    interleaving (review r11).  ``reclaim_after_s`` is tunable for
    deployments whose writers legitimately stall (NFS, debuggers)."""

    RECLAIM_AFTER_S = 60.0

    def __init__(self, reclaim_after_s: float | None = None) -> None:
        if reclaim_after_s is not None:
            self.RECLAIM_AFTER_S = float(reclaim_after_s)

    def put_if_absent(self, path: str, payload: str) -> bool:
        data = payload.encode()
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return self._reclaim_crashed_claim(path, data)
        return self._write_all(fd, data)

    @staticmethod
    def _write_all(fd: int, data: bytes) -> bool:
        import fcntl

        try:
            # shared lock for the write's duration: serializes against a
            # reclaimer's LOCK_EX so a stalled-but-alive putter and a
            # reclaimer can never interleave writes into one inode.  The
            # open->flock gap is NOT covered by the lock, so re-validate
            # under it: we created this inode EMPTY (O_EXCL), and a
            # reclaimer writes only under LOCK_EX — so any bytes visible
            # under our lock mean a reclaimer already stole the slot
            # during a stall longer than the grace period.  Lose cleanly
            # instead of overwriting its manifest (review r11: the
            # two-winner interleave the r10 fix missed).
            fcntl.flock(fd, fcntl.LOCK_SH)
            if os.fstat(fd).st_size != 0:
                return False
            off = 0
            while off < len(data):
                off += os.write(fd, data[off:])
            os.fsync(fd)
            return True
        finally:
            os.close(fd)  # releases the flock

    def _reclaim_crashed_claim(self, path: str, data: bytes) -> bool:
        """The slot exists.  If it holds a COMPLETE manifest, lose.  If it
        is a crashed putter's residue (empty, or unparseable torso) past
        the grace period, write INTO the existing inode under an exclusive
        flock — never unlink-and-recreate, whose stat-then-unlink TOCTOU
        let two stealers each believe they won (review r10b).  The locked
        fd is re-validated with fstat/read, so the decision and the write
        target are the same inode.  (A real object store does this with a
        generation-preconditioned PUT; the residual local hazard — a LIVE
        putter stalled longer than the grace period between its open and
        its single write — has no analogue there.)"""
        import fcntl
        import time as _time

        try:
            fd = os.open(path, os.O_RDWR)
        except OSError:
            return False  # vanished: someone else is arbitrating — lose
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return False  # another reclaimer holds the slot
            st = os.fstat(fd)
            if _time.time() - st.st_mtime < self.RECLAIM_AFTER_S:
                return False  # fresh: a live putter's write is in flight
            if st.st_size > 0:
                try:
                    json.loads(os.pread(fd, st.st_size, 0))
                    return False  # complete manifest: a real commit won
                except (json.JSONDecodeError, UnicodeDecodeError):
                    pass  # crashed mid-flush: reclaimable torso
            os.ftruncate(fd, 0)
            off = 0
            while off < len(data):
                off += os.write(fd, data[off:])
            os.fsync(fd)
            return True
        finally:
            os.close(fd)  # releases the flock


# -- the commit protocol (module docstring) ---------------------------------

#: Manifest fields a commit carries from its base unless the writer sets
#: them; every published manifest has these plus version, cdc, committed_at.
CARRIED_FIELDS = (
    "next_id", "tables", "bucketed", "indexes", "stream_batches",
    "defaults", "checks", "stats", "schemas",
)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, f"manifest.v{version}.json")


def read_manifest(root: str, version: int) -> dict:
    """Manifest ``version`` of the store at ``root`` (FileNotFoundError
    once vacuumed)."""
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def manifest_is_complete(path: str) -> bool:
    """True iff ``path`` holds a COMPLETE manifest.  An empty or
    unparseable file is a ConditionalPutArbiter putter's in-flight or
    crashed claim, not a commit."""
    try:
        if os.path.getsize(path) == 0:
            return False
        with open(path) as f:
            json.load(f)
        return True
    except (OSError, json.JSONDecodeError, UnicodeDecodeError):
        return False


def current_version(root: str) -> int:
    """Newest committed version of the store at ``root``: CURRENT rolled
    forward past newer complete manifests, which a committer that crashed
    between :func:`publish`'s manifest create and pointer swap leaves."""
    with open(os.path.join(root, "CURRENT")) as f:
        v = int(f.read().strip())
    while manifest_is_complete(_manifest_path(root, v + 1)):
        v += 1
    return v


def stamp_committed_at(root: str, manifest: dict) -> None:
    """Stamp the wall-clock commit time (epoch seconds, float) into the
    manifest as ``committed_at`` — the Delta DESCRIBE-HISTORY timestamp
    and the key ``timestampAsOf`` reads resolve against.  Nudged strictly
    past the predecessor version's stamp (Delta's own +1 ms adjustment),
    so version order and timestamp order agree even when the committer's
    clock stepped backward; a predecessor without a stamp (pre-r12 store)
    or an unreadable one leaves the raw clock value."""
    import time

    now = time.time()
    v = manifest.get("version", 0)
    if v > 0:
        try:
            prev = read_manifest(root, v - 1).get("committed_at")
            if isinstance(prev, (int, float)) and now <= prev:
                now = prev + 0.001
        except (OSError, json.JSONDecodeError, ValueError):
            pass
    manifest["committed_at"] = now


def _swap_current(root: str, version: int) -> None:
    fd, tmp = tempfile.mkstemp(dir=root)
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(root, "CURRENT"))  # atomic pointer swap


def publish(
    root: str,
    base: dict,
    arbiter: CommitArbiter,
    written: Sequence[str] = (),
    **fields,
) -> dict:
    """Publish version ``base["version"] + 1`` of the store at ``root``:
    the one commit point of every writer (module docstring).  The new
    manifest is ``base`` with the ``fields`` it is given replaced (names
    from :data:`CARRIED_FIELDS`, plus ``cdc``), ``stats`` and ``schemas``
    pruned to the live tables, and ``committed_at`` stamped.  ``arbiter``
    creates it exclusively; a lost race removes the ``written`` relpaths
    and raises :class:`ConflictError`, a win swaps CURRENT.  Returns the
    published manifest."""
    unknown = set(fields) - set(CARRIED_FIELDS) - {"cdc"}
    if unknown:
        raise TypeError(f"not a manifest field: {sorted(unknown)}")
    version = base["version"] + 1
    manifest = {"version": version}
    for k in CARRIED_FIELDS:
        manifest[k] = fields[k] if k in fields else base.get(k, {})
    manifest["cdc"] = fields.get("cdc")
    # stats are keyed by table, read schemas by relpath (module docstring)
    tables = manifest["tables"]
    live = set(tables.values())
    manifest["stats"] = {k: s for k, s in manifest["stats"].items() if k in tables}
    manifest["schemas"] = {r: s for r, s in manifest["schemas"].items() if r in live}
    stamp_committed_at(root, manifest)
    if not arbiter.put_if_absent(_manifest_path(root, version), json.dumps(manifest)):
        # drop this attempt's data so a retry doesn't rely on vacuum's
        # 24 h orphan sweep
        for rel in written:
            shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
        raise ConflictError(
            f"concurrent commit published version {version} first; re-run "
            "on the new current version"
        )
    _swap_current(root, version)
    return manifest


#: Spark simpleString -> DuckDB type, for the empty-frame declaration-time
#: validation of CHECK conditions (the scalar types node attributes can be)
_DUCK_TYPES = {
    "bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
    "tinyint": "TINYINT", "string": "VARCHAR", "double": "DOUBLE",
    "float": "FLOAT", "boolean": "BOOLEAN", "binary": "BLOB",
    "date": "DATE", "timestamp": "TIMESTAMP",
}


def _validate_check_condition(spark: SparkSession, nt, cond: str) -> None:
    """Declaration-time validation of a CHECK condition in BOTH dialects.

    The condition is enforced by Spark at GraphStore commit time but by
    DuckDB in the ecosystem writers (the Python DataSource worker has no
    JVM session — pysource._enforce_manifest_checks), so it must live in
    the two engines' common SQL subset.  Parsing/analyzing it against an
    empty frame of the node type's schema in each engine at DECLARATION
    time turns "my condition uses a DuckDB-only function" from a write-time
    surprise into an immediate ValueError.  (Expressions that parse in both
    but differ semantically — collation-dependent compares, cast-failure
    behavior — remain the declarer's responsibility; stick to column
    comparisons, arithmetic, IS NULL, AND/OR/NOT, LIKE, IN.)
    """
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], nt.struct_type())
    try:
        empty.filter(F.expr(cond)).schema  # forces analysis
    except Exception as exc:
        raise ValueError(
            f"CHECK condition for {nt.name!r} is not valid Spark SQL: "
            f"({cond}): {exc}"
        ) from None
    try:
        import duckdb
    except ImportError:
        return  # Spark-side writers still enforce; ecosystem writers REJECT

    def _duck(simple: str) -> str | None:
        if simple.startswith("array<") and simple.endswith(">"):
            inner = _duck(simple[6:-1])
            return None if inner is None else f"{inner}[]"
        return _DUCK_TYPES.get(simple)

    decls = []
    for f in nt.struct_type().fields:
        dt = _duck(f.dataType.simpleString())
        if dt is None:
            # a column type outside the portable scalar/array set
            # (struct/map): declaring it as the wrong type would make the
            # probe falsely reject (or accept) conditions over it — skip
            # the DuckDB-side probe; the write-time gate still enforces,
            # and the Spark probe above already ran (review r10)
            return
        decls.append(f'CAST(NULL AS {dt}) AS "{f.name}"')
    try:
        duckdb.sql(
            f"SELECT COUNT(*) FROM (SELECT {', '.join(decls)} WHERE 1=0) "
            f"WHERE NOT coalesce(({cond}), false)"
        ).fetchone()
    except Exception as exc:
        raise ValueError(
            f"CHECK condition for {nt.name!r} is not valid DuckDB SQL "
            f"(ecosystem writers enforce it there): ({cond}): {exc}"
        ) from None


class GraphStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: GraphSchema,
        bucket_edges: int | None = None,
        bucket_nodes: int | None = None,
        compact_every: int | None = None,
        compact_target_file_mb: int = 128,
        retain_versions: int = 2,
        index_attrs: dict[str, list[str]] | None = None,
        index_buckets: int = 16,
        check_constraints: dict[str, str] | None = None,
        commit_arbiter: CommitArbiter | None = None,
    ):
        """``bucket_edges=N`` writes edge tables bucketed (and sorted) by
        ``src`` into N buckets via the session catalog: point adjacency
        reads (get_related/is_related) then scan one bucket instead of the
        whole table, and src-keyed joins skip their Exchange.  Pick N so one
        bucket of the largest edge table fits an executor core's working
        memory at target scale (see sources/io.write_bucketed).

        ``bucket_nodes=N`` is the node-table twin, bucketed (and sorted) by
        ``id``: the engine's point reads (``get_attribute``'s
        ``filter(id == k)``) prune to one bucket, and the id-equi-joins the
        query layer issues (``rehydrate`` after id-only algebra) need no
        Exchange.  Same fallback contract as the edge layout — a session
        that doesn't know the catalog table reads the identical parquet
        files unpruned.

        ``compact_every=K`` turns on automatic maintenance: every K-th
        commit first folds fragmented current-version tables through the
        small-files compactor (:meth:`compact`), then garbage-collects
        versions older than ``retain_versions`` (:meth:`vacuum`) — the
        OPTIMIZE + VACUUM pair every long-running versioned store needs.
        Total on-disk state is then O(tables × retain_versions), not
        O(commits).

        ``index_attrs={"person": ["name"], ...}`` maintains a SECONDARY
        INDEX per (node type, attribute): a two-column ``(attr, id)``
        projection bucketed by the attribute value, rebuilt transactionally
        inside every commit that changes the node table (same manifest, so
        the index can never be observed out of step with its table).  An
        equality lookup (Snapshot.attr_index / query.NodeSet.lookup) then
        reads ONE bucket of a narrow projection instead of scanning the
        full node table — the reference's O(N)-scan ``lookupByName``
        (app/Main.hs:132-140) made a point read.  Values are stored with
        READ semantics (optional defaults coalesced in), so an indexed
        lookup by the default value still finds never-written attributes.
        Bulk loads bypass the engine and DROP the touched table's indexes
        (readers fall back to scans); :meth:`rebuild_indexes` restores
        them in one maintenance commit.

        ``check_constraints={"Person": "age >= 0 AND age < 200", ...}``
        declares a CHECK per node type (a SQL boolean over the attribute
        columns), enforced at COMMIT time on every changed node table — no
        published version can violate it, whatever the writer: engine txn,
        MERGE, caller-built DataFrame, and (because the declaration is
        PERSISTED in every manifest, Delta's table-metadata model) the
        ecosystem writers too — bulk Arrow loads, the streaming sink, and
        multi-table txn finalize all enforce the manifest's declaration on
        their staged rows.  Declaring a NEW constraint does not re-validate
        history (same as Delta); a restore re-publishes old rows
        unvalidated.  NULL evaluates as a violation
        (unlike SQL CHECK's permissive NULL — a lakehouse gate that lets
        NULL through silently admits exactly the rows a quality constraint
        exists to stop); write ``col IS NULL OR <cond>`` to opt into
        permissiveness.  Conditions must live in the Spark/DuckDB-common
        SQL subset (commit enforces in Spark; ecosystem writers enforce in
        DuckDB inside the DataSource worker, and REJECT writes if duckdb
        is not importable there rather than publish unvalidated rows) —
        both dialects parse every condition at DECLARATION time, so an
        engine-specific expression raises ValueError here, not at some
        later write.  Re-declaring on an existing store (including ``{}``
        to clear) persists immediately as a metadata-only commit, so
        manifest-driven writers never enforce a stale set.  Cost: one
        count aggregate over each changed table per commit (Delta pays the
        same); maintenance commits skip it (compaction changes no rows)."""
        self.spark = spark
        # normalized: relative roots would make _register_clone's pins
        # non-absolute and vacuum's pin comparison silently miss (r11
        # advice) — every downstream path join/compare assumes one spelling
        self.root = os.path.abspath(root)
        self.schema = schema
        # the commit point's storage-system seam (class docstring on
        # CommitArbiter): hard-link exclusive create on POSIX (default),
        # conditional PUT on object stores
        self.commit_arbiter = commit_arbiter or HardLinkArbiter()
        self.bucket_edges = bucket_edges
        self.bucket_nodes = bucket_nodes
        self.index_buckets = index_buckets
        self.index_attrs: dict[str, tuple[str, ...]] = {}
        for t, attrs in (index_attrs or {}).items():
            nt = schema.node_type(t)  # plan-time validation
            for a in attrs:
                nt.attr(a)
            self.index_attrs[t] = tuple(attrs)
        self.check_constraints: dict[str, str] = {}
        self._checks_declared = check_constraints is not None
        for t, cond in (check_constraints or {}).items():
            nt = schema.node_type(t)  # plan-time validation: type must exist
            # both dialects parse it NOW (commit enforces in Spark, the
            # ecosystem writers in DuckDB) — see _validate_check_condition
            _validate_check_condition(spark, nt, cond)
            self.check_constraints[t] = cond
        self.compact_every = compact_every
        self.compact_target_file_mb = compact_target_file_mb
        self.retain_versions = retain_versions
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        if not os.path.exists(self._current_path):
            # v0 is created by put_if_absent directly: two sessions opening
            # the same root race it, and since v0 embeds the declared
            # ``checks`` the loser reconciles its declaration below
            v0 = {
                "version": 0,
                "next_id": 1,
                "tables": {},
                "checks": dict(self.check_constraints),
            }
            stamp_committed_at(self.root, v0)
            if self.commit_arbiter.put_if_absent(self._manifest_path(0), json.dumps(v0)):
                _swap_current(self.root, 0)
            else:
                # bootstrap race LOST: v0 embeds the winner's declaration,
                # which may differ.  A session that declared checks
                # persists ITS set (the manifest is the enforcement source
                # for ecosystem writers; no-op commit when the sets
                # match); a session that declared nothing ADOPTS the
                # winner's — never silently enforcing (or later
                # re-publishing) an empty set over a persisted declaration
                # (review r10).  Under ConditionalPutArbiter the winner's
                # v0 may be a still-empty claim for a moment — wait for it
                # to become COMPLETE before reading (review r10c).
                import time as _time

                # wait at least the arbiter's crash-reclaim window (a
                # stalled-but-alive winner may legitimately take that
                # long; before it elapses a retry could not reclaim the
                # claim anyway), floored at 5 s for arbiters with no
                # reclaim concept (hard links publish atomically)
                wait_s = max(
                    5.0,
                    float(
                        getattr(self.commit_arbiter, "RECLAIM_AFTER_S", 0.0)
                    ),
                )
                deadline = _time.monotonic() + wait_s
                while not manifest_is_complete(self._manifest_path(0)):
                    if _time.monotonic() >= deadline:
                        raise ConflictError(
                            "bootstrap race: the winning session's "
                            f"manifest.v0 never became readable within "
                            f"{wait_s:.0f}s — crashed mid-write? retry "
                            "opening the store"
                        )
                    _time.sleep(0.05)
                # publish the pointer only now that v0 is COMPLETE, and
                # only if the winner has not already published (it may
                # even have advanced CURRENT past 0 — never regress a
                # pointer we did not win; the winner crashing before ITS
                # publish is the one case the loser must cover, review
                # r11 ADVICE).  CURRENT stays a cache either way:
                # current_version rolls forward past any stale value.
                if not os.path.exists(self._current_path):
                    _swap_current(self.root, 0)
                if self._checks_declared:
                    self._sync_declared_checks()
                else:
                    self.check_constraints = dict(
                        self.snapshot().manifest.get("checks") or {}
                    )
        elif not self._checks_declared:
            # adopt the PERSISTED declaration (the manifest is the table
            # metadata, Delta-style): a session that opens an existing
            # constrained store without re-declaring still enforces — and
            # does not silently wipe — its CHECKs.  Passing
            # check_constraints explicitly (even {}) replaces the set.
            self.check_constraints = dict(
                self.snapshot().manifest.get("checks") or {}
            )
        else:
            # explicit declaration on an EXISTING store: manifest-driven
            # writers (bulk loader, stream sink, txn finalize) enforce the
            # PERSISTED set, so an in-memory-only replacement would leave
            # them on the stale declaration until the next data commit —
            # publish a metadata-only commit now (like rebuild_indexes'
            # maintenance commit) whenever the sets differ.
            self._sync_declared_checks()

    # -- manifest plumbing -------------------------------------------------

    @property
    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _manifest_path(self, version: int) -> str:
        return _manifest_path(self.root, version)

    def _sync_declared_checks(self) -> None:
        """Persist this session's explicit ``check_constraints`` declaration
        when it differs from the current manifest's — as a METADATA-ONLY
        commit (cdc = captured-empty: no rows change), so manifest-driven
        writers (bulk Arrow loads, the streaming sink, txn finalize) enforce
        the new declaration immediately instead of the stale persisted one
        until some later data commit happens to refresh it (review r09).
        Retries past concurrent committers like any commit."""
        for _ in range(5):
            base = self.snapshot()
            if (base.manifest.get("checks") or {}) == self.check_constraints:
                return
            try:
                self.commit(base, {}, _maintenance=True)
                return
            except ConflictError:
                continue
        raise ConflictError(
            "could not persist check_constraints declaration: a concurrent "
            "committer won every retry"
        )

    def _defaults_map(self) -> dict:
        """Manifest encoding of the CURRENT schema's optional-attr defaults
        (see commit's manifest notes) — shared by commit and restore so the
        newest manifest ALWAYS reflects the live schema (a restore that
        copied the restored version's map would feed pre-evolution defaults
        to the upsert stream's null-fill while engine reads reconcile to
        the new ones — silent replica divergence, review r09b)."""
        return {
            f"n_{nt.name}": {
                a.name: enc
                for a in nt.attrs
                if not a.required
                and (enc := _jsonable_default(a.default)) is not None
            }
            for nt in self.schema.node_types
        }

    def _bucket_table_name(self, key: str, version: int, token: str = "") -> str:
        """Session-catalog name for a bucketed edge-table version, unique
        per store root so two stores in one session never collide; the
        per-commit ``token`` keeps racing committers of the same version
        from colliding on the catalog name too."""
        import hashlib

        h = hashlib.md5(self.root.encode()).hexdigest()[:8]
        suffix = f"_{token}" if token else ""
        return f"edgy_{h}_{key}_v{version}{suffix}"

    def current_version(self) -> int:
        """Newest committed version (:func:`current_version`)."""
        return current_version(self.root)

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        return Snapshot(self, read_manifest(self.root, v))

    # -- commit ------------------------------------------------------------

    def commit(
        self,
        base: Snapshot,
        changed_tables: dict[str, DataFrame | pa.Table],
        next_id: int | None = None,
        _maintenance: bool = False,
        cdc: dict[str, DataFrame] | None = None,
        _reindex: bool = False,
        stream_batch: "tuple[str, int] | None" = None,
    ) -> Snapshot:
        """Write changed tables as new versions and publish atomically.

        A table given as a ``pyarrow.Table`` (also in ``cdc``) is written
        as a LocalRelation and, once published, served from the Arrow tier
        without a fill (module docstring).

        Optimistic concurrency (the reference's STM retry): if CURRENT moved
        past ``base`` since the transaction began, raise ConflictError and
        let the caller re-run.

        ``cdc`` optionally records this commit's row-level changes (the
        Delta-CDF design): a small DataFrame per table with the row image
        plus ``_change`` ∈ {'insert', 'update_postimage', 'delete'},
        written beside the data and referenced by the new manifest's
        ``cdc`` entry.  The caller computes it from its STAGED state —
        O(touched rows), never a diff join over the table — and downstream
        consumers (:meth:`table_changes`, the ``mode=upsert`` stream
        source) replay versions as plain file reads.

        The manifest's ``cdc`` field is TRI-STATE so consumers can tell
        silence from loss: a dict (possibly empty) = changes were captured
        (empty = captured, nothing changed — also what a maintenance
        compaction records, since it is no logical change); JSON null /
        absent = changes were NOT captured (engine without
        ``capture_cdc``, bulk-writer commits) and completeness-requiring
        consumers must raise rather than silently emit nothing.

        When ``compact_every`` is set, every K-th user commit triggers the
        compact+vacuum maintenance pass afterwards (``_maintenance`` guards
        the compactor's own internal commit from re-triggering it).
        """
        if self.current_version() != base.version:
            raise ConflictError(
                f"snapshot {base.version} is stale (current={self.current_version()})"
            )
        new_version = base.version + 1
        # driver-side tables (module docstring, write-through): written as a
        # one-partition LocalRelation — one file, they are driver-sized —
        # then cached under their new relpath once published
        arrow_in = {k: t for k, t in changed_tables.items() if isinstance(t, pa.Table)}
        if arrow_in:
            changed_tables = {
                k: local_df(self.spark, arrow_in[k]).coalesce(1) if k in arrow_in else df
                for k, df in changed_tables.items()
            }
        cdc = {
            k: local_df(self.spark, t).coalesce(1) if isinstance(t, pa.Table) else t
            for k, t in cdc.items()
        } if cdc is not None else None
        # CHECK constraints ride the data write itself as observe()
        # metrics — ONE pass, not a separate count job re-executing the
        # staged plan (review r09b).  Violations surface BEFORE the
        # manifest link (the commit point), so nothing publishes; the
        # already-written files are cleaned up like a lost commit race.
        # A maintenance commit rewrites unchanged rows and skips the gate.
        check_obs: dict[str, tuple] = {}
        ndv_obs: dict[str, tuple] = {}
        if not _maintenance:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F2

            changed_tables = dict(changed_tables)  # never mutate the caller's
            for key_ in list(changed_tables):
                df_ = changed_tables[key_]
                cond = (
                    self.check_constraints.get(key_[2:])
                    if key_.startswith("n_")
                    else None
                )
                # per-column NDV sketches ride the SAME observation as the
                # CHECK gate (HLL++ partial aggregates inside the write job
                # — no second pass): recorded in the manifest's table stats
                # so readers and join planners get cardinalities for free.
                # Scalar columns only (NDV of a binary payload or nested
                # value is not a join-planning input).
                ndv_cols = [
                    c
                    for c, t in df_.dtypes
                    if not (
                        t == "binary"
                        or t.startswith(("array", "map", "struct"))
                    )
                ]
                metrics = []
                if cond is not None:
                    # NULL = violation (see __init__ docstring)
                    metrics.append(
                        F2.sum(
                            (~F2.coalesce(F2.expr(cond), F2.lit(False))).cast(
                                "long"
                            )
                        ).alias("bad")
                    )
                metrics += [
                    F2.approx_count_distinct(c).alias(f"ndv_{c}")
                    for c in ndv_cols
                ]
                if not metrics:
                    continue
                obs = Observation()
                changed_tables[key_] = df_.observe(obs, *metrics)
                if cond is not None:
                    check_obs[key_] = (obs, cond)
                if ndv_cols:
                    ndv_obs[key_] = (obs, ndv_cols)
        # per-attempt token: racing committers from the same base write to
        # DISTINCT data locations (and catalog table names), so the loser's
        # overwrite-mode job can never clobber the winner's committed files.
        # The manifest's exclusive create (publish) is the single
        # arbitration point; the loser's orphaned data is cleaned up there
        # (best-effort) or by vacuum's age-guarded sweep.
        import uuid as _uuid

        token = _uuid.uuid4().hex[:8]
        tables = dict(base.manifest["tables"])
        bucketed = dict(base.manifest.get("bucketed", {}))
        table_stats: dict[str, dict] = dict(base.manifest.get("stats", {}))
        schemas: dict[str, dict] = dict(base.manifest.get("schemas", {}))
        written_paths: list[str] = []
        written_tbls: list[str] = []
        for key, df in changed_tables.items():
            relpath = os.path.join("data", f"{key}.v{new_version}-{token}.parquet")
            if self.bucket_edges and key.startswith("e_"):
                layout = (["src"], self.bucket_edges, ["src", "pos"])
            elif self.bucket_nodes and key.startswith("n_"):
                layout = (["id"], self.bucket_nodes, ["id"])
            else:
                layout = None
            if layout:
                from edgy_spark.sources.io import write_bucketed

                bucket_cols, n_buckets, sort_cols = layout
                tbl = self._bucket_table_name(key, new_version, token)
                write_bucketed(
                    df,
                    tbl,
                    bucket_cols,
                    n_buckets,
                    sort_cols=sort_cols,
                    path=os.path.join(self.root, relpath),
                )
                bucketed[key] = tbl
                written_tbls.append(tbl)
            else:
                df.write.mode("overwrite").parquet(os.path.join(self.root, relpath))
                bucketed.pop(key, None)
            # zone-map sidecar from the just-written footers (metadata-only
            # reads): engine commits and compaction keep the planning-time
            # file skipping that bulk loads get from their Arrow tasks
            from edgy_spark.sources.pysource import write_zones_from_footers

            # per-table stats (rows/bytes riding the SAME footer pass as
            # the zone maps; NDV from the observation riding the write):
            # plan-time cardinalities for readers — see read_store_table
            _, stat = write_zones_from_footers(os.path.join(self.root, relpath))
            if key in ndv_obs:
                obs_, cols_ = ndv_obs[key]
                got = obs_.get
                stat["ndv"] = {
                    c: int(got[f"ndv_{c}"] or 0) for c in cols_
                }
            elif _maintenance and key in table_stats:
                # compaction rewrites the same rows: NDV carries forward
                stat["ndv"] = table_stats[key].get("ndv", {})
            else:
                stat["ndv"] = {}
            table_stats[key] = stat
            tables[key] = relpath
            schemas[relpath] = _as_nullable(df.schema).jsonValue()
            written_paths.append(relpath)
            if key in check_obs:
                obs, cond = check_obs[key]
                bad = obs.get["bad"] or 0  # sum over zero rows is NULL
                if bad:
                    for rel in written_paths:
                        shutil.rmtree(
                            os.path.join(self.root, rel), ignore_errors=True
                        )
                    for tbl_ in written_tbls:
                        self.spark.sql(f"DROP TABLE IF EXISTS {tbl_}")
                    raise CheckViolationError(
                        f"commit rejected: {bad} row(s) of {key!r} violate "
                        f"CHECK ({cond})"
                    )
        # -- secondary indexes: rebuilt INSIDE the same commit as their node
        # table, so no published version can pair a table with a stale
        # index.  Superseded x_ entries are dropped even when the store no
        # longer indexes that type (an un-indexed store must not carry a
        # stale index forward).  Values are stored with READ semantics
        # (optional defaults coalesced) so indexed equality lookups agree
        # with scan+filter on never-written attributes; the baked-in type
        # and default are recorded so readers can detect schema drift and
        # fall back (Snapshot.attr_index).
        from pyspark.sql import functions as F  # local: keep module light

        indexes = dict(base.manifest.get("indexes", {}))
        reindex_types = {k[2:] for k in changed_tables if k.startswith("n_")}
        if _reindex:
            reindex_types |= set(self.index_attrs)
        for type_ in sorted(reindex_types):
            for k in [k for k in tables if k.startswith(f"x_{type_}__")]:
                tables.pop(k)
                bucketed.pop(k, None)
                indexes.pop(k, None)
            nrel = tables.get(f"n_{type_}")
            if nrel is None:
                continue
            nt = self.schema.node_type(type_)
            src = _reconcile_to_schema(
                _read_parquet(self.spark, self.root, nrel, schemas), nt
            )
            for attr in self.index_attrs.get(type_, ()):
                a = nt.attr(attr)
                val = F.col(attr)
                default_enc = None
                if not a.required and a.default is not None:
                    val = F.coalesce(val, F.lit(a.default).cast(a.spark_type()))
                    default_enc = _jsonable_default(a.default)
                key = _index_key(type_, attr)
                relpath = os.path.join(
                    "data", f"{key}.v{new_version}-{token}.parquet"
                )
                tbl = self._bucket_table_name(key, new_version, token)
                from edgy_spark.sources.io import write_bucketed

                idx_df = src.select(val.alias(attr), "id")
                write_bucketed(
                    idx_df,
                    tbl,
                    [attr],
                    self.index_buckets,
                    sort_cols=[attr],
                    path=os.path.join(self.root, relpath),
                )
                tables[key] = relpath
                schemas[relpath] = _as_nullable(idx_df.schema).jsonValue()
                bucketed[key] = tbl
                indexes[key] = {
                    "attr": attr,
                    "type": a.spark_type().simpleString(),
                    "default": default_enc,
                }
                written_paths.append(relpath)
                written_tbls.append(tbl)
        cdc_entries: dict[str, str] = {}
        for key, df in (cdc or {}).items():
            relpath = os.path.join(
                "data", f"cdc-{key}.v{new_version}-{token}.parquet"
            )
            df.write.mode("overwrite").parquet(os.path.join(self.root, relpath))
            cdc_entries[key] = relpath
            written_paths.append(relpath)
        try:
            manifest = publish(
                self.root,
                base.manifest,
                self.commit_arbiter,
                written_paths,
                next_id=next_id if next_id is not None else base.manifest["next_id"],
                tables=tables,
                bucketed=bucketed,
                indexes=indexes,
                # tri-state (docstring): a maintenance compaction is
                # captured-empty, it is no logical change
                cdc=cdc_entries if (cdc is not None or _maintenance) else None,
                defaults=self._defaults_map(),
                checks=dict(self.check_constraints),
                stats=table_stats,
                schemas=schemas,
                # stream_batch=(stream_id, batch_id) stamps THIS commit as
                # that micro-batch's effect (Delta's idempotent-writes txn
                # appId/version) for the streaming sink's replay guard
                stream_batches={
                    **base.manifest.get("stream_batches", {}),
                    **(dict([stream_batch]) if stream_batch else {}),
                },
            )
        except ConflictError:
            for tbl in written_tbls:
                self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            raise
        for key, tbl in arrow_in.items():
            rel = tables[key]
            struct = T.StructType.fromJson(schemas[rel])
            _LOCAL.put(os.path.join(self.root, rel), (struct, tbl.cast(_arrow_schema(struct))))
        snap = Snapshot(self, manifest)
        if (
            not _maintenance
            and self.compact_every
            and new_version % self.compact_every == 0
        ):
            # best-effort: the user's commit is ALREADY PUBLISHED at this
            # point, so no maintenance failure may propagate — a raised
            # ConflictError would reach Engine.run's retry loop and
            # re-execute (double-apply!) a transaction that succeeded.
            # A lost maintenance pass just runs again K commits later.
            try:
                snap = self.compact(self.compact_target_file_mb) or snap
                self.vacuum(self.retain_versions)
            except Exception as exc:  # noqa: BLE001 — see comment above
                import warnings

                warnings.warn(
                    f"store maintenance after v{new_version} skipped: {exc!r}",
                    stacklevel=2,
                )
        return snap

    # -- maintenance (OPTIMIZE + VACUUM) -----------------------------------

    def _table_file_stats(self, relpath: str) -> tuple[int, int]:
        """(data-file count, total bytes) for one table-version location —
        file metadata only, no data scan.  Uses the Hadoop FileSystem API so
        the same code works when ``root`` is on HDFS/S3A on a cluster."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(
            os.path.join(self.root, relpath)
        )
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        n = total = 0
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith("part-"):
                n += 1
                total += st.getLen()
        return n, total

    def compact(
        self, target_file_mb: int | None = None, min_files: int = 9
    ) -> "Snapshot | None":
        """OPTIMIZE: rewrite fragmented current tables into ~target-sized
        files as ONE new maintenance commit; returns the new snapshot, or
        None if nothing was fragmented.

        Every commit writes one parquet location per changed table with as
        many part-files as the writing DataFrame had partitions — kB-sized
        files under local[32] / per-trigger appends.  A table is rewritten
        when its file count exceeds ``max(min_files, 2 × the count its
        bytes actually need)``; healthy tables keep their existing files
        (the manifest simply re-points at them), so maintenance cost is
        proportional to fragmentation, not to store size.  Bucketed edge
        tables are re-bucketed by the normal commit path — compaction never
        degrades their layout, it just folds multi-file buckets."""
        target_file_mb = target_file_mb or self.compact_target_file_mb
        snap = self.snapshot()
        changed: dict[str, DataFrame] = {}
        for key, rel in snap.manifest["tables"].items():
            if key.startswith("x_"):
                # secondary indexes are rewritten whole (write_bucketed,
                # overwrite) inside every commit that changes their node
                # table — never fragmented, and re-derived automatically
                # when this compaction rewrites the node table below
                continue
            n_files, total_bytes = self._table_file_stats(rel)
            needed = max(1, int(total_bytes // (target_file_mb * 1024 * 1024)) + 1)
            if n_files >= max(min_files, 2 * needed):
                df = (
                    snap.nodes(key[2:])
                    if key.startswith("n_")
                    else snap.edge_table(key[2:])
                )
                changed[key] = df.coalesce(needed)
        if not changed:
            return None
        return self.commit(
            snap, changed, next_id=snap.manifest["next_id"], _maintenance=True
        )

    def rebuild_indexes(self) -> "Snapshot":
        """Re-derive every configured secondary index from the CURRENT node
        tables in one maintenance commit — the recovery step after a bulk
        load (which bypasses the engine and drops the touched table's
        indexes so readers fall back to scans rather than read stale ids).
        Idempotent; also picks up indexes newly configured on an existing
        store."""
        snap = self.snapshot()
        return self.commit(
            snap, {}, next_id=snap.manifest["next_id"],
            _maintenance=True, _reindex=True,
        )

    def merge_nodes(
        self,
        node_type: str,
        source: DataFrame,
        on: str,
        delete_where: str | None = None,
        base: "Snapshot | None" = None,
        stream_batch: "tuple[str, int] | None" = None,
    ) -> "Snapshot":
        """MERGE INTO the node table as ONE transactional commit — the
        Delta-style three-clause upsert this store lacked (the engine's
        point ops and the bulk loader cover the two ends; this is the
        set-based middle a warehouse sync job needs):

        - WHEN MATCHED (target.on == source.on) AND ``delete_where``
          → DELETE the target row;
        - WHEN MATCHED otherwise → UPDATE: every attribute column present
          in ``source`` overwrites the target's (including to NULL — SQL
          UPDATE semantics; a required attr set NULL surfaces lazily at
          point-read time, the reference's unset-required error);
        - WHEN NOT MATCHED → INSERT with freshly assigned engine ids
          (next_id counter advances in the same manifest), absent optional
          attrs defaulted, absent required attrs NULL (same lazy error).

        ``on`` is a NATURAL key attribute (e.g. ``name``), not the
        surrogate id; like Delta, a source with duplicate keys is rejected
        (two source rows updating one target row is non-deterministic),
        and NULL keys are rejected separately (a NULL can never match
        anything; silently inserting NULL-keyed rows would poison later
        merges).  Source columns are cast to their DECLARED attribute
        types before any of this — a drifted input type (doubles from a
        JSON feed against a long attr) must not change the stored column
        type, because the schema-evolution read path treats a re-typed
        column as an unknown key and defaults the WHOLE column.
        ``delete_where`` is a SQL boolean over the matched pair: target
        attributes by name, source attributes as ``_src_<name>``; a NULL
        result means FALSE (SQL MERGE semantics — the row is updated, not
        silently dropped).

        CDC: the commit records the full Delta-CDF shape (insert /
        update_preimage / update_postimage / delete) computed from the
        same join frames — set-based, no driver-side row collection
        (contrast graph.py's point-op path, which builds CDC driver-side
        because its touched set is id-bounded) — so incremental aggregate
        maintenance (operators/incremental.py) composes with merges.

        Scale: the matched/unmatched split is deliberate — an INNER join
        plus a LEFT ANTI for the untouched target rows (both broadcast
        the delta-sized source; a single FULL OUTER formulation could
        never broadcast, Spark has no broadcast full-outer), plus one
        LEFT ANTI of the source against the target's projected KEY column
        for the inserts.  Id assignment is one bounded window over the
        INSERT subset only; the target never enters an unpartitioned
        window.  The source is persisted across its multiple consumers.
        DELTA-SIZED ASSUMPTION: that id window is unpartitioned by design
        and serializes the INSERT subset into one task — correct at the
        transactional-merge granularity this API serves (a sync job's
        changed-row delta), NOT a bulk-load path.  A merge whose unmatched
        side approaches dimension scale (10⁹ rows) should go through the
        Arrow bulk loader, or this window gets the chunked parallel-prefix
        rank treatment (plans/prefix.py:ranked_prefix, the pareto/RFM
        pattern).

        Optimistic concurrency: like every commit, raises ConflictError if
        CURRENT moved past ``base``; the caller re-runs on a fresh
        snapshot.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        base = base or self.snapshot()
        nt = self.schema.node_type(node_type)
        nt.attr(on)  # plan-time validation: `on` must exist
        attr_names = [a.name for a in nt.attrs]
        unknown = [c for c in source.columns if c not in attr_names]
        if unknown or on not in source.columns:
            raise ValueError(
                f"merge_nodes source columns must be attributes of "
                f"{node_type!r} and include {on!r}; unknown={unknown}"
            )
        upd_cols = [c for c in source.columns if c != on]

        tgt = base.nodes(node_type)
        # every source column lands at its DECLARED type (see docstring)
        src = source.select(
            *[
                F.col(c).cast(nt.attr(c).spark_type()).alias(f"_src_{c}")
                for c in [on, *upd_cols]
            ]
        ).persist()
        persisted = [src]
        try:
            # Delta's multiple-match guard + the NULL-key guard, one agg
            cnts = src.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(f"_src_{on}").alias("nn"),
                F.countDistinct(f"_src_{on}").alias("d"),
            ).collect()[0]
            if cnts["nn"] != cnts["n"]:
                raise ValueError(
                    f"merge_nodes: source has {cnts['n'] - cnts['nn']} NULL "
                    f"{on!r} keys — a NULL key can never match; filter or "
                    "key-fill the source"
                )
            if cnts["nn"] != cnts["d"]:
                raise ValueError(
                    f"merge_nodes: source has {cnts['nn'] - cnts['d']} "
                    f"duplicate {on!r} keys — pre-aggregate the source"
                )
            # delta-sized: persisted because the result write, the CDC
            # write, and the insert count each consume them (the old
            # full-outer persisted the TARGET-sized join; these are tiny)
            matched = tgt.join(
                F.broadcast(src), tgt[on] == src[f"_src_{on}"], "inner"
            ).persist()
            persisted.append(matched)
            untouched = tgt.join(
                F.broadcast(src.select(f"_src_{on}")),
                tgt[on] == src[f"_src_{on}"],
                "left_anti",
            )
            # NULL delete_where -> FALSE (update), per SQL MERGE semantics
            doomed = (
                F.coalesce(F.expr(delete_where), F.lit(False))
                if delete_where
                else F.lit(False)
            )
            upd_val = {c: F.col(f"_src_{c}") for c in upd_cols}
            updated_pre = matched.filter(~doomed).select("id", *attr_names)
            updated_post = matched.filter(~doomed).select(
                "id",
                *[
                    (upd_val[a] if a in upd_val else F.col(a)).alias(a)
                    for a in attr_names
                ],
            )
            deleted_pre = matched.filter(doomed).select("id", *attr_names)
            inserts_src = src.join(
                tgt.select(F.col(on).alias(f"_src_{on}")),
                f"_src_{on}",
                "left_anti",
            ).select(
                *[F.col(f"_src_{c}").alias(c) for c in [on, *upd_cols]]
            ).persist()
            persisted.append(inserts_src)
            n_inserts = inserts_src.count()
            next_id = base.manifest["next_id"]
            # fresh ids: deterministic (key-ordered) row_number over the
            # DELTA-sized insert subset only
            iw = Window.orderBy(F.col(on))
            inserts = inserts_src.select(
                (F.row_number().over(iw) + F.lit(next_id - 1))
                .cast("long")
                .alias("id"),
                *[
                    (
                        F.col(a.name)
                        if a.name in source.columns
                        else F.lit(a.default if not a.required else None).cast(
                            a.spark_type()
                        )
                    ).alias(a.name)
                    for a in nt.attrs
                ],
            )
            result = untouched.select("id", *attr_names).unionByName(
                updated_post
            ).unionByName(inserts)

            cdc_df = (
                inserts.withColumn("_change", F.lit("insert"))
                .unionByName(
                    updated_pre.withColumn("_change", F.lit("update_preimage"))
                )
                .unionByName(
                    updated_post.withColumn("_change", F.lit("update_postimage"))
                )
                .unionByName(deleted_pre.withColumn("_change", F.lit("delete")))
            )
            return self.commit(
                base,
                {f"n_{node_type}": result},
                next_id=next_id + n_inserts,
                cdc={f"n_{node_type}": cdc_df},
                stream_batch=stream_batch,
            )
        finally:
            for df_ in persisted:
                df_.unpersist()

    def restore(self, version: int) -> "Snapshot":
        """RESTORE the store to a previous version as a NEW commit (Delta's
        RESTORE): the new manifest re-points at the old version's immutable
        files — zero data copied or rewritten, and history is preserved
        (the bad versions stay readable until vacuum retires them; the
        restore itself can be restored away again).

        Semantics decided deliberately:
        - ``next_id`` takes the MAX of now and then — ids handed out after
          the restored version must never be re-issued to different rows;
        - ``stream_batches`` cursors carry forward from CURRENT, not the
          restored version — a replayed micro-batch was still APPLIED once
          (its effect is being undone on purpose), and rewinding the
          cursor would double-apply every stream since;
        - the commit's ``cdc`` is NOT captured (null): the row-level delta
          of a restore is unknowable without a diff join, so
          completeness-requiring consumers (incremental maintenance) fail
          loudly and re-seed, exactly like a bulk load;
        - bucketed-table catalog entries survive only if the session still
          knows them (readers fall back to the same parquet bytes).

        Raises ValueError if the target manifest or any of its data files
        has been vacuumed away — raise ``retain_versions`` to keep longer
        restore horizons.  ConflictError if a concurrent commit races the
        restore (retry on a fresh look, like any commit).
        """
        base = self.snapshot()
        if version == base.version:
            return base
        if version > base.version or version < 0:
            raise ValueError(
                f"cannot restore to version {version}: it does not exist "
                f"(current={base.version})"
            )
        try:
            old = self.snapshot(version)
        except FileNotFoundError:
            raise ValueError(
                f"cannot restore to version {version}: its manifest was "
                "vacuumed (raise retain_versions)"
            ) from None
        missing = [
            rel
            for rel in old.manifest["tables"].values()
            if not os.path.exists(os.path.join(self.root, rel))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: data vacuumed: "
                f"{missing}"
            )
        bucketed = {
            k: t
            for k, t in old.manifest.get("bucketed", {}).items()
            if self.spark.catalog.tableExists(t)
        }
        manifest = publish(
            self.root,
            base.manifest,
            self.commit_arbiter,
            next_id=max(base.manifest["next_id"], old.manifest["next_id"]),
            tables=dict(old.manifest["tables"]),
            bucketed=bucketed,
            indexes=dict(old.manifest.get("indexes", {})),
            # from the LIVE schema, never the restored manifest (see
            # _defaults_map)
            defaults=self._defaults_map(),
            checks=dict(self.check_constraints),
            # stats describe the FILES, which are the restored version's
            stats=dict(old.manifest.get("stats", {})),
            schemas=dict(old.manifest.get("schemas", {})),
        )
        return Snapshot(self, manifest)

    def clone(self, new_root: str) -> "GraphStore":
        """SHALLOW CLONE (Delta's CLONE TABLE): a new, independent store
        whose version-0 manifest re-points at this store's CURRENT data
        files by ABSOLUTE path — zero bytes copied, O(metadata) cost.

        Why it just works: every reader and the append path resolve table
        entries with ``os.path.join(root, rel)``, and joining an absolute
        path ignores the left side — so absolute entries read the source
        files in place, while everything the clone WRITES (new versions,
        compaction output, staging) lands under ``new_root`` with plain
        relative entries.  Appends hard-link the referenced source files
        into the clone's new version dir (copy on cross-device), exactly
        like any append.  The clone's vacuum sweeps only ``new_root/data``
        and can never touch the source.

        Semantics decided deliberately:
        - ``stream_batches`` cursors CARRY into the clone (Delta clears
          txn identity on clone; we diverge): the cursor records that a
          micro-batch's effect is already present in these files — as
          true in the clone as in the source — and clearing it would
          double-apply every replayed batch into the clone;
        - ``next_id`` carries, so engine ids never collide with cloned
          rows; ``checks``/``defaults``/``indexes``/``stats`` carry (the
          clone is constraint-equivalent until re-declared); ``cdc`` is
          null (not captured), so strict change consumers re-seed;
        - RETENTION GUARD (r11): the clone registers itself in the
          source's ``_clones/`` sidecar, and the source's ``vacuum()``
          treats the registered file set as referenced — so a routine
          source vacuum can no longer retire files a live clone still
          reads (Delta's retention-pin idea).  The pin is conservative
          (creation-time file set); drop it with
          ``source.release_clone(clone_root)`` when the clone is deleted
          or fully localized via ``compact()``.  A registration whose
          clone directory has vanished is auto-dropped by vacuum after
          the same 24 h age guard as abandoned staging dirs.
        """
        snap = self.snapshot()

        def _open_clone() -> "GraphStore":
            _swap_current(new_root, 0)
            return GraphStore(
                self.spark, new_root, self.schema,
                bucket_edges=self.bucket_edges,
                bucket_nodes=self.bucket_nodes,
                compact_every=self.compact_every,
                compact_target_file_mb=self.compact_target_file_mb,
                retain_versions=self.retain_versions,
                index_attrs={k: list(v) for k, v in self.index_attrs.items()},
                index_buckets=self.index_buckets,
                commit_arbiter=self.commit_arbiter,
            )

        if os.path.exists(os.path.join(new_root, "CURRENT")):
            raise ValueError(f"clone target {new_root!r} is already a store")
        v0_path = os.path.join(new_root, "manifest.v0.json")
        if os.path.exists(v0_path):
            # a prior clone() crashed between the manifest put and the
            # CURRENT publish.  A COMPLETE v0 from THIS source resumes by
            # re-pointing CURRENT (even if the source has since committed:
            # the persisted v0 is self-consistent, and the resumed clone
            # simply reflects the version the original attempt captured —
            # review r10b).  An empty/unparseable v0 (ConditionalPut crash
            # residue) falls through to put_if_absent, whose grace-period
            # reclaim arbitrates it.  Only someone ELSE's half-created
            # clone is rejected.
            prior: dict | None = None
            prior_manifest: dict = {}
            try:
                with open(v0_path) as f:
                    prior_manifest = json.load(f)
                prior = prior_manifest.get("cloned_from") or {}
            except (json.JSONDecodeError, OSError):
                prior = None  # residue: let the arbiter reclaim below
            if prior is not None:
                if prior.get("root") == self.root:
                    # re-pin on resume: the original attempt may have
                    # crashed before its registration landed
                    self._register_clone(
                        new_root,
                        prior_manifest.get("tables", {}).values(),
                        int(prior.get("version", 0)),
                    )
                    return _open_clone()
                raise ValueError(
                    f"clone target {new_root!r} holds a half-created clone "
                    f"of a different source ({prior}) — remove it or pick "
                    "another target"
                )
        os.makedirs(os.path.join(new_root, "data"), exist_ok=True)

        def _abs(rel: str) -> str:
            return rel if os.path.isabs(rel) else os.path.join(self.root, rel)

        bucketed = {
            k: t
            for k, t in snap.manifest.get("bucketed", {}).items()
            if self.spark.catalog.tableExists(t)
        }
        manifest = {
            "version": 0,
            "next_id": snap.manifest["next_id"],
            "tables": {k: _abs(rel) for k, rel in snap.manifest["tables"].items()},
            "bucketed": bucketed,
            "indexes": dict(snap.manifest.get("indexes", {})),
            "stream_batches": dict(snap.manifest.get("stream_batches", {})),
            "cdc": None,
            "defaults": snap.manifest.get("defaults", {}),
            "checks": dict(snap.manifest.get("checks", {})),
            "stats": dict(snap.manifest.get("stats", {})),
            # re-keyed like the tables they describe
            "schemas": {
                _abs(rel): s for rel, s in snap.manifest.get("schemas", {}).items()
            },
            "cloned_from": {"root": self.root, "version": snap.version},
        }
        # pin BEFORE the manifest becomes readable: once v0 exists a reader
        # may follow its absolute paths, so the vacuum guard must already
        # hold.  If the put below loses, the pin is redundant-but-identical
        # (same content-addressed file) or ages out via the dead-clone rule.
        self._register_clone(new_root, manifest["tables"].values(), snap.version)
        stamp_committed_at(new_root, manifest)
        if not self.commit_arbiter.put_if_absent(v0_path, json.dumps(manifest)):
            # accurate recovery guidance per arbiter: only ConditionalPut
            # reclaims crashed claims after a grace period; HardLink has no
            # reclaim, so residue must be removed by hand or the target
            # wedges forever with misleading advice (review r11)
            if isinstance(self.commit_arbiter, ConditionalPutArbiter):
                hint = (
                    "retry after the reclaim grace period "
                    f"({self.commit_arbiter.RECLAIM_AFTER_S:.0f}s), or "
                    "remove it"
                )
            else:
                hint = (
                    "this arbiter has no crash reclaim — remove the "
                    "target's manifest.v0.json manually if the prior "
                    "attempt is dead"
                )
            raise ValueError(
                f"clone target {new_root!r} holds an in-flight or crashed "
                f"clone attempt — {hint}"
            )
        return _open_clone()

    def _retention_horizon(self, current: int, retain: int | None = None) -> int:
        """Oldest version still inside the retention window — the same
        horizon ``vacuum`` deletes up to and ``fsck`` audits from."""
        r = self.retain_versions if retain is None else retain
        return max(0, current - max(1, r) + 1)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY (Delta's audit-trail read): one record per
        RETAINED version, newest first — operation kind (bootstrap /
        write / metadata-only / clone), commit timestamp (r12:
        ``committed_at`` epoch seconds + ``timestamp`` local ISO — the
        same wall clock ``timestampAsOf`` reads resolve against; None on
        manifests committed before stamping existed), which table
        versions changed, total recorded rows, the id cursor, CDC
        capture, and stream cursors.  Read-only: derived entirely from
        the retained manifests; versions beyond the retention horizon
        are vacuumed and so absent (like Delta, history is bounded by
        retention)."""

        def _render_ts(committed_at):
            if committed_at is None:
                return None
            try:
                return datetime.datetime.fromtimestamp(
                    committed_at
                ).isoformat(sep=" ", timespec="milliseconds")
            except (OverflowError, OSError, ValueError):
                # a hand-edited/corrupt stamp outside the platform range
                # must not take down the whole audit trail — the raw
                # committed_at is still in the record
                return None

        current = self.current_version()
        horizon = self._retention_horizon(current)

        def _unreadable(v: int) -> dict:
            return {
                "version": v,
                "operation": "unreadable",
                "changed_tables": [],
                "n_tables": None,
                "total_rows": None,
                "next_id": None,
                "has_cdc": None,
                "stream_cursors": {},
                "cloned_from": None,
                "committed_at": None,
                "timestamp": None,
            }

        prev_tables: dict | None = None
        records: list[dict] = []
        for v in range(horizon, current + 1):
            try:
                m = read_manifest(self.root, v)
            except FileNotFoundError:
                # vacuumed inside the horizon: the NEXT version must not
                # be diffed against a non-adjacent predecessor (a RESTORE
                # back to the older tables would read "metadata-only")
                prev_tables = None
                continue
            except (json.JSONDecodeError, OSError):
                records.append(_unreadable(v))
                prev_tables = None
                continue
            try:
                tables = m.get("tables", {})
                if m.get("cloned_from"):
                    op = "clone"
                elif v == 0:
                    op = "bootstrap"
                elif prev_tables is not None and tables == prev_tables:
                    op = "metadata-only"
                else:
                    op = "write"
                changed = (
                    sorted(
                        k
                        for k in set(tables) | set(prev_tables)
                        if prev_tables.get(k) != tables.get(k)
                    )
                    if prev_tables is not None
                    else sorted(tables)
                )
                stats = m.get("stats") or {}
                committed_at = m.get("committed_at")
                if not isinstance(committed_at, (int, float)):
                    committed_at = None  # pre-r12 manifest: no stamp
                record = {
                    "version": v,
                    "operation": op,
                    # Delta DESCRIBE HISTORY's timestamp: epoch seconds
                    # (raw, for timestampAsOf math) + local ISO rendering
                    "committed_at": committed_at,
                    "timestamp": _render_ts(committed_at),
                    "changed_tables": changed,
                    "n_tables": len(tables),
                    "total_rows": (
                        sum(s.get("rows") or 0 for s in stats.values())
                        if stats
                        else None
                    ),
                    "next_id": m.get("next_id"),
                    "has_cdc": m.get("cdc") is not None,
                    "stream_cursors": dict(m.get("stream_batches", {})),
                    "cloned_from": m.get("cloned_from"),
                }
            except (AttributeError, TypeError):
                # parseable JSON but not a manifest shape (a corrupt or
                # hand-edited file): report it, like an unreadable one,
                # rather than crash the whole audit trail
                records.append(_unreadable(v))
                prev_tables = None
                continue
            records.append(record)
            prev_tables = tables
        records.reverse()
        return records

    # -- shallow-clone retention registry (r11) -----------------------------

    def _clone_reg_path(self, clone_root: str) -> str:
        import hashlib

        # realpath, not abspath: a register/release pair spelled through
        # different symlinks must key the SAME registration, or the pin
        # silently survives release and vacuum retains forever (r11 advice)
        key = hashlib.sha1(os.path.realpath(clone_root).encode()).hexdigest()[:16]
        return os.path.join(self.root, "_clones", f"{key}.json")

    def _register_clone(self, clone_root: str, referenced, version: int) -> None:
        """Record a retention pin for a shallow clone: the SOURCE-relative
        data paths the clone's v0 manifest references.  ``vacuum()`` treats
        them as referenced, so routine source maintenance can no longer
        dangle a live clone (prevention to go with ``fsck``'s detection —
        r10 verdict).  Idempotent per clone_root (content-addressed file,
        atomic replace); entries pointing into OTHER roots (a clone of a
        clone) are not ours to protect and are skipped."""
        prefix = self.root.rstrip(os.sep) + os.sep
        rels = sorted(
            {
                os.path.relpath(p, self.root) if os.path.isabs(p) else p
                for p in referenced
                if not os.path.isabs(p) or p.startswith(prefix)
            }
        )
        reg = {
            "clone_root": os.path.realpath(clone_root),
            "source_version": version,
            "tables": rels,
        }
        path = self._clone_reg_path(clone_root)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as f:
            json.dump(reg, f)
        os.replace(tmp, path)

    def _clone_registrations(self) -> list[tuple[str, dict]]:
        d = os.path.join(self.root, "_clones")
        if not os.path.isdir(d):
            return []
        out: list[tuple[str, dict]] = []
        for name in sorted(os.listdir(d)):
            if not name.endswith(".json"):
                continue  # a crashed mkstemp temp — harmless residue
            p = os.path.join(d, name)
            try:
                with open(p) as f:
                    out.append((p, json.load(f)))
            except (json.JSONDecodeError, OSError):
                continue
        return out

    def release_clone(self, clone_root: str) -> bool:
        """Drop a clone's retention pin (call when the clone is deleted or
        fully localized via its own ``compact()``).  Returns whether a pin
        existed.  The next source ``vacuum()`` may then sweep files only
        that clone referenced."""
        removed = False
        try:
            os.unlink(self._clone_reg_path(clone_root))
            removed = True
        except FileNotFoundError:
            pass
        # ALSO sweep field matches — a pin can exist under another key:
        # registered pre-r12 (abspath-keyed) or through a symlink spelling
        # realpath can no longer reproduce (the clone dir was deleted).
        # Match the recorded clone_root against every spelling we can
        # derive, and remove ALL matches, not just the first — duplicate
        # registrations from mixed key schemes must not leave a survivor
        # pinning vacuum forever (review r12).
        spellings = {
            clone_root,
            os.path.abspath(clone_root),
            os.path.realpath(clone_root),
        }
        for path, reg in self._clone_registrations():
            if reg.get("clone_root") in spellings:
                try:
                    os.unlink(path)
                    removed = True
                except FileNotFoundError:
                    pass
        return removed

    def fsck(self, deep: bool = False) -> dict:
        """Integrity check of every RETAINED version: manifests parse, every
        referenced table/CDC directory exists and holds parquet files, zone
        sidecars parse, and (``deep=True``) footers open, their row
        total matches the manifest's recorded stats, and every file's
        footer schema equals the table version's recorded read schema
        (a wrong entry would otherwise be read silently: reads trust it).  Returns
        ``{"ok", "errors", "warnings", "versions_checked"}`` — it reports,
        never repairs.

        This is the tool for the documented shallow-clone caveat: a clone
        whose SOURCE vacuumed files out from under it fails fsck with the
        absolute paths named, BEFORE a reader trips over them.
        """
        errors: list[str] = []
        warnings: list[str] = []
        current = self.current_version()
        horizon = self._retention_horizon(current)
        checked = []
        for v in range(horizon, current + 1):
            try:
                m = read_manifest(self.root, v)
            except FileNotFoundError:
                continue  # vacuumed inside the horizon: vacuum's business
            except (json.JSONDecodeError, OSError) as exc:
                errors.append(f"manifest v{v} unreadable: {exc!r}")
                continue
            checked.append(v)
            refs = dict(m.get("tables", {}))
            refs.update(
                {f"cdc:{k}": rel for k, rel in (m.get("cdc") or {}).items()}
            )
            for key, rel in refs.items():
                d = os.path.join(self.root, rel)
                if not os.path.isdir(d):
                    errors.append(f"v{v} {key}: missing directory {d}")
                    continue
                files = [
                    n
                    for n in os.listdir(d)
                    if n.endswith(".parquet") or n.startswith("part-")
                ]
                zpath = os.path.join(d, "_zones.json")
                if os.path.exists(zpath):
                    try:
                        with open(zpath) as f:
                            zones = json.load(f)
                        ghost = set(zones) - set(files)
                        if ghost:
                            warnings.append(
                                f"v{v} {key}: zone entries for absent "
                                f"files {sorted(ghost)}"
                            )
                    except (json.JSONDecodeError, OSError) as exc:
                        errors.append(f"v{v} {key}: bad zone sidecar: {exc!r}")
                if deep and not key.startswith("cdc:"):
                    import pyarrow.parquet as pq

                    recorded = (m.get("schemas") or {}).get(rel)
                    if recorded is not None:
                        recorded = T.StructType.fromJson(recorded)
                    rows = 0
                    for n in files:
                        try:
                            pf = pq.ParquetFile(os.path.join(d, n))
                            rows += pf.metadata.num_rows
                            footer = _footer_schema(pf)
                        except Exception as exc:
                            errors.append(
                                f"v{v} {key}: unreadable footer {n}: {exc!r}"
                            )
                            continue
                        if recorded is not None and footer != recorded:
                            errors.append(
                                f"v{v} {key}: recorded schema "
                                f"{recorded.simpleString()} != footer schema "
                                f"{footer.simpleString()} of {n}"
                            )
                    stat = (m.get("stats") or {}).get(key)
                    if stat and stat.get("rows") is not None and rows != stat["rows"]:
                        errors.append(
                            f"v{v} {key}: footer rows {rows} != recorded "
                            f"stats rows {stat['rows']}"
                        )
        for reg_path, reg in self._clone_registrations():
            croot = reg.get("clone_root", "")
            if not os.path.exists(os.path.join(croot, "CURRENT")):
                warnings.append(
                    f"clone pin {os.path.basename(reg_path)} points at "
                    f"missing clone {croot} — release_clone() it, or vacuum "
                    "ages it out"
                )
        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "versions_checked": checked,
        }

    def vacuum(self, retain_versions: int | None = None) -> list[str]:
        """Garbage-collect table versions (and their session-catalog bucket
        tables, and manifests) referenced only by snapshots older than the
        newest ``retain_versions`` — the VACUUM half of maintenance.

        Returns the deleted data relpaths.  Like Delta's VACUUM, a reader
        still pinned to a pre-horizon snapshot version would break — size
        the retention to cover the longest-running transaction.  The
        superseded ``edgy_<hash>_e_*_vN`` catalog entries are dropped here
        too, so session-catalog metadata stays bounded across commits
        (DROP TABLE on these external tables removes only metadata; the
        data files are deleted by the relpath sweep)."""
        retain = (
            self.retain_versions if retain_versions is None else retain_versions
        )
        current = self.current_version()
        # repair the pointer cache BEFORE dropping manifests: if a crashed
        # committer left CURRENT stale, deleting the intermediate manifests
        # would break the roll-forward probe chain (CURRENT -> N while only
        # manifest N+k survives).  A racing commit may immediately advance
        # past this write — harmless, CURRENT is a hint readers roll
        # forward from, never backward-authoritative.
        _swap_current(self.root, current)
        horizon = self._retention_horizon(current, retain)
        referenced_rel: set[str] = set()
        referenced_tbl: set[str] = set()
        for v in range(horizon, current + 1):
            try:
                m = read_manifest(self.root, v)
            except FileNotFoundError:
                continue
            referenced_rel.update(m["tables"].values())
            referenced_rel.update((m.get("cdc") or {}).values())
            referenced_tbl.update(m.get("bucketed", {}).values())
        removed: list[str] = []
        data_dir = os.path.join(self.root, "data")
        import re as _re
        import time as _time

        def _abandoned(path: str) -> bool:
            """24 h age guard — the same rule object-store lifecycle
            policies use for incomplete multipart uploads."""
            try:
                age = _time.time() - os.path.getmtime(path)
            except OSError:
                return False
            return age >= 86_400

        # shallow-clone retention pins (r11): every file a registered clone
        # references stays; a registration whose clone directory vanished
        # without release_clone() auto-drops after the same age guard
        for reg_path, reg in self._clone_registrations():
            alive = os.path.exists(
                os.path.join(reg.get("clone_root", ""), "CURRENT")
            )
            if not alive and _abandoned(reg_path):
                try:
                    os.unlink(reg_path)
                except OSError:
                    pass
                continue
            referenced_rel.update(reg.get("tables", []))

        for name in sorted(os.listdir(data_dir)):
            rel = os.path.join("data", name)
            if rel in referenced_rel:
                continue
            if name.startswith("."):
                # dot-prefixed: an in-flight bulk writer's staging directory
                # (sources/pysource.EdgyWriter) — deleting it under a live
                # job loses rows.  Sweep only abandoned ones.
                if not _abandoned(os.path.join(data_dir, name)):
                    continue
            else:
                # versioned table data referenced by NO manifest: either
                # history whose manifests this vacuum already dropped
                # (version <= current → safe to sweep), or a CONCURRENT
                # commit's in-flight write racing us (its version is above
                # every published manifest because commit stages data
                # BEFORE publishing) — age-guard those, and anything
                # unparsable, instead of deleting a live job's output.
                m = _re.search(r"\.v(\d+)", name)
                in_flight = m is None or int(m.group(1)) > current
                if in_flight and not _abandoned(os.path.join(data_dir, name)):
                    continue
            shutil.rmtree(os.path.join(data_dir, name), ignore_errors=True)
            _LOCAL.discard(os.path.join(self.root, rel))
            removed.append(rel)
        # a crash DURING a manifest/pointer temp write leaves an unlinked
        # mkstemp file in the root; sweep abandoned ones (same age guard)
        for name in os.listdir(self.root):
            p = os.path.join(self.root, name)
            if name.startswith("tmp") and os.path.isfile(p) and _abandoned(p):
                try:
                    os.unlink(p)
                except OSError:
                    pass
        prefix = self._bucket_table_name("", 0).rsplit("_v", 1)[0].rstrip("_") + "_"
        for tbl in self.spark.catalog.listTables():
            if not tbl.name.startswith(prefix) or tbl.name in referenced_tbl:
                continue
            # Same in-flight guard as the data sweep above: a CONCURRENT
            # committer registers its bucket table (write_bucketed) BEFORE
            # the manifest links it, so an unreferenced table whose version
            # is above every published manifest may be a live commit —
            # dropping it would silently cost the committed version its
            # bucket pruning (reads stay correct via the parquet fallback).
            # Reconstruct the table's staged data path from the name
            # (edgy_<h>_<key>_v<N>[_<token>] <-> data/<key>.v<N>-<token>.parquet)
            # and drop only when the version is published, the data is gone,
            # or the staging is abandoned (24 h age guard).
            m = _re.match(
                r"^(?P<key>.+)_v(?P<ver>\d+)(?:_(?P<token>[0-9a-f]{8}))?$",
                tbl.name[len(prefix):],
            )
            if m and int(m.group("ver")) > current:
                tok = f"-{m.group('token')}" if m.group("token") else ""
                staged = os.path.join(
                    data_dir, f"{m.group('key')}.v{m.group('ver')}{tok}.parquet"
                )
                if os.path.exists(staged) and not _abandoned(staged):
                    continue
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")
        for v in range(0, horizon):
            try:
                os.remove(self._manifest_path(v))
            except FileNotFoundError:
                pass
        return removed


    # -- change data feed --------------------------------------------------

    def table_changes(
        self, key: str, from_version: int, to_version: int | None = None,
        strict: bool = True,
    ) -> DataFrame:
        """Row-level changes recorded for ``key`` (e.g. ``n_Person``) in
        versions ``(from_version, to_version]`` — the batch read of the
        commit-time CDC capture (Delta's ``table_changes`` analogue).

        Returns the row image + ``_change`` + ``_commit_version``, with
        ``_change`` ∈ {insert, update_postimage, delete} — plus
        ``update_preimage`` rows for versions committed under
        ``Engine(capture_cdc="full")`` (Delta CDF's full shape: a replica
        builder must FILTER preimages before applying upserts; they exist
        for delta consumers — operators/incremental.py — that subtract an
        updated row's old contribution).  Captured versions with no
        changes for the table contribute nothing.  Each version is its own
        small parquet location, so the read is proportional to the CHANGES
        in the range, never to table size — the whole point of commit-time
        capture at 100 TB.

        ``strict`` (default): a version in the range whose changes are
        unknowable — NOT captured (committed without ``capture_cdc`` or via
        the bulk writer: manifest ``cdc`` is null) or whose manifest was
        vacuumed away (size ``retain_versions`` to consumer lag) — raises
        instead of silently yielding an incomplete feed; pass
        ``strict=False`` to skip such versions knowingly.
        """
        from pyspark.sql import functions as F  # local: keep imports light

        to_version = self.current_version() if to_version is None else to_version
        parts: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            try:
                m = read_manifest(self.root, v)
            except FileNotFoundError:
                if strict:
                    raise ValueError(
                        f"version {v} has no change capture (its manifest "
                        "was vacuumed): the change feed would be "
                        "incomplete.  Pass strict=False to skip it, or "
                        "raise retain_versions."
                    ) from None
                continue
            cdc_map = m.get("cdc")
            if cdc_map is None:
                if strict:
                    raise ValueError(
                        f"version {v} has no change capture (committed "
                        "without capture_cdc, or by the bulk writer): the "
                        "change feed would be incomplete.  Pass "
                        "strict=False to skip uncaptured versions."
                    )
                continue
            rel = cdc_map.get(key)
            if rel is None:
                continue
            df = self.spark.read.parquet(os.path.join(self.root, rel))
            # change files written before a schema evolution reconcile to
            # the CURRENT node type EXACTLY like Snapshot version reads
            # (same helper): added-since attrs read as their declared
            # default, re-typed old columns are unknown keys, dropped
            # columns disappear
            df = _reconcile_to_schema(
                df, self.schema.node_type(key[2:]), passthrough=("_change",)
            )
            parts.append(
                df.withColumn("_commit_version", F.lit(v).cast("long"))
            )
        if not parts:
            struct = _cdc_struct(self.schema.node_type(key[2:]))
            return local_df(self.spark, arrow_table([], struct), struct)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def _jsonable_default(v):
    """Manifest encoding of a declared attribute default: JSON scalars
    pass through, bytes are base64-tagged ({"b64": ...}), JSON-safe lists
    pass through; anything else returns None (= omitted from the map)."""
    import base64

    if isinstance(v, (bool, str, int, float)):
        return v
    if isinstance(v, bytes):
        return {"b64": base64.b64encode(v).decode("ascii")}
    if isinstance(v, list):
        try:
            json.dumps(v)
        except TypeError:
            return None
        return v
    return None


def _cdc_struct(nt) -> T.StructType:
    fields = list(nt.struct_type().fields)
    fields.append(T.StructField("_change", T.StringType(), False))
    fields.append(T.StructField("_commit_version", T.LongType(), False))
    return T.StructType(fields)


class CheckViolationError(Exception):
    """A commit tried to publish rows violating a declared CHECK constraint."""


class ConflictError(RuntimeError):
    """Concurrent commit beat this transaction — re-run it (STM retry
    analogue).  A RuntimeError, the error the ``format("edgy")`` writers
    document for a lost race."""


def snapshot_diff(old: Snapshot, new: Snapshot, node_type: str) -> DataFrame:
    """Row-level changes to a node table between two pinned versions — the
    CDC/table_changes read every incremental consumer wants: recompute only
    what changed instead of rescanning the table.

    Returns the full row plus ``_change`` ∈ {'insert', 'delete'}; an update
    appears as delete+insert of the differing rows.  Implemented as two
    EXCEPT ALLs (bag semantics, so duplicate rows diff correctly); each is
    one hash-partition pass over only the two versions' files.  At 100 TB
    the versioned layout makes this proportional to the tables, not to
    history length — manifests pin exactly two file sets.
    """
    o = old.nodes(node_type)
    n = new.nodes(node_type)
    from pyspark.sql import functions as F  # local: keep module import light

    added = n.exceptAll(o).withColumn("_change", F.lit("insert"))
    removed = o.exceptAll(n).withColumn("_change", F.lit("delete"))
    return added.unionAll(removed)


def snapshot_diff_edges(old: Snapshot, new: Snapshot, table: str) -> DataFrame:
    """Edge-table counterpart of :func:`snapshot_diff` (same contract:
    full row + ``_change``).  Edge churn dominates graph workloads — the
    reference's own mutations are mostly edge writes — so incremental
    consumers (e.g. re-running only affected components of an iterative
    algorithm) diff the edge tables, not the node tables."""
    o = old.edge_table(table)
    n = new.edge_table(table)
    from pyspark.sql import functions as F

    added = n.exceptAll(o).withColumn("_change", F.lit("insert"))
    removed = o.exceptAll(n).withColumn("_change", F.lit("delete"))
    return added.unionAll(removed)

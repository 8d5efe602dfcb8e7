"""``spark.read.format("edgy")`` — a custom Python DataSource (PySpark 4
API) exposing the versioned graph store as a first-class Spark source with
TIME TRAVEL and filter pushdown.

The reference's persistence is private to its process (the external
``persistent-stm`` package — /root/reference/edgy.cabal:43 — whose
on-disk state is readable only through its own API);
a Spark-native engine should instead expose storage to the WHOLE Spark
ecosystem — SQL, other sessions, other tools — without importing engine
code.  This source reads any ``GraphStore`` root directly::

    spark.read.format("edgy")
        .option("root", "/path/to/db")
        .option("table", "n_Person")      # n_<NodeType> | e_<relation table>
        .option("version", "3")           # optional: time travel (default CURRENT)
        .option("timestampAsOf", "2026-08-16 12:00:00")  # or by commit time
                                          # (newest version <= ts; epoch
                                          # seconds also accepted; errors
                                          # past retention — Delta semantics)
        .load()

Scale design:

- one :class:`InputPartition` per parquet data file → reads parallelize
  across executors exactly like the native parquet source;
- ``pushFilters`` accepts conjunctive comparisons on top-level columns and
  evaluates them via pyarrow's dataset filters, so predicate pushdown
  reaches the row-group/statistics level (a ``src = K`` point read touches
  only matching row groups), and Spark does not re-filter what the source
  already guaranteed;
- ZONE-MAP FILE SKIPPING: the bulk writer collects per-file per-column
  [min, max] stats while the batches stream through (the Delta/Iceberg
  design — stats cost nothing extra at write time) and commits them as the
  immutable version directory's ``_zones.json``; at PLANNING time the
  reader skips whole files a pushed filter cannot match — no task, no
  footer read.  At 100 TB this is the metadata layer that keeps a
  selective query from scheduling one task per corpus file.  Entry-less
  files (engine point-commits, streams, foreign writers) are simply never
  pruned — the sidecar accelerates, it is never load-bearing for
  correctness;
- batches stream back as Arrow ``RecordBatch``es — zero row-at-a-time
  Python cost on the read path.

KNOWN UPSTREAM HAZARD (pyspark 4.1, pinned by
tests/test_pysource.py::test_spark_reuses_filtered_scan_for_filterless_plans):
Spark caches a Python source's latest planned scan on the relation and
reuses it for plans that push NO filters, so running a filtered action and
then a filterless action on the SAME loaded DataFrame returns the filtered
rows.  Use one ``load()`` per query (cheap — planning re-runs anyway) until
the pinned test flips on a fixed Spark.

Schema comes from the stored parquet footer (self-describing), NOT from a
GraphSchema — so a consumer needs no engine code, and reads of old versions
see the schema those files were written with (the engine applies its own
schema reconciliation on top when it reads through Snapshot.nodes).

Writes: ``df.write.format("edgy")`` commits one table per save;
for a loader that must publish a node batch AND its edge batches
atomically (the reference's single-txn ``bigBang``,
/root/reference/app/Main.hs:79-116), add ``.option("txn", name)`` to each
write — data stages without publishing — then
:func:`commit_edgy_txn(root, name)` links ONE manifest covering every
staged table, so readers see the batch both-or-neither
(:func:`abort_edgy_txn` discards a pending txn).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _resolve_table_path(root: str, table: str, version: str | None) -> str:
    if version is None:
        version = _current_version(root)
    with open(os.path.join(root, f"manifest.v{int(version)}.json")) as f:
        manifest = json.load(f)
    rel = manifest["tables"].get(table)
    if rel is None:
        raise ValueError(
            f"table {table!r} not in store version {version} "
            f"(has: {sorted(manifest['tables'])})"
        )
    return os.path.join(root, rel)


@dataclass
class _FilePartition(InputPartition):
    path: str


class EdgyDataSource(DataSource):
    """See module docstring.  Register once per session with
    :func:`register_edgy_source`."""

    @classmethod
    def name(cls) -> str:
        return "edgy"

    def _path(self) -> str:
        root = self.options.get("root")
        table = self.options.get("table")
        if not root or not table:
            raise ValueError("format('edgy') requires options root and table")
        version = self.options.get("version")
        # Spark hands DataSource options through case-insensitively and
        # some paths lowercase the keys — accept both spellings.  Explicit
        # None tests (not `or`): an EMPTY timestamp string must reach
        # resolve_timestamp and raise, never silently fall back to a
        # CURRENT read the caller believes is point-in-time pinned.
        ts = self.options.get("timestampAsOf")
        if ts is None:
            ts = self.options.get("timestampasof")
        if ts is not None:
            if version is not None:
                raise ValueError(
                    "options version and timestampAsOf are mutually "
                    "exclusive"
                )
            # resolve ONCE per DataSource instance: schema() and reader()
            # both land here, and a vacuum between two independent walks
            # could resolve them to different versions (review r12)
            if not hasattr(self, "_ts_version"):
                self._ts_version = resolve_timestamp(root, ts)
            version = str(self._ts_version)
        return _resolve_table_path(root, table, version)

    def schema(self) -> StructType:
        import pyarrow.dataset as ds

        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StringType, StructField

        base = from_arrow_schema(ds.dataset(self._path(), format="parquet").schema)
        if self.options.get("mode") == "upsert":
            # change-feed shape: row image + what happened + when
            return StructType(
                list(base.fields)
                + [
                    StructField("_change", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        return base

    def reader(self, schema: StructType) -> "EdgyReader":
        if self.options.get("mode") == "upsert":
            # without this the batch scanner asks pyarrow for the CDC-only
            # _change column and fails with an obscure field-not-found
            raise ValueError(
                "mode=upsert is a STREAMING option (spark.readStream); for "
                "batch change reads use GraphStore.table_changes"
            )
        return EdgyReader(self._path(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> "EdgyWriter":
        root = self.options.get("root")
        table = self.options.get("table")
        if not root or not table:
            raise ValueError("write format('edgy') requires options root and table")
        return EdgyWriter(root, table, schema, overwrite, self.options.get("txn"))

    def streamWriter(self, schema: StructType, overwrite: bool) -> "EdgyStreamWriter":  # noqa: N802
        root = self.options.get("root")
        table = self.options.get("table")
        if not root or not table:
            raise ValueError("writeStream format('edgy') requires options root and table")
        if overwrite:
            raise ValueError(
                "writeStream format('edgy') is append-only (outputMode "
                "'append'); use df.write for overwrite loads"
            )
        return EdgyStreamWriter(
            root, table, schema, self.options.get("streamId") or f"stream-{table}"
        )

    def streamReader(self, schema: StructType) -> "EdgyStreamReader":  # noqa: N802
        root = self.options.get("root")
        table = self.options.get("table")
        mode = self.options.get("mode", "insert")
        if not root or not table:
            raise ValueError("readStream format('edgy') requires root and table")
        if mode not in ("insert", "upsert"):
            raise ValueError(f"mode must be 'insert' or 'upsert', got {mode!r}")
        if not table.startswith("n_"):
            raise ValueError(
                "streaming reads cover node tables only (insert CDC keys on "
                "the store's monotonic node-id counter, upsert CDC on "
                "commit-time node change capture; edge tables have neither)"
            )
        start = self.options.get("startVersion")
        if start is None:
            start = self.options.get("startversion")
        # Delta's startingTimestamp analogue (r12): resolve the wall clock
        # to the newest version committed at or before it, then stream
        # changes AFTER that version — what a consumer seeded from a
        # point-in-time snapshot needs.  Same mutual exclusion as batch
        # version/timestampAsOf.
        start_ts = self.options.get("startTimestamp")
        if start_ts is None:
            start_ts = self.options.get("starttimestamp")
        if start_ts is not None:
            if start is not None:
                raise ValueError(
                    "options startVersion and startTimestamp are mutually "
                    "exclusive"
                )
            start = resolve_timestamp(
                root, start_ts, option="startTimestamp", inclusive=False
            )
        return EdgyStreamReader(
            root, table, schema, mode,
            start_version=int(start) if start is not None else None,
        )


def _zone_comparable(v, lo, hi) -> bool:
    """Prune only when the filter value and both bounds compare by the same
    total order JSON preserved: all real numbers (bool is NOT a number
    here — Python would happily order True < 2) or all strings."""
    trio = (v, lo, hi)
    if all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in trio):
        return True
    return all(isinstance(x, str) for x in trio)


class EdgyReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType):
        self.path = path
        self.columns = [f.name for f in schema.fields]
        self._pushed: list[Filter] = []
        # file-skipping zone maps (filename -> {col: [min, max]}), written
        # by the writer's commit into the immutable version directory — at
        # planning time whole files whose range excludes a pushed filter
        # produce NO task at all (and no footer read); files without an
        # entry are never pruned, so a missing/foreign sidecar only costs
        # performance, never rows
        try:
            with open(os.path.join(path, ZONES_FILE)) as f:
                raw = json.load(f)
        except (FileNotFoundError, NotADirectoryError, json.JSONDecodeError):
            raw = {}
        # sanitize shape, don't trust it: a foreign writer's valid-JSON-but-
        # wrong-shape sidecar must disable pruning, not crash every read of
        # the table at planning time (review r08)
        self._zones: dict = {
            f: {
                c: rng
                for c, rng in stats.items()
                if isinstance(rng, (list, tuple)) and len(rng) == 2
            }
            for f, stats in (raw.items() if isinstance(raw, dict) else ())
            if isinstance(stats, dict)
        }

    # -- pushdown ----------------------------------------------------------

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Accept conjunctive top-level comparisons; everything else goes
        back to Spark.  Accepted filters are FULLY evaluated here (row
        level, via the pyarrow dataset expression), so Spark plans no
        re-filter for them — and row groups whose min/max statistics
        exclude the predicate are never read at all."""
        unsupported = []
        for f in filters:
            if isinstance(
                f,
                (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                 LessThanOrEqual, IsNotNull),
            ) and len(f.attribute) == 1:
                self._pushed.append(f)
            else:
                unsupported.append(f)
        return iter(unsupported)

    def _arrow_filter(self):
        import pyarrow.dataset as ds

        expr = None
        for f in self._pushed:
            col = ds.field(f.attribute[0])
            if isinstance(f, EqualTo):
                e = col == f.value
            elif isinstance(f, GreaterThan):
                e = col > f.value
            elif isinstance(f, GreaterThanOrEqual):
                e = col >= f.value
            elif isinstance(f, LessThan):
                e = col < f.value
            elif isinstance(f, LessThanOrEqual):
                e = col <= f.value
            else:  # IsNotNull
                e = ~col.is_null()
            expr = e if expr is None else expr & e
        return expr

    # -- execution ---------------------------------------------------------

    def _zone_excluded(self, fname: str) -> bool:
        """True when the file's zone map PROVES no row can satisfy the
        pushed conjunction.  Absent file/column entries never prune; type
        mismatches never prune; bounds are inclusive both ends, so every
        test errs open (the arrow filter re-checks row-for-row anyway)."""
        z = self._zones.get(fname)
        if not z:
            return False
        if z.get("__rows__") == [0, 0]:  # recorded-empty file: no rows under
            return True                  # any predicate (or none)
        for f in self._pushed:
            rng = z.get(f.attribute[0])
            if not rng:
                continue
            lo, hi = rng
            v = getattr(f, "value", None)
            if v is None or not _zone_comparable(v, lo, hi):
                continue
            if (
                (isinstance(f, EqualTo) and (v < lo or v > hi))
                or (isinstance(f, GreaterThan) and hi <= v)
                or (isinstance(f, GreaterThanOrEqual) and hi < v)
                or (isinstance(f, LessThan) and lo >= v)
                or (isinstance(f, LessThanOrEqual) and lo > v)
            ):
                return True
        return False

    def partitions(self):
        names = [
            n
            for n in sorted(os.listdir(self.path))
            if n.endswith(".parquet") or n.startswith("part-")
        ]
        names = [n for n in names if not self._zone_excluded(n)]
        if not names:  # empty table version (or everything zone-pruned):
            return [_FilePartition(self.path)]  # one no-op partition
        return [_FilePartition(os.path.join(self.path, n)) for n in names]

    def read(self, partition: _FilePartition):
        import pyarrow.dataset as ds

        if os.path.isdir(partition.path):  # empty-table sentinel
            return
        dataset = ds.dataset(partition.path, format="parquet")
        scanner = dataset.scanner(
            columns=self.columns, filter=self._arrow_filter()
        )
        for batch in scanner.to_batches():
            if batch.num_rows:
                yield batch


@dataclass
class _StreamSlicePartition(InputPartition):
    path: str  # one parquet data file of the END version's table
    lo: int    # half-open node-id slice [lo, hi) = rows new since START
    hi: int


@dataclass
class _CdcFilePartition(InputPartition):
    path: str     # one parquet file of ONE commit's change capture
    version: int  # the commit version (becomes _commit_version)
    defaults: tuple = ()  # ((attr, default), ...) for evolution null-fill


class EdgyStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("edgy")`` — insert-CDC over a node table.

    The store assigns node ids from a per-manifest monotonic counter
    (``next_id``), so "rows committed after snapshot S" is EXACTLY
    ``id ∈ [S.next_id, CURRENT.next_id)`` — a pure cursor, no diff join.
    Offsets are ``{"version": V, "next_id": N}``; each micro-batch reads
    the id slice between consecutive offsets from the END version's
    immutable files, one executor-side partition per data file, with the
    id range pushed into pyarrow so row groups full of old ids are skipped
    via statistics.  Restarts resume from the checkpointed offset
    (exactly-once with a checkpointed sink — same contract as the file
    source).

    ``mode=upsert`` instead replays the store's COMMIT-TIME change capture
    (``Engine(capture_cdc=True)`` — the Delta-CDF design): each micro-batch
    reads the per-version ``cdc-*`` files for the offset's version range,
    emitting the row image + ``_change`` ∈ {insert, update_postimage,
    delete} + ``_commit_version`` — plus ``update_preimage`` rows when the
    store captures in full mode (``Engine(capture_cdc="full")``; replica
    builders must FILTER preimages before applying upserts, the Delta-CDF
    contract — preimages exist for delta consumers like
    operators/incremental.py that must subtract old contributions).  Pure
    file reads proportional to the CHANGES, never a diff join; versions
    without capture (maintenance compaction = no logical change; bulk
    loads = use insert mode) emit nothing.  Starts at the CURRENT version
    (changes-only) unless ``.option("startVersion", V)`` pins the exact
    exclusive lower bound (Delta's ``startingVersion`` analogue — what a
    consumer seeded from a version-V snapshot needs to be gap-free under
    concurrent commits) or ``.option("startTimestamp", ts)`` resolves
    that bound from the commit wall clock (r12, Delta's
    ``startingTimestamp``); a vacuumed manifest inside the needed range
    raises rather than silently dropping changes — size
    ``retain_versions`` to the longest stream downtime.

    The reference has no streaming at all; this is north-star scope wiring
    the transactional store into Structured Streaming.
    """

    def __init__(self, root: str, table: str, schema: StructType,
                 mode: str = "insert", start_version: int | None = None):
        self.root = root
        self.table = table
        self.mode = mode
        self.schema = schema
        self.start_version = start_version
        self.columns = [f.name for f in schema.fields]

    def _current(self) -> dict:
        version = _current_version(self.root)
        with open(os.path.join(self.root, f"manifest.v{version}.json")) as f:
            manifest = json.load(f)
        return {"version": version, "next_id": manifest["next_id"]}

    def initialOffset(self) -> dict:  # noqa: N802
        if self.start_version is not None:
            # explicit exclusive lower bound: emit changes/ids committed
            # AFTER version V — the manifest at V carries the id cursor,
            # so one offset shape serves both modes
            path = os.path.join(self.root, f"manifest.v{self.start_version}.json")
            try:
                with open(path) as f:
                    manifest = json.load(f)
            except FileNotFoundError:
                raise ValueError(
                    f"startVersion={self.start_version} has no manifest "
                    "(never committed, or vacuumed past) — pick a retained "
                    "version"
                ) from None
            return {"version": self.start_version,
                    "next_id": manifest["next_id"]}
        if self.mode == "upsert":
            # changes-only: emit commits made after the stream starts
            return self._current()
        # start of history: the first batch emits every existing row (the
        # file source's existing-files semantics); a "latest-only" start is
        # the CURRENT offset instead
        return {"version": 0, "next_id": 1}

    def latestOffset(self) -> dict:  # noqa: N802
        return self._current()

    def _cdc_partitions(self, start: dict, end: dict):
        cache: dict[int, dict] = {}

        def _load(v: int) -> dict:
            if v not in cache:
                with open(
                    os.path.join(self.root, f"manifest.v{v}.json")
                ) as f:
                    cache[v] = json.load(f)
            return cache[v]

        # evolution null-fill uses the CURRENT manifest's declared defaults
        # (engine semantics: old versions reconcile to the CURRENT schema —
        # also covers a batch recovered from the offset log after an
        # evolution, whose end version predates the new attribute)
        try:
            cur_defaults = (
                _load(_current_version(self.root)).get("defaults") or {}
            ).get(self.table, {})
        except (FileNotFoundError, ValueError):
            cur_defaults = {}
        defaults = tuple(sorted(cur_defaults.items()))
        parts: list[_CdcFilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            try:
                m = _load(v)
            except FileNotFoundError:
                raise ValueError(
                    f"upsert stream needs manifest.v{v}.json but it was "
                    "vacuumed — recorded changes for that commit are gone. "
                    "Restart from a NEW checkpoint (changes-only from now), "
                    "and raise retain_versions to cover stream downtime."
                ) from None
            cdc_map = m.get("cdc")
            if cdc_map is None:
                # tri-state (storage.commit): null/absent = NOT captured —
                # a silent skip here would be data loss (the r06-advice
                # failure mode); fail loudly.  Note enabling capture only
                # helps FUTURE commits: this version's changes are gone,
                # so the only real remedies are a fresh checkpoint.
                raise ValueError(
                    f"upsert stream: version {v} has no change capture "
                    "(store committed without Engine(capture_cdc=True), or "
                    "via the bulk writer) and cannot be backfilled.  "
                    "Restart from a NEW checkpoint — with capture enabled "
                    "on every committer going forward — or use the "
                    "insert-mode stream."
                )
            rel = cdc_map.get(self.table)
            if rel is None:
                continue  # captured: no changes for this table in v
            d = os.path.join(self.root, rel)
            for n in sorted(os.listdir(d)):
                if n.startswith("part-") or n.endswith(".parquet"):
                    parts.append(
                        _CdcFilePartition(os.path.join(d, n), v, defaults)
                    )
        return parts or [_CdcFilePartition("", end["version"])]

    def partitions(self, start: dict, end: dict):
        if self.mode == "upsert":
            return self._cdc_partitions(start, end)
        lo, hi = start["next_id"], end["next_id"]
        if lo >= hi:
            return [_StreamSlicePartition("", lo, hi)]
        try:
            path = _resolve_table_path(self.root, self.table, str(end["version"]))
        except ValueError:  # table has no rows yet at this version
            return [_StreamSlicePartition("", lo, hi)]
        except FileNotFoundError:
            # the end-offset version was vacuumed while the stream was down
            # (retention shorter than the stream's lag).  The id slice is
            # insert-only data, so ANY later version contains the same rows
            # (minus explicit deletes) — read it from CURRENT instead of
            # crash-looping on the checkpointed offset.  Size
            # retain_versions to cover maximum stream downtime to avoid
            # even this fallback.
            try:
                path = _resolve_table_path(self.root, self.table, None)
            except (ValueError, FileNotFoundError):
                return [_StreamSlicePartition("", lo, hi)]
        names = [
            n
            for n in sorted(os.listdir(path))
            if n.endswith(".parquet") or n.startswith("part-")
        ]
        return [
            _StreamSlicePartition(os.path.join(path, n), lo, hi) for n in names
        ] or [_StreamSlicePartition("", lo, hi)]

    def read(self, partition):
        if not partition.path:
            return
        import pyarrow as pa
        import pyarrow.dataset as ds

        if isinstance(partition, _CdcFilePartition):
            # one commit's captured changes: stored columns + the commit
            # version stamped on (the file is one commit's worth by layout).
            # Old change files may predate a schema evolution — reconcile
            # to the stream's CURRENT schema like Snapshot reads do: scan
            # the intersection, null-fill attributes added since (the same
            # (name, type)-keyed tolerance as the engine's version reads).
            from pyspark.sql.pandas.types import to_arrow_type

            dataset = ds.dataset(partition.path, format="parquet")
            cols = [c for c in self.columns if c != "_commit_version"]
            arrow_type = {
                f.name: to_arrow_type(f.dataType) for f in self.schema.fields
            }
            # (name, type)-keyed like the engine: a re-typed attribute's old
            # column is an unknown key — read as null, don't crash on it
            present = [
                c
                for c in cols
                if c in dataset.schema.names
                and dataset.schema.field(c).type == arrow_type[c]
            ]
            missing = [c for c in cols if c not in present]
            # attrs added since the file was written fill with the
            # engine-declared default from the manifest (same mempty value
            # Snapshot/table_changes reads yield — a replica built from
            # this stream stays byte-equal to engine reads), or NULL when
            # no representable default was declared
            import base64

            defaults = dict(partition.defaults)

            def _fill(col: str, n: int):
                if col not in defaults:
                    return pa.nulls(n, arrow_type[col])
                d = defaults[col]
                if isinstance(d, dict) and "b64" in d:  # tagged bytes
                    d = base64.b64decode(d["b64"])
                try:
                    arr = pa.array([d] * n)
                    if arr.type != arrow_type[col]:
                        # e.g. a string default into a timestamp column —
                        # the engine path casts via F.lit().cast(); mirror it
                        arr = arr.cast(arrow_type[col])
                    return arr
                except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
                    # an uncastable default must not crash-loop the stream
                    return pa.nulls(n, arrow_type[col])

            for batch in dataset.scanner(columns=present).to_batches():
                if not batch.num_rows:
                    continue
                arrays = {c: batch.column(i) for i, c in enumerate(present)}
                for c in missing:
                    arrays[c] = _fill(c, batch.num_rows)
                arrays["_commit_version"] = pa.array(
                    [partition.version] * batch.num_rows, pa.int64()
                )
                names = cols + ["_commit_version"]
                yield pa.RecordBatch.from_arrays(
                    [arrays[c] for c in names], names=names
                )
            return
        dataset = ds.dataset(partition.path, format="parquet")
        scanner = dataset.scanner(
            columns=self.columns,
            filter=(ds.field("id") >= partition.lo)
            & (ds.field("id") < partition.hi),
        )
        for batch in scanner.to_batches():
            if batch.num_rows:
                yield batch

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; nothing to release here
        pass


@dataclass
class _WriteMessage(WriterCommitMessage):
    filename: str
    n_rows: int
    max_id: int  # meaningful only when has_ids
    min_id: int  # meaningful only when has_ids
    # True when at least one non-null id was observed — a separate flag so
    # genuinely NEGATIVE ids are not conflated with the old -1 "unset"
    # sentinel and silently skipped by the cursor check (review r08)
    has_ids: bool = False
    # per-column [min, max] zone map of this task's file (JSON-safe
    # primitive columns only) — free to collect while the batches stream
    # through, Delta/Iceberg-style, and written as the version directory's
    # _zones.json sidecar so the reader can plan file skipping with ZERO
    # footer I/O
    zones: dict | None = None


#: sidecar filename inside each immutable table-version directory.  The
#: leading underscore keeps it out of both Spark's file index and pyarrow's
#: dataset discovery (default ignore_prefixes are '.' and '_').
ZONES_FILE = "_zones.json"


def _zone_accumulate(batch, acc: dict) -> None:
    """Fold one Arrow batch into the per-file zone map: [min, max] per
    column whose type survives a JSON round-trip unchanged (ints, floats,
    strings, bools).  Nested/binary/temporal columns are skipped — absent
    entry = reader never prunes on that column (conservative)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for name in batch.schema.names:
        if name == "__rows__":
            # reserved for the empty-file marker: never record a real
            # column under it, or a genuinely-zero-valued column could make
            # the reader treat a non-empty file as empty (review r08)
            continue
        t = batch.schema.field(name).type
        # no is_boolean: _zone_comparable never prunes on bools, so their
        # stats would be dead weight in every sidecar (review r08)
        if not (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
        ):
            continue
        mm = pc.min_max(batch.column(name))
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None or hi is None:  # all-null in this batch
            continue
        cur = acc.get(name)
        acc[name] = (
            [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
        )


def write_zones_from_footers(dir_path: str) -> tuple[dict, dict]:
    """Derive the ZONES_FILE sidecar for a parquet directory from the files'
    FOOTERS (metadata pages only — no data read) and write it.  For writer
    paths where the rows stream through Spark's own parquet writer (engine
    commits, compaction) rather than our Arrow tasks: one footer read per
    file at write/commit time buys planning-time file skipping for every
    later read.  Columns whose stats are absent or not JSON-safe are
    skipped (the reader then simply never prunes on them); unreadable files
    contribute no entry rather than failing the commit.

    Returns ``(zones, {"rows": N, "bytes": B})`` — the table stats ride the
    SAME footer pass so the commit path never reopens the files for them
    (review r10)."""
    import pyarrow.parquet as pq

    zones: dict = {}
    rows = 0
    size = 0
    for n in sorted(os.listdir(dir_path)):
        if not (n.endswith(".parquet") or n.startswith("part-")):
            continue
        try:
            md = pq.ParquetFile(os.path.join(dir_path, n)).metadata
        except Exception:
            continue
        rows += md.num_rows
        try:
            size += os.path.getsize(os.path.join(dir_path, n))
        except OSError:
            pass
        if md.num_rows == 0:
            # Spark writers emit empty part files for empty partitions; an
            # explicit marker (shaped to survive the reader's sanitizer)
            # lets the planner skip them under ANY predicate
            zones[n] = {"__rows__": [0, 0]}
            continue
        acc: dict = {}
        dead: set = set()  # columns with ANY statless/unsafe row group:
        # their file bounds are unknowable, so they must stay excluded even
        # if a later row group has stats
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                # nested / known-unknowable / reserved marker name
                if "." in name or name in dead or name == "__rows__":
                    continue
                st = col.statistics
                lo, hi = (
                    (st.min, st.max)
                    if st is not None and st.has_min_max
                    else (None, None)
                )
                if not all(
                    isinstance(x, (int, float, str))
                    and not isinstance(x, bool)
                    for x in (lo, hi)
                ):
                    dead.add(name)
                    acc.pop(name, None)
                    continue
                cur = acc.get(name)
                acc[name] = (
                    [lo, hi]
                    if cur is None
                    else [min(cur[0], lo), max(cur[1], hi)]
                )
        if acc:
            zones[n] = acc
    if zones:
        with open(os.path.join(dir_path, ZONES_FILE), "w") as f:
            json.dump(zones, f)
    return zones, {"rows": rows, "bytes": size}


def stats_from_footers(dir_path: str) -> dict:
    """``{"rows": N, "bytes": B}`` for a table-version directory, from
    parquet footers (num_rows) + file sizes — metadata-only, no data read.
    Every manifest writer records these per-table so READERS can make
    plan-time decisions (broadcast a dimension-sized store table) without
    waiting for an AQE runtime replan; see ``read_store_table``."""
    import pyarrow.parquet as pq

    rows = 0
    size = 0
    for n in sorted(os.listdir(dir_path)):
        if not (n.endswith(".parquet") or n.startswith("part-")):
            continue
        p = os.path.join(dir_path, n)
        try:
            rows += pq.ParquetFile(p).metadata.num_rows
            size += os.path.getsize(p)
        except Exception:
            continue
    return {"rows": rows, "bytes": size}


def _ecosystem_stats(
    root: str, manifest: dict, tables: dict, changed: list[str]
) -> dict:
    """Per-table stats for a manifest published by an ECOSYSTEM writer:
    untouched tables carry their stats forward (same files), changed tables
    get rows/bytes recomputed from their promoted footers.  NDV resets to
    {} — the Arrow writer path has no aggregation engine; the next
    GraphStore commit of that table restores the sketches."""
    stats = {
        k: v for k, v in (manifest.get("stats") or {}).items() if k in tables
    }
    for key in changed:
        s = stats_from_footers(os.path.join(root, tables[key]))
        s["ndv"] = {}
        stats[key] = s
    return stats


def _id_range_from_zones(zones: dict, has_id: bool) -> tuple[int, int, bool]:
    """(min_id, max_id, has_ids) for the id-cursor check, read off the zone
    stats already folded over the batches (ids are int64 in every store
    table, so the zone entry exists whenever any non-null id was seen)."""
    rng = zones.get("id") if has_id else None
    if rng and all(isinstance(x, int) and not isinstance(x, bool) for x in rng):
        return int(rng[0]), int(rng[1]), True
    return -1, -1, False


class EdgyWriter(DataSourceArrowWriter):
    """``df.write.format("edgy")`` — transactional bulk load into the
    versioned store, the ecosystem-write counterpart of the batch reader.

    Protocol (the same two-phase shape as every Spark sink): each task
    streams its Arrow batches into one parquet file inside a hidden
    staging directory and returns a commit message; ``commit`` runs ON THE
    DRIVER with all messages, promotes the staging directory to the new
    table version, and publishes a new manifest with the same
    compare-and-swap the Engine's transactions use — a concurrent commit
    (either kind) wins or loses atomically, and an aborted/failed job
    leaves only an unreferenced staging directory for vacuum to sweep.

    ``mode("append")`` keeps old rows by hard-linking the current
    version's immutable files into the new directory (copy fallback) —
    append cost is O(new data), not O(table).  For node tables the
    manifest's monotonic id counter is advanced past the loaded ids so
    Engine transactions can never collide with bulk-loaded nodes.
    """

    def __init__(
        self,
        root: str,
        table: str,
        schema: StructType,
        overwrite: bool,
        txn: str | None = None,
    ):
        import uuid

        self.root = root
        self.table = table
        self.overwrite = overwrite
        self.txn = txn
        self.has_id = "id" in [f.name for f in schema.fields]
        self.base_version = _current_version(root)
        self.staging = os.path.join("data", f".staging-{uuid.uuid4().hex}")
        os.makedirs(os.path.join(root, self.staging), exist_ok=True)

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        fname = f"part-{uuid.uuid4().hex}.parquet"
        fpath = os.path.join(self.root, self.staging, fname)
        writer = None
        n_rows = 0
        zones: dict = {}
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(fpath, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            n_rows += batch.num_rows
            if batch.num_rows:
                _zone_accumulate(batch, zones)
        if writer is not None:
            writer.close()
        else:
            return _WriteMessage("", 0, -1, -1)  # empty partition: no file
        # the id cursor rides the zone stats — one pc.min_max over the id
        # column instead of three scans of it (review r08)
        min_id, max_id, has_ids = _id_range_from_zones(zones, self.has_id)
        return _WriteMessage(fname, n_rows, max_id, min_id, has_ids, zones or None)

    def _validate_schema(self, manifest: dict, messages) -> str | None:
        """Reject writes that would corrupt the store's invariants — a
        mixed-schema parquet directory reads with ONE arbitrary footer's
        schema, silently yielding NULLs or failures downstream.

        - edge tables must carry the engine's exact edge struct
          (src/dst/pos/ipos int64 — storage.EDGE_STRUCT), or Engine
          adjacency reads break;
        - appends must match the current table version's stored schema by
          (name, type) set (order-insensitive: readers resolve by name);
          overwrite may change the schema (the engine reconciles old node
          versions on read — Snapshot._reconcile_to_schema).

        Returns an error string, or None when valid.
        """
        return _validate_staged_schema(
            self.root, self.staging, self.table, self.overwrite, manifest,
            [m.filename for m in messages if m and m.filename],
        )

    def commit(self, messages):
        current = _current_version(self.root)
        if current != self.base_version:
            self.abort(messages)
            raise RuntimeError(
                f"edgy write conflict: store moved v{self.base_version} -> "
                f"v{current} during the write; re-run the job"
            )
        with open(os.path.join(self.root, f"manifest.v{current}.json")) as f:
            manifest = json.load(f)
        schema_err = self._validate_schema(manifest, messages)
        if schema_err:
            self.abort(messages)
            raise ValueError(f"edgy write rejected: {schema_err}")
        id_err = _check_id_cursor(manifest, messages, self.overwrite, self.has_id)
        if id_err:
            self.abort(messages)
            raise ValueError(id_err)
        if self.txn is not None:
            # multi-table atomic load: record this table's staged state and
            # return WITHOUT publishing — commit_edgy_txn links ONE manifest
            # covering every table in the txn (bigBang atomicity at bulk
            # scale: a reader at any version sees a node batch and its edge
            # batches both-or-neither).  The validations above are a
            # fast-fail; commit_edgy_txn re-runs them against the manifest
            # current at finalize time, which is the authoritative base.
            _record_txn_table(
                self.root, self.txn, self.table, self.staging,
                self.overwrite, self.has_id, messages,
            )
            return
        chk = _enforce_manifest_checks(
            self.root, self.staging, self.table, manifest,
            [m.filename for m in messages if m and m.filename],
        )
        if chk:
            self.abort(messages)
            raise ValueError(f"edgy bulk write rejected ({self.table}): {chk}")
        loaded_max = max((m.max_id for m in messages if m), default=-1)
        new_version = current + 1
        tables = dict(manifest["tables"])
        bucketed = dict(manifest.get("bucketed", {}))
        indexes = dict(manifest.get("indexes", {}))
        tables[self.table] = _promote_staging(
            self.root, manifest, self.table, self.staging,
            self.overwrite, new_version,
            [m.filename for m in messages if m and m.filename],
            zones={
                m.filename: m.zones
                for m in messages
                if m and m.filename and getattr(m, "zones", None)
            },
        )
        bucketed.pop(self.table, None)  # a bulk load replaces bucketed layout
        _drop_stale_indexes(tables, bucketed, indexes, self.table)
        new_manifest = {
            "version": new_version,
            "next_id": max(manifest["next_id"], loaded_max + 1),
            "tables": tables,
            "bucketed": bucketed,
            # secondary indexes for OTHER node types stay valid (their
            # tables are untouched); the loaded table's own were dropped
            # above — GraphStore.rebuild_indexes restores them
            "indexes": indexes,
            "stream_batches": manifest.get("stream_batches", {}),
            # bulk-writer commits carry the engine-declared defaults
            # forward unchanged (the writer has no GraphSchema); "cdc" is
            # deliberately absent = changes NOT captured for this commit
            "defaults": manifest.get("defaults", {}),
            "checks": manifest.get("checks", {}),
            "stats": _ecosystem_stats(
                self.root, manifest, tables, [self.table]
            ),
            "schemas": live_schemas(manifest.get("schemas"), tables),
        }
        _link_manifest(self.root, new_manifest, [tables[self.table]])
        _publish_current(self.root, new_version)

    def abort(self, messages):
        import shutil as _shutil

        _shutil.rmtree(os.path.join(self.root, self.staging), ignore_errors=True)


class EdgyStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("edgy")`` — streaming ingestion into the
    versioned store, one store version per non-empty micro-batch,
    EXACTLY-ONCE across restarts.

    Completes the source matrix (batch read, streaming read in two CDC
    modes, batch write, and now streaming write): an event feed can flow
    INTO the graph store continuously, and every downstream consumer —
    Engine transactions, time travel, the CDC stream readers — sees each
    batch as one ordinary committed version.

    Exactly-once: Spark replays an unacknowledged micro-batch after a
    crash with the SAME batchId, so the manifest records the last
    committed batchId per ``streamId`` (``stream_batches``, carried
    forward by every other committer) and a replayed commit becomes a
    no-op instead of a duplicate append.  Two concurrent queries
    streaming into one table must use distinct ``streamId`` options (the
    default is derived from the table name) or the guard will conflate
    their batch sequences.

    Concurrency: a lost manifest race REBASES like a retried Engine
    transaction — the vouched batch files are hard-linked (not moved)
    into the per-batch staging, so losing the link keeps the originals
    and the commit retries against the new current version.  Validation
    (schema-vs-footers, id-cursor) reruns per attempt against the base it
    will publish on.

    Tasks write plain-Row parquet (the streaming DataSource API has no
    Arrow writer path yet) — fine for micro-batch sizes; bulk history
    loads should use the Arrow batch writer instead.
    """

    MAX_COMMIT_ATTEMPTS = 5

    def __init__(self, root: str, table: str, schema: StructType, stream_id: str):
        import hashlib

        self.root = root
        self.table = table
        self.schema = schema
        self.stream_id = stream_id
        self.has_id = "id" in [f.name for f in schema.fields]
        # DETERMINISTIC staging path: Spark re-instantiates the writer for
        # the driver-side commit runner (and per batch), so a per-instance
        # uuid would point the commit at a different directory than the
        # tasks wrote into.  Derived from the streamId — which is also why
        # concurrent queries on one table need distinct streamIds.
        tag = hashlib.md5(f"{table}:{stream_id}".encode()).hexdigest()[:16]
        self.staging = os.path.join("data", f".stream-{tag}")
        os.makedirs(os.path.join(root, self.staging), exist_ok=True)

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = [r.asDict() for r in iterator]
        if not rows:
            return _WriteMessage("", 0, -1, -1)
        tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(self.schema))
        fname = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(tbl, os.path.join(self.root, self.staging, fname))
        zones: dict = {}
        for batch in tbl.to_batches():
            if batch.num_rows:
                _zone_accumulate(batch, zones)
        # id cursor read off the zone stats — no second scan (review r08)
        min_id, max_id, has_ids = _id_range_from_zones(zones, self.has_id)
        return _WriteMessage(
            fname, tbl.num_rows, max_id, min_id, has_ids, zones or None
        )

    def _cleanup(self, staged: list[str]) -> None:
        for n in staged:
            try:
                os.unlink(os.path.join(self.root, self.staging, n))
            except OSError:
                pass

    def commit(self, messages, batchId):  # noqa: N803 - Spark API name
        import shutil as _shutil
        import uuid as _uuid

        msgs = [m for m in messages if m]
        staged = [m.filename for m in msgs if m.filename]
        for _attempt in range(self.MAX_COMMIT_ATTEMPTS):
            current = _current_version(self.root)
            with open(os.path.join(self.root, f"manifest.v{current}.json")) as f:
                manifest = json.load(f)
            committed = manifest.get("stream_batches", {}).get(self.stream_id, -1)
            if batchId <= committed:
                self._cleanup(staged)  # replayed batch: already published
                return
            if not staged:
                return  # empty batch: nothing to publish, replay is a no-op
            err = (
                _validate_staged_schema(
                    self.root, self.staging, self.table, False, manifest, staged
                )
                or _check_id_cursor(manifest, msgs, False, self.has_id)
                or _enforce_manifest_checks(
                    self.root, self.staging, self.table, manifest, staged
                )
            )
            if err:
                self.abort(messages, batchId)
                raise ValueError(f"edgy stream sink rejected batch {batchId}: {err}")
            # hard-link (not move) into a fresh per-batch staging: a lost
            # manifest race deletes the promoted copy but keeps these
            # originals, so the retry can re-promote
            batch_staging = os.path.join("data", f".staging-{_uuid.uuid4().hex}")
            os.makedirs(os.path.join(self.root, batch_staging), exist_ok=True)
            for n in staged:
                os.link(
                    os.path.join(self.root, self.staging, n),
                    os.path.join(self.root, batch_staging, n),
                )
            new_version = current + 1
            tables = dict(manifest["tables"])
            bucketed = dict(manifest.get("bucketed", {}))
            indexes = dict(manifest.get("indexes", {}))
            rel = _promote_staging(
                self.root, manifest, self.table, batch_staging,
                False, new_version, staged,
                zones={
                    m.filename: m.zones
                    for m in msgs
                    if m.filename and getattr(m, "zones", None)
                },
            )
            tables[self.table] = rel
            bucketed.pop(self.table, None)
            _drop_stale_indexes(tables, bucketed, indexes, self.table)
            batches = dict(manifest.get("stream_batches", {}))
            batches[self.stream_id] = batchId
            loaded_max = max(
                (m.max_id for m in msgs if getattr(m, "has_ids", False)), default=-1
            )
            new_manifest = {
                "version": new_version,
                "next_id": max(manifest["next_id"], loaded_max + 1),
                "tables": tables,
                "bucketed": bucketed,
                "indexes": indexes,
                "stream_batches": batches,
                "defaults": manifest.get("defaults", {}),
                "checks": manifest.get("checks", {}),
                "stats": _ecosystem_stats(
                    self.root, manifest, tables, [self.table]
                ),
                "schemas": live_schemas(manifest.get("schemas"), tables),
            }
            try:
                _link_manifest(self.root, new_manifest, [rel])
            except RuntimeError:
                continue  # lost the race: rebase on the new current version
            _publish_current(self.root, new_version)
            self._cleanup(staged)
            return
        raise RuntimeError(
            f"edgy stream sink: batch {batchId} lost the manifest race "
            f"{self.MAX_COMMIT_ATTEMPTS} times; is another writer looping?"
        )

    def abort(self, messages, batchId):  # noqa: N803 - Spark API name
        self._cleanup([m.filename for m in messages if m and m.filename])


def _current_version(root: str) -> int:
    """Newest committed version — CURRENT rolled forward past newer
    complete manifests (manifest creation is the commit point; the pointer
    is a cache that a crashed committer may have left stale — same contract
    as GraphStore.current_version)."""
    with open(os.path.join(root, "CURRENT")) as f:
        v = int(f.read().strip())
    while manifest_is_complete(os.path.join(root, f"manifest.v{v + 1}.json")):
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
            with open(os.path.join(root, f"manifest.v{v - 1}.json")) as f:
                prev = json.load(f).get("committed_at")
            if isinstance(prev, (int, float)) and now <= prev:
                now = prev + 0.001
        except (OSError, json.JSONDecodeError, ValueError):
            pass
    manifest["committed_at"] = now


def resolve_timestamp(
    root: str,
    ts,
    option: str = "timestampAsOf",
    inclusive: bool = True,
) -> int:
    """Resolve a timestamp to the NEWEST retained version whose
    ``committed_at`` <= ts — ``TIMESTAMP AS OF`` semantics for the
    retained range (a timestamp before the earliest retained commit
    errors, like Delta).  DELIBERATE divergence: a timestamp AFTER the
    latest commit resolves to the latest version (a point-in-time read
    of "now or later" is well-defined), where Delta raises
    temporallyUnstable/after-latest instead.

    ``inclusive=False`` resolves the STREAM lower bound instead: the
    newest version committed STRICTLY BEFORE ts, so "changes after the
    resolved version" INCLUDES a commit stamped exactly at ts — Delta's
    ``startingTimestamp`` is at-or-after.  A ts at or before every
    retained stamp resolves to version 0 (the empty bootstrap: streaming
    after v0 replays everything) rather than erroring.

    ``ts``: epoch seconds (int/float or numeric string) or an ISO-ish
    ``YYYY-MM-DD HH:MM:SS[.ffffff]`` string, interpreted in LOCAL time
    (``datetime.fromisoformat`` + ``.timestamp()`` — the session-timezone
    convention Delta uses).  Manifests predating the stamp (pre-r12)
    count as epoch 0, i.e. "very old".  ``option`` names the read option
    in error messages."""
    if isinstance(ts, str):
        try:
            target = float(ts)
        except ValueError:
            from datetime import datetime

            try:
                target = datetime.fromisoformat(ts).timestamp()
            except ValueError as exc:
                raise ValueError(
                    f"{option} {ts!r} is neither epoch seconds nor "
                    "an ISO timestamp"
                ) from exc
    else:
        target = float(ts)
    oldest_seen = None
    for v in range(_current_version(root), -1, -1):
        try:
            with open(os.path.join(root, f"manifest.v{v}.json")) as f:
                stamp = json.load(f).get("committed_at")
        except FileNotFoundError:
            break  # vacuumed: nothing older is retained
        except (OSError, json.JSONDecodeError, ValueError) as exc:
            # Versions ≤ current are dense and committed (manifest creation
            # is the commit point), so a present-but-unparseable manifest in
            # the walk is corruption, not an in-flight claim.  Skipping it
            # would silently resolve to an OLDER version — a stale
            # point-in-time read the caller believes is pinned (never
            # silently fall back; same principle as the empty-string
            # timestamp check above).  Review r12.
            raise ValueError(
                f"{option} {ts!r}: manifest.v{v}.json is present but "
                f"unreadable ({exc}); cannot prove which version was "
                "current at that timestamp"
            ) from exc
        stamp = stamp if isinstance(stamp, (int, float)) else 0.0
        oldest_seen = stamp
        if (stamp <= target) if inclusive else (stamp < target):
            return v
    if not inclusive:
        return 0  # before every retained commit: stream from the start
    raise ValueError(
        f"{option} {ts!r} predates the earliest retained commit"
        + (
            f" (committed_at={oldest_seen})"
            if oldest_seen is not None
            else ""
        )
        + "; older versions are beyond retention"
    )


def manifest_is_complete(path: str) -> bool:
    """True iff ``path`` holds a COMPLETE manifest.  An empty or
    unparseable file is a ConditionalPutArbiter putter's in-flight or
    crashed claim, not a commit — the ONE completeness rule shared by the
    engine's and this DataSource's roll-forward (review r10c: two
    divergent copies would let the reader and the engine disagree about
    the current version)."""
    try:
        if os.path.getsize(path) == 0:
            return False
        with open(path) as f:
            json.load(f)
        return True
    except (OSError, json.JSONDecodeError, UnicodeDecodeError):
        return False


def _publish_current(root: str, version: int) -> None:
    import tempfile

    fd, tmp = tempfile.mkstemp(dir=root)
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(root, "CURRENT"))


def _validate_staged_schema(
    root: str, staging: str, table: str, overwrite: bool,
    manifest: dict, staged: list[str],
) -> str | None:
    """Shared by per-write validation and txn finalize — see
    EdgyWriter._validate_schema for the invariants."""
    import pyarrow.parquet as pq

    if not staged:
        return None
    # every staged footer, not just the first (ADVICE r07): executor
    # partitions could stage divergent schemas (e.g. a union of two
    # differently-typed sources), and one divergent file is exactly the
    # mixed-schema directory this check exists to prevent.  Footers are
    # tiny; this is metadata I/O, not a data read.
    incoming: dict[str, str] | None = None
    for fname in staged:
        sch = pq.read_schema(os.path.join(root, staging, fname))
        got = {f.name: str(f.type) for f in sch}
        if incoming is None:
            incoming = got
        elif got != incoming:
            return (
                f"staged files disagree on schema for {table!r}: "
                f"{staged[0]} has {incoming}, {fname} has {got}"
            )
    if table.startswith("e_"):
        need = {"src": "int64", "dst": "int64", "pos": "int64", "ipos": "int64"}
        if incoming != need:
            return (
                f"edge table {table!r} requires exactly columns "
                f"{need}, got {incoming}"
            )
    rel = manifest["tables"].get(table)
    if not overwrite and rel is not None:
        stored_dir = os.path.join(root, rel)
        files = [
            n
            for n in sorted(os.listdir(stored_dir))
            if n.startswith("part-") or n.endswith(".parquet")
        ]
        if files:
            stored_schema = pq.read_schema(os.path.join(stored_dir, files[0]))
            existing = {f.name: str(f.type) for f in stored_schema}
            if incoming != existing:
                return (
                    f"append schema mismatch for {table!r}: "
                    f"stored {existing}, incoming {incoming} — "
                    "use mode('overwrite') to change a table's schema"
                )
    return None


def _check_id_cursor(manifest: dict, messages, overwrite: bool, has_id: bool) -> str | None:
    """Node identity invariant: appended ids must sit at or above the
    store's id cursor, else they can collide with existing Engine-created
    nodes AND fall below the CDC stream's already-committed offset
    (silently never emitted downstream)."""
    if overwrite or not has_id:
        return None
    loaded_min = min(
        (m.min_id for m in messages if m and getattr(m, "has_ids", False)),
        default=None,
    )
    if loaded_min is not None and loaded_min < manifest["next_id"]:
        return (
            f"append contains id {loaded_min} below the store's id "
            f"cursor {manifest['next_id']}: ids may collide with "
            "existing nodes and insert-CDC streams would skip them. "
            "Use ids >= the cursor, or mode('overwrite')."
        )
    return None


def _enforce_manifest_checks(
    root: str, staging: str, table: str, manifest: dict, staged: list[str]
) -> str | None:
    """Enforce the manifest's persisted CHECK declaration (see
    GraphStore check_constraints — the manifest is the table metadata, so
    ecosystem writers enforce without a GraphStore object) on the STAGED
    rows of ``table``.  Returns an error string, or None when compliant /
    unconstrained.  New rows only: declaring a constraint does not
    re-validate history, same as Delta."""
    checks = manifest.get("checks") or {}
    cond = checks.get(table[2:]) if table.startswith("n_") else None
    if not cond or not staged:
        return None
    # This runs inside the Python DataSource worker process — there is no
    # JVM SparkSession here (the same reason zone maps are computed from
    # Arrow footers).  The condition is evaluated by DuckDB over the staged
    # parquet: GraphStore validates every declared condition in BOTH
    # dialects at declaration time (storage._validate_check_condition), so
    # a condition that reaches a manifest parses here; one that still
    # diverges semantically fails LOUDLY rather than admitting rows.  A
    # writer process without duckdb cannot enforce at all — that must
    # REJECT the write (check_constraints promises no published version
    # can violate the declaration, whatever the writer), never silently
    # publish unvalidated rows.
    try:
        import duckdb
    except ImportError:
        return (
            f"manifest declares CHECK ({cond}) but duckdb is not importable "
            "in this writer process, so the rows cannot be validated here — "
            "install duckdb or write through the GraphStore/engine paths "
            "(which enforce in Spark)"
        )
    paths = [os.path.join(root, staging, n) for n in staged]
    bad = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet({paths!r}) "
        f"WHERE NOT coalesce(({cond}), false)"
    ).fetchone()[0]
    if bad:
        return f"{bad} row(s) violate CHECK ({cond})"
    return None


def live_schemas(schemas: dict | None, tables: dict) -> dict:
    """The recorded read schemas (``edgy_spark.storage`` module docstring)
    of the relpaths ``tables`` still points at — what every manifest writer
    carries forward.  A table a writer replaced gets a new relpath: with no
    entry it reads with footer inference until an engine commit rewrites it."""
    live = set(tables.values())
    return {rel: s for rel, s in (schemas or {}).items() if rel in live}


def _promote_staging(
    root: str, manifest: dict, key: str, staging: str,
    overwrite: bool, new_version: int, staged: list[str],
    zones: dict | None = None,
) -> str:
    """Move the ``staged`` files (the ones the commit messages vouch for —
    NEVER the whole directory: a failed-then-retried executor task can
    leave an orphaned or footer-less parquet in staging that bypassed
    validation; review r08) to the table's new immutable version directory
    (append: hard-link the current version's files in first — append cost
    is O(new data), not O(table)).  The per-attempt uuid token keeps a
    racing committer of the same version from writing into — or clobbering
    — this attempt's promoted directory; the manifest's exclusive create is
    the single arbitration point.  Returns the manifest-relative path.

    ``zones`` maps each staged filename to its per-column [min, max] zone
    map; the merged map (appends carry the old version's sidecar forward
    under the files' final names — linked files are immutable, so their
    stats stay true) is written as the directory's ZONES_FILE so the batch
    reader can skip whole files at planning time with no footer I/O.
    Writers that don't collect stats just produce entry-less files, which
    the reader never prunes.
    """
    import shutil as _shutil

    token = staging.rsplit("-", 1)[1][:8]
    relpath = os.path.join("data", f"{key}.v{new_version}-{token}.parquet")
    dst_dir = os.path.join(root, relpath)
    os.makedirs(dst_dir, exist_ok=True)
    merged_zones: dict = {}
    if not overwrite and manifest["tables"].get(key):
        old_dir = os.path.join(root, manifest["tables"][key])
        old_zones: dict = {}
        try:
            with open(os.path.join(old_dir, ZONES_FILE)) as f:
                old_zones = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        for n in os.listdir(old_dir):
            if n.startswith("part-") or n.endswith(".parquet"):
                src = os.path.join(old_dir, n)
                dst = os.path.join(dst_dir, n)
                if os.path.exists(dst):  # name collision: disambiguate
                    dst = os.path.join(dst_dir, f"old-{n}")
                try:
                    os.link(src, dst)
                except OSError:
                    _shutil.copy2(src, dst)
                if n in old_zones:
                    merged_zones[os.path.basename(dst)] = old_zones[n]
    for n in staged:
        dst = os.path.join(dst_dir, n)
        if os.path.exists(dst):  # vs a linked old file: disambiguate new
            dst = os.path.join(dst_dir, f"new-{n}")
        os.rename(os.path.join(root, staging, n), dst)
        if zones and n in zones:
            merged_zones[os.path.basename(dst)] = zones[n]
    if merged_zones:
        with open(os.path.join(dst_dir, ZONES_FILE), "w") as f:
            json.dump(merged_zones, f)
    # whatever remains in staging is abandoned task-attempt garbage
    _shutil.rmtree(os.path.join(root, staging), ignore_errors=True)
    return relpath


def _link_manifest(root: str, new_manifest: dict, promoted_rel: list[str]) -> None:
    """Atomic link of a fully-written temp file = compare-and-swap AND no
    reader can see partial JSON: two committers from the same base both
    pass the version pre-check, but the filesystem lets only one link
    manifest.v{N+1} — the loser cleans up its promoted data and raises
    instead of silently overwriting the winner's committed manifest.
    Manifest creation is the COMMIT POINT; CURRENT is a pointer cache
    readers roll forward past (a crash between the two is harmless)."""
    import shutil as _shutil
    import tempfile

    new_version = new_manifest["version"]
    stamp_committed_at(root, new_manifest)
    fd, tmp = tempfile.mkstemp(dir=root)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(new_manifest, f)
        try:
            os.link(tmp, os.path.join(root, f"manifest.v{new_version}.json"))
        except FileExistsError:
            for rel in promoted_rel:
                _shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
            raise RuntimeError(
                f"edgy write conflict: a concurrent commit published "
                f"v{new_version} first; re-run the job"
            ) from None
    finally:
        os.unlink(tmp)


def _txn_dir(root: str, txn: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", txn):
        raise ValueError(f"invalid txn name {txn!r}")
    # dot-prefixed inside data/ -> vacuum's abandoned-staging age guard
    # covers an orphaned txn automatically
    return os.path.join(root, "data", f".txn-{txn}")


def _record_txn_table(
    root: str, txn: str, table: str, staging: str,
    overwrite: bool, has_id: bool, messages,
) -> None:
    d = _txn_dir(root, txn)
    os.makedirs(d, exist_ok=True)
    rec = os.path.join(d, f"{table}.json")
    if os.path.exists(rec):
        raise ValueError(
            f"txn {txn!r} already staged table {table!r}: one write per "
            "table per txn (combine the DataFrames instead)"
        )
    payload = {
        "table": table,
        "staging": staging,
        "overwrite": overwrite,
        "has_id": has_id,
        "messages": [
            {"filename": m.filename, "n_rows": m.n_rows,
             "max_id": m.max_id, "min_id": m.min_id,
             "has_ids": bool(getattr(m, "has_ids", False)),
             "zones": getattr(m, "zones", None)}
            for m in messages if m and m.filename  # skip empty partitions
        ],
    }
    fd, tmp = __import__("tempfile").mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, rec)


def _drop_stale_indexes(
    tables: dict, bucketed: dict, indexes: dict, written_key: str
) -> None:
    """A bulk load bypasses the engine's index maintenance, so any secondary
    index of the written NODE table is stale the moment the manifest links —
    drop its entries (readers then fall back to scan+filter, which is always
    correct) rather than let an indexed lookup return pre-load ids."""
    if not written_key.startswith("n_"):
        return
    pfx = f"x_{written_key[2:]}__"
    for k in [k for k in tables if k.startswith(pfx)]:
        tables.pop(k)
        bucketed.pop(k, None)
        indexes.pop(k, None)


def commit_edgy_txn(root: str, txn: str) -> int:
    """Finalize a multi-table atomic bulk load: publish every table staged
    under ``df.write.format("edgy").option("txn", name)`` in ONE manifest
    link, so a reader at any version sees all of the txn's tables
    both-or-neither — the bulk-scale analogue of the reference's
    single-transaction ``bigBang`` (/root/reference/app/Main.hs:79-116),
    which the Engine's own multi-table staged commit already provides for
    point mutations (storage.GraphStore.commit).

    Each participating write validated and staged its data but published
    nothing; this re-validates everything against the manifest CURRENT at
    finalize time (the authoritative base — txn writes rebase like a
    retried Engine transaction), promotes every staging directory, and
    links one manifest.  Returns the new version.  On validation failure
    nothing is published and the staged data remains for retry or
    :func:`abort_edgy_txn`; on a lost manifest race the promoted data is
    removed and the job must re-run (same contract as a single-table
    write)."""
    import shutil as _shutil

    d = _txn_dir(root, txn)
    recs = sorted(n for n in os.listdir(d) if n.endswith(".json"))
    if not recs:
        raise ValueError(f"txn {txn!r} has no staged tables")
    pend = []
    for n in recs:
        with open(os.path.join(d, n)) as f:
            pend.append(json.load(f))

    class _Msg:
        def __init__(self, m):
            self.filename = m["filename"]
            self.n_rows = m["n_rows"]
            self.max_id = m["max_id"]
            self.min_id = m["min_id"]
            self.has_ids = m.get("has_ids", False)

    current = _current_version(root)
    with open(os.path.join(root, f"manifest.v{current}.json")) as f:
        manifest = json.load(f)
    # authoritative validation pass over EVERY table before any promotion
    for p in pend:
        msgs = [_Msg(m) for m in p["messages"]]
        err = (
            _validate_staged_schema(
                root, p["staging"], p["table"], p["overwrite"], manifest,
                [m.filename for m in msgs],
            )
            or _check_id_cursor(manifest, msgs, p["overwrite"], p["has_id"])
            or _enforce_manifest_checks(
                root, p["staging"], p["table"], manifest,
                [m.filename for m in msgs],
            )
        )
        if err:
            raise ValueError(f"edgy txn {txn!r} rejected ({p['table']}): {err}")
    # cross-TABLE id arbitration (review r08): each table alone passing the
    # cursor check is not enough — two node tables both starting at the
    # cursor would mint colliding global ids that the sequential
    # single-table path would have rejected.  Simulate sequential commits
    # in min-id order: every table's range must sit at or above the cursor
    # as advanced by the tables before it.
    ranged = sorted(
        (
            (
                min(m["min_id"] for m in p["messages"] if m.get("has_ids")),
                max(m["max_id"] for m in p["messages"] if m.get("has_ids")),
                p["table"],
            )
            for p in pend
            if p["has_id"] and not p["overwrite"]
            and any(m.get("has_ids") for m in p["messages"])
        ),
    )
    cursor = manifest["next_id"]
    for lo, hi, tbl in ranged:
        if lo < cursor:
            raise ValueError(
                f"edgy txn {txn!r} rejected ({tbl}): id {lo} overlaps the "
                f"id space below {cursor} (store cursor or another table "
                "in this txn).  Give each table a disjoint id range at or "
                "above the store's cursor."
            )
        cursor = hi + 1
    new_version = current + 1
    tables = dict(manifest["tables"])
    bucketed = dict(manifest.get("bucketed", {}))
    indexes = dict(manifest.get("indexes", {}))
    next_id = manifest["next_id"]
    promoted: list[str] = []
    for p in pend:
        rel = _promote_staging(
            root, manifest, p["table"], p["staging"], p["overwrite"],
            new_version, [m["filename"] for m in p["messages"]],
            zones={
                m["filename"]: m["zones"]
                for m in p["messages"]
                if m.get("zones")
            },
        )
        tables[p["table"]] = rel
        bucketed.pop(p["table"], None)
        _drop_stale_indexes(tables, bucketed, indexes, p["table"])
        promoted.append(rel)
        loaded_max = max((m["max_id"] for m in p["messages"]), default=-1)
        next_id = max(next_id, loaded_max + 1)
    new_manifest = {
        "version": new_version,
        "next_id": next_id,
        "tables": tables,
        "bucketed": bucketed,
        "indexes": indexes,
        "stream_batches": manifest.get("stream_batches", {}),
        "defaults": manifest.get("defaults", {}),
        "checks": manifest.get("checks", {}),
        "stats": _ecosystem_stats(
            root, manifest, tables, [p["table"] for p in pend]
        ),
        "schemas": live_schemas(manifest.get("schemas"), tables),
    }
    try:
        _link_manifest(root, new_manifest, promoted)
    except RuntimeError:
        # lost the manifest race AFTER consuming the staging dirs: the
        # promoted data was removed by _link_manifest, so the pending
        # records now point at nothing — clear them too, or re-running the
        # load job dies on "already staged" and a retried finalize on
        # missing staging paths (review r08).  The job re-runs from scratch,
        # same contract as a lost single-table race.
        _shutil.rmtree(d, ignore_errors=True)
        raise
    _publish_current(root, new_version)
    _shutil.rmtree(d, ignore_errors=True)
    return new_version


def abort_edgy_txn(root: str, txn: str) -> None:
    """Drop a pending multi-table txn: remove its staged data and records.
    (An orphaned txn is also swept by vacuum's abandoned-staging age guard.)"""
    import shutil as _shutil

    d = _txn_dir(root, txn)
    if not os.path.isdir(d):
        return
    for n in os.listdir(d):
        if n.endswith(".json"):
            with open(os.path.join(d, n)) as f:
                p = json.load(f)
            _shutil.rmtree(os.path.join(root, p["staging"]), ignore_errors=True)
    _shutil.rmtree(d, ignore_errors=True)


def register_edgy_source(spark) -> None:
    """Idempotently register the 'edgy' format with a session (and enable
    Python-source filter pushdown, off by default in Spark 4.1 — without it
    Spark refuses any reader that implements pushFilters)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EdgyDataSource)


def _parse_spark_bytes(s: str) -> int:
    """Spark size-conf string ("10485760", "10MB", "1g", "-1") -> bytes."""
    s = s.strip().lower()
    for suf, mult in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024),
        ("b", 1),
    ):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(float(s))


def read_store_table(
    spark,
    root: str,
    table: str,
    version: int | None = None,
    timestamp=None,
):
    """Load a store table via ``format("edgy")`` with the manifest's
    recorded stats driving the broadcast decision at PLAN time.

    A Python DataSource scan reports no size to Catalyst, so a join
    against a dimension-sized store table plans as a shuffle join and only
    AQE's runtime replan can rescue it — one wasted shuffle stage wide.
    The manifest records {rows, bytes, ndv} per table at every commit
    (the Delta/Iceberg table-stats model); when the on-disk bytes sit
    under ``spark.sql.autoBroadcastJoinThreshold`` this helper attaches an
    explicit broadcast hint, so the FIRST plan is the broadcast plan.
    (On-disk parquet is compressed, so the threshold compares
    conservatively against a smaller number — same trade Spark's own
    file-source sizeInBytes makes.)  Tables over the threshold, or
    manifests predating stats, load unhinted and rely on AQE as before.
    """
    from pyspark.sql import functions as F

    # resolve the version ONCE and pin the scan to it explicitly: a commit
    # landing between "stats lookup" and "scan resolves CURRENT" would
    # otherwise attach another version's {rows, bytes} to this plan's
    # broadcast decision (review r11 ADVICE).  ``timestamp`` (epoch
    # seconds or ISO string) resolves TIMESTAMP-AS-OF style — newest
    # version committed at or before it.
    if timestamp is not None:
        if version is not None:
            raise ValueError("version and timestamp are mutually exclusive")
        v = resolve_timestamp(root, timestamp)
    else:
        v = version if version is not None else _current_version(root)
    df = (
        spark.read.format("edgy")
        .option("root", root)
        .option("table", table)
        .option("version", str(v))
        .load()
    )
    try:
        with open(os.path.join(root, f"manifest.v{v}.json")) as f:
            stats = (json.load(f).get("stats") or {}).get(table)
    except (FileNotFoundError, json.JSONDecodeError, ValueError):
        stats = None
    if stats and isinstance(stats.get("bytes"), int):
        try:
            thr = _parse_spark_bytes(
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            )
        except Exception:
            thr = -1
        if 0 <= stats["bytes"] <= thr:
            df = F.broadcast(df)
    return df

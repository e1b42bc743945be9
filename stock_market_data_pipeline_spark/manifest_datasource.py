"""ManifestTable as a first-class Spark DataSource (Spark 4 Python
DataSource API, `pyspark.sql.datasource`) — `spark.read.format(
"manifest").load(root)` with Catalyst-pushed filters driving the
table layer's OWN pruning.

Why this exists: every other consumer reaches the table through
``ManifestTable.read(where=...)``, an explicit API.  This module
closes the loop with Spark's planner — a plain ``df.where(...)`` on
the loaded frame hands its conjuncts to :meth:`pushFilters` (the
DSv2 pushdown seam), which translates them into the same ``where``
dict ``scan_plan`` already serves: partition-value pruning, commit-
object zone maps, per-file footer stats, and Bloom membership probes
for equality/IN on indexed columns.  SURVIVING files plan into
byte-budget tasks (``packFiles=auto``, the r17 default — small files
pack, well-sized files keep one task each); under
``option("packFiles", "0")`` the plan is exactly one InputPartition
per surviving file, so the task count IS the post-pruning file
count — pruning stays observable from the driver as
``df.rdd.getNumPartitions()`` (the pruning-proof entries probe that
way, and gate the default read on :func:`expected_scan_tasks`).

Correctness stance: every filter is RETURNED as residual (the API's
"still needs evaluating" contract) — the source prunes with the
predicate but never claims exact evaluation, exactly how an engine
treats zone-map skipping (kept set is a superset; the residual
predicate runs on top).  Strict bounds (``>``) prune with their
non-strict range, conservative by construction.

One plan, one conformer.  Every reader plans from the file RECORDS of
one commit-object read — ``ManifestTable.scan_plan`` for the batch
read and the stream's catch-up batch, its ``_added_records`` twin
for an incremental micro-batch — and :func:`_file_partitions` turns
them into tasks (packing included); nothing here re-derives a file's
DV sidecars, adopted fill or size.  The JVM reader,
``ManifestTable._read_files``, reads the same records: it anti-joins
exactly the sidecars they carry.  Executor-side, :func:`_conform`
is the one Arrow reconciliation to the pinned schema (colmap renames,
adopted fills, NULL-filled added columns, pin order, widening and
canonical casts) for the file, packed and CDF reads alike.

Deletion vectors apply EXECUTOR-SIDE: each partition ships its ref's
DV sidecar paths; the reader drops dead row positions from its own
file before emitting Arrow batches, so a merge-on-read DELETE is
invisible to SQL consumers of the format — same semantics as
``_read_files``'s anti-join, without a join in the plan (the mask is
a per-file bitmap, O(file rows)).

Scale notes (100 TB): planning is ``scan_plan`` — commit-object-only
until a partition survives pruning (shards open on demand); the
file list never materializes data driver-side.  Reads are
Arrow-batched columnar, one task per byte-budget bin (one per file
once files reach the budget), tasks independent —
1000-executor-parallel by construction.  What this Python source
does NOT give (and the DataFrame API path does): whole-stage
codegen fusion over the scan and vectorized parquet row groups —
the honest cost of the Python DSv2 seam, paid only by consumers who
want the ``format("manifest")`` ergonomics.
"""

from __future__ import annotations

import json
import os
import re

import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)


def _opt(options, key: str, default=None):
    """Case-insensitive option lookup: Spark hands the STREAM reader
    a lowercased option map (CaseInsensitiveStringMap semantics) while
    batch reader/writer options keep their case — the same option
    name must resolve on every path."""
    if key in options:
        return options[key]
    lk = key.lower()
    if lk in options:
        return options[lk]
    for k, v in options.items():
        if k.lower() == lk:
            return v
    return default


class ManifestFilePartition(InputPartition):
    """One surviving data file: absolute path, its manifest-relative
    address (the DV row-address namespace), the owning ref's DV
    sidecar absolute paths (empty when the partition carries none),
    and ``fill`` — constant column values for columns ABSENT from the
    file on disk ({logical name: partition value string}; set on
    zero-copy ADOPTED hive-layout tables, whose partition column only
    exists as directory names — see :meth:`ManifestTable.adopt`)."""

    def __init__(self, path: str, rel: str, dv_paths: list[str],
                 fill: dict | None = None):
        self.path, self.rel, self.dv_paths = path, rel, dv_paths
        self.fill = fill


class ManifestPackedPartition(InputPartition):
    """Several small surviving files planned as ONE task (guide-§4
    shape: fewer JVM↔Python crossings).  Since r17 packing is the
    DEFAULT (``packFiles=auto``): small-file snapshots pay one Python
    task per byte-budget bin instead of ~4 ms per file, while a
    compacted lake whose files are already 128 MB–1 GB degrades to
    exactly the old one-task-per-file plan (a file at/over the budget
    closes its own bin).  ``option("packFiles", "0"|"false")`` restores
    one task per file — the pruning-proof entries use that for their
    exact ``ntasks == len(scan_plan()["files"])`` probe and gate the
    default read against :func:`expected_scan_tasks`, the packer's
    deterministic bin count.  Each member keeps its own rel/DV/fill
    metadata, so packing changes scheduling only, never row
    semantics."""

    def __init__(self, files: list[ManifestFilePartition]):
        self.files = files


def _pack_file_partitions(parts: list, sizes: dict,
                          budget: int) -> list:
    """Greedy in-order packing of one-file partitions into byte
    ``budget`` bins (the FilePartition/maxPartitionBytes idea applied
    to the Python seam).  ``sizes`` maps rel -> bytes from the commit
    object; a file with unknown size, or one at/over the budget,
    closes its own bin — so well-sized files degrade to exactly the
    unpacked plan."""
    out, cur, acc = [], [], 0
    for p in parts:
        b = sizes.get(p.rel)
        if b is None or b >= budget:
            if cur:
                out.append(cur)
                cur, acc = [], 0
            out.append([p])
            continue
        if cur and acc + b > budget:
            out.append(cur)
            cur, acc = [], 0
        cur.append(p)
        acc += b
    if cur:
        out.append(cur)
    return [g[0] if len(g) == 1 else ManifestPackedPartition(g)
            for g in out]


def _auto_pack_budget(total_bytes: int) -> int:
    """The ``packFiles='auto'`` bin size: spread the surviving bytes
    over ~3x the session's parallelism (slack for stragglers),
    floored at 1 MiB (below that, bin overhead dominates) and capped
    at the session's own ``maxPartitionBytes`` (so a cluster profile
    with 128 MB+ splits packs no coarser than its JVM scans would).
    Driver-side only — partitions() runs on the driver."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    par = (spark.sparkContext.defaultParallelism
           if spark is not None else 8)
    cap = 128 << 20
    if spark is not None:
        # Spark byte strings take one-letter ('128m') AND two-letter
        # ('128mb', '1gb') suffixes, or a bare 'b'; parse the whole
        # shape at once and fall back to the 128 MB default on
        # anything unrecognized rather than crashing plan time.
        raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                 "134217728")).strip().lower()
        m = re.fullmatch(r"(\d+)\s*([gmk]?b?)", raw)
        if m:
            mult = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                    "m": 1 << 20, "mb": 1 << 20,
                    "g": 1 << 30, "gb": 1 << 30}[m.group(2)]
            cap = int(m.group(1)) * mult
    return max(1 << 20, min(cap, total_bytes // max(1, 3 * par) or 1))


def _pack_opt(options) -> int:
    """Parse the ``packFiles`` reader option: absent/'auto' = derive
    the byte budget from the session (see :func:`_auto_pack_budget`,
    resolved at plan time — the r17 default; well-sized files degrade
    to the unpacked plan, so only small-file snapshots change),
    0/'false' = off (exactly one task per file — the pruning-proof
    probes' contract), an integer = explicit byte budget."""
    v = _opt(options, "packFiles")
    if v is None:
        return -1
    if str(v).strip().lower() in ("", "0", "false"):
        return 0
    if str(v).strip().lower() == "auto":
        return -1
    n = int(v)
    if n < 0:
        # A negative explicit budget is a misconfiguration; -1 is the
        # INTERNAL auto sentinel and must not be reachable from the
        # option string, and silently reinterpreting -5 as "auto"
        # would hide the typo.
        raise ValueError(f"packFiles must be 'auto', 'false' or a "
                         f"non-negative byte budget, got {v!r}")
    return n


def _file_partitions(records: list[dict], pack: int) -> list:
    """THE reader plan: one :class:`ManifestFilePartition` per file
    record (:meth:`ManifestTable._file_record`), packed into byte-
    budget bins when ``pack`` (a :func:`_pack_opt` value) asks.  The
    batch reader, both stream branches and :func:`expected_scan_tasks`
    all plan through here."""
    out = [ManifestFilePartition(r["path"], r["rel"],
                                 [d["path"] for d in r["dv"]], r["fill"])
           for r in records]
    if pack and len(out) > 1:
        sizes = {r["rel"]: r["bytes"] for r in records}
        budget = (pack if pack > 0 else
                  _auto_pack_budget(sum(b or 0 for b in sizes.values())))
        out = _pack_file_partitions(out, sizes, budget)
    return out


def _canon_where(where: dict) -> dict:
    """scan_plan wants (lo, hi) tuples for ranges, lists for IN-lists;
    date/datetime filter values arrive as Python objects — canonicalize
    to ISO strings, the manifest stats' form."""
    import datetime

    def canon(v):
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return v

    return {c: ([canon(v) for v in s] if isinstance(s, list)
                else (canon(s[0]), canon(s[1])))
            for c, s in where.items()}


def expected_scan_tasks(table, where: dict | None = None,
                        manifest_name: str | None = None,
                        pack: str | int = "auto") -> int:
    """The deterministic task count the manifest reader will plan for
    this (snapshot, where, packFiles) triple — computed by running THE
    SAME driver-side code path the reader runs at plan time (scan_plan
    pruning + :func:`_file_partitions`' greedy byte-budget packing
    over the commit object's per-file sizes).  The pruning-proof
    entries gate their default (packed) reads on this: a lost
    pushdown plans bins over the FULL file set and produces a
    different count.  ``where`` uses scan_plan's form ((lo, hi)
    tuples / value lists)."""
    plan = table.scan_plan(_canon_where(where or {}), manifest_name)
    return len(_file_partitions(plan["records"],
                                _pack_opt({"packFiles": str(pack)})))


class ManifestCDFPartition(InputPartition):
    """One change-set file of one commit: ``ctype`` is the constant
    classification for ``insert_files``-kind commits (the entries ARE
    the commit's data files), or None when the file physically carries
    ``_change_type`` (classified merge/delete change sets).  ``fill``
    is the adopted-hive constant-column dict (see
    :class:`ManifestFilePartition`) — insert_files entries of a
    dirs-adopted table carry their partition column only as a
    directory name."""

    def __init__(self, path: str | None, ctype: str | None,
                 version: int, fill: dict | None = None):
        self.path, self.ctype, self.version = path, ctype, version
        self.fill = fill


class ManifestReader(DataSourceReader):
    def __init__(self, root: str, schema: list[list[str]],
                 manifest_name: str | None = None,
                 colmap: dict | None = None,
                 pack: int = 0):
        self.root = root
        self.pinned = schema                   # (name, type) pairs
        self.manifest_name = manifest_name     # time travel (versionAsOf)
        self.colmap = colmap or {}             # logical -> physical
        self.pack = pack        # 0 off, -1 auto, >0 byte budget
        self.where: dict = {}

    # -- pushdown ---------------------------------------------------

    def pushFilters(self, filters: list[Filter]):
        """Fold Catalyst's conjuncts into scan_plan's ``where`` dict:
        EqualTo/In -> value lists (zone maps + Bloom probes),
        comparisons -> the tightest (lo, hi) range per column.  Every
        filter is yielded back as residual — pruning keeps a superset,
        Spark evaluates the exact predicate on the rows."""
        ranges: dict[str, list] = {}
        for f in filters:
            yield f                    # all filters stay residual
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue               # nested / non-column: prune-less
            col, v = attr[0], getattr(f, "value", None)
            if isinstance(f, EqualTo):
                self.where.setdefault(col, [])
                if isinstance(self.where[col], list):
                    self.where[col].append(v)
            elif isinstance(f, In):
                self.where.setdefault(col, [])
                if isinstance(self.where[col], list):
                    self.where[col].extend(v)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                ranges.setdefault(col, [None, None])
                lo = ranges[col][0]
                ranges[col][0] = v if lo is None else max(lo, v)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                ranges.setdefault(col, [None, None])
                hi = ranges[col][1]
                ranges[col][1] = v if hi is None else min(hi, v)
        for col, (lo, hi) in ranges.items():
            # an IN/= spec on the same column is strictly tighter —
            # keep it; otherwise adopt the folded range
            if col not in self.where:
                self.where[col] = (lo, hi)

    # -- planning ---------------------------------------------------

    def partitions(self) -> list[ManifestFilePartition]:
        from .manifest import ManifestTable

        # ONE commit-object read: scan_plan resolves the kept files
        # AND each one's DV sidecars, fill and size from the same
        # snapshot (ctor ts is irrelevant to reads: scan_plan prunes
        # on the partition column recorded in the manifest)
        plan = ManifestTable(self.root, None).scan_plan(
            _canon_where(self.where), self.manifest_name)
        return _file_partitions(plan["records"], self.pack)

    # -- execution --------------------------------------------------

    def read(self, partition: ManifestFilePartition):
        """Executor-side: one parquet file -> Arrow batches, with the
        partition's deletion vectors applied as a positional mask
        (rows addressed (rel, row_index) within THIS file drop before
        anything is emitted); the pushed filters prune row groups by
        their footer stats before any data page is read.  A packed
        partition (``packFiles``) chains its members' reads —
        each file keeps its own DV mask and constant fill."""
        where = _canon_where(self.where)
        if isinstance(partition, ManifestPackedPartition):
            yield from _read_packed_partition(
                partition, self.pinned, where, colmap=self.colmap)
            return
        yield from _read_file_partition(partition, self.pinned, where,
                                        colmap=self.colmap)


def _arrow_type(t: str):
    """Spark simpleString -> Arrow type: the pinned schema's canonical
    Arrow rendering :func:`_conform` aligns every file to (DSv2 Python
    workers have no SparkSession to type it for them)."""
    import pyarrow as pa

    t = t.strip().lower()
    prim = {
        "boolean": pa.bool_(), "tinyint": pa.int8(),
        "smallint": pa.int16(), "int": pa.int32(),
        "bigint": pa.int64(), "float": pa.float32(),
        "double": pa.float64(), "string": pa.string(),
        "binary": pa.binary(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in prim:
        return prim[t]
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"array<(.+)>", t)
    if m:
        return pa.list_(_arrow_type(m.group(1)))
    m = re.fullmatch(r"map<(.+)>", t)
    if m:
        kv = _split_angle_aware(m.group(1))
        if len(kv) == 2:
            return pa.map_(_arrow_type(kv[0]), _arrow_type(kv[1]))
    m = re.fullmatch(r"struct<(.+)>", t)
    if m:
        fields = []
        for f in _split_angle_aware(m.group(1)):
            name, _, ft = f.partition(":")
            fields.append((name.strip(), _arrow_type(ft)))
        return pa.struct(fields)
    raise NotImplementedError(
        f"manifest source cannot type evolved column type {t!r}; "
        "read through ManifestTable.read() instead")


def _split_angle_aware(s: str) -> list[str]:
    """Split a simpleString type-argument list on top-level commas
    only (``map<string,array<int>>``'s inner comma must not split) —
    what lets ``_arrow_type`` recurse into map/struct simpleStrings
    the way it already does for array."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _kept_row_groups(md, where: dict) -> list[int]:
    """Executor-side ROW-GROUP pruning under the manifest's zone-map
    discipline: a row group drops only when its footer [min, max] for
    some constrained column PROVABLY excludes every probe value/range.
    Same conservative rules as `_file_entry`: binary/Decimal bounds,
    canon-rewritten string bounds, absent stats, and type-incompatible
    comparisons all KEEP the group — more I/O, never a missing row
    (the residual predicate runs Spark-side either way)."""
    import decimal

    from .manifest import _norm

    kept = []
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        stats = {}
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            stats[col.path_in_schema] = col.statistics
        drop = False
        for c, spec in where.items():
            st = stats.get(c)
            if st is None or not st.has_min_max:
                continue
            if isinstance(st.min, (bytes, decimal.Decimal)) \
                    or isinstance(st.max, (bytes, decimal.Decimal)):
                continue
            lo0, hi0 = _norm(st.min), _norm(st.max)
            if (isinstance(st.min, str) and lo0 != st.min) \
                    or (isinstance(st.max, str) and hi0 != st.max):
                continue           # rewritten raw-string bound
            try:
                if isinstance(spec, list):
                    vals = [v for v in spec if v is not None]
                    if vals and all(v < lo0 or v > hi0 for v in vals):
                        drop = True
                else:
                    lo, hi = spec
                    if (hi is not None and hi < lo0) \
                            or (lo is not None and lo > hi0):
                        drop = True
            except TypeError:
                continue           # incomparable types: keep
            if drop:
                break
        if not drop:
            kept.append(rg)
    return kept


def _conform(t, schema: list[list[str]], colmap: dict | None,
             fill: dict | None):
    """THE executor-side reconciliation of one file's Arrow table with
    the pinned (name, type) signature — the file, packed and CDF reads
    all end here; the Arrow analog of ``_read_files``'s read through
    the pinned schema, for Python workers that have no SparkSession:

    - each pinned column is taken under its PHYSICAL name (``colmap``,
      logical -> physical; files keep stable physical names forever)
      and surfaces under its logical one, in the pin's order; file
      columns outside the pin drop;
    - a pinned column absent from the file is the adopted hive
      layout's constant when ``fill`` ({logical: directory value})
      holds it — cast from the directory string through the pinned
      type, as hive-dir inference would type it — else a typed NULL
      (Delta's metadata-only ADD COLUMNS);
    - the result casts to the pin's canonical Arrow schema whenever a
      type differs: the safe widenings of a pre-widen file (narrow
      ints, float -> double; the analog of Spark's native parquet
      upcast — pyarrow's safe cast raises rather than truncate), and
      nested field names a parquet read renders differently from a
      NULL-filled column.  Spark's DSv2 worker writes every batch of
      a task under its FIRST batch's schema, so every file of a
      packed task must agree in Arrow terms, not just Spark terms."""
    import pyarrow as pa

    cm, fill = colmap or {}, fill or {}
    target = pa.schema([pa.field(n, _arrow_type(ty)) for n, ty in schema])
    have = set(t.column_names)
    cols = []
    for f in target:
        p = cm.get(f.name, f.name)
        if p in have:
            cols.append(t.column(p))
        elif f.name in fill:
            cols.append(pa.array([str(fill[f.name])] * t.num_rows,
                                 type=pa.string()).cast(f.type))
        else:
            cols.append(pa.nulls(t.num_rows, f.type))
    out = pa.Table.from_arrays(cols, names=target.names)
    return out if out.schema == target else out.cast(target)


def _read_file_partition(partition: ManifestFilePartition,
                         schema: list[list[str]],
                         where: dict | None = None,
                         colmap: dict | None = None):
    """Executor-side file read shared by the batch and streaming
    readers: one parquet file -> Arrow batches conformed to the pinned
    ``schema`` (:func:`_conform`), the partition's deletion vectors
    applied as a positional mask.

    ``where`` (the pushed-filter dict the driver pruned files with)
    additionally prunes ROW GROUPS inside this file by their footer
    stats — the second granularity tier: driver-side planning drops
    files, each executor drops the row groups its own file's footer
    excludes.  On a cluster-by/z-ordered table whose files hold many
    sorted row groups this turns a point probe from O(file) into
    O(row group) I/O.  DV row addresses are FILE-absolute, so the
    positional mask maps global indices through the kept groups."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if partition is None or partition.path is None:
        return
    cm = colmap or {}
    pf = pq.ParquetFile(partition.path)
    md = pf.metadata
    if where and cm:
        # row-group footer stats are keyed by the PHYSICAL names the
        # file was written under — translate the pushed predicates
        where = {cm.get(c, c): spec for c, spec in where.items()}
    kept = (_kept_row_groups(md, where) if where
            else list(range(md.num_row_groups)))
    if not kept:
        return
    on_disk = set(pf.schema_arrow.names)
    t = _conform(pf.read_row_groups(
                     kept, columns=[cm.get(n, n) for n, _ in schema
                                    if cm.get(n, n) in on_disk]),
                 schema, cm, partition.fill)
    if partition.dv_paths:
        dead: set[int] = set()
        for p in partition.dv_paths:
            dv = pq.read_table(p, columns=["rel", "row_index"])
            rels = dv.column("rel").to_pylist()
            idxs = dv.column("row_index").to_pylist()
            dead.update(i for r, i in zip(rels, idxs)
                        if r == partition.rel)
        if dead:
            # map FILE-absolute dead positions into the concatenated
            # kept-row-group frame
            starts, acc = [], 0
            for i in range(md.num_row_groups):
                starts.append(acc)
                acc += md.row_group(i).num_rows
            local_base, lacc = {}, 0
            for i in kept:
                local_base[i] = lacc
                lacc += md.row_group(i).num_rows
            import bisect

            hits = []
            for g in dead:
                if g >= acc:
                    continue
                rg = bisect.bisect_right(starts, g) - 1
                if rg in local_base:
                    hits.append(local_base[rg] + (g - starts[rg]))
            if hits:
                mask = np.ones(t.num_rows, dtype=bool)
                mask[np.asarray(hits, dtype=np.int64)] = False
                t = t.filter(pa.array(mask))
    yield from t.to_batches()


def _read_packed_partition(packed: ManifestPackedPartition,
                           schema: list[list[str]],
                           where: dict | None = None,
                           colmap: dict | None = None):
    """Chain a packed partition's member reads into ONE Arrow stream;
    each member conforms to the pin (:func:`_conform`), so packing
    stays scheduling-only."""
    for p in packed.files:
        yield from _read_file_partition(p, schema, where, colmap=colmap)


def _read_cdf_partition(partition: ManifestCDFPartition,
                        schema: list[list[str]],
                        colmap: dict | None = None):
    """Executor-side change-set file read: the pinned columns
    (:func:`_conform`) plus ``_change_type`` — the file's own column
    for classified change sets, the constant for insert_files feeds —
    and the constant ``_commit_version``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if partition is None or partition.path is None:
        return
    t = pq.read_table(partition.path)
    if partition.ctype is not None:
        ct = pa.array([partition.ctype] * t.num_rows, pa.string())
    else:
        ct = t.column("_change_type")
    out = (_conform(t, schema, colmap, partition.fill)
           .append_column("_change_type", ct)
           .append_column("_commit_version",
                          pa.array([partition.version] * t.num_rows,
                                   pa.int64())))
    yield from out.to_batches()


class ManifestStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("manifest")`` — the manifest table
    as a Structured Streaming SOURCE (the Delta streaming-source
    analog): offsets are table VERSIONS, persisted in Spark's own
    checkpoint, so a restarted query resumes exactly after the last
    committed version — exactly-once across restarts for free.  Each
    micro-batch plans the file records ADDED in (start, end] through
    ``added_files``'s sharded diff (O(changed partitions), not
    O(table)); the catch-up batch at version 0 plans the snapshot's
    ``scan_plan`` records, as a batch read does.  Both go through the
    batch reader's :func:`_file_partitions` (DV sidecars, adopted
    fills, byte-budget packing) and read through :func:`_conform`.

    APPEND-ONLY by contract, loudly: a version in range that removed
    or rewrote live files, or attached deletion vectors, RAISES —
    file-granular replay of a rewrite would re-emit old rows as new.
    ``ignoreChanges=true`` opts into Delta's documented relaxation
    (added files only; rewritten partitions may re-emit their
    surviving rows).  ``startingVersion`` pins where the stream
    begins: a version number, or ``latest`` for new-commits-only;
    default 0 replays the whole table first (Delta's default).

    ``maxFilesPerTrigger`` (Delta's option) is ADMISSION CONTROL for
    STEADY-STATE tailing: each micro-batch admits whole table
    versions until the admitted file count would exceed the cap, so
    a hot writer cannot swamp a slow consumer — every incremental
    batch is bounded.  Version-granular and soft: at least one
    version always admits (a single huge commit exceeds the cap
    rather than stalling the stream).  The CATCH-UP batch at
    (re)start is uncapped by design: the Python DSv2 offset protocol
    hands ``latestOffset`` no start position, and any reply below a
    restart checkpoint's offset would rewind the stream (duplicate
    emission) — so the first planned batch anchors the position and
    every later batch is bounded.  The same holds when the position
    IS known to be 0 (default ``startingVersion``): that batch is a
    full-snapshot read, planned whole.  Bound a deep backfill instead
    with ``startingVersion``, :func:`backfill_manifest_stream`, or a
    downstream rate limit.

    ``readChangeFeed=true`` (Delta's reader option) streams the
    ROW-LEVEL change feed instead of the table rows: each micro-batch
    emits the (start, end] commits' classified change rows — the
    table schema plus ``_change_type`` (insert / update_preimage /
    update_postimage / delete) and ``_commit_version`` — straight
    from the change-set files the writes committed (``cdf=True`` on
    merge/delete/append/the DSv2 sink; an append's feed costs zero
    extra bytes).  A version in range committed WITHOUT cdf raises
    the same clear error :meth:`ManifestTable.changes` does — a
    silent gap would corrupt every downstream incremental view.  The
    append-only guard doesn't apply: rewrites are legal because their
    row-level deltas are exactly what is being streamed."""

    def __init__(self, root: str, schema: list[list[str]], options,
                 colmap: dict | None = None):
        self.root, self.pinned = root, schema
        self.colmap = colmap or {}
        sv = _opt(options, "startingVersion", "0")
        self.start_latest = str(sv).lower() == "latest"
        self.start_version = None if self.start_latest else int(sv)
        self.ignore_changes = (
            str(_opt(options, "ignoreChanges", "false")).lower()
            == "true")
        self.read_cdf = (
            str(_opt(options, "readChangeFeed", "false")).lower()
            == "true")
        self.max_files = int(_opt(options, "maxFilesPerTrigger", 0)
                             or 0)
        #: hard upper bound on the stream's end version (the chunked-
        #: backfill seam, VERDICT r10 #7): latestOffset never admits
        #: past it, so one availableNow run processes AT MOST
        #: (start, endingVersion] — backfill_manifest_stream steps it
        self.end_version = int(_opt(options, "endingVersion", 0)
                               or 0) or None
        self.pack = _pack_opt(options)  # 0 off, -1 auto, >0 bytes
        self._pos: int | None = None    # last end version handed out

    def _table(self):
        from .manifest import ManifestTable

        return ManifestTable(self.root, None)

    def initialOffset(self) -> dict:
        if self.start_latest:
            self._pos = self._table().version()
        else:
            self._pos = self.start_version
        return {"version": self._pos}

    def latestOffset(self) -> dict:
        table = self._table()
        live = table.version()
        if self.end_version is not None:
            live = min(live, self.end_version)
        if self.max_files <= 0 or self._pos is None \
                or live <= self._pos:
            return {"version": live}
        if self._pos == 0:
            # Position 0 means the next planned batch is the FULL-
            # SNAPSHOT replay (partitions() reads the live snapshot at
            # e when s == 0, not per-version diffs) — capping the walk
            # here would both mislabel that batch as incremental and
            # break on vacuum-trimmed early manifests (r10 ADVICE
            # item 3).  The catch-up batch is uncapped by design;
            # bound a deep backfill with startingVersion instead.
            return {"version": live}
        admitted, budget = self._pos, self.max_files
        try:
            while admitted < live:
                n = len(table.added_files(
                    admitted, manifest_name=table._mname(admitted + 1)))
                if n > budget and admitted > self._pos:
                    break       # cap reached; a version never splits
                admitted += 1
                budget -= n
                if budget <= 0:
                    break
        except FileNotFoundError:
            # vacuum trimmed a manifest inside the walk: per-version
            # file counts are unknowable, so admit through live (the
            # uncapped path reads diffs against the surviving head
            # manifest and handles vacuumed history fine)
            return {"version": live}
        return {"version": admitted}

    def partitions(self, start: dict, end: dict):
        table = self._table()
        s, e = start["version"], end["version"]
        self._pos = max(self._pos or 0, e)   # admission-control anchor
        if e <= s:
            return [ManifestFilePartition(None, "", [])]
        if self.read_cdf:
            return self._cdf_partitions(table, s, e)
        if s > 0:
            if not self.ignore_changes:
                self._require_append_only(table, s, e)
            records = table._added_records(s, table._mname(e))
        else:
            # Initial CATCH-UP batch: a full-snapshot read at e.  Its
            # refs may carry deletion vectors from earlier delete_where
            # /update_where/merge(mode='dv') commits, and there is no
            # earlier version for _require_append_only to compare, so
            # the records' DV sidecars MUST ride along as per-file
            # masks; dropping them would silently re-emit DV-dead rows
            # (r10 ADVICE item 1).
            records = table.scan_plan(None, table._mname(e))["records"]
        return (_file_partitions(records, self.pack)
                or [ManifestFilePartition(None, "", [])])

    def _cdf_partitions(self, table, s: int, e: int) -> list:
        """One task per change-set file of each commit in (s, e]: the
        entries come straight from each commit object's ``cdf`` key —
        O(commits) small JSON reads, no shard loads.  A commit in
        range without a captured change set raises (the
        :meth:`ManifestTable.changes` contract: a silent gap would
        corrupt downstream incremental state)."""
        from .manifest import _adopted_fill

        out = []
        for v in range(max(s, 0) + 1, e + 1):
            mf = table._raw(table._mname(v))
            # the ONE skip/raise rule, shared with the batch range
            # walk (ManifestTable.cdf_commit_action) — a stream dying
            # on a commit the batch walk skips was ADVICE r15 #1
            if table.cdf_commit_action(v, mf) == "skip":
                continue
            ctype = ("insert" if mf.get("cdf_kind") == "insert_files"
                     else None)
            out.extend(ManifestCDFPartition(
                os.path.join(self.root, x["path"]), ctype, v,
                _adopted_fill(mf, x["path"]))
                for x in mf["cdf"])
        return out or [ManifestFilePartition(None, "", [])]

    def _require_append_only(self, table, s: int, e: int) -> None:
        old = table._raw(table._mname(s))
        new = table._raw(table._mname(e))
        for v, old_ref in old["partitions"].items():
            new_ref = new["partitions"].get(v)
            bad = None
            if new_ref is None:
                bad = "was removed"
            else:
                if ([d["path"] for d in old_ref.get("dv", [])]
                        != [d["path"] for d in new_ref.get("dv", [])]):
                    bad = "gained/changed deletion vectors"
                elif old_ref["shard"] != new_ref["shard"]:
                    kept = {x["path"] for x in table._entries(new, v)}
                    if not all(x["path"] in kept
                               for x in table._entries(old, v)):
                        bad = "rewrote or dropped live files"
            if bad:
                raise RuntimeError(
                    f"{self.root}: partition {v!r} {bad} between "
                    f"versions {s} and {e}; a file-granular stream "
                    "would re-emit or lose rows. Pass "
                    "ignoreChanges=true to stream added files only "
                    "(Delta's documented relaxation), or feed "
                    "downstream from changes()/read_incremental.")

    def read(self, partition):
        if isinstance(partition, ManifestCDFPartition):
            yield from _read_cdf_partition(partition, self.pinned,
                                           colmap=self.colmap)
        elif isinstance(partition, ManifestPackedPartition):
            yield from _read_packed_partition(partition, self.pinned,
                                              colmap=self.colmap)
        else:
            yield from _read_file_partition(partition, self.pinned,
                                            colmap=self.colmap)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; track the position as
        # the admission-control anchor (belt to partitions()'s braces)
        self._pos = max(self._pos or 0, end["version"])


# -- write path -------------------------------------------------------
#
# The DSv2 writer protocol IS the manifest commit protocol: executor
# tasks stage parquet files into an invisible ``data/txn-*/`` (step 1),
# the driver's ``commit(messages)`` assembles footer-stat entries and
# publishes ONE manifest through the backend CAS (steps 2+3).  A failed
# task or job never publishes — ``abort`` (and vacuum, for crashes)
# reclaims the txn dir.  On a bloom-indexed table each task ALSO
# builds its files' per-column filters while the rows stream through
# it (pure-Python md5 — bit-identical to the JVM builder by the
# module-level hashing contract `_bloom_positions` pins), so DSv2
# writes are first-class index citizens: probes skip their files
# exactly like `_stage`-staged ones.
#
# LAYOUT RULE: the DSv2 seam cannot inject a shuffle, so each task
# writes one file per partition value it holds — callers should
# ``df.repartition(F.col(<partition column>))`` before writing (the
# clustering ``_stage`` applies internally); without it an N-task
# plan over M partition values can spray N*M sliver files, the exact
# read-amplification `_stage`'s docstring warns about at scale.


class ManifestWriteMessage(WriterCommitMessage):
    """One task's staged files: [(value, rel path, index)], where
    index is {"bloom": {col: {word: bits}}, "mk": [m, k]} or None."""

    def __init__(self, files: list):
        self.files = files


def _canon_arrow(v, dtype: str) -> str | None:
    """An Arrow scalar rendered exactly as Spark's ``cast(col as
    string)`` renders it — the bloom canon domain (`_bloom_canon`'s
    build-side twin; only `_BLOOM_TYPES` reach here)."""
    if v is None:
        return None
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        return str(int(v))
    if dtype == "date":
        return v.isoformat()
    return str(v)                       # string: identity


def _bloom_words(canons, m: int, k: int) -> dict:
    """Fold canonicalized values into the sparse {word index: 64-bit
    word} map the manifest stores — SIGNED longs, matching the JVM
    builder's ``shiftleft``/``bit_or`` output bit-for-bit."""
    from .manifest import _bloom_positions

    words: dict[int, int] = {}
    for canon in canons:
        for pos in _bloom_positions(canon, m, k):
            words[pos // 64] = words.get(pos // 64, 0) \
                | (1 << (pos % 64))
    return {str(w): (b if b < (1 << 63) else b - (1 << 64))
            for w, b in sorted(words.items())}


def _pt_arrow_keys(keys, pt: dict | None, ts_dtype: str | None):
    """Transform the per-row raw partition keys (cast-string Arrow
    array) into directory values under a hidden-partitioning spec —
    the Arrow twin of manifest._pt_value (which remains the single
    source of truth: the slow path maps every DISTINCT raw key
    through it, so the two can never diverge; days/month take the
    vectorized prefix-slice shortcut that is definitionally equal).
    Identity returns the keys unchanged."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pt is None:
        return keys
    fn = pt["fn"]
    if fn == "days":
        return pc.utf8_slice_codeunits(keys, 0, 10)
    if fn == "month":
        return pc.utf8_slice_codeunits(keys, 0, 7)
    from .manifest import _pt_value

    u = pc.unique(keys)
    uvals = u.to_pylist()
    lut = pa.array([_pt_value(pt, v, ts_dtype) for v in uvals],
                   pa.string())
    return pc.take(lut, pc.index_in(keys, value_set=u))


def _stage_arrow_batches(root: str, txn: str, ts: str | None,
                         iterator, bloom: dict | None = None,
                         dtypes: dict | None = None,
                         colmap: dict | None = None,
                         pt: dict | None = None,
                         ts_dtype: str | None = None) -> list:
    """Executor-side step 1: write this task's Arrow batches into the
    shared txn dir, one parquet file per partition value, rows grouped
    by the STRING rendering of the partition column (the manifest's
    key domain — same cast `_stage` applies).  With a ``bloom`` spec,
    each file's per-column filter builds incrementally from the
    DISTINCT canonicalized keys as batches stream through (NULLs set
    no bits; an all-NULL file keeps the computed-but-empty {} a probe
    may skip on — `_attach_blooms`' exact semantics).  Returns
    (value, rel, index-or-None) triples; nothing is reader-visible."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    task = uuid.uuid4().hex[:12]
    writers: dict[str, tuple] = {}      # value -> (writer, rel)
    keysets: dict[str, dict] = {}       # value -> {col: set of canon}
    bcols: list[str] = list(bloom["cols"]) if bloom else []

    def _writer_for(value: str, schema: pa.Schema):
        if value in writers:
            return writers[value][0]
        # the same write-boundary rule as ManifestTable._stage: keys
        # must be filesystem-plain — an escaped or NULL key would
        # silently miss every raw-value lookup downstream
        if (not value or "%" in value or "/" in value
                or "\\" in value or value == "__HIVE_DEFAULT_PARTITION__"):
            raise ValueError(
                f"unsupported partition value {value!r}: NULL, empty "
                "or characters the writer would escape; derive a "
                "plain partition column (date/month/id) instead")
        leaf = os.path.join(root, "data", txn, f"__pt={value}")
        os.makedirs(leaf, exist_ok=True)
        rel = os.path.join("data", txn, f"__pt={value}",
                           f"part-{task}.parquet")
        w = pq.ParquetWriter(os.path.join(root, rel), schema)
        writers[value] = (w, rel)
        return w

    def _sink(value: str, sub: "pa.Table"):
        _writer_for(value, sub.schema).write_table(sub)
        cols = [c for c in bcols if c in sub.column_names]
        if not cols:
            return
        ks = keysets.setdefault(value, {c: set() for c in cols})
        for c in cols:
            dt = (dtypes or {}).get(c, "string")
            for v in pc.unique(sub.column(c)).to_pylist():
                canon = _canon_arrow(v, dt)
                if canon is not None:
                    ks[c].add(canon)

    cm = colmap or {}
    for batch in iterator:
        if batch.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([batch])
        if cm:
            # files are ALWAYS written under stable PHYSICAL names
            # (rename_column's invariant — mirrors _stage)
            tbl = tbl.rename_columns(
                [cm.get(c, c) for c in tbl.column_names])
        if ts is None:
            _sink("__all", tbl)
            continue
        if ts not in tbl.column_names:
            raise ValueError(
                f"partition column {ts!r} missing from the written "
                f"frame (has {tbl.column_names})")
        kcol = tbl.column(ts)
        if (pt is not None and pa.types.is_timestamp(kcol.type)
                and kcol.type.tz is not None):
            # Spark stamps Arrow timestamps with the SESSION zone:
            # recover the wall clock so the transformed directory
            # value matches the JVM path's date_format rendering
            # (and the planner's _pt_value over session-local bounds)
            kcol = pc.local_timestamp(kcol)
        keys = pc.cast(kcol, pa.string())
        if keys.null_count:
            raise ValueError(
                f"unsupported partition value None in column {ts!r}")
        keys = _pt_arrow_keys(keys, pt, ts_dtype)
        for v in pc.unique(keys).to_pylist():
            _sink(v, tbl.filter(pc.equal(keys, v)))
    out = []
    for value, (w, rel) in writers.items():
        w.close()
        index = None
        if value in keysets:
            index = {"bloom": {c: _bloom_words(ks, bloom["m"],
                                               bloom["k"])
                               for c, ks in keysets[value].items()},
                     "mk": [bloom["m"], bloom["k"]]}
        out.append((value, rel, index))
    return out


def _hydrate_staged(root: str, messages) -> dict[str, list]:
    """Driver-side: footer-stat entries for every staged file (the
    same `_file_entry` metadata read `_stage` performs — a few KB per
    file, no data pages), grouped by partition value; each task's
    executor-built bloom index rides onto its entry."""
    from .manifest import _file_entry

    staged: dict[str, list] = {}
    for m in messages:
        if m is None:
            continue
        for value, rel, index in m.files:
            e = _file_entry(os.path.join(root, rel), rel)
            if index is not None:
                e["bloom"] = index["bloom"]
                e["mk"] = index["mk"]
            staged.setdefault(value, []).append(e)
    for v in staged:
        staged[v].sort(key=lambda e: e["path"])
    return staged


def _check_write_layout(root: str, ts: str | None,
                        staged: dict) -> None:
    """The ENGINE owns the DSv2 layout rule (VERDICT r10 #4 — until
    now only a catalog entry asserted it): the Python DSv2 seam
    cannot inject a shuffle, so an unrepartitioned N-task frame
    spanning M partition values sprays ~N×M sliver files.  Detect
    the spray at commit (driver-side, metadata only) and refuse with
    the exact fix — BEFORE the table quietly accretes a layout that
    costs every future read a file-per-task-per-value plan.  Rule: a
    partitioned write whose staged file count exceeds 2× its
    partition-value count is sprayed.  Deliberate multi-file-per-
    value layouts (salted giant partitions) opt in with
    ``option("acceptSprayedLayout", "true")``; single-value and
    unpartitioned writes are exempt (their parallelism IS the file
    count, compact() is the small-file antidote)."""
    nvalues = len(staged)
    nfiles = sum(len(es) for es in staged.values())
    if nvalues >= 2 and nfiles > 2 * nvalues:
        raise RuntimeError(
            f"{root}: sprayed write layout — {nfiles} files for "
            f"{nvalues} partition values of {ts!r}. The DSv2 seam "
            f"cannot inject a shuffle, so each task writes its own "
            f"file per value it holds. Fix: write through "
            f"write_manifest(df, root, ...) (repartitions by "
            f"{ts!r} for you), or df.repartition('{ts}') before "
            f".write.format('manifest'), or opt into this layout "
            f"deliberately with option('acceptSprayedLayout', "
            f"'true') (salted/bucketed giant partitions).")


def _commit_staged(root: str, ts: str | None, staged: dict,
                   schema_sig: list, overwrite: bool,
                   stream: tuple | None = None,
                   cdf: bool = False,
                   merge_schema: bool = False,
                   pt: dict | None = None) -> bool:
    """Steps 2+3 for the DSv2 write: publish the staged files as one
    manifest commit.  First commit on a fresh root CREATES the table
    (pins the frame's schema); append publishes
    :meth:`ManifestTable.append`'s commit and rebases through
    CommitConflict like it (blind appends commute); overwrite is
    :meth:`ManifestTable.overwrite`'s atomic full refresh (schema
    re-pins, column mapping and ``retired`` reset).  ``stream`` = (stream_id, batch_id)
    makes the commit EXACTLY-ONCE through the manifest's stream
    ledger: a replayed micro-batch is recognized and dropped (its
    staged files become vacuum orphans — the sink cannot refuse to
    stage, Spark wrote the data before commit runs).  Returns False
    for a dropped replay.

    ``cdf=True`` publishes the append's ROW-LEVEL change feed at zero
    extra bytes (the entries reference the commit's own data files —
    ``append(cdf=True)``'s ``insert_files`` kind; ``changes()`` adds
    the constant classification).  Ignored for overwrite: a full
    refresh has no row-level delta a single commit's file list can
    describe.

    ``merge_schema=True`` (Delta's ``mergeSchema``): columns the
    frame carries BEYOND the pinned schema evolve the pin in the
    SAME commit (``add_columns``' append-only rule — retyped or
    missing columns still raise; evolution never rewrites a file,
    old files NULL-fill on read)."""
    from .manifest import CommitConflict, ManifestTable, SchemaMismatch

    t = ManifestTable(root, ts)
    try:
        t._raw()
    except FileNotFoundError:
        try:
            t._commit(
                staged, base_version=0, schema=schema_sig,
                streams={stream[0]: stream[1]} if stream else None,
                cdf=([e for es in staged.values() for e in es]
                     if cdf else None),
                cdf_kind="insert_files")
            return True
        except CommitConflict:
            pass                  # create race: commit onto the winner
    replay = False

    def build(mf: dict) -> dict | None:
        nonlocal replay
        want = mf.get("schema")
        evolved = None
        if (want and not overwrite
                and sorted(map(tuple, want))
                != sorted(map(tuple, schema_sig))):
            extra = [tuple(c) for c in schema_sig
                     if list(c) not in want]
            missing = [tuple(c) for c in want
                       if list(c) not in schema_sig]
            have = {n for n, _ in want}
            if (merge_schema and not missing
                    and all(n not in have for n, _ in extra)):
                # genuinely NEW columns only: evolve the pin in this
                # same commit (add_columns' append-only rule).  The
                # staged files were already written under the new
                # columns' OWN names, so a name that is a retired or
                # live PHYSICAL name (drop_column / rename_column
                # history) cannot evolve here — old files hold stale
                # data under it and would resurrect on read;
                # add_columns allocates a fresh physical instead.
                phys = ManifestTable._occupied_physicals(mf)
                clash = [n for n, _ in extra if n in phys]
                if clash:
                    raise SchemaMismatch(
                        f"mergeSchema: column(s) {clash} collide "
                        f"with physical names still present in live "
                        f"files (dropped or renamed-away columns); "
                        f"evolve via add_columns, which maps them "
                        f"to fresh physical names")
                evolved = ([list(c) for c in want]
                           + [list(c) for c in extra])
            else:
                raise SchemaMismatch(
                    f"write schema differs from the table's pinned "
                    f"schema: extra/retyped {extra}, missing {missing}"
                    + ("" if merge_schema else
                       " (new columns can evolve the pin with "
                       "option('mergeSchema', 'true'))"))
        if mf.get("ts") != ts:
            raise ValueError(
                f"table is partitioned by {mf.get('ts')!r}, write "
                f"declared {ts!r}")
        if mf.get("pt") != pt:
            # an evolve/replace raced between writer construction and
            # commit: the files were staged under the WRONG transform
            raise ValueError(
                f"{root}: partition transform changed mid-write "
                f"(staged under {pt}, table now {mf.get('pt')}); "
                f"re-run the write")
        cons = mf.get("constraints")
        if cons and staged:
            # the DSv2 write enforces table constraints exactly like
            # _stage: footer-proven range/NOT NULL checks cost zero
            # data I/O, SQL checks scan ONLY the staged files.  commit
            # runs driver-side, so the active session is available.
            from pyspark.sql import SparkSession
            t._enforce_constraints(
                SparkSession.getActiveSession(), cons, staged,
                schema_sig, mf.get("colmap") or {})
        streams = dict(mf.get("streams", {}))
        if stream is not None:
            if streams.get(stream[0], -1) >= stream[1]:
                replay = True     # already committed: drop
                return None
            streams[stream[0]] = stream[1]
        if overwrite:
            # the full refresh — the same commit overwrite() publishes
            return {**t._refresh(staged, schema_sig), "streams": streams}
        if not staged:
            return None           # empty append: no no-op version bump
        return {**t._append_commit(mf, staged, cdf), "streams": streams,
                "schema": evolved or want or schema_sig}

    # blind appends (and full refreshes) commute: rebase on conflict
    t._transact(build)
    return not replay


class ManifestBatchWriter(DataSourceArrowWriter):
    """``df.write.format("manifest")`` — the DSv2 two-phase write as
    the manifest commit protocol (class docstring above)."""

    def __init__(self, root: str, ts: str | None, overwrite: bool,
                 schema_sig: list, bloom: dict | None = None,
                 cdf: bool = False, merge_schema: bool = False,
                 accept_sprayed: bool = False,
                 colmap: dict | None = None,
                 pt: dict | None = None,
                 ts_dtype: str | None = None):
        self.root, self.ts, self.overwrite = root, ts, overwrite
        self.pt, self.ts_dtype = pt, ts_dtype
        self.schema_sig = schema_sig
        self.bloom = bloom              # pinned spec, or None
        self.cdf = cdf
        self.merge_schema = merge_schema
        self.accept_sprayed = accept_sprayed
        self.colmap = colmap or {}
        # bloom canon needs types keyed the way files are WRITTEN
        # (physical names)
        self.dtypes = {(colmap or {}).get(n, n): t
                       for n, t in schema_sig}
        self.txn = f"txn-{uuid.uuid4().hex[:12]}"    # driver-side once

    def write(self, iterator):
        return ManifestWriteMessage(
            _stage_arrow_batches(self.root, self.txn, self.ts,
                                 iterator, bloom=self.bloom,
                                 dtypes=self.dtypes,
                                 colmap=self.colmap,
                                 pt=self.pt, ts_dtype=self.ts_dtype))

    def commit(self, messages) -> None:
        staged = _hydrate_staged(self.root, messages)
        if not self.accept_sprayed:
            _check_write_layout(self.root, self.ts, staged)
        _commit_staged(self.root, self.ts, staged,
                       self.schema_sig, overwrite=self.overwrite,
                       cdf=self.cdf, merge_schema=self.merge_schema,
                       pt=self.pt)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.root, "data", self.txn),
                      ignore_errors=True)


class ManifestStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("manifest")`` — EXACTLY-ONCE streaming
    sink: every micro-batch commits its files and its (stream id,
    batch id) ledger entry in ONE manifest publish, so there is no
    crash window between "data written" and "batch remembered"; a
    replayed batch (restart re-delivers the last uncommitted one) is
    recognized from the live manifest and dropped.  The stream id
    comes from ``option("streamId", ...)`` (falls back to the
    checkpoint location — distinct queries must not share a ledger
    key)."""

    def __init__(self, root: str, ts: str | None, schema_sig: list,
                 stream_id: str, bloom: dict | None = None,
                 cdf: bool = False, overwrite: bool = False,
                 colmap: dict | None = None,
                 pt: dict | None = None,
                 ts_dtype: str | None = None):
        self.root, self.ts = root, ts
        self.pt, self.ts_dtype = pt, ts_dtype
        self.schema_sig = schema_sig
        self.stream_id = stream_id
        self.bloom = bloom              # spec at query start; files
        self.cdf = cdf                  # record their own (m, k)
        #: complete-output-mode sink: each micro-batch REPLACES the
        #: table (atomic full refresh), still exactly-once through
        #: the ledger — the aggregate-query sink shape
        self.overwrite = overwrite
        self.colmap = colmap or {}
        self.dtypes = {(colmap or {}).get(n, n): t
                       for n, t in schema_sig}
        self.txn = f"txn-{uuid.uuid4().hex[:12]}"

    def write(self, iterator):
        return ManifestWriteMessage(
            _stage_arrow_batches(self.root, self.txn, self.ts,
                                 iterator, bloom=self.bloom,
                                 dtypes=self.dtypes,
                                 colmap=self.colmap,
                                 pt=self.pt, ts_dtype=self.ts_dtype))

    def commit(self, messages, batchId: int) -> None:
        _commit_staged(self.root, self.ts,
                       _hydrate_staged(self.root, messages),
                       self.schema_sig, overwrite=self.overwrite,
                       stream=(self.stream_id, batchId),
                       cdf=self.cdf, pt=self.pt)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            for _, rel, _ in (m.files if m else []):
                try:
                    os.remove(os.path.join(self.root, rel))
                except OSError:
                    pass


class ManifestDataSource(DataSource):
    """``spark.read.format("manifest").load(<table root>)`` (register
    with ``spark.dataSource.register(ManifestDataSource)``).  The
    schema is the manifest's pinned (name, type) signature — the same
    contract every other read path enforces.

    Time travel: ``option("versionAsOf", N)`` reads snapshot N
    (Delta's reader option) — schema, pruning metadata and deletion
    vectors all come from THAT version's commit object, so an
    evolved/compacted/deleted-from table reads back exactly as it
    was; ``option("tag", name)`` resolves a named tag
    (:meth:`ManifestTable.create_tag`) to its pinned version.

    ``option("packFiles", "auto" | <bytes> | "0")`` (batch AND
    stream): plan several SMALL surviving files as one byte-budget
    Python task — same rows, same DV masks, fewer JVM<->Python
    crossings (guide §4).  ``auto`` is the default since r17 and
    degrades to one task per file once files are 128 MB+ (a file
    at/over the budget closes its own bin); ``"0"`` plans exactly one
    task per file, the contract the pruning-proof probes count."""

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def _root(self) -> str:
        root = _opt(self.options, "path")
        if not root:
            raise ValueError(
                "manifest source needs a table root: .load(path)")
        return root

    def _manifest_name(self) -> str | None:
        """The reader's snapshot pin, from the versionAsOf /
        timestampAsOf / tag options; None = live snapshot."""
        v, tag, at = (_opt(self.options, "versionAsOf"),
                      _opt(self.options, "tag"),
                      _opt(self.options, "timestampAsOf"))
        if sum(x is not None for x in (v, tag, at)) > 1:
            raise ValueError(
                "pass ONE of versionAsOf, timestampAsOf, tag")
        if tag is not None or at is not None:
            from .manifest import ManifestTable

            t = ManifestTable(self._root(), None)
            if at is not None:
                v = t.version_at(float(at) if str(at)
                                 .replace(".", "", 1).isdigit()
                                 else at)
            else:
                tags = t.tags()
                if tag not in tags:
                    raise ValueError(
                        f"{self._root()}: no tag {tag!r} "
                        f"(live tags: {sorted(tags) or 'none'})")
                v = tags[tag]["version"]
        if v is None:
            return None
        return f"manifest-{int(v):08d}.json"

    def _pinned(self) -> tuple[str, dict]:
        """The read-pinned commit object's (name, body), time-travel
        options honored: the source of the schema, the column mapping
        AND the batch reader's file plan — all from the SAME version,
        or a post-rename read of a pre-rename snapshot would alias the
        wrong columns and a commit landing between schema and plan
        would tear the read.  Raises when it pins no schema."""
        from .manifest import ManifestTable

        t = ManifestTable(self._root(), None)
        name = self._manifest_name() or t._current_name()
        body = t._raw(name)
        if not body.get("schema"):
            raise ValueError(
                f"{self._root()}: manifest carries no pinned schema")
        return name, body

    def _read_cdf(self) -> bool:
        return str(_opt(self.options, "readChangeFeed",
                        "false")).lower() == "true"

    def schema(self) -> str:
        cols = list(self._pinned()[1]["schema"])
        if self._read_cdf():
            cols += [["_change_type", "string"],
                     ["_commit_version", "bigint"]]
        return ", ".join(f"`{n}` {t}" for n, t in cols)

    def reader(self, schema) -> ManifestReader:
        if self._read_cdf():
            raise ValueError(
                "readChangeFeed is a STREAM reader option "
                "(spark.readStream); for a single commit's batch "
                "change set use ManifestTable.changes(spark, version)")
        name, body = self._pinned()
        return ManifestReader(self._root(), body["schema"], name,
                              colmap=body.get("colmap"),
                              pack=_pack_opt(self.options))

    def streamReader(self, schema) -> ManifestStreamReader:
        body = self._pinned()[1]
        return ManifestStreamReader(self._root(), body["schema"],
                                    self.options,
                                    colmap=body.get("colmap"))

    # -- write support ------------------------------------------------

    def _live_manifest(self) -> dict | None:
        """The live commit object, or None when the root holds no
        committed table yet (the create-on-first-write path)."""
        from .manifest import ManifestTable

        try:
            return ManifestTable(self._root(), None)._raw()
        except FileNotFoundError:
            return None

    def _write_ts(self) -> str | None:
        """The partition column a write stages under: the table's
        recorded one when it exists (an ``option("ts", ...)`` naming a
        different column fails loudly), else ``option("ts", ...)`` for
        create-on-first-write (None = unpartitioned)."""
        opt = _opt(self.options, "ts")
        mf = self._live_manifest()
        if mf is not None:
            ts = mf.get("ts")
            if opt is not None and opt != ts:
                raise ValueError(
                    f"table is partitioned by {ts!r}; "
                    f"option('ts', {opt!r}) conflicts")
            return ts
        return opt

    @staticmethod
    def _schema_sig(schema) -> list:
        return [[f.name, f.dataType.simpleString()]
                for f in schema.fields]

    def _write_bloom(self) -> dict | None:
        """The table's pinned bloom spec, for executor-side filter
        builds on DSv2-written files (None on create-on-first-write:
        set_bloom pins a spec only after the table exists)."""
        mf = self._live_manifest()
        return mf.get("bloom") if mf else None

    def _write_cdf(self) -> bool:
        return str(_opt(self.options, "cdf", "false")).lower() == "true"

    def _write_pt(self, schema) -> tuple:
        """(transform spec, source-column dtype) a write must stage
        under — from the live manifest (DSv2 writes cannot CREATE a
        transformed table; use ManifestTable.create(partition=...)).
        Partition-EVOLVED tables stage under the ACTIVE spec, exactly
        like ManifestTable.append — old-era refs stay untouched and a
        value-string collision with one marks the merged ref era-MIXED
        at commit (VERDICT r12 "Next round" #3); single-era
        transformed tables stage through the same _pt_value recipe
        the planner prunes with.  TIMESTAMP sources are rendered in
        the SESSION zone by the stager (Arrow batches carry the
        session tz on their timestamp type; pc.local_timestamp
        recovers the wall clock), matching the JVM write path's
        date_format rendering under any session zone."""
        mf = self._live_manifest()
        if mf is None:
            return None, None
        pt = mf.get("pt")
        if pt is None:
            return None, None
        ts = mf.get("ts")
        dtype = {n: t for n, t in (mf.get("schema") or [])}.get(ts)
        return pt, dtype

    def writer(self, schema, overwrite: bool) -> ManifestBatchWriter:
        ms = str(_opt(self.options, "mergeSchema",
                      "false")).lower() == "true"
        sprayed = str(_opt(self.options, "acceptSprayedLayout",
                           "false")).lower() == "true"
        pt, ts_dtype = self._write_pt(schema)
        return ManifestBatchWriter(self._root(), self._write_ts(),
                                   overwrite,
                                   self._schema_sig(schema),
                                   bloom=self._write_bloom(),
                                   cdf=self._write_cdf(),
                                   merge_schema=ms,
                                   accept_sprayed=sprayed,
                                   colmap=(None if overwrite else
                                           (self._live_manifest() or
                                            {}).get("colmap")),
                                   pt=pt, ts_dtype=ts_dtype)

    def streamWriter(self, schema,
                     overwrite: bool) -> ManifestStreamWriter:
        sid = (_opt(self.options, "streamId")
               or _opt(self.options, "checkpointLocation"))
        if not sid:
            raise ValueError(
                "manifest sink needs option('streamId', ...) (or a "
                "checkpointLocation) to key its exactly-once ledger")
        pt, ts_dtype = self._write_pt(schema)
        return ManifestStreamWriter(self._root(), self._write_ts(),
                                    self._schema_sig(schema), sid,
                                    bloom=self._write_bloom(),
                                    cdf=self._write_cdf(),
                                    overwrite=overwrite,
                                    colmap=(None if overwrite else
                                            (self._live_manifest() or
                                             {}).get("colmap")),
                                    pt=pt, ts_dtype=ts_dtype)


# -- SQL over registered manifest tables -----------------------------
#
# Spark's own parser reads every statement but six Delta-only verbs,
# which it rejects (OPTIMIZE, VACUUM, RESTORE, CONVERT) or misparses
# (``DESCRIBE HISTORY t`` is a column describe of a table HISTORY).
# Those six keep a keyword dispatch.
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+([A-Za-z_]\w*)\s*(?:=\s*'([^']*)'"
    r"|IN\s*\(\s*('[^']*'(?:\s*,\s*'[^']*')*)\s*\)))?"
    r"(?:\s+ZORDER\s+BY\s*\(\s*([A-Za-z_]\w*"
    r"(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?\s*;?\s*$",
    re.IGNORECASE)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+([A-Za-z_]\w*)"
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?"
    r"(?:\s+(DRY\s+RUN))?\s*;?\s*$",
    re.IGNORECASE)
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE)
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+([A-Za-z_]\w*)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*$",
    re.IGNORECASE)
_CONVERT_RE = re.compile(
    r"^\s*CONVERT\s+TO\s+MANIFEST\s+([A-Za-z_]\w*)\s*"
    r"(?:PARTITIONED\s+BY\s*\(\s*([A-Za-z_]\w*)\s*\)\s*)?;?\s*$",
    re.IGNORECASE)
# the verb a statement leads with, after any comments
_VERB_RE = re.compile(
    r"(?:\s+|--[^\n]*|/\*.*?\*/)*"
    r"(OPTIMIZE|VACUUM|RESTORE\s+TABLE|DESCRIBE\s+(?:HISTORY|DETAIL)"
    r"|CONVERT\s+TO\s+MANIFEST)\b", re.IGNORECASE | re.DOTALL)


def _require(mts: dict, name: str, verb: str):
    if name not in mts:
        raise KeyError(f"{verb} target {name!r} not in tables — pass "
                       f"its root path")
    return mts[name]


def _registered(spark, t, name: str):
    """Re-register ``t``'s session view (a follow-up SELECT serves the
    new state) and return the one-row ``(table_name, version)``
    result frame."""
    from .session import local_frame

    t.register(spark, name)
    return local_frame(spark, [(name, t.version())],
                       "table_name string, version long")


def _run_verb(spark, query: str, mts: dict):
    """The six Delta-only statements Spark's parser cannot read, by
    keyword:

    - ``OPTIMIZE t [WHERE pt = 'v' | WHERE pt IN ('a','b')]
      [ZORDER BY (c, ...)]`` -> :meth:`compact`, partition-bounded
      under WHERE (the partition column only; anything else raises
      rather than degrade to a full rewrite); returns
      (partitions_compacted, files_before, files_after);
    - ``VACUUM t [RETAIN n HOURS] [DRY RUN]`` -> :meth:`vacuum`;
      returns the removed (or would-remove) paths;
    - ``RESTORE TABLE t TO VERSION AS OF n`` / ``TO TIMESTAMP AS OF
      '<iso>'`` -> :meth:`restore`, the timestamp resolved through
      ``version_at`` like a time-travel read;
    - ``DESCRIBE HISTORY t`` -> :meth:`meta_snapshots`;
    - ``DESCRIBE DETAIL t`` -> :meth:`detail`;
    - ``CONVERT TO MANIFEST t [PARTITIONED BY (col)]`` ->
      :meth:`ManifestTable.adopt`, zero-copy adoption of the parquet
      lake at t's root (Delta's ``CONVERT TO DELTA``).

    Returns the result frame, or None when ``query`` leads with none
    of the six verbs.  A statement that leads with one but matches no
    form raises here with its text: Spark would only report a parse
    error on a verb it does not know."""
    from .session import local_frame

    verb = _VERB_RE.match(query)
    if verb is None:
        return None
    head = query[verb.start(1):]
    m = _OPTIMIZE_RE.match(head)
    if m:
        name, wcol, wval, winlist, zcols = m.groups()
        t = _require(mts, name, "OPTIMIZE")
        z = ([c.strip() for c in zcols.split(",")] if zcols
             else None)
        parts = None
        if wcol is not None:
            # partition predicates only: bounded maintenance is the
            # point.  The partition column cannot be renamed, so its
            # stored name is its only spelling.
            pcol = t._raw().get("ts")
            if pcol is None:
                raise ValueError(
                    f"OPTIMIZE WHERE on {name!r}: the table is "
                    f"unpartitioned — nothing to bound maintenance to")
            if wcol != pcol:
                raise ValueError(
                    f"OPTIMIZE WHERE supports only the partition "
                    f"column {pcol!r}, got {wcol!r}")
            # IN-list values come out of their own quotes (never a
            # bare comma split: a quoted value may itself contain one)
            parts = ([wval] if wval is not None else
                     re.findall(r"'([^']*)'", winlist))
        out = t.compact(spark, zorder_by=z, partitions=parts)
        t.register(spark, name)
        return local_frame(
            spark,
            [(name, int(out.get("partitions", 0)),
              int(out.get("files_before", 0)),
              int(out.get("files_after", 0)))],
            "table_name string, partitions_compacted long, "
            "files_before long, files_after long")
    m = _VACUUM_RE.match(head)
    if m:
        name, hours, dry = m.groups()
        t = _require(mts, name, "VACUUM")
        retention = (float(hours) * 3600.0 if hours else 86400.0)
        removed = t.vacuum(retention_seconds=retention,
                           dry_run=bool(dry))
        return local_frame(spark, [(p,) for p in removed],
                           "path string")
    m = _HISTORY_RE.match(head)
    if m:
        return _require(mts, m.group(1),
                        "DESCRIBE HISTORY").meta_snapshots(spark)
    m = _DETAIL_RE.match(head)
    if m:
        return _require(mts, m.group(1), "DESCRIBE DETAIL").detail(spark)
    m = _CONVERT_RE.match(head)
    if m:
        from .manifest import ManifestTable

        name, part_col = m.groups()
        t = _require(mts, name, "CONVERT TO MANIFEST")
        adopted = ManifestTable.adopt(spark, t.root, ts=part_col,
                                      backend=t.backend)
        mts[name] = adopted
        return _registered(spark, adopted, name)
    m = _RESTORE_RE.match(head)
    if m:
        name, v, ts = m.groups()
        t = _require(mts, name, "RESTORE")
        t.restore(int(v) if v is not None else t.version_at(ts))
        return _registered(spark, t, name)
    raise ValueError(
        f"unparsed maintenance statement (check quoting — "
        f"string literals take single quotes): {query!r}")


# -- reading a parsed plan over py4j ---------------------------------


def _parse(spark, query: str):
    """``query`` as Spark's unresolved logical plan (a py4j handle);
    a syntax error raises pyspark's ``ParseException``."""
    return spark._jsparkSession.sessionState().sqlParser() \
        .parsePlan(query)


def _frame(spark, plan):
    """The DataFrame of a parsed query sub-plan (a DML source).  Built
    from the plan, not from its text: a query's root node spans only
    its outermost clause (``GROUP BY pt`` for an aggregate), so the
    text cannot be sliced back out."""
    from pyspark.sql import DataFrame

    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan)
    return DataFrame(jdf, spark)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _span(node) -> tuple:
    """``(start, stop)``, inclusive, of ``node``'s text in the parsed
    statement: its own span widened to its children's, because a
    predicate node (IN, IS NULL, LIKE, BETWEEN) spans only its own
    clause, not the operand before it."""
    o = node.origin()
    start, stop = o.startIndex().get(), o.stopIndex().get()
    if _kind(node) == "Exists":
        # EXISTS carries its enclosing clause's span: its own text runs
        # from the keyword before its subquery to the paren after it
        text = o.sqlText().get()
        first, last = _span(node.plan())
        return text.lower().rfind("exists", 0, first), text.find(")", last)
    for child in _seq(node.children()):
        a, b = _span(child)
        start, stop = min(start, a), max(stop, b)
    return start, stop


def _text(query: str, node) -> str:
    start, stop = _span(node)
    return query[start:stop + 1]


def _splice(text: str, hits, base: int = 0) -> str:
    """``text`` with each ``(start, stop, replacement)`` applied right
    to left, so earlier offsets stay valid; offsets count from
    ``base``."""
    for start, stop, rep in sorted(hits, reverse=True):
        text = text[:start - base] + rep + text[stop - base + 1:]
    return text


def _unqualified(query: str, expr, quals: set) -> str:
    """``expr``'s text with each column qualifier in ``quals``
    (lowercased) dropped: ``s.v > 1`` -> ```v` > 1``.  Only attribute
    spans are rewritten, so literals come through verbatim."""
    hits, todo = [], [expr]
    while todo:
        e = todo.pop()
        if _kind(e) != "UnresolvedAttribute":
            todo += _seq(e.children())
            continue
        parts = _seq(e.nameParts())
        if len(parts) > 1 and parts[-2].lower() in quals:
            col = parts[-1].replace("`", "``")
            hits.append((*_span(e), f"`{col}`"))
    start, stop = _span(expr)
    return _splice(query[start:stop + 1], hits, base=start)


def _name_parts(node) -> list:
    """The identifier of the table a statement addresses: the first
    name node down ``node``'s first-child chain."""
    while True:
        kind = _kind(node)
        if kind == "UnresolvedIdentifier":
            return _seq(node.nameParts())
        if kind in ("UnresolvedRelation", "UnresolvedTable",
                    "UnresolvedTableOrView"):
            return _seq(node.multipartIdentifier())
        node = node.children().apply(0)


def _bound(mts: dict, parts: list):
    """The ``tables`` key a one-part SQL name binds to, matched
    case-insensitively as Spark resolves views, or None."""
    if len(parts) != 1:
        return None
    if parts[0] in mts:
        return parts[0]
    return next((k for k in mts if k.lower() == parts[0].lower()),
                None)


def _partition_col(plan):
    """The one identity column of a CREATE's ``PARTITIONED BY``."""
    tf = _seq(plan.partitioning())
    if not tf:
        return None
    if len(tf) > 1 or tf[0].name() != "identity":
        raise ValueError("PARTITIONED BY takes exactly one column")
    return list(tf[0].references()[0].fieldNames())[-1]


# -- the read rewrites -----------------------------------------------

_META_TABLES = ("partitions", "files", "history", "refs",
                "column_stats", "detail")


def _read_rewrites(spark, plan, mts: dict) -> list:
    """One walk of the parsed plan, subqueries and CTE bodies
    included: each read of a ``tables`` entry in a form Spark cannot
    resolve registers a temp view over it and yields ``(start, stop,
    view)``, the statement text the view's name replaces.

    - ``name VERSION AS OF n`` -> the snapshot-pinned view
      ``<name>__v<n>``; ``name TIMESTAMP AS OF '<iso>'`` -> the
      version ``version_at`` resolves (``<name>__t<iso>``).
    - ``table_changes('name', v1[, v2])`` -> the change feed of
      :meth:`ManifestTable.table_changes` (``<name>__ch<v1>_<v2>``).
    - ``name.partitions`` / ``.files`` / ``.history`` / ``.refs`` /
      ``.column_stats`` / ``.detail`` -> the inspection frame
      (``<name>__meta_<m>``).

    Names not in ``mts`` are left for Spark to resolve."""
    hits, todo = {}, [plan]
    while todo:
        node = todo.pop()
        kind = _kind(node)
        hit = None
        if kind == "RelationTimeTravel":
            hit = _time_travel(spark, node, mts)
        elif kind == "UnresolvedTableValuedFunction":
            hit = _table_changes(spark, node, mts)
        elif kind == "UnresolvedRelation":
            hit = _meta_table(spark, node, mts)
        if hit:
            hits[hit[0]] = hit
        todo += _seq(node.children()) + _seq(node.innerChildren())
    return list(hits.values())


def _time_travel(spark, node, mts: dict):
    rel = node.relation()
    name = _bound(mts, _name_parts(rel))
    if name is None:
        return None
    if node.version().isDefined():
        v = int(node.version().get())
        alias = f"{name}__v{v}"
        mts[name].register(spark, alias, version=v)
    else:
        ts = node.timestamp().get()
        if _kind(ts) != "Literal" or \
                ts.dataType().simpleString() != "string":
            raise ValueError(f"TIMESTAMP AS OF on {name!r} takes a "
                             f"string literal")
        ts = str(ts.value())
        alias = f"{name}__t{re.sub(r'[^0-9A-Za-z]', '_', ts)}"
        mts[name].register(spark, alias, timestamp=ts)
    # the node spans only its AS OF clause: the replaced text runs
    # from the name (comments between the two included)
    return _span(rel)[0], _span(node)[1], alias


def _table_changes(spark, node, mts: dict):
    if [p.lower() for p in _seq(node.name())] != ["table_changes"]:
        return None
    args = _seq(node.functionArgs())
    if not 2 <= len(args) <= 3 or \
            any(_kind(a) != "Literal" for a in args):
        return None
    name = _bound(mts, [str(args[0].value())])
    if name is None:
        return None
    v1 = int(str(args[1].value()))
    end = int(str(args[2].value())) if len(args) == 3 else None
    alias = f"{name}__ch{v1}_{end if end is not None else 'live'}"
    mts[name].table_changes(spark, v1, end) \
        .createOrReplaceTempView(alias)
    return (*_span(node), alias)


def _meta_table(spark, node, mts: dict):
    parts = _seq(node.multipartIdentifier())
    if len(parts) != 2 or parts[1].lower() not in _META_TABLES:
        return None
    name = _bound(mts, parts[:1])
    if name is None:
        return None
    meta = parts[1].lower()
    t = mts[name]
    frame = {"partitions": t.meta_partitions,
             "files": t.meta_files,
             "history": t.meta_snapshots,
             "refs": t.meta_refs,
             "column_stats": t.meta_column_stats,
             "detail": t.detail}[meta](spark)
    alias = f"{name}__meta_{meta}"
    frame.createOrReplaceTempView(alias)
    return (*_span(node), alias)


# -- statements dispatched on the parsed node ------------------------

# parsed statement node -> the verb its errors name
_STATEMENTS = {
    "AddColumns": "ALTER TABLE", "RenameColumn": "ALTER TABLE",
    "DropColumns": "ALTER TABLE", "AlterColumns": "ALTER TABLE",
    "AddCheckConstraint": "ALTER TABLE",
    "DropConstraint": "ALTER TABLE", "AnalyzeTable": "ANALYZE",
    "AnalyzeColumn": "ANALYZE", "DropTable": "DROP TABLE",
    "CreateTable": "CREATE TABLE", "CreateTableAsSelect": "CTAS",
    "ReplaceTableAsSelect": "CTAS", "InsertIntoStatement": "INSERT",
    "DeleteFromTable": "DELETE", "UpdateTable": "UPDATE",
    "MergeIntoTable": "MERGE"}
_DML = ("CreateTableAsSelect", "ReplaceTableAsSelect",
        "InsertIntoStatement", "DeleteFromTable", "UpdateTable",
        "MergeIntoTable")


def _run_ddl(spark, plan, kind: str, name: str, mts: dict):
    """Run one parsed DDL statement on table ``name``:

    - ``ALTER TABLE t ADD COLUMN[S] (c type, ...)`` ->
      :meth:`add_columns`, types as Spark's ``simpleString``;
      ``RENAME COLUMN a TO b`` -> :meth:`rename_column`; ``DROP
      COLUMN[S] c[, ...]`` -> :meth:`drop_column`; ``ALTER COLUMN c
      TYPE w`` -> :meth:`widen_column` (safe widenings only);
      ``ALTER COLUMN c SET NOT NULL`` -> :meth:`set_not_null`;
      ``ADD CONSTRAINT n CHECK (expr)`` -> :meth:`add_check`
      (validates existing rows first); ``DROP CONSTRAINT n`` ->
      :meth:`drop_constraint`.  Each is one metadata commit and
      returns ``(table_name, version)``;
    - ``CREATE TABLE t (c type, ...) [PARTITIONED BY (col)]`` ->
      :meth:`ManifestTable.create` of an empty typed frame at t's
      root;
    - ``ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b]`` ->
      approximate :meth:`analyze`, rebuilding the sketches the
      columns already carry; returns the per-column stats;
    - ``DROP TABLE [IF EXISTS] t`` -> :meth:`drop` and the view
      unbound."""
    from .session import local_frame

    t = mts[name]
    if kind == "CreateTable":
        from .manifest import ManifestTable

        try:
            t._raw()
        except (FileNotFoundError, OSError):
            pass
        else:
            raise ValueError(f"table {name!r} already exists at "
                             f"{t.root}")
        ddl = ", ".join(
            f"`{c.name()}` {c.dataType().simpleString()}"
            for c in _seq(plan.columns()))
        made = ManifestTable.create(local_frame(spark, [], ddl), t.root,
                                    ts=_partition_col(plan))
        mts[name] = made
        return _registered(spark, made, name)
    if kind == "DropTable":
        # IF EXISTS may swallow ONLY "no table lives at this root": a
        # failed rmtree of an existing table must propagate, or the
        # statement reports success while data files remain
        try:
            t._raw()
        except (FileNotFoundError, OSError):
            if not plan.ifExists():
                raise
        else:
            t.drop()
        del mts[name]
        spark.catalog.dropTempView(name)
        return local_frame(spark, [(name,)], "table_name string")
    if kind in ("AnalyzeTable", "AnalyzeColumn"):
        cols = None
        if kind == "AnalyzeColumn" and plan.columnNames().isDefined():
            cols = _seq(plan.columnNames().get())
        elif kind == "AnalyzeTable" and (plan.noScan()
                                         or plan.partitionSpec().size()):
            raise ValueError("ANALYZE TABLE supports COMPUTE STATISTICS "
                             "[FOR COLUMNS ...] only")
        # SQL cannot name sketches: rebuild the ones the columns
        # already carry, never strip a capability they had
        out = t._analyze_rebuild(spark, cols)
        rows = [(c, int(s["ndv"]), int(s["nulls"]), s["min"], s["max"])
                for c, s in sorted(out["columns"].items())
                if cols is None or c in cols]
        return local_frame(spark, rows,
                           "column string, ndv long, nulls long, "
                           "min string, max string")
    if kind == "AddColumns":
        t.add_columns([(".".join(_seq(c.name())),
                        c.dataType().simpleString())
                       for c in _seq(plan.columnsToAdd())])
    elif kind == "RenameColumn":
        t.rename_column(".".join(_seq(plan.column().name())),
                        plan.newName())
    elif kind == "DropColumns":
        for c in _seq(plan.columnsToDrop()):
            t.drop_column(".".join(_seq(c.name())))
    elif kind == "AlterColumns":
        for spec in _seq(plan.specs()):
            col = ".".join(_seq(spec.column().name()))
            if spec.newDataType().isDefined():
                t.widen_column(col,
                               spec.newDataType().get().simpleString())
            elif spec.newNullability().isDefined() \
                    and not spec.newNullability().get():
                t.set_not_null(spark, col)
            else:
                raise ValueError(f"ALTER COLUMN {col!r}: only TYPE and "
                                 f"SET NOT NULL are supported")
    elif kind == "AddCheckConstraint":
        c = plan.checkConstraint()
        t.add_check(spark, c.name(), c.condition())
    else:
        t.drop_constraint(plan.name())
    return _registered(spark, t, name)


def _store_cast(df, t):
    """SQL store assignment: align ``df`` to ``t``'s pinned columns by
    NAME, never position, and cast to their types (a SELECT's ``id *
    2.0`` is DECIMAL under ANSI; the table pins double).  A frame
    with other columns is left for the schema gate to refuse."""
    from pyspark.sql import functions as F

    sig = t._raw().get("schema") or []
    if sig and sorted(c.lower() for c in df.columns) \
            == sorted(n.lower() for n, _ in sig):
        df = df.select(*[F.col(n).cast(tp).alias(n) for n, tp in sig])
    return df


def _merge_keys(query: str, on, quals: set) -> list[str]:
    """SQL MERGE ``ON`` -> merge() key list: the clause must be a
    conjunction of column equalities between target and source, each
    on the SAME column name (the schema-aligned merge shape —
    arbitrary join expressions have no keyed-merge equivalent)."""
    keys, todo = [], [on]
    while todo:
        e = todo.pop(0)
        if _kind(e) == "And":
            todo[:0] = [e.left(), e.right()]
            continue
        term = _text(query, e)
        sides = [e.left(), e.right()] if _kind(e) == "EqualTo" else []
        if not sides or any(_kind(s) != "UnresolvedAttribute"
                            for s in sides):
            raise ValueError(
                f"MERGE ON clause term {term!r}: only conjunctions "
                f"of target.col = source.col equalities are "
                f"supported")
        (*q1, c1), (*q2, c2) = (_seq(s.nameParts()) for s in sides)
        if c1.lower() != c2.lower():
            raise ValueError(
                f"MERGE ON {term!r}: target and source columns must "
                f"share a name (keyed merge aligns schemas by name)")
        for q in (q1, q2):
            if q and q[-1].lower() not in quals:
                raise ValueError(
                    f"MERGE ON {term!r}: qualifier {q[-1]!r} names "
                    f"neither the target nor the source")
        keys.append(c1)
    return keys


def _disjunction(conds: list) -> str:
    return conds[0] if len(conds) == 1 else \
        " OR ".join(f"({c})" for c in conds)


def _alias(node):
    return node.alias() if _kind(node) == "SubqueryAlias" else None


def _run_dml(spark, query: str, plan, kind: str, name: str, mts: dict,
             cdf: bool):
    """Run one parsed CTAS / INSERT / DELETE / UPDATE / MERGE on table
    ``name``, one atomic commit each, and return Delta's 1-row
    metrics frame.  Expression texts (WHERE, SET values, clause
    conditions) are sliced from ``query`` by their parsed spans, with
    the target's and source's qualifiers dropped."""
    from .manifest import ManifestTable
    from .session import local_frame

    def metrics(**kw):
        return local_frame(spark, [tuple(kw.values())],
                           ", ".join(f"{k} long" for k in kw))

    t = mts[name]
    if kind in ("CreateTableAsSelect", "ReplaceTableAsSelect"):
        df = _frame(spark, plan.query())
        n = df.count()
        try:
            t._raw()
        except (FileNotFoundError, OSError):
            t = mts[name] = ManifestTable.create(
                df, t.root, ts=_partition_col(plan))
        else:
            if kind == "CreateTableAsSelect":
                raise ValueError(
                    f"table {name!r} already exists at {t.root}; use "
                    f"CREATE OR REPLACE TABLE")
            t.overwrite(df)
        t.register(spark, name)
        return metrics(num_inserted_rows=n)
    if kind == "InsertIntoStatement":
        if plan.partitionSpec().size():
            raise ValueError("INSERT ... PARTITION (...) is not "
                             "supported: the partition column is a "
                             "data column")
        src = plan.query()
        df = _frame(spark, src)
        cols = _seq(plan.userSpecifiedCols())
        if not cols and _kind(src) in ("LocalRelation",
                                       "UnresolvedInlineTable"):
            # VALUES rows are positional: name them by the table
            cols = [n for n, _ in t._raw().get("schema") or []]
        if cols:
            df = df.toDF(*cols)
        df = _store_cast(df, t)
        n = df.count()
        if plan.overwrite():
            # full-refresh replace: one commit swaps the whole content
            t.overwrite(df)
        else:
            t.append(df, cdf=cdf)
        return metrics(num_inserted_rows=n)
    if kind in ("DeleteFromTable", "UpdateTable"):
        quals = {q.lower() for q in (name, _alias(plan.table())) if q}
        if kind == "DeleteFromTable":
            cond = plan.condition()
            # no WHERE parses as a shared TRUE literal, whose span is
            # not this statement's
            where = (cond.sql() if _kind(cond) == "Literal"
                     else _unqualified(query, cond, quals))
            out = t.delete_where(spark, where, cdf=cdf, mode="dv")
            return metrics(num_deleted_rows=out["rows_deleted"])
        sets = {_seq(a.key().nameParts())[-1]:
                _unqualified(query, a.value(), quals)
                for a in _seq(plan.assignments())}
        cond = plan.condition()
        where = (_unqualified(query, cond.get(), quals)
                 if cond.isDefined() else "true")
        out = t.update_where(spark, sets, where, cdf=cdf)
        return metrics(num_updated_rows=out["rows_updated"])
    tgt, src = plan.targetTable(), plan.sourceTable()
    tq = {q.lower() for q in (name, _alias(tgt)) if q}
    salias = _alias(src)
    if salias is not None:
        # the alias node spans the whole statement; its child is the
        # source relation or subquery
        src = src.child()
    sname = (_name_parts(src)[-1] if _kind(src) == "UnresolvedRelation"
             else None)
    sq = {q.lower() for q in (sname, salias) if q}
    updates = _store_cast(_frame(spark, src), t)
    keys = _merge_keys(query, plan.mergeCondition(), tq | sq)
    upd = ins = False
    deletes, by_source = [], []
    for a in _seq(plan.matchedActions()):
        cond = a.condition()
        if _kind(a) == "DeleteAction":
            # evaluated over the source row: qualifiers drop
            deletes.append(_unqualified(query, cond.get(), tq | sq)
                           if cond.isDefined() else "true")
        elif _kind(a) == "UpdateStarAction" and not cond.isDefined():
            upd = True
        else:
            raise ValueError(
                "WHEN MATCHED supports THEN DELETE and an "
                "unconditional THEN UPDATE SET * only (schema-aligned "
                "merge)")
    for a in _seq(plan.notMatchedActions()):
        if _kind(a) != "InsertStarAction" or a.condition().isDefined():
            raise ValueError("WHEN NOT MATCHED supports THEN INSERT * "
                             "only (schema-aligned merge)")
        ins = True
    for a in _seq(plan.notMatchedBySourceActions()):
        if _kind(a) != "DeleteAction":
            raise ValueError("WHEN NOT MATCHED BY SOURCE supports THEN "
                             "DELETE only")
        cond = a.condition()
        by_source.append(_unqualified(query, cond.get(), tq)
                         if cond.isDefined() else "true")
    # merge() upserts every source row no DELETE clause marks, so the
    # SQL must say so: the upsert pair, or an unconditional delete
    if not ((upd and ins) or (not upd and not ins and "true" in deletes)):
        raise ValueError(
            "MERGE needs WHEN MATCHED THEN UPDATE SET * plus "
            "WHEN NOT MATCHED THEN INSERT * (the keyed upsert), "
            "or an unconditional WHEN MATCHED THEN DELETE")
    out = t.merge(
        spark, updates, keys, cdf=cdf,
        when_matched_delete=_disjunction(deletes) if deletes else None,
        not_matched_by_source_delete=(
            None if not by_source else True if "true" in by_source
            else _disjunction(by_source)),
        # a marked source row that matches no target row is NOT
        # MATCHED, so the statement's INSERT * takes it
        _insert_unmatched_marked=ins)
    return metrics(num_affected_rows=(
        (out or {}).get("rows_dead", 0)
        + (out or {}).get("rows_appended", 0)) or updates.count())


def manifest_sql(spark, query: str, tables: dict,
                 cdf: bool = False):
    """One SQL statement over manifest tables: reads with Delta's
    time-travel and change-feed spellings, DML, DDL and maintenance,
    each write one atomic manifest commit through the same
    :class:`ManifestTable` primitives the DataFrame API uses.  Every
    ``tables`` entry (``{view_name: root path or ManifestTable}``)
    is first registered at its current snapshot
    (:meth:`ManifestTable.register`), so its reads plan through the
    DSv2 pushdown path; a name may also map to a not-yet-created
    root, which only CTAS, CREATE TABLE and CONVERT accept.

    Spark's own parser reads the statement, and the dispatch is on
    the parsed node, so comments, backticks, quoting and case follow
    Spark's lexer.  Statements, by kind:

    - **Queries** — any statement Spark runs, after one walk of the
      parsed plan rewrites these reads to registered views
      (:func:`_read_rewrites`):
      ``name VERSION AS OF n``, ``name TIMESTAMP AS OF '<iso>'``
      (resolved through ``version_at``: the latest commit at or
      before it; naive strings read as UTC),
      ``table_changes('name', v1[, v2])`` (the classified change
      feed, ``v2`` defaulting to the live head) and the metadata
      tables ``name.partitions`` / ``.files`` / ``.history`` /
      ``.refs`` / ``.column_stats`` / ``.detail``.  Spark's grammar
      puts an alias after the clause: ``name VERSION AS OF n
      alias``.  The same rewrites apply inside DML sources.  Names
      not in ``tables`` are left for Spark to resolve.
    - **DML** (:func:`_run_dml`, Delta's 1-row metrics frame):
      ``CREATE [OR REPLACE] TABLE name [PARTITIONED BY (col)] AS
      <query>``, ``INSERT INTO|OVERWRITE name [(cols)] <query> |
      VALUES ...``, ``DELETE FROM name [WHERE ...]``, ``UPDATE name
      SET c = expr, ... [WHERE ...]`` and the schema-aligned ``MERGE
      INTO name [t] USING <view> | (<query>) [s] ON t.k = s.k [AND
      ...]`` with ``WHEN MATCHED [AND c] THEN DELETE``, ``WHEN
      MATCHED THEN UPDATE SET *``, ``WHEN NOT MATCHED THEN INSERT *``
      and ``WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE``.  MERGE
      follows :meth:`ManifestTable.merge`, except that a source row
      a DELETE clause's condition marks but that matches no target
      row is inserted when the statement has ``INSERT *``.
      ``cdf=True`` captures the row-level change feed in the same
      commit.
    - **DDL** (:func:`_run_ddl`): ``ALTER TABLE`` ADD COLUMNS,
      RENAME COLUMN, DROP COLUMN(S), ALTER COLUMN TYPE / SET NOT
      NULL, ADD CONSTRAINT CHECK, DROP CONSTRAINT; ``CREATE TABLE
      name (cols) [PARTITIONED BY (col)]``; ``ANALYZE TABLE``; ``DROP
      TABLE [IF EXISTS]``.
    - **Delta-only verbs** Spark's parser rejects or misparses, by
      keyword (:func:`_run_verb`): OPTIMIZE, VACUUM, RESTORE TABLE,
      DESCRIBE HISTORY, DESCRIBE DETAIL and CONVERT TO MANIFEST.

    The parser is reached through the classic session's py4j handle,
    so this needs classic PySpark, not Spark Connect.  Returns the
    result DataFrame."""
    from .manifest import ManifestTable

    mts = {name: (t if isinstance(t, ManifestTable)
                  else ManifestTable(t, None))
           for name, t in tables.items()}
    for name, t in mts.items():
        try:
            t._raw()
        except (FileNotFoundError, OSError):
            # a not-yet-created root is legal input for CTAS only;
            # any other statement touching it will fail on its own
            continue
        t.register(spark, name)

    out = _run_verb(spark, query, mts)
    if out is not None:
        return out
    plan = _parse(spark, query)
    hits = _read_rewrites(spark, plan, mts)
    if hits:
        query = _splice(query, hits)
        plan = _parse(spark, query)
    kind = _kind(plan)
    if kind not in _STATEMENTS:
        return spark.sql(query)
    parts = _name_parts(plan.table() if kind == "InsertIntoStatement"
                        else plan)
    name = _bound(mts, parts)
    if len(parts) != 1 or (name is None and kind in ("DeleteFromTable",
                                                     "UpdateTable")):
        return spark.sql(query)        # a catalog table: Spark's
    _require(mts, name or parts[0], _STATEMENTS[kind])
    if kind in _DML:
        return _run_dml(spark, query, plan, kind, name, mts, cdf)
    return _run_ddl(spark, plan, kind, name, mts)


def write_manifest(df, root: str, ts: str | None = None,
                   mode: str = "append", **options):
    """The ENGINE-OWNED write path for ``format("manifest")``
    (VERDICT r10 #4): repartitions ``df`` by the table's partition
    column BEFORE the DSv2 write — the one thing the Python DSv2
    seam cannot do itself (it receives the frame's task layout
    as-is), and the difference between ≤1 file per partition value
    and an N-task × M-value sliver spray.  The partition column is
    the LIVE table's recorded one when the table exists (``ts`` must
    not conflict — the writer enforces that), else ``ts`` for
    create-on-first-write; unpartitioned tables write with the
    frame's own parallelism (their file count IS the task count).

    ``options`` thread through to the writer (``mergeSchema``,
    ``cdf``, ...).  Hash-repartitioning by value sends each value to
    exactly ONE task, so a 1000-executor cluster writing 10^4 daily
    partitions lands 10^4 files, not 10^7 — per-value skew beyond a
    single task's capacity is the deliberate-salting case, written
    directly with ``option("acceptSprayedLayout", "true")``.
    Returns the :class:`ManifestTable` for chaining."""
    from pyspark.sql import functions as F

    from .manifest import ManifestTable

    spark = df.sparkSession
    spark.dataSource.register(ManifestDataSource)
    try:
        part_col = ManifestTable(root, None)._raw().get("ts")
    except FileNotFoundError:
        part_col = ts
    out = df.repartition(F.col(part_col)) if part_col else df
    w = out.write.format("manifest").mode(mode)
    if ts is not None:
        w = w.option("ts", ts)
    for k, v in options.items():
        w = w.option(k, v)
    w.save(root)
    return ManifestTable(root, part_col)


def _checkpoint_position(checkpoint: str) -> int | None:
    """The newest version offset Spark's checkpoint has WAL-logged
    (committed or pending — a pending batch replays inside the next
    run either way), or None for a fresh checkpoint.  Driver-side,
    two small file reads."""
    import glob

    files = [f for f in glob.glob(os.path.join(checkpoint,
                                               "offsets", "*"))
             if os.path.basename(f).isdigit()]
    if not files:
        return None
    latest = max(files, key=lambda f: int(os.path.basename(f)))
    try:
        with open(latest) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        off = json.loads(lines[-1])
        if isinstance(off, str):
            off = json.loads(off)
        return int(off["version"])
    except (ValueError, KeyError, OSError):
        return None


def _next_run_end(t, p: int, live: int, step_files: int) -> int:
    """One bounded run's ending version: admit whole versions after
    ``p`` until ``step_files`` staged files (a version never splits;
    ``p == 0`` is the full-snapshot replay, planned whole)."""
    if p == 0:
        return live
    e, budget = p, int(step_files)
    while e < live:
        n = len(t.added_files(e, manifest_name=t._mname(e + 1)))
        if n > budget and e > p:
            break           # cap reached; a version never splits
        e += 1
        budget -= n
        if budget <= 0:
            break
    return e


def plan_backfill_runs(root: str, *, step_files: int,
                       starting_version: int = 0,
                       checkpoint: str | None = None) -> list:
    """The DETERMINISTIC run schedule :func:`backfill_manifest_stream`
    would execute — the list of per-run ending versions — computed
    driver-side from the manifest alone (the admission loop is pure
    commit-object arithmetic; the executed walk advances ``p = e``
    with no runtime feedback).  This is the dry-run half of the
    sketch-sized backfill decision: ``ManifestTable.plan_backfill``
    turns a row budget into a file budget, this turns the file budget
    into the schedule it implies, and comparing schedule LENGTHS
    costs zero streaming runs.  Pass the SAME ``checkpoint`` the
    executed walk will use to predict a RESUMED backfill's remaining
    runs — the walk starts at the checkpoint's committed version when
    that is ahead (exactly the executed resume rule); without it the
    schedule assumes a fresh checkpoint."""
    from .manifest import ManifestTable

    t = ManifestTable(root, None)
    live = t.version()
    p = int(starting_version)
    if checkpoint is not None:
        ck = _checkpoint_position(checkpoint)
        if ck is not None:
            p = max(p, ck)
    out = []
    while p < live:
        e = _next_run_end(t, p, live, step_files)
        out.append(e)
        p = e
    return out


def backfill_manifest_stream(spark, root: str, start_query,
                             *, step_files: int,
                             starting_version: int = 0,
                             checkpoint: str | None = None,
                             max_runs: int = 10000,
                             options: dict | None = None) -> int:
    """CHUNKED deep backfill through the streaming source (VERDICT
    r10 #7): the Python DSv2 ``availableNow`` protocol captures
    ``latestOffset`` once per run, so a multi-year catch-up would
    otherwise land as ONE giant batch.  This helper drives it as a
    SEQUENCE of bounded availableNow runs: each run's end version is
    computed driver-side (admit whole versions until ``step_files``
    staged files — the same version-granular walk steady-state
    admission control uses) and pinned via the source's
    ``endingVersion`` option, so run N processes exactly
    (end_{N-1}, end_N].  Exactly-once is Spark's own checkpoint:
    ``start_query(stream_df)`` must configure the SAME
    ``checkpointLocation`` every run (and ``availableNow`` trigger);
    a crashed run replays its uncommitted batch, and passing the
    same path as ``checkpoint`` lets a re-invoked backfill resume
    its version walk where the checkpoint already is (zero re-runs,
    zero duplicates).

    ``starting_version`` bounds where a FRESH checkpoint begins; the
    default 0 makes run 1 the full-snapshot replay (planned whole —
    reading the live snapshot once beats replaying every version
    diff) and chunks the rest.  Returns the number of runs."""
    from .manifest import ManifestTable

    spark.dataSource.register(ManifestDataSource)
    t = ManifestTable(root, None)
    live = t.version()
    p = int(starting_version)
    if checkpoint is not None:
        # resume the walk where the checkpoint already is — without
        # this, a re-invoked backfill would hand Spark end versions
        # BEHIND its committed offset
        ck = _checkpoint_position(checkpoint)
        if ck is not None:
            p = max(p, ck)
    runs = 0
    while p < live and runs < max_runs:
        e = _next_run_end(t, p, live, step_files)
        reader = (spark.readStream.format("manifest")
                  .option("startingVersion", int(starting_version))
                  .option("endingVersion", int(e)))
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        q = start_query(reader.load(root))
        q.awaitTermination()
        if q.exception():
            raise RuntimeError(str(q.exception()))
        runs += 1
        p = e
    return runs

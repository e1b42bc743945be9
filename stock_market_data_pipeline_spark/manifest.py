"""Manifest-committed partitioned table: ATOMIC multi-partition MERGE
on plain parquet, with file-level stats, data skipping and compaction.

This is the engine's DEFAULT transactional write path (round 8 —
previously the production-shaped code paths still wrote through
dynamic partition overwrite, which is atomic only per partition
directory, so a crash between partition swaps left a torn table; that
mechanism is gone from incremental.py and streaming/events.py).  The
reference gets table-level transactionality from Snowflake's MERGE
(dbt/stock_analytics/models/marts/fct_trading_momentum.sql:2-7,
snapshots/russell3000_constituents_snapshot.sql:4-12); this module
supplies the same contract on plain files with a Delta/Iceberg-style
(but minimal) manifest commit:

Layout (format 3 — SHARDED metadata, the Iceberg manifest-list shape)::

    <root>/
      _manifests/
        manifest-00000001.json   # immutable COMMIT OBJECT: version,
        manifest-00000002.json   #   schema, stream ledger, and one
                                 #   small REF per partition value
                                 # (live = highest committed version)
        shards/
          shard-<uuid>.json      # immutable per-partition FILE list
                                 #   + footer stats; a commit writes
                                 #   shards only for partitions it
                                 #   CHANGED and carries unchanged
                                 #   partitions by ref
      data/
        txn-<uuid>/              # one dir per write transaction
          __pt=<value>/part-*.parquet

Each partition ref carries file/row/byte counts plus partition-level
[min, max] stats folded from its files, so the driver-side metadata a
commit or scan must touch is O(#partitions) + O(files in TOUCHED
partitions) — not O(#files in the table).  ``scan_plan`` opens only
the shards its predicate cannot exclude (partition-value pruning and
partition-level zone maps both run on the commit object alone) and
reports ``shards_opened`` so tests pin the metadata I/O plan the same
way they pin the data I/O plan.

Protocol (the live snapshot is the HIGHEST-numbered manifest; there is
no mutable pointer file):

1. A writer stages ALL new files under a fresh ``data/txn-<uuid>/`` —
   nothing it writes is visible to readers.
2. It writes the complete next manifest body to a hidden temp file in
   ``_manifests/`` and fsyncs it.  Still invisible.
3. THE COMMIT POINT — the one storage-dependent step, behind the
   :class:`CommitBackend` seam (VERDICT r8 #2).  The default
   :class:`PosixLinkBackend` is one ``os.link(tmp, manifest-N.json)``
   — an atomic compare-and-swap on POSIX that both *claims* version N
   (a second writer racing from the same base version gets
   ``FileExistsError`` → :class:`CommitConflict`, so lost updates are
   impossible) and *publishes* the already-complete body (readers can
   never observe a partial manifest).
   :class:`CoordinatorClaimBackend` is the object-store deployment
   shape: a conditional put-if-absent CLAIM (S3 ``If-None-Match``
   PUT / GCS generation match / DynamoDB conditional write — Delta's
   S3 LogStore, an Iceberg catalog CAS) followed by the body upload,
   with stale-claim takeover for crashed claimers.  A crash at any
   earlier step leaves only orphan temp/data files that ``vacuum()``
   reclaims — no in-between state exists.  Steps 1-2 port to any
   storage unchanged; the crash/conflict/race/model test suites run
   against BOTH backends.

Every write after ``create`` runs through ONE optimistic-concurrency
loop, :meth:`ManifestTable._transact`: read the live snapshot, let the
op build its commit from it, publish; on :class:`CommitConflict`
re-read and rebuild, at most ``_COMMIT_ATTEMPTS`` times before raising
a conflict that names the attempt count (no unbounded spinning under
contention).  Appends and metadata-only ops rebase; positional (DV)
writes and rewrites rebase only when the competing commit was disjoint
from the partitions they read (:func:`_check_unchanged`); ``merge``
(rewrite), ``overwrite`` and ``restore`` make a single attempt.  A
commit names only the top-level keys it changes; every other key of
the commit object carries from the base snapshot (``_commit``), and
every changed partition ref is rebuilt by one rule
(:meth:`ManifestTable._rebuild_ref`).

The manifest maps each partition VALUE to a list of FILE entries, each
carrying row count, byte size, and per-column min/max lifted from the
parquet footer at stage time (driver-side pyarrow reads — no extra
Spark job).  That buys, on plain parquet, the three things a naive
directory listing can't do at 100 TB:

* **Partition pruning without listing** — ``read(where=...)`` on the
  partition column touches only matching entries; no S3 LIST over
  thousands of date dirs.
* **File-level data skipping** — a predicate on ANY stats-bearing
  column drops whole files whose [min, max] can't intersect it, before
  Spark ever opens a footer. ``scan_plan()`` exposes kept/skipped for
  tests to pin.
* **Compaction with snapshot isolation** — ``append()`` accumulates
  small files per partition (the classic streaming-ingest pathology);
  ``compact()`` rewrites multi-file partitions into one file and
  commits the swap atomically, invisible to concurrent readers; with
  ``cluster_by`` it also sorts + chunks partitions so per-file stats
  turn selective on a second dimension (OPTIMIZE ZORDER-lite).

Beyond the read path, the manifest carries two more pieces of table
state that must move atomically with the data: the per-stream batch
ledger (``append_batch`` — exactly-once foreachBatch sinks, no crash
window between "data published" and "batch remembered") and the pinned
schema (every write path raises :class:`SchemaMismatch` on drift,
because a mergeSchema=false scan would otherwise silently drop a new
column at read time).

Format history: format 2 was a single JSON document mapping every
partition to its inline file list — O(#files) driver-side, honest
~10^5-file ceiling.  Format 3 (round 8, VERDICT r7 #4) shards along
exactly the boundary format 2 named: per-partition shard files plus a
small commit object, so the ceiling moves to O(#partitions) per commit
object with shards loaded on demand.  Snapshot isolation for readers,
atomic multi-partition commit, optimistic concurrency, time travel via
old manifests, stats skipping and compaction all work, and
``tests/test_manifest.py`` crash-injects between every pair of protocol
steps to prove the reader contract.

Partition-column handling: the staging write partitions by a STRING
duplicate ``__pt`` of the partition column, so the parquet files keep
the original typed column and readers need no partition-value parsing
— ``read()`` is the resolved live-file list read through the PINNED
schema (which also makes metadata-only schema evolution work: see
``add_columns``).  The duplicate costs nothing on disk
(dictionary/RLE-encoded constant).

Scale: merge data movement is partition-pruned read + touched-partition
write.  The key-stability precondition applies: a key never moves
between partition values (keys contain or determine the partition
column here, so it holds by construction; ``merge(...,
validate_key_stability=True)`` enforces it in debug/test builds).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

_PT = "__pt"
_MANIFEST_DIR = "_manifests"
_SHARD_DIR = os.path.join(_MANIFEST_DIR, "shards")
#: branch names become filename segments between ``branch-`` and
#: ``.manifest-``; the charset excludes ``.`` so the prefix parse is
#: unambiguous, and the names sort stably.
_BRANCH_RE = re.compile(r"[A-Za-z0-9_\-]{1,64}")
_BRANCH_FILE_RE = re.compile(
    r"branch-([A-Za-z0-9_\-]{1,64})\.manifest-(\d{8})\.json")
#: snapshot tags share the branch charset; ``tag-{name}.json`` is a
#: tiny pointer body, never matched by the manifest listing globs.
_TAG_FILE_RE = re.compile(r"tag-([A-Za-z0-9_\-]{1,64})\.json")
#: on-disk layout version this reader/writer speaks.  2 was a single
#: JSON document mapping partition value -> inline file-entry list;
#: 3 shards the file lists into immutable per-partition shard files
#: referenced from a small commit object.  Bumped on any incompatible
#: layout change; ``manifest()`` refuses other versions.
_FORMAT = 3
#: publishes one :meth:`ManifestTable._transact` call may lose to
#: competing writers before it gives up with :class:`CommitConflict`.
#: Each lost attempt means a competitor's commit landed, so this bounds
#: a writer's retries by the commits it can be overtaken by — far above
#: any real race between a handful of writers, far below "spin forever"
_COMMIT_ATTEMPTS = 32


class CrashInjected(RuntimeError):
    """Raised by test hooks to simulate a writer dying mid-protocol."""


class CommitBackend:
    """The ONE storage-dependent step of the commit protocol (step 3):
    atomically publish a fully-written, fsynced commit body under the
    next version's name, failing with :class:`CommitConflict` if that
    version is already claimed (VERDICT r8 #2 — the seam that makes
    the protocol DEPLOYABLE beyond POSIX: the 100 TB north star runs
    on object storage, where ``os.link`` does not exist; steps 1-2 —
    invisible staging and temp-body write — port unchanged).

    Contract for :meth:`publish`: on success the body is visible,
    complete, under ``name``; on :class:`CommitConflict` NOTHING of
    this writer's is visible and the competing snapshot is fully
    live.  ``tmp`` (the fsynced body) may be consumed; the caller
    removes it afterwards if it still exists."""

    def publish(self, mdir: str, name: str, tmp: str) -> None:
        raise NotImplementedError


class PosixLinkBackend(CommitBackend):
    """Default: ``os.link(tmp, final)`` — the filesystem's native
    put-if-absent.  One syscall both CLAIMS the version (a second
    writer racing from the same base gets ``FileExistsError``) and
    PUBLISHES the already-complete body (readers can never observe a
    partial manifest)."""

    def publish(self, mdir: str, name: str, tmp: str) -> None:
        try:
            os.link(tmp, os.path.join(mdir, name))
        except FileExistsError:
            raise CommitConflict(
                f"{name}: already committed by a competing writer; "
                "restage against the new snapshot") from None


class CoordinatorClaimBackend(CommitBackend):
    """Object-store / commit-coordinator shape: CLAIM the version with
    one conditional put-if-absent (``.claim-<name>`` created
    ``O_CREAT|O_EXCL`` — the filesystem stand-in for S3's
    ``If-None-Match`` PUT, GCS ``if-generation-match: 0``, or a
    DynamoDB conditional write, i.e. Delta's S3 LogStore / an Iceberg
    catalog CAS), THEN upload the body.  Splitting claim from publish
    is exactly what a coordinator-based deployment does; the body
    upload itself is atomic-visible on a real object store, modeled
    here by a link (which doubles as a safety net: even a claim-
    protocol bug cannot double-publish a version).

    Crash between claim and publish leaves an ORPHAN CLAIM that would
    otherwise block version N forever; a later writer takes over a
    claim older than ``claim_grace`` whose manifest never appeared
    (the dead claimer can no longer publish).  ``vacuum()`` clears
    consumed/aged claims."""

    def __init__(self, claim_grace: float = 60.0):
        self.claim_grace = claim_grace

    def publish(self, mdir: str, name: str, tmp: str) -> None:
        import time

        claim = os.path.join(mdir, f".claim-{name}")
        final = os.path.join(mdir, name)
        for attempt in (0, 1):
            try:
                os.close(os.open(claim,
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                if os.path.exists(final):
                    raise CommitConflict(
                        f"{name}: already committed by a competing "
                        "writer; restage against the new snapshot"
                    ) from None
                try:
                    age = time.time() - os.path.getmtime(claim)
                except OSError:
                    continue          # claim vanished: retry the put
                if attempt or age < self.claim_grace:
                    raise CommitConflict(
                        f"{name}: claimed by an in-flight writer"
                    ) from None
                # dead claimer (aged claim, no manifest): take over
                try:
                    os.remove(claim)
                except FileNotFoundError:
                    pass
        else:
            raise CommitConflict(f"{name}: could not claim the version")
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"{name}: already committed by a competing writer; "
                "restage against the new snapshot") from None


class CommitConflict(RuntimeError):
    """A competing writer committed after this writer's read snapshot.

    The table is NOT torn: the competing commit is fully live, this
    writer's staged files are invisible orphans (vacuum reclaims them).
    The caller re-runs its merge against the new snapshot."""


class ConstraintViolation(RuntimeError):
    """A write (or an ``add_*`` validation pass over existing data)
    produced rows that break a table CHECK / NOT NULL constraint.
    Raised BEFORE the manifest commit, so the violating write is
    invisible — its staged files age out as vacuum orphans."""


class SchemaMismatch(RuntimeError):
    """A write's schema differs from the schema pinned in the manifest.

    With ``spark.sql.parquet.mergeSchema=false`` (this engine's
    fixed-schema discipline, session.py) a drifted append would not
    error at read time — the scan takes the first file's schema and a
    new column silently VANISHES, the physical.py mis-scale class all
    over again.  So the write boundary fails loudly instead; schema
    evolution is an explicit operation (``add_columns`` — Delta's
    ALTER TABLE ADD COLUMNS analog), never an accident."""


def _schema_sig(df: DataFrame) -> list[list[str]]:
    """(name, type) signature pinned in the manifest, kept in the
    frame's FIELD ORDER so empty reads reproduce the real column
    order; comparisons sort it (order-insensitive)."""
    return [[f.name, f.dataType.simpleString()]
            for f in df.schema.fields]


def _norm(v):
    """JSON-safe, order-preserving normalization for footer stats AND
    caller-supplied bounds (both sides of every range comparison go
    through here, so they normalize identically).  Ints stay ints
    (floats above 2^53 would round a true bound and wrong-skip),
    floats stay floats; Decimals are excluded upstream;
    date/datetime values become ``isoformat()`` — the 'T'-separated
    ISO-8601 form, NOT ``str(datetime)``'s space-separated form:
    ' ' < 'T' lexicographically, so mixing the two forms would
    wrong-skip files (r7 ADVICE item 2).  A string canonicalizes to
    the 'T' form ONLY when it FULLY matches the space-separated
    timestamp shape (anchored regex): the r8 ADVICE item 3 bug was a
    loose prefix match rewriting '2024-01-02 5' → '2024-01-02T5',
    which is NOT order-preserving against uncanonicalized strings
    (' ' < 'T' spans other printable chars).  Belt-and-braces,
    :func:`_file_entry` additionally refuses to store a zone map for
    any string column where canonicalization changed a stored bound —
    rewritten-raw-string bounds are exactly the monotonicity hazard,
    and an absent zone map merely reads more, never skips wrong.
    Everything else compares as its string form (ISO dates are
    lexicographically ordered, which is the only property skipping
    needs)."""
    import datetime as _dt
    import re as _re

    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    s = str(v)
    if _re.fullmatch(
            r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?", s):
        s = s.replace(" ", "T", 1)
    return s


def _sql_lit(v) -> str:
    """``v`` as a SQL literal (constraint predicates are stored as
    SQL text so one renderer serves enforcement, inspection, and the
    error messages)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _file_entry(abs_path: str, rel_path: str,
                with_cols: bool = False) -> dict:
    """One manifest entry from a parquet footer: rows, bytes, and
    per-column [min, max] aggregated across row groups.  Driver-side
    pyarrow metadata read — a few KB per file, no data pages.
    ``with_cols=True`` additionally records the file's top-level
    column-name set under ``"cols"`` (the adoption schema-safety
    input, harvested from the SAME footer read so validation never
    re-opens the file); callers strip it before committing."""
    import decimal

    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    stats: dict[str, list] = {}
    rg_hits: dict[str, int] = {}
    #: columns PROVABLY null-free in every row group (footer
    #: null_count == 0 everywhere) — the precondition for treating a
    #: file as FULLY matching a range predicate (count pushdown):
    #: min/max ignore NULLs, so without this a NULL-bearing file would
    #: overcount.  Absent/unknown null counts disqualify, never lie.
    nn_bad: set = set()
    nn_hits: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name == _PT:      # nested / partition dup
                continue
            st = col.statistics
            if st is not None and st.null_count == 0:
                nn_hits[name] = nn_hits.get(name, 0) + 1
            else:
                nn_bad.add(name)
            if st is None or not st.has_min_max:
                continue
            try:
                smin, smax = st.min, st.max
            except Exception:
                # pyarrow cannot decode statistics for some physical
                # types (e.g. FIXED_LEN_BYTE_ARRAY decimals raise
                # ArrowNotImplementedError on access): the column
                # carries no zone map (more I/O, never a wrong skip)
                continue
            if isinstance(smin, (bytes, decimal.Decimal)) \
                    or isinstance(smax, (bytes, decimal.Decimal)):
                # binary: undecoded. Decimal: a float coercion could
                # round a true bound and wrong-skip, a str() one
                # compares lexicographically — neither is safe, so the
                # column simply carries no zone map (more I/O, never a
                # missing row)
                continue
            lo, hi = _norm(smin), _norm(smax)
            if (isinstance(smin, str) and lo != smin) \
                    or (isinstance(smax, str) and hi != smax):
                # a RAW STRING bound that canonicalization rewrote:
                # storing it breaks ordering against this column's
                # unrewritten values (' ' < 'T' spans other printable
                # chars — r8 ADVICE item 3), so the column carries no
                # zone map at all (more I/O, never a wrong skip)
                continue
            if name in stats:
                stats[name] = [min(stats[name][0], lo),
                               max(stats[name][1], hi)]
            else:
                stats[name] = [lo, hi]
            rg_hits[name] = rg_hits.get(name, 0) + 1
    # a column missing stats in ANY row group has an unknown true range
    # (e.g. an all-NULL chunk writes no min/max): drop it rather than
    # skip on a partial range — a partial range is the wrong-answer
    # failure mode, an absent one merely reads more
    for name in [n for n in stats
                 if rg_hits.get(n, 0) != md.num_row_groups]:
        del stats[name]
    nn = sorted(n for n, k in nn_hits.items()
                if k == md.num_row_groups and n not in nn_bad)
    out = {"path": rel_path, "rows": md.num_rows,
           "bytes": os.path.getsize(abs_path), "stats": stats,
           "nn": nn}
    if with_cols:
        out["cols"] = sorted({c.name.split(".")[0]
                              for c in md.schema})
    return out


#: deletion-vector sidecar sets at or below this many TOTAL bytes
#: (known exactly from their commit-object entries) are read on the
#: driver with pyarrow and shipped to the anti-join as local rows —
#: below it, planning one Spark scan task per KB-sized sidecar costs
#: more than the whole read (measured ~3x at sf0.1).  Above it (or
#: when any entry predates byte accounting) the distributed scan is
#: kept: a high-fraction delete's DV set must never be driver-read.
_DV_DRIVER_READ_BYTES = 32 << 20


def _dv_fits_driver_budget(dv_entries: list[dict]) -> bool:
    """True when the DV sidecar set's TOTAL bytes are known from the
    commit object and fit `_DV_DRIVER_READ_BYTES`.  An entry with no
    byte accounting (pre-accounting legacy commits) counts as
    over-budget on its own — unknown means "could be huge", so it must
    disqualify the driver path, never default to exactly the budget
    and slip through ``<=``."""
    dv_bytes = sum(e.get("bytes", _DV_DRIVER_READ_BYTES + 1)
                   for e in dv_entries)
    return dv_bytes <= _DV_DRIVER_READ_BYTES


#: above this many not-yet-known files the footer harvest runs as a
#: Spark job instead of a sequential driver loop — at 100 TB a lake
#: holds 10^5-10^6 files, and one footer read is a few ms of
#: metadata I/O that parallelizes embarrassingly (the entries are
#: pure per-file derivations); below it the job-launch overhead
#: exceeds the loop
_HARVEST_DISTRIBUTE_OVER = 512


#: a top-level directory shaped like a hive partition (``col=value``)
#: — used to refuse FLAT adoption of a partitioned lake (dot/underscore
#: leading names are engine/hidden and never match)
_HIVE_DIR_RE = re.compile(r"^[A-Za-z][\w.]*=")


def _harvest_lake(root: str, ts: str | None, mode: str = "auto",
                  known: frozenset = frozenset(),
                  spark: SparkSession | None = None) -> tuple:
    """Walk the parquet lake at ``root`` and harvest footer entries
    for ZERO-COPY adoption (:meth:`ManifestTable.adopt` /
    :meth:`ManifestTable.adopt_files`): returns ``({partition value:
    [entries]}, adopted_dirs)``.  ``mode``: ``"flat"`` (unpartitioned
    — everything keys ``__all``), ``"dirs"`` (classic hive
    ``ts=value/`` directories), ``"stats"`` (the column lives IN the
    files; file-aligned values required), or ``"auto"`` (dirs when
    any ``ts=`` directory exists, else stats; flat when ``ts`` is
    None).  ``known`` filters already-referenced manifest-relative
    paths — the incremental re-walk.  Engine-owned areas
    (``_manifests``, ``data/``) and dot/underscore names are never
    descended.

    With ``spark`` and more than ``_HARVEST_DISTRIBUTE_OVER`` new
    files, the footer reads run as ONE Spark job over the file list
    (:func:`_file_entry` is a pure per-file derivation) — the
    100 TB onboarding path: a 10^6-file lake harvests in one
    cluster-wide metadata pass instead of a driver-hours loop; the
    listing itself stays driver-side (names only, no footer I/O)."""
    engine_owned = {os.path.basename(_MANIFEST_DIR), "data"}

    def _walk(d: str) -> list:
        out = []
        for dp, dns, fns in os.walk(d):
            # engine-owned areas live at the TABLE ROOT only — a
            # user directory that happens to be named "data" inside
            # a partition must be harvested, not silently dropped
            dns[:] = [x for x in dns
                      if not x.startswith((".", "_"))
                      and not (dp == root and x in engine_owned)]
            out.extend(os.path.join(dp, fn) for fn in fns
                       if fn.endswith(".parquet")
                       and not fn.startswith((".", "_")))
        return sorted(out)

    def _top_dirs() -> list:
        return [d for d in sorted(os.listdir(root))
                if os.path.isdir(os.path.join(root, d))
                and d not in engine_owned
                and not d.startswith((".", "_"))]

    # phase 1 — LIST (driver-side, names only): (abs, rel, value)
    # triples; value None = derive from the file's own stats later
    triples: list = []
    adopted_dirs = None
    if ts is None or mode == "flat":
        hivey = [d for d in _top_dirs() if _HIVE_DIR_RE.match(d)]
        if hivey:
            raise SchemaMismatch(
                f"{root}: hive-partitioned layout detected "
                f"({hivey[:3]}{'...' if len(hivey) > 3 else ''}) — "
                f"flat adoption would key every row '__all' and "
                f"lose the partition column silently; adopt with "
                f"ts='<col>' (SQL: CONVERT TO MANIFEST name "
                f"PARTITIONED BY (col))")
        triples = [(f, os.path.relpath(f, root), "__all")
                   for f in _walk(root)]
    else:
        hive = [d for d in sorted(os.listdir(root))
                if d.startswith(ts + "=")
                and os.path.isdir(os.path.join(root, d))]
        if mode == "dirs" or (mode == "auto" and hive):
            for d in hive:
                value = d[len(ts) + 1:]
                if "%" in value \
                        or value == "__HIVE_DEFAULT_PARTITION__":
                    raise SchemaMismatch(
                        f"unsupported partition value {value!r}: "
                        f"NULL or characters the writer escapes "
                        f"cannot key a manifest partition")
                triples.extend(
                    (f, os.path.relpath(f, root), value)
                    for f in _walk(os.path.join(root, d)))
            adopted_dirs = ts
            # a dirs-mode harvest adopts ONLY ts=value/ directories:
            # data anywhere else would be silently absent from the
            # adopted snapshot — the exact omission zero-copy exists
            # to preclude — so its presence must refuse, not skip
            stray = [x for x in sorted(os.listdir(root))
                     if x.endswith(".parquet")
                     and not x.startswith((".", "_"))]
            stray += [d for d in _top_dirs()
                      if not d.startswith(ts + "=")
                      and _walk(os.path.join(root, d))]
            if stray:
                raise SchemaMismatch(
                    f"{root}: data outside {ts}=value/ directories "
                    f"({stray[:3]}{'...' if len(stray) > 3 else ''})"
                    f" — a hive-layout adoption would silently omit "
                    f"it; move it under a partition directory or "
                    f"adopt flat (ts=None)")
        else:
            triples = [(f, os.path.relpath(f, root), None)
                       for f in _walk(root)]
    triples = [t for t in triples if t[1] not in known]
    if not triples:
        return {}, adopted_dirs

    # phase 2 — HARVEST the footers (the only per-file I/O)
    if spark is not None and len(triples) > _HARVEST_DISTRIBUTE_OVER:
        sc = spark.sparkContext
        slices = min(max(32, len(triples) // 256), 4096)
        harvested = (sc.parallelize(triples, slices)
                     .map(lambda t: (_file_entry(t[0], t[1],
                                                 with_cols=True),
                                     t[2]))
                     .collect())
        # deterministic commit bodies regardless of task order
        harvested.sort(key=lambda ev: ev[0]["path"])
    else:
        harvested = [(_file_entry(a, r, with_cols=True), v)
                     for a, r, v in triples]

    # phase 3 — GROUP by partition value
    parts: dict = {}
    for e, value in harvested:
        if value is None:
            st = e["stats"].get(ts)
            if st is None or st[0] != st[1] or ts not in e["nn"]:
                raise SchemaMismatch(
                    f"zero-copy adopt needs FILE-ALIGNED partition "
                    f"values: {e['path']} spans {ts!r} range {st} "
                    f"(or carries NULLs/no stats); compact the lake "
                    f"by {ts!r} first or adopt with ts=None")
            value = str(st[0])
        parts.setdefault(value, []).append(e)
    return parts, adopted_dirs


def _ref_fp(ref: dict) -> tuple:
    """Conflict fingerprint of a partition ref: a competitor changed
    the partition iff its shard OR its deletion-vector set changed.
    Shard identity alone is NOT enough — a merge-on-read delete
    (``delete_where(mode="dv")``) changes the partition's live rows
    while leaving its shard untouched, so a shard-only rebase check
    would let a concurrent compaction/rewrite staged from the PRE-
    delete snapshot land and silently resurrect the deleted rows."""
    return (ref.get("shard"),
            tuple(e["path"] for e in ref.get("dv", [])))


def _check_unchanged(staged_from: dict, snap: dict, values,
                     msg: str) -> None:
    """The stale-staging guard of every positional (DV) write and
    rewrite: its staged work was computed from ``staged_from``, so
    committing it onto ``snap`` is a REBASE only when no partition in
    ``values`` it read or addressed changed in between
    (:func:`_ref_fp`).  Otherwise the staged files could resurrect
    deleted rows or drop the competitor's, so raise
    :class:`CommitConflict` (``msg`` tells the caller what to re-run)."""
    old, new = staged_from["partitions"], snap["partitions"]
    for v in values:
        if v in old and (v not in new
                         or _ref_fp(old[v]) != _ref_fp(new[v])):
            raise CommitConflict(msg)


class _RowChange(NamedTuple):
    """One row-level DML change staged by
    :meth:`ManifestTable._stage_rows`, committed by
    :meth:`ManifestTable._change_commit`."""
    rewritten: list          # live values whose refs a rewrite replaces
    adds: dict               # value -> staged data file entries
    dvs: dict                # value -> staged deletion-vector sidecars
    removed: dict            # value -> rows removed, where counted
    cdf: list | None         # staged change-feed entries (cdf=True)


def _fold_stats(entries: list[dict]) -> dict:
    """Partition-level [min, max] per column, folded across a shard's
    file entries — the commit-object zone map that lets ``scan_plan``
    and ``stat_bounds`` answer without opening the shard.  A column
    missing from ANY file's stats is dropped (a partial range is the
    wrong-skip failure mode; an absent one merely opens the shard), as
    is a column whose per-file stats don't mutually compare (mixed
    types across files — schema-drift residue)."""
    if not entries:
        return {}
    cols = set(entries[0]["stats"])
    for e in entries[1:]:
        cols &= set(e["stats"])
    out: dict[str, list] = {}
    for c in sorted(cols):
        try:
            out[c] = [min(e["stats"][c][0] for e in entries),
                      max(e["stats"][c][1] for e in entries)]
        except TypeError:
            continue
    return out


def _zorder_epoch(v, dtype: str) -> float:
    """A stored zone-map bound (ISO string or date/datetime) as an
    epoch number matching Spark's ``unix_date`` / ``cast(ts as
    double)`` expressions — the numeric domain the z-order rank
    normalizes over."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=_dt.timezone.utc).timestamp()
    if isinstance(v, _dt.date):
        return float((v - _dt.date(1970, 1, 1)).days)
    s = str(v)
    if dtype == "date":
        return float((_dt.date.fromisoformat(s)
                      - _dt.date(1970, 1, 1)).days)
    return (_dt.datetime.fromisoformat(s)
            .replace(tzinfo=_dt.timezone.utc).timestamp())


def _zvalue_col(cols: list, bounds: dict, bits: int = 16,
                dtypes: dict | None = None):
    """Z-order curve value as a pure Column expression (JVM-side, no
    UDF): each input column is min-max-normalized to a ``bits``-wide
    integer rank, then the ranks' bits are INTERLEAVED (Morton code),
    so sorting by the result clusters rows into multi-dimensional
    tiles — every participating column's per-file [min, max] becomes a
    tight range, instead of only the leading sort column's (the
    lexicographic-sort weakness Delta's OPTIMIZE ZORDER exists to
    fix).  ``bounds`` maps column -> (lo, hi) numeric domain; a
    degenerate domain contributes rank 0.

    Bit budget (r8 ADVICE item 5): the interleaved value lives in a
    SIGNED long, so the top source bit must stay below position 63 —
    with the old fixed bits=16, four columns put a bit AT the sign
    position, flipping half the z-values negative and inverting the
    Morton order at the highest bit.  ``bits`` is therefore capped at
    ``63 // len(cols)`` (4 cols → 15 bits each, top bit 59).

    Non-numeric keys (VERDICT r8 #5 — the reference's cluster key is
    the STRING ``ticker``, fct_trading_momentum.sql:5) derive their
    rank automatically from ``dtypes`` (column -> Spark
    ``simpleString`` type):

    * ``date`` → ``unix_date(col)`` (epoch days); bounds parse from
      the zone map's ISO form — ranges stay tight, range skipping
      works as for numerics.
    * ``timestamp`` → ``cast(col as double)`` (epoch seconds), same.
    * ``string`` → the top ``bits`` bits of ``xxhash64(col)`` — a
      stable 64-bit hash rank.  Hash ranks still tile (equal values
      share a tile) but string RANGES are hash-scattered: the zone-map
      benefit on a hashed dimension is EQUALITY-shaped (ticker = 'X'
      probes skip files; ticker BETWEEN probes don't), which is the
      reference dashboard's actual probe shape.
    """
    n = len(cols)
    bits = min(bits, 63 // max(1, n))
    dtypes = dtypes or {}
    ranks = []
    top = (1 << bits) - 1
    for c in cols:
        dtype = dtypes.get(c, "")
        if dtype == "string":
            # uniform rank from the hash's top bits; no bounds needed
            ranks.append(F.shiftrightunsigned(F.xxhash64(F.col(c)),
                                              64 - bits))
            continue
        lo, hi = bounds[c]
        if dtype in ("date", "timestamp", "timestamp_ntz"):
            try:
                lo, hi = _zorder_epoch(lo, dtype), _zorder_epoch(hi, dtype)
            except (TypeError, ValueError):
                raise ValueError(
                    f"zorder_by column {c!r} ({dtype}) has bounds "
                    f"{bounds[c]!r} that do not parse as ISO "
                    f"date/timestamp") from None
            expr = (F.unix_date(F.col(c)).cast("double")
                    if dtype == "date" else F.col(c).cast("double"))
        else:
            try:
                lo, hi = float(lo), float(hi)
            except (TypeError, ValueError):
                raise ValueError(
                    f"zorder_by column {c!r} is not numeric (domain "
                    f"{bounds[c]!r}) and its type {dtype!r} has no "
                    f"automatic rank derivation") from None
            expr = F.col(c).cast("double")
        if hi <= lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = ((expr - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(top)))
        rank = F.least(F.greatest(scaled.cast("long"), F.lit(0)),
                       F.lit(top))
        ranks.append(rank)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, rank in enumerate(ranks):
            src = F.shiftright(rank, bit).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(src, bit * n + i))
    return z


def _as_number(v):
    """Exact numeric parse: int stays int (no float rounding above
    2^53), numeric strings parse to int first then float.  Returns
    None when the value is not a number."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    try:
        return int(str(v))
    except (TypeError, ValueError):
        try:
            return float(str(v))
        except (TypeError, ValueError):
            return None


def _eq(a, b) -> bool:
    """Exact equality across the manifest's value domains: numeric
    when BOTH sides parse as numbers ('07' == 7, '7.0' == 7),
    normalized-string otherwise.  Unlike ranges, equality with a
    one-sided numeric parse is decidable: a value that cannot parse as
    a number can never equal a number."""
    an, bn = _as_number(a), _as_number(b)
    if an is not None and bn is not None:
        return an == bn
    if an is None and bn is None:
        return _norm(a) == _norm(b)
    return False


def _pt_excluded(value: str, spec) -> bool:
    """Partition-pruning predicate for one column spec: a (lo, hi)
    RANGE tuple, or a list/set of exact values (IN-list — the
    dashboard's ``ticker IN (...)`` shape).  True = provably no row of
    this partition matches."""
    if isinstance(spec, (list, set, frozenset)):
        return all(not _eq(value, v) for v in spec)
    lo, hi = spec
    return _pt_out_of_range(value, lo, hi)


def _stats_excluded(stat: list, spec) -> bool:
    """File/partition zone-map predicate for one column spec (range
    tuple or IN-list).  True = [min, max] provably contains no
    matching value; conservative on any incomparability."""
    if isinstance(spec, (list, set, frozenset)):
        return all(_ranges_disjoint(stat, v, v) for v in spec)
    lo, hi = spec
    return _ranges_disjoint(stat, lo, hi)


def _pt_out_of_range(value: str, lo, hi) -> bool:
    """Partition-value pruning predicate.  Values are directory-name
    strings; when BOTH the value and a bound parse as numbers the
    comparison is numeric and EXACT — ints compare as ints, never
    through float (a lexicographic '99' > '100' would wrongly prune an
    integer-keyed partition; a float round-trip would corrupt bounds
    above 2^53).  When NEITHER side parses, string vs string (ISO
    dates/months, both normalized by :func:`_norm`).  A value/bound
    pair that parses as a number on only ONE side is incomparable →
    never pruned (conservative; r7 ADVICE item 1 — the prior fallback
    compared e.g. month '2024-01' against numeric 2024
    lexicographically and could silently prune matching rows)."""
    def cmp_pair(bound):
        vn, bn = _as_number(value), _as_number(bound)
        if vn is not None and bn is not None:
            return vn, bn
        if vn is None and bn is None:
            return _norm(value), _norm(bound)
        return None                         # one-sided parse: incomparable

    if lo is not None:
        pair = cmp_pair(lo)
        if pair is not None and pair[0] < pair[1]:
            return True
    if hi is not None:
        pair = cmp_pair(hi)
        if pair is not None and pair[0] > pair[1]:
            return True
    return False


_PT_FNS = ("days", "month", "hour", "bucket", "truncate")


def _pt_norm_spec(partition) -> dict | None:
    """Normalize a partition-TRANSFORM spec (Iceberg-style hidden
    partitioning: the reference's consumers filter raw Snowflake
    columns and rely on micro-partition pruning; here the analog is a
    declared transform of the partition-source column, so predicates
    on the RAW column prune transformed partitions with no derived
    column materialized in the data).  Accepted forms::

        None                    identity (the classic value-is-the-key)
        "days" / "month" / "hour"
        ("bucket", 16)          crc32(value) % 16
        ("truncate", 4)         string prefix / integer width bucket
        {"fn": ..., "n": ...}   the stored manifest form

    Returns the canonical dict or None for identity."""
    if partition is None:
        return None
    if isinstance(partition, str):
        spec = {"fn": partition}
    elif isinstance(partition, (tuple, list)):
        spec = {"fn": partition[0], "n": partition[1]}
    elif isinstance(partition, dict):
        spec = {k: partition[k] for k in ("fn", "n") if k in partition}
    else:
        raise ValueError(f"unsupported partition spec {partition!r}")
    fn = spec.get("fn")
    if fn not in _PT_FNS:
        raise ValueError(
            f"unknown partition transform {fn!r}; supported: {_PT_FNS}")
    if fn in ("bucket", "truncate"):
        n = spec.get("n")
        if not isinstance(n, int) or n <= 0:
            raise ValueError(
                f"partition transform {fn!r} needs a positive integer "
                f"width/count, got {spec.get('n')!r}")
    else:
        spec.pop("n", None)
    return spec


def _pt_expr(pt: dict | None, ts: str, dtype: str | None):
    """The Spark-side partition-value expression for one row — the
    write-path twin of :func:`_pt_value` (both MUST floor identically
    or pruning would silently skip live partitions).  ``dtype`` is the
    source column's simpleString (drives truncate's int-vs-string
    form)."""
    c = F.col(ts)
    if pt is None:
        return c.cast("string")
    fn = pt["fn"]
    if fn == "days":
        return F.date_format(c.cast("timestamp"), "yyyy-MM-dd")
    if fn == "month":
        return F.date_format(c.cast("timestamp"), "yyyy-MM")
    if fn == "hour":
        # dash separator, not a space: partition values become Hive
        # directory names and _stage rejects anything the writer
        # escapes
        return F.date_format(c.cast("timestamp"), "yyyy-MM-dd-HH")
    if fn == "bucket":
        # crc32 (java.util.zip.CRC32 == zlib.crc32) over the CAST
        # string — the one hash both the JVM writer and the Python
        # planner can compute bit-identically without a UDF
        return F.pmod(F.crc32(c.cast("string").cast("binary")),
                      F.lit(pt["n"])).cast("string")
    if fn == "truncate":
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return (c - F.pmod(c, F.lit(pt["n"]))).cast("long") \
                .cast("string")
        return F.substring(c, 1, pt["n"])
    raise ValueError(f"unknown partition transform {fn!r}")


def _pt_value(pt: dict | None, v, dtype: str | None = None) -> str:
    """Python-side (planner) twin of :func:`_pt_expr`: the partition
    value a raw column value lands in.  Floor semantics — monotone for
    the date/truncate family, so transformed RANGE bounds stay a
    correct superset: r <= hi  =>  floor(r) <= floor(hi)."""
    s = str(v)
    if pt is None:
        return s
    fn = pt["fn"]
    if fn == "days":
        return s[:10]
    if fn == "month":
        return s[:7]
    if fn == "hour":
        # ISO 'YYYY-MM-DD HH:MM:SS' / 'YYYY-MM-DDTHH:MM'; a date-only
        # bound floors to hour 00 of that day
        hh = s[11:13] if len(s) >= 13 else "00"
        return f"{s[:10]}-{hh}"
    if fn == "bucket":
        import zlib
        return str(zlib.crc32(s.encode("utf-8")) % pt["n"])
    if fn == "truncate":
        if dtype in ("tinyint", "smallint", "int", "bigint") \
                or isinstance(v, int):
            return str(int(v) - int(v) % pt["n"])
        return s[:pt["n"]]
    raise ValueError(f"unknown partition transform {fn!r}")


def _owning_pt(mf: dict | None = None) -> Column:
    """The partition value that OWNS a row's file, parsed from the
    ``__rel`` address a ``keep_pos`` read attaches — NOT recomputed
    from row data.  Under partition-spec evolution a row's active-
    transform value and its file's directory value can differ (the
    file predates the evolution); deletion vectors, update addresses
    and rewrite drop-lists must always target the owning ref, so
    every such site derives the value HERE.  Identical to the
    recomputed expression on single-era tables (the directory was
    written from that expression).

    ``mf`` extends the parse to ZERO-COPY ADOPTED files
    (:meth:`ManifestTable.adopt`), whose paths predate the engine's
    ``__pt=`` txn layout: a hive-layout adoptee's owning value comes
    from its recorded ``<adopted_dirs>=<value>`` directory; a
    file-aligned (shape-A) adoptee's comes from the row's own
    partition-source column — exact there because adoption proved
    every file single-valued and the spec is identity/single-era; an
    unpartitioned table's rows all own ``__all``.  Engine-written
    paths always win (the ``__pt=`` parse runs first)."""
    c = F.regexp_extract(F.col("__rel"), "__pt=([^/]+)/", 1)
    if mf is None:
        return c
    if mf.get("ts") is None:
        return F.lit("__all")
    fallback = None
    adn = mf.get("adopted_dirs")
    if adn:
        fallback = F.regexp_extract(
            F.col("__rel"),
            "(?:^|/)" + re.escape(adn) + "=([^/]+)/", 1)
    elif mf.get("pt") is None and mf.get("pt_history") is None:
        fallback = F.col(mf["ts"]).cast("string")
    if fallback is not None:
        c = F.when(c != "", c).otherwise(fallback)
    return c


def _adopted_fill(mf: dict, rel: str) -> dict | None:
    """Constant-fill dict for one file of a dirs-adopted table: the
    partition column exists only as a ``col=value`` directory name in
    the file's relative path, so every Python read path (batch,
    stream, CDF) must reconstruct it per task.  None for tables
    without ``adopted_dirs`` and for paths carrying no such component
    — engine-written files hold the column on disk, and a fill for a
    present column is ignored by the readers anyway."""
    adn = mf.get("adopted_dirs")
    if not adn:
        return None
    pre = f"{adn}="
    for comp in rel.split("/"):
        if comp.startswith(pre):
            inv = {p: l for l, p in (mf.get("colmap") or {}).items()}
            return {inv.get(adn, adn): comp[len(pre):]}
    return None


def _pt_eras(mf: dict) -> list:
    """The table's partition-spec history: list of specs indexed by
    era id (``pid``), newest = active.  Tables that never evolved
    have a single era — their refs carry no pid and every path
    behaves exactly as before evolution existed."""
    hist = mf.get("pt_history")
    if hist is not None:
        return hist
    return [mf.get("pt")]


def _pt_where_spec(pt: dict | None, spec, dtype: str | None = None):
    """Map a pruning spec on the RAW partition-source column to a spec
    over TRANSFORMED partition values, or None when the transform
    cannot prune it (a range probe against a hash bucket).  IN-lists
    transform value-by-value (floor(v) IS v's partition — equality is
    always prunable); ranges transform both bounds (floor is monotone,
    the kept set stays a superset of the matching rows' partitions)."""
    if pt is None:
        return spec
    if isinstance(spec, (list, set, frozenset)):
        return [_pt_value(pt, v, dtype) for v in spec]
    lo, hi = spec
    if pt["fn"] == "bucket":
        return None     # hash order is unrelated to value order
    return (None if lo is None else _pt_value(pt, lo, dtype),
            None if hi is None else _pt_value(pt, hi, dtype))


def _range_contains(stat: list, lo, hi) -> bool:
    """True iff [stat_lo, stat_hi] lies FULLY inside [lo, hi] (None =
    open bound).  Containment claims must be conservative the other
    way around from skipping: uncertain comparisons answer False
    (file gets read), never a wrong metadata count."""
    slo, shi = stat
    try:
        if lo is not None and slo < _norm(lo):
            return False
        if hi is not None and shi > _norm(hi):
            return False
    except TypeError:
        return False
    return True


def _ranges_disjoint(stat: list, lo, hi) -> bool:
    """True iff [stat_lo, stat_hi] cannot intersect [lo, hi] (None =
    open bound).  Mixed numeric/string stats (schema drift) compare
    conservatively: never skip."""
    slo, shi = stat
    try:
        if lo is not None and shi < _norm(lo):
            return True
        if hi is not None and slo > _norm(hi):
            return True
    except TypeError:
        return False
    return False


# -- per-file Bloom membership index ---------------------------------
#
# Zone maps answer RANGE questions; they are blind to MEMBERSHIP.  On a
# high-cardinality key whose values are scattered across files (an id
# lookup over unsorted history — the needle-in-haystack shape), every
# file's [min, max] spans most of the domain, so min/max skipping keeps
# everything and a point read still opens O(all files).  A small
# per-file Bloom filter on the key column turns that into
# O(matching files + FPR·files): probe the filter, open only files
# that can contain the value.  Same role as Parquet's optional
# bloom_filter pages and Delta's BLOOMFILTER INDEX, built here at the
# manifest layer so `scan_plan` can skip without touching the file.
#
# Hashing contract (the part that must agree between the JVM build
# side and the driver probe side): the value's Spark
# ``cast(col as string)`` rendering is md5-hashed; h1 = the first 15
# hex digits, h2 = hex digits 17..31 (both < 2^60, so the
# Kirsch-Mitzenmacher positions h1 + i·step never overflow a long);
# step = (h2 mod m) | 1 (odd, so with m a power of two the probe walk
# cycles the whole table).  md5 + conv are Spark built-ins and
# hashlib.md5 reproduces them bit-for-bit driver-side — choosing md5
# over the faster xxhash64 is deliberate: Spark's xxhash64 is not
# reproducible outside the JVM without reimplementing its internal
# per-type byte layouts, and a hash mismatch here is a silent
# wrong-skip.  Bloom columns are restricted to types whose cast-string
# rendering is unambiguous on both sides (_BLOOM_TYPES); the probe
# canonicalizes through the PINNED schema type (_bloom_canon), so the
# zone-map layer's numeric leniency ('07' == 7) cannot become a bloom
# miss on a file that contains 7.
#
# Storage: per file, per column, a SPARSE map {word index -> signed
# 64-bit word} holding only words with bits set (ints survive JSON
# exactly).  NULLs never enter the filter — an equality probe for a
# non-NULL value cannot match a NULL row, so skipping stays correct —
# and a column bloom that exists but is EMPTY means "no non-NULL
# values in this file at build time": provably no equality match,
# skip.  A file entry with NO bloom for a column (written before
# set_bloom, or by a writer without the spec) is never bloom-skipped.

#: column simpleString types admissible as bloom columns: exactly the
#: domains where Spark's cast-to-string and the driver-side canon
#: agree byte-for-byte.  Floats/doubles/decimals/timestamps are
#: excluded (formatting subtleties), booleans are pointless.
_BLOOM_TYPES = {"string", "int", "bigint", "smallint", "tinyint",
                "date"}


def _bloom_positions(canon: str, m: int, k: int) -> list[int]:
    """The k probe bit positions for one canonicalized value."""
    import hashlib

    hx = hashlib.md5(canon.encode("utf-8")).hexdigest()
    h1 = int(hx[0:15], 16)
    h2 = int(hx[16:31], 16)
    step = (h2 % m) | 1
    return [(h1 + i * step) % m for i in range(k)]


def _canon_path(uri: str) -> str:
    """An ``input_file_name()`` URI as the driver's absolute path."""
    import urllib.parse

    return os.path.abspath(
        urllib.parse.unquote(urllib.parse.urlparse(uri).path))


def _bloom_words(df: DataFrame, vals: dict, m: int, k: int) -> tuple:
    """THE JVM-side Bloom build, the hashing contract
    :func:`_bloom_positions` replays on the driver: for each ``vals``
    key, its string Column over ``df`` (a generator such as
    ``explode`` is allowed; NULLs set no bits) goes md5 → two 60-bit
    halves → Kirsch-Mitzenmacher positions → ``bit_or`` of 64-bit word
    masks grouped by (file, key, word).  Returns ``(seen, words)``.

    ``seen`` is the absolute path of every file the job read — the
    COVERAGE GATE: a filter may only be attached to a file the build
    provably read under the path the driver resolves, or a
    normalization miss (scheme, symlink, case) would leave a populated
    file with an empty filter that probes then wrong-skip.  This
    distinct-file pass also names files whose values are all NULL.
    ``words`` is one ``(path, key, word, bits)`` per SET word: at most
    files · keys · m/64 rows, never O(rows)."""
    seen = {_canon_path(r["_f"]) for r in
            df.select(F.input_file_name().alias("_f"))
            .distinct().collect()}
    hexc = F.md5(F.col("_v"))
    probes = reduce(DataFrame.unionByName, [
        df.select(F.input_file_name().alias("_f"), F.lit(key).alias("_c"),
                  v.alias("_v"))
        for key, v in vals.items()])
    rows = (probes.select(
                "_f", "_c",
                F.conv(F.substring(hexc, 1, 15), 16, 10)
                 .cast("long").alias("_h1"),
                F.conv(F.substring(hexc, 17, 15), 16, 10)
                 .cast("long").alias("_h2"))
            .where(F.col("_h1").isNotNull())
            .withColumn("_step", F.expr(f"pmod(_h2, {m}) | 1L"))
            .withColumn("_pos", F.explode(F.expr(
                f"transform(sequence(0, {k - 1}), "
                f"i -> pmod(_h1 + i * _step, {m}))")))
            .groupBy("_f", "_c",
                     F.expr("cast(_pos div 64 as int)").alias("_w"))
            .agg(F.expr("bit_or(shiftleft(1L, cast(pmod(_pos, 64) "
                        "as int)))").alias("_b"))
            .collect())
    return seen, [(_canon_path(r["_f"]), r["_c"], str(r["_w"]), r["_b"])
                  for r in rows]


#: sentinel: the probe value provably matches NO row of the column's
#: domain (e.g. 'abc' or 7.5 probing a bigint column) — distinct from
#: None = "cannot render faithfully, keep the file".
_BLOOM_NOTHING = object()

#: partition-level COARSE bloom width (bits).  Each partition ref in
#: the commit object carries its files' blooms folded down to this
#: size (word-wise OR by index mod width/64 — membership-preserving
#: because the fold width divides the per-file ``m``), so a point
#: probe can drop whole partitions WITHOUT opening their shards: the
#: metadata cost of a membership probe falls from O(#partitions)
#: shard reads to O(candidate partitions).  16 longs ≈ 400 JSON bytes
#: per partition per column keeps the commit object small at 10^4
#: partitions.  A coarse filter SATURATES when a partition holds
#: >~150 distinct keys (every bit set → prunes nothing, still
#: correct); it earns its bytes exactly when partitions are
#: key-sparse — the fine-partitioned 100 TB shape — and the per-file
#: filters behind the shard keep full precision either way.
_PBLOOM_BITS = 1024


def _fold_bloom(entries: list[dict], cols: list[str]) -> dict | None:
    """Partition-level coarse bloom: per column, OR every file's words
    folded to ``min(m, _PBLOOM_BITS)`` bits, where (m, k) is the spec
    the files' filters were BUILT under — every entry records it as
    ``mk`` (r9 ADVICE item 1: probing a filter with parameters other
    than its build parameters silently wrong-skips live rows).  The
    fold therefore requires ONE shared recorded ``mk`` across the
    partition's files: a partition mixing specs (a respec'd table's
    blind appends), legacy entries without a recorded spec, or any
    file lacking a filter for a column folds to nothing — read more,
    never wrong.  Returns ``{"mk": [m, k], "cols": {col: words}}`` so
    the probe side replays the exact build parameters, or None."""
    mks = {tuple(e.get("mk", ())) for e in entries}
    if len(mks) != 1:
        return None             # mixed or partially-legacy specs
    (mk,) = mks
    if not mk:
        return None             # legacy files: spec unrecorded
    m, k = mk
    pm = min(m, _PBLOOM_BITS)
    nwords = pm // 64
    out: dict[str, dict] = {}
    for c in cols:
        if any("bloom" not in e or c not in e["bloom"]
               for e in entries):
            continue
        folded: dict[int, int] = {}
        for e in entries:
            for iw, w in e["bloom"][c].items():
                j = int(iw) % nwords
                folded[j] = folded.get(j, 0) | w
        out[c] = {str(j): w for j, w in sorted(folded.items())}
    return {"mk": [m, k], "cols": out} if out else None


def _bloom_canon(value, dtype: str):
    """``value`` rendered exactly as Spark's ``cast(col as string)``
    renders a column value of ``dtype``; ``_BLOOM_NOTHING`` when the
    value provably lies outside the domain (matches no row);  None
    when it cannot be rendered faithfully (caller keeps the file —
    conservative, never a wrong skip)."""
    if value is None:
        return None
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        if isinstance(value, bool):
            return None
        if isinstance(value, float):
            return (str(int(value)) if value.is_integer()
                    else _BLOOM_NOTHING)
        try:
            return str(int(str(value), 10))
        except ValueError:
            return _BLOOM_NOTHING
    if dtype == "date":
        s = str(value)
        import re as _re
        return s if _re.fullmatch(r"\d{4}-\d{2}-\d{2}", s) else None
    if dtype == "string":
        return value if isinstance(value, str) else None
    return None


def _bloom_excluded(bloom_col: dict, values, dtype: str,
                    m: int, k: int, fold: int | None = None) -> bool:
    """True = NO probe value can be present in the file (every value
    misses the filter or lies outside the column's domain).
    Conservative: any value that cannot be canonicalized faithfully
    keeps the file (never a wrong skip).  ``fold`` probes a
    partition-level coarse filter (:func:`_fold_bloom`): positions
    reduce mod the fold width, matching the build-side word fold."""
    for v in values:
        canon = _bloom_canon(v, dtype)
        if canon is _BLOOM_NOTHING:
            continue            # outside the domain: matches nothing
        if canon is None:
            return False        # unrenderable: keep the file
        hit = True
        for pos in _bloom_positions(canon, m, k):
            if fold:
                pos %= fold
            w = bloom_col.get(str(pos // 64))
            if w is None or not (
                    (w & 0xFFFFFFFFFFFFFFFF) >> (pos % 64)) & 1:
                hit = False
                break
        if hit:
            return False        # this value may be present
    return True


class ManifestTable:
    """A partitioned parquet table whose live files are resolved
    through an atomically-swapped, stats-bearing manifest."""

    def __init__(self, root: str, ts: str | None,
                 backend: CommitBackend | None = None,
                 branch: str | None = None,
                 partition=None):
        #: partition column name, or None for an UNPARTITIONED table
        #: (small dims, key-only marts): all rows live in one pseudo-
        #: partition "__all"; every op keeps its contract, partition
        #: pruning simply never applies.
        self.root = root
        self._ts_ctor = ts
        self._ts_known = False   # committed column resolved (see ts)
        #: optional partition TRANSFORM over ``ts`` (hidden
        #: partitioning, :func:`_pt_norm_spec`): the directory value is
        #: fn(ts) instead of ts itself, and scan_plan prunes from
        #: predicates on the RAW column by flooring their bounds.
        #: Persisted in the manifest ("pt"), so readers opening the
        #: table plain pick it up without being told.
        self._pt_ctor = _pt_norm_spec(partition)
        if self._pt_ctor is not None and ts is None:
            raise ValueError(
                "a partition transform needs a source column (ts)")
        #: the storage-dependent commit primitive (protocol step 3).
        #: Backends interoperate on one table: every backend's publish
        #: is gated on the final name's absence, so mixed writers
        #: (e.g. a posix maintenance job beside coordinator-backed
        #: ingest) still serialize correctly.
        self.backend = backend or PosixLinkBackend()
        #: bound branch name, or None for the main (published) chain.
        #: A branch-bound table routes EVERY manifest name through
        #: ``branch-{name}.manifest-{v}.json`` — a namespace main's
        #: ``max(manifest-*)`` listing never sees — so the whole write
        #: surface (append, merge, delete_where, compact, set_bloom,
        #: add_columns, restore, changes …) works on the branch
        #: unchanged and stays INVISIBLE to main readers until
        #: :meth:`publish_branch` fast-forwards it (write-audit-
        #: publish, §2.11).
        self.branch = branch
        if branch is not None and not _BRANCH_RE.fullmatch(branch):
            raise ValueError(
                f"branch name {branch!r} must match "
                f"{_BRANCH_RE.pattern} (it becomes a filename segment)")

    @property
    def ts(self) -> str | None:
        """The partition column.  Like the transform (:meth:`_pt`),
        the committed manifest's is authoritative: a handle opened
        with ``ts=None`` (the plain-reader form) uses it, and a ctor
        column that CONTRADICTS it raises — honoring either would
        commit ``ts: None`` and stage every row into ``__all`` beside
        the table's real partitions.  The ctor's applies only before
        v1 exists.  Resolved once: the column never changes after v1
        (``evolve_partition`` keeps its source column)."""
        if not self._ts_known:
            try:
                committed = self._raw().get("ts")
            except (FileNotFoundError, OSError):
                return self._ts_ctor
            if self._ts_ctor is not None and self._ts_ctor != committed:
                raise ValueError(
                    f"{self.root}: table committed with partition "
                    f"column {committed!r} but opened declaring "
                    f"{self._ts_ctor!r}")
            self._ts, self._ts_known = committed, True
        return self._ts

    # -- manifest plumbing -------------------------------------------

    def _mdir(self) -> str:
        return os.path.join(self.root, _MANIFEST_DIR)

    def _mprefix(self) -> str:
        """Manifest filename prefix for this table's chain: the main
        chain's ``manifest-`` or a branch's ``branch-{name}.manifest-``
        (sorts AFTER no 8-digit version could, and fails main's
        ``startswith('manifest-')`` filters, so branch snapshots can
        never be mistaken for published ones)."""
        if self.branch is None:
            return "manifest-"
        return f"branch-{self.branch}.manifest-"

    def _mname(self, version: int) -> str:
        return f"{self._mprefix()}{version:08d}.json"

    def _current_name(self) -> str:
        """The live manifest = the highest committed version ON THIS
        TABLE'S CHAIN (main or bound branch).  One driver-side listing
        of ``_manifests/`` (a handful of small files between
        vacuums)."""
        pre = self._mprefix()
        names = [m for m in os.listdir(self._mdir())
                 if m.startswith(pre) and m.endswith(".json")
                 and m[len(pre):-len(".json")].isdigit()]
        if not names:
            where = (f"branch {self.branch!r} of {self.root}"
                     if self.branch else self.root)
            raise FileNotFoundError(f"no committed manifest in {where}")
        return max(names)

    def _raw(self, name: str | None = None) -> dict:
        """The commit object as stored: ``partitions`` maps each value
        to a small REF dict ({shard, files, rows, bytes, stats}), NOT
        to hydrated file entries.  Every internal path works on this —
        shards are opened only for partitions actually touched/kept.

        Validates the on-disk format version before anything touches
        the body: a manifest written by an older/newer layout would
        otherwise fail deep inside iteration (or, worse, let vacuum
        compute an empty live set and delete live data — r7 ADVICE
        item 3).  Unsupported formats raise a clear error naming the
        version found."""
        name = name or self._current_name()
        with open(os.path.join(self._mdir(), name)) as f:
            mf = json.load(f)
        fmt = mf.get("format")
        if fmt != _FORMAT:
            raise RuntimeError(
                f"{self.root}/{_MANIFEST_DIR}/{name}: manifest format "
                f"{fmt!r} is not supported by this reader (wants "
                f"{_FORMAT}); upgrade/downgrade the table explicitly "
                f"instead of guessing at the layout")
        return mf

    def _entries(self, mf: dict, value: str) -> list[dict]:
        """Hydrate one partition's file entries from its shard (or
        pass through an in-flight list during commit assembly)."""
        ref = mf["partitions"][value]
        if isinstance(ref, list):
            return ref
        with open(os.path.join(self.root, ref["shard"])) as f:
            return json.load(f)

    def _pt(self, mf: dict | None = None) -> dict | None:
        """Effective partition-transform spec.  The committed
        manifest's is authoritative (readers need no ctor hint); the
        ctor's applies only on the create path, before v1 exists.  A
        ctor spec that CONTRADICTS a committed table raises — silently
        honoring it would write rows into directories scan_plan prunes
        under the other spec (wrong results, not just slow ones)."""
        if mf is None:
            try:
                mf = self._raw()
            except (FileNotFoundError, OSError):
                return self._pt_ctor
        stored = mf.get("pt")
        if stored:
            if self._pt_ctor is not None and self._pt_ctor != stored:
                raise ValueError(
                    f"{self.root}: table committed with partition "
                    f"transform {stored} but opened declaring "
                    f"{self._pt_ctor}")
            return stored
        if self._pt_ctor is not None:
            raise ValueError(
                f"{self.root}: table committed WITHOUT a partition "
                f"transform; a transform cannot be retrofitted onto "
                f"existing directories (recreate or clone)")
        return None

    def _era_touched(self, updates: DataFrame, mf: dict,
                     touched: list) -> list:
        """Partition-evolution expansion of a merge's touched set:
        live partitions written under OLDER specs (or era-mixed) that
        could hold the updates' rows, found by transforming the
        update rows under each distinct historical spec.  One tiny
        distinct-collect per distinct old spec — era count is the
        number of evolve_partition calls ever made, not data-sized.
        Single-era tables return the set unchanged."""
        hist = mf.get("pt_history")
        if not hist or len(hist) < 2 or self.ts is None:
            return touched
        live = mf["partitions"]
        active = len(hist) - 1
        dtype = dict(updates.dtypes).get(self.ts)
        extra: set = set()
        seen = {json.dumps(hist[active], sort_keys=True)}
        for spec in hist[:-1]:
            key = json.dumps(spec, sort_keys=True)
            if key in seen:
                continue            # same transform as one already done
            seen.add(key)
            vals = {str(r[0]) for r in updates.select(
                _pt_expr(spec, self.ts, dtype)).distinct().collect()}
            for v in vals:
                ref = live.get(v)
                if not isinstance(ref, dict):
                    continue
                rpid = ref.get("pid", active)
                if rpid == -1 or (
                        0 <= rpid < len(hist)
                        and json.dumps(hist[rpid],
                                       sort_keys=True) == key):
                    extra.add(v)
        if not extra:
            return touched
        return sorted(set(touched) | extra)

    def _mixed_pid_for(self, base_ref, hist) -> int | None:
        """pid an ``{"entries": ...}`` form should carry when ACTIVE-
        era adds merge into ``base_ref``: None = let _commit stamp the
        active era (base is already active-era or its spec is equal),
        -1 = the ref becomes era-MIXED and scan_plan must never
        partition-prune it (stats still skip — conservative)."""
        if not hist or not isinstance(base_ref, dict):
            return None
        active = len(hist) - 1
        old = base_ref.get("pid", active)
        if old == active:
            return None
        if 0 <= old < len(hist) and hist[old] == hist[active]:
            return None
        return -1

    def _rebuild_ref(self, snap: dict, value: str, adds=(), dv_add=(),
                     dv_rows_add: int = 0) -> dict | None:
        """THE rule for changing one partition of ``snap``: ``adds``
        (new file entries) join its files, ``dv_add`` sidecars
        (``dv_rows_add`` dead rows) join its deletion vectors.  The
        rebuilt ref carries the base's DVs (they address its kept
        files — dropping them would resurrect rows) and its text index
        (it still covers the kept files; added ones are read
        conservatively), and is marked era-MIXED when active-era adds
        land in an older-era ref (:meth:`_mixed_pid_for`).  Returns
        None when every row is dead (the caller drops the partition).
        With adds the result is the ``{"entries": ...}`` form
        :meth:`_commit` shards; a DV-only change keeps the shard."""
        base = snap["partitions"].get(value)
        if base is None:
            return {"entries": list(adds)} if adds else None
        dv = list(base.get("dv", [])) + list(dv_add)
        dv_rows = base.get("dv_rows", 0) + dv_rows_add
        if not adds:
            if dv_rows >= base["rows"]:
                return None
            return {**base, "dv": dv, "dv_rows": dv_rows}
        form: dict = {"entries": self._entries(snap, value) + list(adds)}
        if dv:
            form["dv"], form["dv_rows"] = dv, dv_rows
        if base.get("tidx"):
            form["tidx"] = base["tidx"]
        pid = self._mixed_pid_for(base, snap.get("pt_history"))
        if pid is not None:
            form["pid"] = pid
        return form

    def _rebuilt_parts(self, snap: dict, adds: dict,
                       dv: dict | None = None,
                       dv_rows: dict | None = None) -> dict:
        """``snap``'s partitions map with every partition named in
        ``adds`` / ``dv`` rebuilt through :meth:`_rebuild_ref` (fully
        dead ones dropped); the rest carry by ref."""
        dv, dv_rows = dv or {}, dv_rows or {}
        parts = dict(snap["partitions"])
        for v in sorted(set(adds) | set(dv)):
            ref = self._rebuild_ref(snap, v, adds.get(v, ()),
                                    dv.get(v, ()), dv_rows.get(v, 0))
            if ref is None:
                parts.pop(v, None)
            else:
                parts[v] = ref
        return parts

    def _transact(self, build, snap: dict | None = None,
                  attempts: int = _COMMIT_ATTEMPTS) -> dict | None:
        """THE optimistic-concurrency loop every write runs: read the
        live snapshot, ``build(snap)`` the commit, publish it through
        :meth:`_commit`; on :class:`CommitConflict` re-read and rebuild.

        ``build`` returns the :meth:`_commit` keywords it decides — the
        new ``partitions`` map (default: the snapshot's, for metadata-
        only ops) and any top-level key it changes; everything else
        carries from the snapshot.  It returns None to commit nothing.
        Each op's conflict rule lives in its ``build``: rebuilding from
        the fresh ``snap`` is a rebase, and :func:`_check_unchanged`
        raises when staged work went stale.  ``snap`` seeds the first
        attempt with a snapshot the caller already read.
        ``attempts=1`` is the single-attempt form (the conflict
        propagates); otherwise, after ``attempts`` lost publishes, a
        :class:`CommitConflict` naming the count is raised.  Returns
        the committed keywords, or None."""
        for _ in range(attempts):
            if snap is None:
                snap = self._raw()
            out = build(snap)
            if out is None:
                return None
            try:
                self._commit(**{"partitions": snap["partitions"], **out},
                             base_version=snap["version"])
                return out
            except CommitConflict:
                if attempts == 1:
                    raise
                snap = None
        raise CommitConflict(
            f"{self.root}: gave up after {attempts} commit attempts, "
            f"each lost to a competing writer; retry the operation")

    def _pt_col(self, df: DataFrame | None = None,
                mf: dict | None = None):
        """The partition-value Column for this table's rows (every
        write path's single derivation point).  ``df`` (or the
        manifest schema when df is None) supplies the source column's
        dtype — truncate's int-vs-string form needs it."""
        if self.ts is None:
            return F.lit("__all")
        if df is not None:
            dtype = dict(df.dtypes).get(self.ts)
        else:
            dtype = {n: t for n, t in
                     ((mf or {}).get("schema") or [])}.get(self.ts)
        return _pt_expr(self._pt(mf), self.ts, dtype)

    def manifest(self, name: str | None = None) -> dict:
        """The live manifest (or a named historical one — time
        travel), HYDRATED: ``partitions`` maps each value to its full
        file-entry list.  This is the inspection/compat surface; it
        loads every shard, so hot paths (scan_plan, stat_bounds,
        history, every write path) use :meth:`_raw` instead."""
        mf = self._raw(name)
        return {**mf,
                "partitions": {v: self._entries(mf, v)
                               for v in mf["partitions"]}}

    def version(self) -> int:
        return self._raw()["version"]

    def version_at(self, ts) -> int:
        """Latest version committed AT OR BEFORE ``ts`` (Delta's
        ``timestampAsOf`` resolution): epoch seconds, or an ISO-8601
        string — a naive string reads as UTC, deterministically,
        never the driver's local zone.  Commit stamps come from the
        commit body (``committed_at``); manifests from before the
        stamp existed fall back to file mtime.  Raises if every
        surviving version is newer than ``ts`` (or history was
        vacuumed past it)."""
        if isinstance(ts, str):
            import datetime as _dt

            d = _dt.datetime.fromisoformat(ts)
            if d.tzinfo is None:
                d = d.replace(tzinfo=_dt.timezone.utc)
            ts = d.timestamp()
        pre, best = self._mprefix(), None
        for m in sorted(os.listdir(self._mdir())):
            if not (m.startswith(pre) and m.endswith(".json")
                    and m[len(pre):-len(".json")].isdigit()):
                continue
            body = self._raw(m)
            at = body.get("committed_at")
            if at is None:
                at = os.path.getmtime(os.path.join(self._mdir(), m))
            if at <= ts:
                v = body["version"]
                best = v if best is None else max(best, v)
        if best is None:
            raise ValueError(
                f"{self.root}: no committed version at or before "
                f"{ts} (too early, or history vacuumed past it)")
        return best

    def _check_schema(self, df: DataFrame, mf: dict) -> None:
        want = mf.get("schema")
        if not want:
            return
        got = _schema_sig(df)
        if sorted(got) != sorted(want):     # column order is free
            extra = [tuple(c) for c in got if c not in want]
            missing = [tuple(c) for c in want if c not in got]
            raise SchemaMismatch(
                f"write schema differs from the table's pinned schema: "
                f"extra/retyped {extra}, missing {missing}")

    def add_columns(self, new_cols: list[tuple[str, str]]) -> None:
        """Metadata-only schema evolution (Delta's ``ALTER TABLE ADD
        COLUMNS`` shape): append (name, simpleString type) pairs to
        the pinned schema with ONE manifest commit — no data rewrite,
        no file touched.  Files written before the evolution simply
        lack the column; every read path supplies the pinned schema to
        the parquet reader, which reconciles by name and yields NULL
        there (:meth:`_read_files`).  Writes after the evolution must
        carry the full evolved schema (the usual
        :class:`SchemaMismatch` gate).  Lossy retyping stays
        forbidden (footer stats/zone maps would lie about live data);
        dropping is :meth:`drop_column`, widening
        :meth:`widen_column`.

        A new name that collides with a PHYSICAL name still present
        inside live files — a column dropped earlier
        (:attr:`retired`), or the physical side of a rename — binds
        to a FRESH physical name through the colmap instead (the
        Delta column-mapping re-add rule): old files NULL-fill the
        fresh physical on read, so dropped data can never
        resurrect under a reused name."""
        def build(mf: dict) -> dict:
            schema = [list(c) for c in (mf.get("schema") or [])]
            have = {n for n, _ in schema}
            colmap = dict(mf.get("colmap") or {})
            occupied = self._occupied_physicals(mf)
            for n, t in new_cols:
                if n in have:
                    raise SchemaMismatch(
                        f"column {n!r} already exists in the pinned "
                        f"schema")
                if n in occupied:
                    k = 1
                    while f"{n}__p{k}" in occupied:
                        k += 1
                    colmap[n] = f"{n}__p{k}"
                    occupied.add(f"{n}__p{k}")
                else:
                    occupied.add(n)
                have.add(n)
                schema.append([n, t])
            return {"schema": schema, "colmap": colmap or None}

        self._transact(build)

    @staticmethod
    def _occupied_physicals(mf: dict) -> set:
        """Every physical name a LIVE file may carry data under:
        each schema column's physical (colmap-resolved), every
        colmap value, and the ``retired`` ledger (drop_column's
        ghosts).  THE collision rule for binding a new logical
        column to a physical name — shared by :meth:`add_columns`
        and the DSv2 mergeSchema guard so the two can never drift
        and silently re-open the dropped-data resurrection hole."""
        colmap = mf.get("colmap") or {}
        return ({colmap.get(n, n)
                 for n, _ in (mf.get("schema") or [])}
                | set(colmap.values())
                | set(mf.get("retired") or []))

    def drop_column(self, col: str) -> None:
        """METADATA-ONLY column drop (VERDICT r13 "Next round" #3 —
        the Delta column-mapping ``DROP COLUMN`` semantics): one
        manifest commit removes ``col`` from the pinned schema; no
        data file is touched.  Reads stop projecting the column the
        moment the commit publishes — parquet column pruning means
        the dropped bytes are never even fetched — and writes must
        stop carrying it (the usual :class:`SchemaMismatch` gate).
        Time travel resolves each version's OWN schema+colmap, so a
        pinned pre-drop read still serves the column.  At 100 TB
        this turns "remove a column" from a full-table rewrite into
        one JSON write; a later :meth:`compact` physically sheds the
        bytes as a side effect of rewriting whatever it touches.

        The column's PHYSICAL name is recorded in the commit
        object's ``retired`` ledger: live files still hold its data,
        so a later :meth:`add_columns` of the same name must bind to
        a fresh physical name (see there) or the dropped values
        would resurrect.  Guards: the partition column cannot be
        dropped (its values key every shard ref); a column
        referenced by a live CHECK / NOT NULL / range constraint
        must have the constraint dropped first (Delta's rule — a
        constraint over a ghost column is unenforceable); stored
        ANALYZE stats for the column drop with it."""
        def build(mf: dict) -> dict:
            schema = [list(c) for c in (mf.get("schema") or [])]
            names = [n for n, _ in schema]
            if col not in names:
                raise SchemaMismatch(
                    f"drop_column: no column {col!r} in the pinned "
                    f"schema {names}")
            if col == mf.get("ts"):
                raise ValueError(
                    f"drop_column: {col!r} is the partition column — "
                    f"its values key every shard ref; dropping it is "
                    f"a table rewrite, not metadata")
            for cname, c in sorted((mf.get("constraints")
                                    or {}).items()):
                hit = (c.get("col") == col
                       or (c["kind"] == "sql" and re.search(
                           rf"(?<![A-Za-z0-9_]){re.escape(col)}"
                           rf"(?![A-Za-z0-9_])", c["expr"])))
                if hit:
                    raise SchemaMismatch(
                        f"drop_column: constraint {cname!r} "
                        f"references {col!r}; drop_constraint it "
                        f"first")
            colmap = dict(mf.get("colmap") or {})
            physical = colmap.pop(col, col)
            out: dict = {
                "schema": [c for c in schema if c[0] != col],
                "colmap": colmap or None,
                "retired": sorted(set(mf.get("retired") or [])
                                  | {physical})}
            bspec = mf.get("bloom")
            if bspec and physical in bspec.get("cols", []):
                # bloom spec keys are physical; shrink the spec (the
                # per-file filters for the column stay in the shard
                # entries, harmlessly unprobed)
                cols = [c for c in bspec["cols"] if c != physical]
                out["bloom"] = ({**bspec, "cols": cols} if cols
                                else None)
            cs = mf.get("colstats")
            if cs and col in cs.get("columns", {}):
                out["colstats"] = {
                    **cs, "columns": {k: v for k, v
                                      in cs["columns"].items()
                                      if k != col}}
            return out

        self._transact(build)

    #: safe metadata-only type widenings (Delta/Iceberg type
    #: promotion set for parquet physical compatibility: INT32-family
    #: upcasts and float->double; Spark's parquet reader and the DSv2
    #: Arrow path both upcast these losslessly at scan)
    _WIDENINGS = {"tinyint": {"smallint", "int", "bigint"},
                  "smallint": {"int", "bigint"},
                  "int": {"bigint"},
                  "float": {"double"}}

    def rename_column(self, old: str, new: str) -> None:
        """METADATA-ONLY column rename (VERDICT r10 #6 — Delta's
        column-mapping analog): one manifest commit renames the
        LOGICAL column while every existing data file keeps its
        physical layout untouched.  The commit object's ``colmap``
        maps logical name -> stable PHYSICAL name (the name the
        column was first written under); every read path — snapshot
        reads, merges, CDF, the DSv2 batch/stream readers — reads
        files by physical name and aliases to the logical one, and
        every write path stages files UNDER the physical name so the
        on-disk layout stays uniform forever.  Pruning is untouched:
        ``scan_plan`` translates predicate columns logical->physical
        before probing zone maps / footer stats / Bloom filters
        (whose keys are physical by construction).  Time travel
        resolves each version's OWN schema+colmap, so a pinned read
        serves the old name.  At 100 TB this is the difference
        between a rename costing one JSON write and costing a
        full-table rewrite.

        The PARTITION column cannot be renamed (its name is baked
        into every shard ref and directory layout; that rename is a
        rewrite by nature) — raises instead of pretending."""
        def build(mf: dict) -> dict:
            schema = [list(c) for c in (mf.get("schema") or [])]
            names = [n for n, _ in schema]
            if old not in names:
                raise SchemaMismatch(
                    f"rename_column: no column {old!r} in the pinned "
                    f"schema {names}")
            if new in names:
                raise SchemaMismatch(
                    f"rename_column: column {new!r} already exists")
            if old == mf.get("ts"):
                raise ValueError(
                    f"rename_column: {old!r} is the partition column "
                    f"— its name is baked into every shard ref; "
                    f"renaming it is a table rewrite, not metadata")
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
                raise ValueError(
                    f"rename_column: {new!r} is not a plain "
                    f"identifier")
            colmap = dict(mf.get("colmap") or {})
            physical = colmap.pop(old, old)
            if physical != new:
                colmap[new] = physical
            for c in schema:
                if c[0] == old:
                    c[0] = new
            return {"schema": schema, "colmap": colmap or None}

        self._transact(build)

    def widen_column(self, col: str, new_type: str) -> None:
        """METADATA-ONLY type widening (VERDICT r10 #6 — Iceberg
        type-promotion analog): one commit re-pins ``col`` to a
        strictly wider type from :attr:`_WIDENINGS`; no file is
        touched.  Old (narrow) files read correctly through every
        path — Spark's parquet reader upcasts INT32-family and
        float->double natively under the pinned DDL, and the DSv2
        Arrow reader casts per-batch — while writes after the widen
        must carry the wide type (the usual loud
        :class:`SchemaMismatch` gate), so new files are physically
        wide and the mix is permanent-but-correct; a
        :meth:`compact` materializes uniformity.  Narrowing and any
        lossy retype stay forbidden: footer stats/zone maps would
        lie about live data."""
        new_type = new_type.strip().lower()

        def build(mf: dict) -> dict:
            schema = [list(c) for c in (mf.get("schema") or [])]
            cur = {n: t for n, t in schema}
            if col not in cur:
                raise SchemaMismatch(
                    f"widen_column: no column {col!r} in the pinned "
                    f"schema {sorted(cur)}")
            allowed = self._WIDENINGS.get(cur[col], set())
            if new_type not in allowed:
                raise SchemaMismatch(
                    f"widen_column: {cur[col]} -> {new_type} is not "
                    f"a safe widening (allowed: "
                    f"{sorted(allowed) or 'none'})")
            if col == mf.get("ts"):
                raise ValueError(
                    "widen_column: the partition column's values are "
                    "manifest keys; retype it with a rewrite")
            for c in schema:
                if c[0] == col:
                    c[1] = new_type
            return {"schema": schema}

        self._transact(build)

    def evolve_partition(self, partition) -> None:
        """PARTITION-SPEC EVOLUTION (Iceberg's headline metadata op,
        VERDICT r10 "What's missing" #4's second half — column mapping
        landed in r11): change the table's partition transform WITHOUT
        rewriting a byte of data.  Existing partitions keep their
        directories and are stamped with their era id (``pid``); new
        writes land under the new spec; ``scan_plan`` prunes EACH ref
        under the spec its directories were written with, so a
        predicate on the raw source column keeps pruning both eras.
        Rewriting ops (merge/compact/delete rewrite) MIGRATE the
        partitions they touch to the active spec as a side effect —
        the Iceberg behavior: evolution is instant, migration is lazy.

        At 100 TB this is the operation that turns "we partitioned by
        day but should have bucketed by account" from a multi-week
        table rewrite into one metadata commit.

        ``partition`` accepts the :func:`_pt_norm_spec` forms; None
        evolves BACK to identity.  The source column (``ts``) cannot
        change — that is a different table.  Time travel to
        pre-evolution versions reads under the old spec (the old
        manifest carries no history and behaves exactly as before)."""
        new = _pt_norm_spec(partition)
        if self.ts is None:
            raise ValueError(
                "evolve_partition: unpartitioned table (ts=None) has "
                "no spec to evolve")

        def build(mf: dict) -> dict:
            hist = mf.get("pt_history")
            if hist is None:
                hist = [mf.get("pt")]
            if new == hist[-1]:
                raise ValueError(
                    f"evolve_partition: {new} is already the active "
                    f"spec")
            prev_active = len(hist) - 1
            parts: dict = {}
            for v, ref in mf["partitions"].items():
                r = dict(ref)
                # refs written before history existed belong to the
                # era that was active at their write: the last one
                r.setdefault("pid", prev_active)
                parts[v] = r
            return {"partitions": parts, "pt_history": hist + [new],
                    "pt": new}

        self._transact(build)
        # this handle follows its own evolution (a ctor spec pinned at
        # open would now read as a stale-writer mismatch — that guard
        # is for OTHER handles)
        self._pt_ctor = new

    # -- table constraints (Delta CHECK / NOT NULL analog) -----------

    @staticmethod
    def _constraint_pred(c: dict) -> str:
        """The SQL predicate a ROW must satisfy under constraint ``c``
        (logical column names; True/NULL = pass, False = violation —
        SQL-standard CHECK semantics, same as Delta's)."""
        if c["kind"] == "sql":
            return c["expr"]
        if c["kind"] == "not_null":
            return f"`{c['col']}` IS NOT NULL"
        parts = []
        if c.get("lo") is not None:
            parts.append(f"`{c['col']}` >= {_sql_lit(c['lo'])}")
        if c.get("hi") is not None:
            parts.append(f"`{c['col']}` <= {_sql_lit(c['hi'])}")
        return " AND ".join(parts) or "true"

    def _enforce_constraints(self, spark: SparkSession, cons: dict,
                             staged: dict[str, list],
                             schema: list, cm: dict) -> None:
        """Validate freshly-staged files against the table's CHECK /
        NOT NULL constraints, METADATA-FIRST: a range check is PROVEN
        per file by its footer zone map (min >= lo and max <= hi) and
        DISPROVEN by it too — a footer min/max IS a value some row
        holds, so a bound outside the range raises with ZERO data I/O;
        NOT NULL is proven by the footer null counts the entries
        already carry (``nn``).  Only files with an unproven
        constraint — always the case for free-form SQL checks — are
        scanned, ONCE, with the violation predicates in a single
        filtered pass over the new data (never the table).  At 100 TB
        an append of well-formed data therefore pays no enforcement
        scan at all for range/NOT NULL constraints.  SQL-standard
        semantics: a NULL check expression PASSES (declare NOT NULL
        to reject nulls).  Raises :class:`ConstraintViolation` before
        anything commits; the staged txn ages out as a vacuum
        orphan.  ``schema`` and ``cm`` are the staged files' logical
        (name, type) signature and column mapping."""
        scan: list[dict] = []
        scan_names: set[str] = set()
        for value, entries in staged.items():
            for e in entries:
                unproven: list[str] = []
                for name, c in sorted(cons.items()):
                    if c["kind"] == "sql":
                        unproven.append(name)
                        continue
                    p = cm.get(c["col"], c["col"])
                    if c["kind"] == "not_null":
                        if p not in e.get("nn", []):
                            unproven.append(name)
                        continue
                    st = e.get("stats", {}).get(p)
                    if st is None:
                        unproven.append(name)
                        continue
                    mn, mx = st
                    lo, hi = c.get("lo"), c.get("hi")
                    try:
                        if lo is not None and mn < lo:
                            raise ConstraintViolation(
                                f"{self.root}: range check {name!r} "
                                f"violated (proven by footer stats, no "
                                f"scan): staged file {e['path']} has "
                                f"{c['col']} min={mn!r} < {lo!r}; "
                                f"nothing was committed")
                        if hi is not None and mx > hi:
                            raise ConstraintViolation(
                                f"{self.root}: range check {name!r} "
                                f"violated (proven by footer stats, no "
                                f"scan): staged file {e['path']} has "
                                f"{c['col']} max={mx!r} > {hi!r}; "
                                f"nothing was committed")
                    except TypeError:
                        unproven.append(name)   # incomparable: scan
                        continue
                if unproven:
                    scan.append(self._file_record({}, e))
                    scan_names.update(unproven)
        if not scan:
            return
        df = self._read_files(spark, scan, {"schema": schema, "colmap": cm},
                              keep_pos=True)
        viol = [(n, self._constraint_pred(cons[n]))
                for n in sorted(scan_names)]
        flagged = df.select(
            "__rel",
            *[F.expr(f"coalesce(NOT ({p}), false)").alias(f"__v{i}")
              for i, (_, p) in enumerate(viol)])
        rows = (flagged.filter(reduce(
                    lambda a, b: a | b,
                    [F.col(f"__v{i}") for i in range(len(viol))]))
                .limit(5).collect())
        if rows:
            broke = sorted({viol[i][0] for r in rows
                            for i in range(len(viol)) if r[f"__v{i}"]})
            files = sorted({r["__rel"] for r in rows})[:3]
            raise ConstraintViolation(
                f"{self.root}: write violates constraint(s) {broke} "
                f"(example file(s): {files}); nothing was committed")

    def _validate_live(self, spark: SparkSession, name: str,
                       pred: str) -> None:
        """One-time full validation a NEW constraint must pass over
        the EXISTING table before it can be adopted (Delta's ALTER
        TABLE ADD CONSTRAINT behavior): the table is always clean
        under its own constraints, which is what lets write-time
        enforcement check only the new rows."""
        bad = (self.read(spark)
               .filter(F.expr(f"coalesce(NOT ({pred}), false)"))
               .limit(5).count())
        if bad:
            raise ConstraintViolation(
                f"{self.root}: cannot add constraint {name!r}: "
                f"existing rows violate {pred!r}")

    def _adopt_constraint(self, name: str, spec: dict) -> None:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"constraint name {name!r} is not a "
                             f"plain identifier")

        def build(mf: dict) -> dict:
            cons = dict(mf.get("constraints") or {})
            if name in cons:
                raise ValueError(
                    f"constraint {name!r} already exists on "
                    f"{self.root}")
            return {"constraints": {**cons, name: spec}}

        self._transact(build)

    def add_check(self, spark: SparkSession, name: str,
                  expr: str) -> None:
        """Delta's ``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``:
        validate the expression over EXISTING data (one filtered
        read), then adopt it with one metadata-only commit.  Every
        subsequent write — append, overwrite, merge, update, the DSv2
        ``df.write.format("manifest")`` path — enforces it on the new
        rows before its commit (:meth:`_enforce_constraints`), so the
        table can never transition to a violating state.  Free-form
        SQL checks always cost one scan of the NEWLY WRITTEN data per
        commit; prefer :meth:`add_range_check` where the shape allows
        — those enforce from footer stats alone."""
        self._validate_live(spark, name, expr)
        self._adopt_constraint(name, {"kind": "sql", "expr": expr})

    def add_range_check(self, spark: SparkSession, name: str,
                        col: str, lo=None, hi=None) -> None:
        """A structured ``lo <= col <= hi`` CHECK (either bound may be
        None).  Semantically just a CHECK, but enforcement is
        METADATA-ONLY for well-formed writes: each staged file's
        footer zone map proves (or disproves) the range without
        scanning a row — at scale the difference between "every
        commit re-reads its output" and "every commit reads a few KB
        of footers"."""
        if lo is None and hi is None:
            raise ValueError("add_range_check needs at least one "
                             "bound")
        mf = self._raw()
        names = {n for n, _ in (mf.get("schema") or [])}
        if names and col not in names:
            raise SchemaMismatch(
                f"add_range_check: no column {col!r} in the pinned "
                f"schema {sorted(names)}")
        spec = {"kind": "range", "col": col, "lo": lo, "hi": hi}
        self._validate_live(spark, name, self._constraint_pred(spec))
        self._adopt_constraint(name, spec)

    def set_not_null(self, spark: SparkSession, col: str) -> None:
        """``ALTER TABLE ALTER COLUMN col SET NOT NULL``: validated
        over existing data once, then enforced per write from the
        footer null counts the manifest already records (``nn``) —
        zero data I/O for clean writes.  Constraint name is
        ``not_null_{col}`` (drop via :meth:`drop_constraint`)."""
        mf = self._raw()
        names = {n for n, _ in (mf.get("schema") or [])}
        if names and col not in names:
            raise SchemaMismatch(
                f"set_not_null: no column {col!r} in the pinned "
                f"schema {sorted(names)}")
        spec = {"kind": "not_null", "col": col}
        name = f"not_null_{col}"
        self._validate_live(spark, name, self._constraint_pred(spec))
        self._adopt_constraint(name, spec)

    def drop_constraint(self, name: str) -> None:
        """Remove a constraint with one metadata-only commit (no
        validation needed: dropping can only widen the legal
        state)."""
        def build(mf: dict) -> dict:
            cons = dict(mf.get("constraints") or {})
            if name not in cons:
                raise ValueError(
                    f"no constraint {name!r} on {self.root} "
                    f"(have: {sorted(cons)})")
            del cons[name]
            return {"constraints": cons or None}

        self._transact(build)

    def constraints_spec(self) -> dict:
        """The live constraint set, name -> spec dict."""
        return dict(self._raw().get("constraints") or {})

    def meta_constraints(self, spark: SparkSession) -> DataFrame:
        """CONSTRAINTS inspection table: one row per live constraint —
        name, kind, column (range/not_null kinds), and the row
        predicate it enforces.  Commit-object read only."""
        rows = [(n, c["kind"], c.get("col"),
                 self._constraint_pred(c))
                for n, c in sorted(self.constraints_spec().items())]
        return local_frame(
            spark, rows, "name string, kind string, column string, "
                         "predicate string")

    def set_bloom(self, cols: list[str], m: int = 1 << 16,
                  k: int = 7) -> None:
        """Pin a per-file Bloom membership index spec (Delta's
        ``BLOOMFILTER INDEX`` analog) with ONE metadata-only commit:
        every file staged from now on carries a per-column filter of
        ``m`` bits (power of two) probed ``k`` ways, and
        :meth:`scan_plan` bloom-skips files for IN-list predicates on
        these columns.  Files written BEFORE the spec have no filter
        and are simply never bloom-skipped (read more, never wrong) —
        a :meth:`compact` rewrites them with filters.  Sizing: ~10
        bits per expected distinct value per file keeps the false-
        positive rate ≈1% at k=7; the default 65,536 bits (8 KB/file/
        column) covers ~6,500 distinct values per file."""
        if not cols:
            raise ValueError("set_bloom needs at least one column")
        if m < 64 or (m & (m - 1)) != 0:
            raise ValueError(f"bloom m={m} must be a power of two >= 64")
        if not (1 <= k <= 16):
            raise ValueError(f"bloom k={k} out of range 1..16")

        def build(mf: dict) -> dict:
            prev = mf.get("bloom")
            if prev and (prev["m"], prev["k"]) != (m, k):
                # RE-parameterizing is safe only because every filter
                # is probed under the (m, k) recorded WITH it (r9
                # ADVICE item 1) — a legacy file whose filter predates
                # the per-file record has no such anchor, and probing
                # it under the new spec silently wrong-skips its live
                # rows.  Refuse until a compact() rebuilds those
                # filters.
                for v in mf["partitions"]:
                    for e in self._entries(mf, v):
                        if "bloom" in e and "mk" not in e:
                            raise SchemaMismatch(
                                f"set_bloom(m={m}, k={k}) would change "
                                f"the filter parameters while "
                                f"{e['path']!r} carries a filter built "
                                f"under the previous spec "
                                f"(m={prev['m']}, k={prev['k']}) with "
                                f"no per-file record; probing it under "
                                f"the new parameters silently skips "
                                f"live rows — compact() first to "
                                f"rebuild filters, or keep the "
                                f"existing m/k")
            dtypes = {n: t for n, t in (mf.get("schema") or [])}
            for c in cols:
                if c not in dtypes:
                    raise SchemaMismatch(
                        f"bloom column {c!r} not in the pinned schema")
                if dtypes[c] not in _BLOOM_TYPES:
                    raise SchemaMismatch(
                        f"bloom column {c!r} has type {dtypes[c]!r}; "
                        f"supported: {sorted(_BLOOM_TYPES)} (types "
                        f"whose cast-to-string rendering is "
                        f"reproducible on the probe side)")
            # the spec pins PHYSICAL names: files are written (and
            # their filters keyed) under physical names, and scan_plan
            # probes after its logical->physical predicate translation
            cm = mf.get("colmap") or {}
            return {"bloom": {"cols": sorted(cm.get(c, c) for c in cols),
                              "m": m, "k": k}}

        self._transact(build)

    #: commit-object keys that carry from the base snapshot to the next
    #: commit unless the committing op passes them as a keyword (None
    #: removes one).  Table identity and metadata every op must
    #: preserve without knowing about it: the partition transform and
    #: its era history, the bloom spec, the column mapping and its
    #: retired-physical ledger, constraints, ANALYZE stats, and the
    #: adopted-hive-layout marker (correctness-bearing for reads: the
    #: partition column of adopted files exists only as directory
    #: names).
    _CARRIED = ("pt", "pt_history", "bloom", "colmap", "constraints",
                "colstats", "retired", "adopted_dirs")

    def _commit(self, partitions: dict[str, list | dict],
                base_version: int,
                streams: dict[str, int] | None = None,
                schema: list | None = None,
                cdf: list | None = None,
                cdf_kind: str = "classified",
                row_preserving: bool = False,
                **meta) -> None:
        """Steps 2+3 of the protocol: write a shard file for every
        partition given as a file-entry LIST or an ``{"entries": ...}``
        form (= changed by this commit; the form's ``dv``/``dv_rows``/
        ``tidx``/``pid`` ride into the new ref), carry every ref dict
        through untouched (= unchanged; shards are immutable, so
        carrying the ref is free), then write the complete commit
        object to a hidden temp file and publish it as
        ``manifest-{base+1}.json`` through the table's
        :class:`CommitBackend`.  The publish is the single atomic
        commit point AND the optimistic-concurrency gate: a competing
        writer that committed from the same base already owns that
        name, so our publish raises :class:`CommitConflict` — the
        competing snapshot stays fully live, nothing of ours (shards
        included — they become aged-out vacuum orphans) is visible.

        The carry rule: ``streams`` and ``schema`` default (None) to
        the base snapshot's, and so does every :attr:`_CARRIED` key
        not passed in ``meta``.  ``cdf``/``cdf_kind`` and
        ``row_preserving`` describe this commit only.  Ops do not call
        this directly: :meth:`_transact` runs the retry loop (bounded
        by ``_COMMIT_ATTEMPTS``) around it; only the v1 commits of
        ``create``/``adopt``/``clone`` publish once from base 0."""
        unknown = sorted(set(meta) - set(self._CARRIED))
        if unknown:
            raise TypeError(f"_commit: unknown commit keys {unknown}")
        # ONE read of the base commit object feeds every carry below.
        # v1 has no base: the ctor's partition transform is its spec
        base: dict = {"pt": self._pt_ctor}
        if base_version > 0:
            try:
                base = self._raw(self._mname(base_version))
            except (FileNotFoundError, OSError):
                # base vacuumed mid-commit: carry through the LIVE
                # manifest instead — the carried keys include
                # correctness-bearing ones (the partition transform,
                # the adopted-dirs marker, the branch cut point), so
                # dropping them would publish a snapshot that writes
                # and prunes under the wrong layout.  A newer live head
                # makes the publish below conflict anyway; a table with
                # no readable manifest at all fails the commit.
                base = self._raw()
        carried = {k: meta[k] if k in meta else base.get(k)
                   for k in self._CARRIED}
        hist = carried["pt_history"]
        # the spec HISTORY (evolve_partition): when it exists every
        # newly-staged ref is stamped with the active era id so
        # readers prune each ref under the spec its directories were
        # actually written with
        active_pid = (len(hist) - 1) if hist else None
        sdir = os.path.join(self.root, _SHARD_DIR)
        os.makedirs(sdir, exist_ok=True)
        refs: dict[str, dict] = {}
        for value, es in partitions.items():
            if isinstance(es, dict) and "entries" not in es:
                refs[value] = es
                continue
            carry: dict = {}
            if isinstance(es, dict):
                # {"entries": [...], "dv": [...], ...} — a rebuilt ref
                # (_rebuild_ref): the file list changed (new shard)
                # but the DV sidecars / text index / era stamp ride
                # along
                carry = {k: es[k] for k in ("dv", "dv_rows", "tidx",
                                            "pid")
                         if k in es}
                es = es["entries"]
            shard_rel = os.path.join(
                _SHARD_DIR, f"shard-{uuid.uuid4().hex[:16]}.json")
            with open(os.path.join(self.root, shard_rel), "w") as f:
                f.write(json.dumps(es, sort_keys=True))
                f.flush()
                os.fsync(f.fileno())
            nn_sets = [set(e.get("nn", [])) for e in es]
            refs[value] = {"shard": shard_rel, "files": len(es),
                           "rows": sum(e["rows"] for e in es),
                           "bytes": sum(e["bytes"] for e in es),
                           "stats": _fold_stats(es),
                           # columns null-free in EVERY file: the
                           # partition-level precondition for
                           # metadata-only counts (count_where)
                           "nn": (sorted(set.intersection(*nn_sets))
                                  if nn_sets else [])}
            if active_pid is not None:
                # staged under the ACTIVE spec unless the caller
                # marked the ref otherwise (era-mixed rebuilds pass
                # pid=-1 through carry, which overwrites this)
                refs[value]["pid"] = active_pid
            refs[value].update(carry)
            bloom = carried["bloom"]
            if bloom and es:
                # partition-level coarse bloom (_PBLOOM_BITS): lets a
                # membership probe drop the partition without opening
                # its shard — O(candidate partitions) metadata reads.
                # The fold carries the files' OWN build (m, k), which
                # may lag the table spec after a set_bloom respec.
                pb = _fold_bloom(es, bloom["cols"])
                if pb is not None:
                    refs[value]["bloom"] = pb
        import time as _time

        version = base_version + 1
        # wall-clock commit stamp (epoch seconds, ms-rounded) — the
        # timestampAsOf resolution domain; informational only, never
        # part of any correctness decision (clocks skew).  STRICTLY
        # MONOTONIC along the chain: two commits landing in the same
        # millisecond would otherwise make version_at(stamp of the
        # earlier) resolve to the LATER snapshot for every timestamp
        # consumer (SQL TIMESTAMP AS OF, the DSv2 option) — the
        # ADVICE r14 #4 flake, fixed at the mechanism.  v1: clock wins
        stamp = round(_time.time(), 3)
        prev = base.get("committed_at")
        if prev is not None and stamp <= prev:
            stamp = round(prev + 0.001, 3)
        body = {"version": version, "ts": self.ts, "format": _FORMAT,
                "partitions": refs,
                "streams": (base.get("streams", {}) if streams is None
                            else streams),
                "schema": ((base.get("schema") or []) if schema is None
                           else schema),
                "committed_at": stamp}
        if self.branch is not None:
            # carry the branch's cut point (recorded by create_branch,
            # inherited commit-to-commit): publish_branch needs it to
            # decide whether the fast-forward is still a fast-forward
            body["branch"] = base["branch"]
        body.update((k, v) for k, v in carried.items() if v)
        if cdf is not None:
            # this commit's row-level change-set file list, inline (a
            # single write's change files — small); readable via
            # ``changes(version)`` while this manifest survives vacuum.
            # kind "classified": files physically carry _change_type
            # (merge pre/post images, delete rows).  kind
            # "insert_files": the entries ARE the commit's staged DATA
            # files (appends are pure inserts, so the feed costs zero
            # extra bytes); changes() adds the constant column.
            body["cdf"] = cdf
            body["cdf_kind"] = cdf_kind
        if row_preserving:
            # maintenance rewrite that provably changed no visible row
            # (compact / OPTIMIZE / compact_dvs) — Delta's
            # dataChange=false analog.  The change-feed range walk
            # (table_changes) skips these commits like metadata-only
            # ones instead of demanding a cdf capture they could never
            # carry (they rewrite files, so their partitions map DOES
            # differ from the base — the map-identity proof used for
            # ANALYZE/DDL commits cannot apply).
            body["row_preserving"] = True
        self._publish_body(self._mname(version), body)           # COMMIT

    # -- data staging ------------------------------------------------

    def _stage(self, df: DataFrame,
               cluster_by: list[str] | None = None,
               max_records_per_file: int | None = None,
               drop_after_sort: list[str] | None = None,
               bloom="auto", colmap="auto",
               enforce: bool = True) -> dict[str, list]:
        """Stage a txn directory; returns {partition value -> [file
        entries]}.  Nothing staged is reader-visible until _commit.

        The repartition on the partition column is load-bearing at
        scale: without it every shuffle task writes a sliver into
        every partition directory (2,500 dates x 32 tasks = 80k files
        for a 10-year daily table — the sf1 sweep hit exactly this),
        and the read side pays one task per sliver.  Hash-clustering
        by partition value first yields ONE file per partition
        directory (``max_records_per_file`` caps file size for fat
        partitions).

        ``cluster_by`` sorts rows on the named columns WITHIN each
        partition before writing; combined with ``max_records_per_file``
        a fat partition splits into consecutive sorted chunks, so each
        file's footer [min, max] on the cluster columns is a tight,
        near-disjoint range — that is what turns ``scan_plan``'s stats
        skipping from "partition-grade" into "file-grade" on a second
        dimension (the Delta OPTIMIZE ZORDER / Iceberg sort-order
        effect, one dimension, zero new machinery)."""
        txn = f"txn-{uuid.uuid4().hex[:12]}"
        txn_dir = os.path.join(self.root, "data", txn)
        try:
            live_mf = self._raw()
        except (FileNotFoundError, OSError):
            live_mf = None      # create path: no manifest yet
        pt = self._pt_col(df, live_mf)
        staged = df.withColumn(_PT, pt).repartition(F.col(_PT))
        cm = ((live_mf or {}).get("colmap") or {}) \
            if colmap == "auto" else (colmap or {})
        if cm:
            # files are ALWAYS written under stable PHYSICAL names
            # (rename_column's invariant: the on-disk layout stays
            # uniform forever; readers alias back to logical)
            for logical, physical in cm.items():
                if logical in staged.columns and physical != logical:
                    staged = staged.withColumnRenamed(logical,
                                                      physical)
            cluster_by = ([cm.get(c, c) for c in cluster_by]
                          if cluster_by else cluster_by)
        if cluster_by:
            staged = staged.sortWithinPartitions(_PT, *cluster_by)
        if drop_after_sort:
            # helper sort keys (the z-value) sort the rows but must not
            # land in the files or the pinned schema
            staged = staged.drop(*drop_after_sort)
        writer = staged.write.partitionBy(_PT)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile",
                                   str(max_records_per_file))
        writer.parquet(txn_dir)
        out: dict[str, list] = {}
        for d in sorted(os.listdir(txn_dir)):
            if not d.startswith(_PT + "="):
                continue
            value = d[len(_PT) + 1:]
            # the manifest keys partitions by the RAW string value
            # (merge/scan compare against it), but the writer names
            # directories with Hive ESCAPING and a NULL sentinel — a
            # key that went through either would silently miss every
            # raw-value lookup (merge would then replace, not merge,
            # the partition: data loss).  Fail loudly at the write
            # boundary instead; partition values must be
            # filesystem-plain, non-NULL strings (dates, months, ids).
            if "%" in value or value == "__HIVE_DEFAULT_PARTITION__":
                raise SchemaMismatch(
                    f"unsupported partition value {value!r}: NULL or "
                    f"characters the writer escapes; derive a plain "
                    f"partition column (date/month/id) instead")
            leaf = os.path.join(txn_dir, d)
            entries = []
            for fn in sorted(os.listdir(leaf)):
                if fn.endswith(".parquet"):
                    rel = os.path.join("data", txn, d, fn)
                    entries.append(
                        _file_entry(os.path.join(leaf, fn), rel))
            out[value] = entries
        cons = (live_mf or {}).get("constraints")
        if cons and enforce:
            # constraint gate BEFORE the bloom build: a doomed write
            # must not pay for an index it will never commit.  Rows
            # being re-staged from the table itself (compaction, CDF
            # change files, the kept side of a rewrite delete) pass
            # enforce=False — they were validated when first written,
            # and CDF pre-images are change RECORDS, not table rows.
            self._enforce_constraints(df.sparkSession, cons, out,
                                      _schema_sig(df), cm)
        spec = None
        if bloom == "auto":
            spec = (live_mf or {}).get("bloom")
        elif isinstance(bloom, dict):
            spec = bloom
        if spec and any(es for es in out.values()):
            self._attach_blooms(df.sparkSession, txn_dir, out, spec)
        return out

    def _attach_blooms(self, spark: SparkSession, txn_dir: str,
                       staged: dict[str, list], spec: dict) -> None:
        """Build each staged file's per-column Bloom words over the
        txn directory with :func:`_bloom_words`; only files its
        coverage pass read get a filter.  The cost is
        one extra columnar read of the staged key columns per commit —
        the standard price of building a write-time index (Delta's
        bloom index and Parquet's bloom pages pay the same); tables
        without a spec skip this entirely."""
        m, k = spec["m"], spec["k"]
        df = spark.read.parquet(txn_dir)
        present = [c for c in spec["cols"] if c in df.columns]
        if not present:
            return
        seen, words = _bloom_words(
            df, {c: F.col(c).cast("string") for c in present}, m, k)
        by_path: dict[str, dict] = {}
        unmatched = 0
        for entries in staged.values():
            for e in entries:
                abspath = os.path.abspath(
                    os.path.join(self.root, e["path"]))
                if abspath not in seen:
                    unmatched += 1   # zero-row file or path-scheme
                    continue         # miss: never bloom-skipped
                by_path[abspath] = e
                # computed-but-empty ≠ absent: {} means "no non-NULL
                # values in this file", which a probe may skip on
                e["bloom"] = {c: {} for c in present}
                # the spec the filter is BUILT under, recorded with it
                # (r9 ADVICE item 1): the probe side replays exactly
                # these parameters even after a set_bloom respec
                e["mk"] = [m, k]
        if unmatched and not by_path:
            raise RuntimeError(
                f"bloom build could not account for ANY of the "
                f"{unmatched} staged files under {txn_dir!r}: the "
                f"job's file paths do not resolve to the staged "
                f"paths (scheme/normalization mismatch) — refusing "
                f"to commit an index that would never skip")
        for path, c, w, b in words:
            e = by_path.get(path)
            if e is not None:
                e["bloom"][c][w] = b

    # -- read path ---------------------------------------------------

    def _dvs(self, ref: dict) -> list[dict]:
        """A partition ref's DV sidecar entries, ``path`` absolute."""
        return [{**d, "path": os.path.join(self.root, d["path"])}
                for d in ref.get("dv", [])]

    def _file_record(self, mf: dict, entry: dict,
                     dvs: list | None = None) -> dict:
        """One planned file as every reader consumes it — the DSv2
        batch, stream and change-feed readers and the JVM reader
        :meth:`_read_files` alike: absolute ``path``; ``rel``, the
        entry's OWN path — the DV row-address namespace (absolute for
        a shallow clone's borrowed files, which ``os.path.relpath``
        would turn into a "../.." string no sidecar address matches);
        ``bytes`` from the commit object; ``dv``, the sidecar entries
        (:meth:`_dvs`, with their commit-object ``bytes``) of the ref
        that owns the file — none for a file no sidecar can address,
        such as a staged or change-set file; and ``fill``, the
        adopted-dir constant columns (:func:`_adopted_fill`)."""
        rel = entry["path"]
        return {"path": os.path.join(self.root, rel), "rel": rel,
                "bytes": entry.get("bytes"), "dv": dvs or [],
                "fill": _adopted_fill(mf, rel)}

    def _part_records(self, mf: dict, values) -> list[dict]:
        """The :meth:`_file_record` of every file of the live partitions
        ``values`` — what :meth:`scan_plan` emits for them with nothing
        pruned."""
        out: list[dict] = []
        for v in values:
            dvs = self._dvs(mf["partitions"][v])
            out.extend(self._file_record(mf, e, dvs)
                       for e in self._entries(mf, v))
        return out

    def scan_plan(self, where: dict | None = None,
                  manifest_name: str | None = None) -> dict:
        """Resolve the file set for a read, applying partition pruning
        (partition-value bounds when ``where`` constrains the partition
        column) then footer-stats skipping for every other constrained
        column.  ``where`` maps column -> a (lo, hi) RANGE tuple
        (either bound None for open) or a list/set of exact values
        (IN-list — the dashboard key-lookup shape; partition equality
        is numeric-aware, so '07' matches 7).  Skipping is
        conservative: the kept set is a superset
        of the matching rows' files; callers still apply the exact
        predicate.  Runs on the commit object alone until a partition
        survives both partition-value pruning and the partition-level
        zone maps — only then is its shard opened for file-granular
        skipping.  On a table with a bloom spec (:meth:`set_bloom`),
        IN-list specs on bloom columns additionally probe each
        surviving file's membership filter — the skip that zone maps
        cannot make when a high-cardinality key is hash-scattered
        across files (every [min, max] spans the domain, but each file
        holds few of the values).  A partition-level COARSE bloom in
        each commit-object ref (``_PBLOOM_BITS``-bit fold of its
        files' filters) runs first, dropping whole partitions
        shard-unopened when they are key-sparse.  When the commit
        object ALSO carries CMS frequency sketches
        (``analyze(frequencies=...)``) for every bloom-probed column,
        the probes run estimated-RAREST spec first — the rare key
        excludes most files, so the commoner probes never run for
        them; same kept set, fewer filter lookups (VERDICT r14 #4 —
        stored stats consumed in planning).  Returns {"files":
        [...], "partitions": [surviving values], "skipped": n,
        "bloom_skipped": n, "bloom_probes": n, "probe_order":
        [cols], "pbloom_pruned": n,
        "partitions_pruned": n, "shards_opened": n} so tests can pin
        the metadata AND data I/O plans (``bloom_skipped`` counts
        within ``skipped``; ``pbloom_pruned`` partitions' files count
        within ``bloom_skipped``; ``bloom_probes`` counts individual
        filter probes, the sketch-ordering win).

        ``records`` is the same kept set resolved for a reader, one
        :meth:`_file_record` per file, all from the ONE commit object
        read here: the plan of the DSv2 readers and of the JVM reader
        :meth:`_read_files` alike."""
        where = where or {}
        mf = self._raw(manifest_name)
        cm = mf.get("colmap") or {}
        if cm and where:
            # predicates arrive on LOGICAL names; zone maps, footer
            # stats and bloom filters are keyed by the stable PHYSICAL
            # names files were written under — translate once here
            where = {cm.get(c, c): spec for c, spec in where.items()}
        kept: list[str] = []
        kept_parts: list[str] = []
        skipped = 0
        bloom_skipped = 0
        bloom_probes = 0
        pruned_parts = 0
        pbloom_pruned = 0
        shards_opened = 0
        bspec = mf.get("bloom")
        # sketch-driven PROBE ORDER (VERDICT r14 "Next round" #4 —
        # the stored stats' first planning consumer): when the commit
        # object carries CMS frequency sketches for bloom-probed
        # columns, probe the estimated-RAREST spec first.  A rare key
        # lives in few files, so its probe excludes most of them and
        # the commoner (least exclusionary) probes never run for the
        # excluded ones — fewer filter-word lookups per planned scan,
        # measurable via the returned ``bloom_probes``.  Without
        # sketches the caller's declaration order stands (the honest
        # no-stats fallback: ordering is a pure optimization, the
        # kept file set is identical either way).
        probe_pairs = [(c, s) for c, s in where.items()
                       if bspec and c in bspec["cols"]
                       and isinstance(s, (list, set, frozenset))]
        if len(probe_pairs) > 1:
            from .functions import sketches
            cstats = (mf.get("colstats") or {}).get("columns", {})
            inv = {p: l for l, p in cm.items()}
            est = {}
            for c, s in probe_pairs:
                grid = cstats.get(inv.get(c, c), {}).get("cms")
                if grid is None:
                    est = None          # any unsketchd column: keep
                    break               # the declaration order whole
                est[c] = sum(sketches.cms_estimate_py(grid, v)
                             for v in s)
            if est is not None:
                probe_pairs.sort(key=lambda cs: est[cs[0]])
        # keyed PHYSICAL: bloom canon must match the type the value
        # was hashed under at write time (where-keys are physical
        # after the translation above)
        dtypes = {cm.get(n, n): t for n, t in (mf.get("schema") or [])}
        raw_spec = None if mf["ts"] is None else where.get(mf["ts"])
        era_specs = None
        if raw_spec is not None:
            # hidden partitioning: predicates arrive on the RAW source
            # column; floor them onto the transformed directory values
            # ONCE PER SPEC ERA (partition evolution leaves refs from
            # older specs live — each prunes under its own transform;
            # a None entry = that era's transform cannot prune this
            # spec shape)
            tdt = dtypes.get(cm.get(mf["ts"], mf["ts"]))
            era_specs = [_pt_where_spec(e, raw_spec, tdt)
                         for e in _pt_eras(mf)]
        for value, ref in mf["partitions"].items():
            nfiles = ref["files"]
            ts_spec = None
            if era_specs is not None:
                pid = ref.get("pid", len(era_specs) - 1)
                ts_spec = (era_specs[pid]
                           if 0 <= pid < len(era_specs) else None)
            if ts_spec is not None and _pt_excluded(value, ts_spec):
                pruned_parts += 1
                skipped += nfiles
                continue
            # partition-level zone maps (folded in the commit object):
            # a provably-disjoint spec drops the whole partition
            # WITHOUT opening its shard — the metadata half of skipping
            pstats = ref.get("stats", {})
            if any(col in pstats
                   and _stats_excluded(pstats[col], spec)
                   for col, spec in where.items()):
                skipped += nfiles
                continue
            # partition-level COARSE bloom (the membership analog of
            # the zone-map fold): a probe no coarse filter can satisfy
            # drops the partition shard-unopened — without this, a
            # membership probe on a hash-scattered key would open
            # EVERY shard (its zone maps span the domain), O(#parts)
            # metadata reads at 10^4 partitions
            if bspec and "bloom" in ref:
                rb = ref["bloom"]
                # every fold records the (m, k) its files' filters
                # were BUILT under (r9 ADVICE item 1) — probe with
                # exactly those parameters, never the current table
                # spec; a legacy fold without a recorded spec (pre-mk
                # commits, where a respec was impossible) probes under
                # the table spec it was necessarily built with
                if set(rb) == {"mk", "cols"} and isinstance(
                        rb["mk"], list):
                    fcols, (fm, fk) = rb["cols"], rb["mk"]
                else:
                    fcols, fm, fk = rb, bspec["m"], bspec["k"]
                fold = min(fm, _PBLOOM_BITS)
                dropped = False
                for col, spec in probe_pairs:
                    if col not in fcols:
                        continue
                    bloom_probes += 1
                    if _bloom_excluded(
                            fcols[col], spec,
                            dtypes.get(col, ""), fm, fk, fold=fold):
                        dropped = True
                        break
                if dropped:
                    skipped += nfiles
                    bloom_skipped += nfiles
                    pbloom_pruned += 1
                    continue
            entries = self._entries(mf, value)
            shards_opened += 1
            dvs = self._dvs(ref)
            for e in entries:
                drop = any(
                    col in e["stats"]
                    and _stats_excluded(e["stats"][col], spec)
                    for col, spec in where.items())
                if not drop and bspec:
                    # each file's filter is probed under the (m, k) it
                    # was BUILT with (recorded per entry as ``mk``);
                    # only legacy pre-mk entries — which predate the
                    # possibility of a respec — fall back to the spec
                    emk = e.get("mk")
                    fm, fk = emk if emk else (bspec["m"], bspec["k"])
                    # membership filters can't answer ranges:
                    # probe_pairs holds only IN-list specs on bloom
                    # columns, sketch-ordered rarest-first above
                    for col, spec in probe_pairs:
                        bc = e.get("bloom", {}).get(col)
                        if bc is None:
                            continue
                        bloom_probes += 1
                        if _bloom_excluded(
                                bc, spec, dtypes.get(col, ""),
                                fm, fk):
                            drop = True
                            bloom_skipped += 1
                            break
                if drop:
                    skipped += 1
                else:
                    kept.append(self._file_record(mf, e, dvs))
                    if (not kept_parts) or kept_parts[-1] != value:
                        kept_parts.append(value)
        return {"files": [r["path"] for r in kept], "records": kept,
                "partitions": kept_parts,
                "skipped": skipped,
                "bloom_skipped": bloom_skipped,
                "bloom_probes": bloom_probes,
                "probe_order": [c for c, _ in probe_pairs],
                "pbloom_pruned": pbloom_pruned,
                "partitions_pruned": pruned_parts,
                "shards_opened": shards_opened}

    def count_where(self, spark: SparkSession, col: str,
                    lo=None, hi=None) -> dict:
        """``COUNT(*) WHERE col BETWEEN lo AND hi`` answered from
        METADATA wherever provable — the aggregate-pushdown pattern
        that makes dashboard counts O(boundary) instead of O(range) at
        100 TB: a partition (or file) whose zone map lies FULLY inside
        the range contributes its manifest row count without being
        opened, and only range-BOUNDARY files are actually read and
        exactly filtered.  (Spark's own parquet count(*) optimization
        covers the no-predicate case; this covers the ranged one, from
        the manifest's folded stats.)

        NULL discipline: min/max stats IGNORE nulls, so a NULL-bearing
        file inside the range would overcount.  A containment claim
        therefore also requires the column provably null-free in every
        participating file (the ``nn`` footer fold, null_count == 0 in
        every row group); anything uncertain is read, never guessed.

        Returns {"count", "rows_from_metadata", "files_read",
        "files_skipped", "files_total", "shards_opened"} so entries
        and tests pin the metadata-vs-data split."""
        mf = self._raw()
        ts_is_col = (mf["ts"] == col)
        era_specs = None
        if ts_is_col:
            # hidden partitioning: floor the raw bounds onto the
            # transformed directory values, once per spec era (bucket
            # → no partition-grade pruning for a range; stats still
            # skip below)
            dt = {n: t for n, t in (mf.get("schema") or [])}.get(col)
            era_specs = [_pt_where_spec(e, (lo, hi), dt)
                         for e in _pt_eras(mf)]
        meta_rows = 0
        boundary: list[dict] = []
        files_total = files_skipped = shards_opened = 0
        for value, ref in mf["partitions"].items():
            files_total += ref["files"]
            pt_spec = None
            if era_specs is not None:
                pid = ref.get("pid", len(era_specs) - 1)
                pt_spec = (era_specs[pid]
                           if 0 <= pid < len(era_specs) else None)
            if pt_spec is not None and _pt_excluded(value, pt_spec):
                files_skipped += ref["files"]
                continue
            pstats = ref.get("stats", {})
            if col in pstats and _ranges_disjoint(pstats[col], lo, hi):
                files_skipped += ref["files"]
                continue
            has_dv = bool(ref.get("dv"))
            if (col in pstats and col in ref.get("nn", [])
                    and _range_contains(pstats[col], lo, hi)):
                # whole partition inside the range.  Deletion vectors
                # subtract exactly: every row (live or dead) satisfies
                # the containment, so live = rows - dv_rows
                meta_rows += ref["rows"] - ref.get("dv_rows", 0)
                continue
            shards_opened += 1
            dvs = self._dvs(ref)
            for e in self._entries(mf, value):
                st = e["stats"].get(col)
                if st is not None and _ranges_disjoint(st, lo, hi):
                    files_skipped += 1
                elif (not has_dv
                        and st is not None and col in e.get("nn", [])
                        and _range_contains(st, lo, hi)):
                    # per-FILE dead counts are unknown under a DV'd
                    # ref, so file-grain metadata claims are only
                    # sound DV-free; DV'd boundary files read exactly
                    meta_rows += e["rows"]     # whole file inside
                else:
                    boundary.append(self._file_record(mf, e, dvs))
        exact = 0
        if boundary:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
            exact = self._read_files(spark, boundary, mf).where(cond).count()
        return {"count": meta_rows + exact,
                "rows_from_metadata": meta_rows,
                "files_read": len(boundary),
                "files_skipped": files_skipped,
                "files_total": files_total,
                "shards_opened": shards_opened}

    def history(self) -> list[dict]:
        """All committed snapshots, oldest first (DESCRIBE HISTORY
        analog): version, manifest name, partition/file/row counts,
        stream high-water marks.  Driver-side reads of the immutable
        manifest files still on disk (vacuum trims history to the live
        snapshot)."""
        out = []
        pre = self._mprefix()
        for m in sorted(os.listdir(self._mdir())):
            if not (m.startswith(pre) and m.endswith(".json")
                    and m[len(pre):-len(".json")].isdigit()):
                continue
            mf = self._raw(m)           # ref counts: no shard loads
            refs = list(mf["partitions"].values())
            out.append({"version": mf["version"], "manifest": m,
                        "committed_at": mf.get("committed_at"),
                        "partitions": len(refs),
                        "files": sum(r["files"] for r in refs),
                        # LIVE rows: deletion-vector'd rows are gone
                        # from every read even though their bytes
                        # remain until a compact materializes
                        "rows": sum(r["rows"] - r.get("dv_rows", 0)
                                    for r in refs),
                        "streams": mf.get("streams", {})})
        return out

    # ------------------------------------------ inspection tables

    def meta_partitions(self, spark: SparkSession) -> DataFrame:
        """PARTITIONS inspection table (Iceberg ``db.t.partitions`` /
        Delta ``DESCRIBE DETAIL`` analog): one row per live partition
        — files, live rows (deletion-vector-aware), dead-marked rows,
        bytes, DV sidecar count — built from the COMMIT OBJECT alone:
        O(#partitions) driver-side dict reads, no shard loads, no data
        I/O.  On the 100 TB table this answers "how big / how skewed /
        how delete-laden is each partition" for the cost of one small
        JSON file."""
        mf = self._raw()
        rows = [(v, int(r["files"]),
                 int(r["rows"] - r.get("dv_rows", 0)),
                 int(r.get("dv_rows", 0)), int(r["bytes"]),
                 len(r.get("dv", [])))
                for v, r in sorted(mf["partitions"].items())]
        return local_frame(
            spark, rows, "partition string, files bigint, "
                         "live_rows bigint, deleted_rows bigint, "
                         "bytes bigint, dv_files int")

    def meta_files(self, spark: SparkSession) -> DataFrame:
        """FILES inspection table (Iceberg ``db.t.files`` analog): one
        row per live data file — partition, relative path, physical
        rows, bytes, and the per-column zone map as a JSON string.
        Hydrates each partition's shard (O(metadata), proportional to
        file count) but never touches a data page; row counts are the
        file's PHYSICAL rows — deletion vectors are partition-level
        sidecars, visible in :meth:`meta_partitions`."""
        import json as _json

        mf = self._raw()
        rows = [(v, e["path"], int(e["rows"]), int(e["bytes"]),
                 _json.dumps(e["stats"], sort_keys=True, default=str))
                for v in sorted(mf["partitions"])
                for e in self._entries(mf, v)]
        return local_frame(
            spark, rows, "partition string, path string, rows bigint, "
                         "bytes bigint, stats_json string")

    def meta_snapshots(self, spark: SparkSession) -> DataFrame:
        """SNAPSHOTS inspection table (``DESCRIBE HISTORY``):
        :meth:`history` as a DataFrame — version, manifest file,
        partition/file/live-row counts, oldest first."""
        rows = [(int(h["version"]), h["manifest"],
                 h.get("committed_at"),
                 int(h["partitions"]), int(h["files"]), int(h["rows"]))
                for h in self.history()]
        return local_frame(
            spark, rows, "version bigint, manifest string, "
                         "committed_at double, "
                         "partitions bigint, files bigint, rows bigint")

    def meta_refs(self, spark: SparkSession) -> DataFrame:
        """REFS inspection table (Iceberg ``db.t.refs`` analog): one
        row per named pointer into the snapshot history — the main
        head, every live write-audit-publish BRANCH (name, head, cut
        base, commits since the cut) and every snapshot TAG (pinned
        version; vacuum-exempt).  Driver-side listing of
        ``_manifests/`` plus one small JSON read per ref — no shard
        loads, no data I/O at any table size."""
        rows = [("main", "branch", int(self.version()), None, None)]
        for name, b in sorted(self.branches().items()):
            rows.append((name, "branch", int(b["head"]),
                         int(b["base"]), int(b["commits"])))
        for name, t in sorted(self.tags().items()):
            rows.append((name, "tag", int(t["version"]), None, None))
        return local_frame(
            spark, rows, "name string, type string, version bigint, "
                         "base bigint, commits bigint")

    def detail(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE DETAIL`` (Delta's one-row table summary): format,
        location, partition column, live version + commit stamp, and
        the partition/file/row/byte totals — ALL from the commit
        object (one small JSON read, no shard loads, no data I/O at
        any table size).  ``created_at`` is version 1's commit stamp
        when that manifest is still in retention, NULL after a vacuum
        trimmed it — absent history degrades to a NULL, never a
        guess."""
        mf = self._raw()
        created = None
        try:
            created = self._raw(self._mname(1)).get("committed_at")
        except (FileNotFoundError, OSError):
            pass
        parts = mf["partitions"]
        rows = [(
            "manifest", self.root, mf.get("ts"),
            int(mf["version"]), mf.get("committed_at"), created,
            len(parts),
            int(sum(r["files"] for r in parts.values())),
            int(sum(r["rows"] - r.get("dv_rows", 0)
                    for r in parts.values())),
            int(sum(r.get("dv_rows", 0) for r in parts.values())),
            int(sum(r["bytes"] for r in parts.values())),
            len(mf.get("constraints") or {}),
            len(mf.get("retired") or []),
        )]
        return local_frame(
            spark, rows, "format string, location string, "
                         "partition_column string, version bigint, "
                         "committed_at double, created_at double, "
                         "num_partitions bigint, num_files bigint, "
                         "live_rows bigint, deleted_rows bigint, "
                         "size_bytes bigint, num_constraints int, "
                         "num_retired_columns int")

    def drop(self) -> None:
        """``DROP TABLE``: irreversibly remove the table — manifests,
        data files, DV sidecars, index sidecars, branches and tags —
        by deleting the table root (the un-catalog + PURGE analog;
        there is no external catalog entry to keep).  Raises the
        usual FileNotFoundError when no table exists at the root, so
        a typo cannot silently rm a directory that was never a
        table; refuses to run on a branch-bound handle — the root
        holds MAIN's manifests and data too, and dropping a branch
        is :meth:`drop_branch`'s job."""
        import shutil

        if self.branch is not None:
            raise RuntimeError(
                "drop runs on the main table (the root holds main's "
                "data; use drop_branch to remove a branch)")
        self._raw()                      # proves a table lives here
        shutil.rmtree(self.root)

    def stat_bounds(self, col: str,
                    manifest_name: str | None = None) -> tuple | None:
        """Table-wide [min, max] of ``col`` folded from the per-file
        footer stats — a driver-side dict scan, no Spark job.  This is
        the zone-map answer to the warehouse freshness probe
        (``SELECT MAX(ts)``, serve.py's A7 shape) and to incremental
        cutoff discovery: exact because every file carries complete
        stats for the column, None when any live file lacks them (the
        caller falls back to a real scan — absent stats degrade to
        more I/O, never to a wrong bound).  Folds the PARTITION-level
        stats the commit object carries — O(#partitions), no shard
        loads (and those were themselves folded from complete per-file
        stats at commit time, so exactness is preserved)."""
        refs = list(self._raw(manifest_name)["partitions"].values())
        if not refs or any(col not in r.get("stats", {}) for r in refs):
            return None
        return (min(r["stats"][col][0] for r in refs),
                max(r["stats"][col][1] for r in refs))

    def _read_files(self, spark: SparkSession, records: list[dict],
                    mf: dict, keep_pos: bool = False) -> DataFrame:
        """THE JVM read of table files: the planned file ``records``
        (:meth:`_file_record` — :meth:`scan_plan`'s, or
        :meth:`_part_records` for whole partitions) read through
        ``mf``'s PINNED schema under the files' PHYSICAL column names,
        renamed back to logical names through the colmap.  The parquet
        reader reconciles by name, so files written before a schema
        evolution simply yield NULL for the added columns — Delta's
        metadata-only ADD COLUMNS semantics.  Every internal read
        (merge read-back, compaction, delete, snapshot read, change
        sets, the constraint scan) funnels through here so old and new
        files always surface the same frame shape — which is ALSO what
        makes deletion vectors sound: rows position-marked dead by the
        union of the records' ``dv`` sidecars are anti-joined away
        HERE, so a merge read-back or a compaction can never resurrect
        them; records that carry no sidecar plan no join.  The DV
        relation is broadcast (it is bounded by deleted-row count —
        the mode is for low-fraction deletes; high-fraction deletes
        belong in rewrite mode).  ``keep_pos=True`` keeps the
        (``__rel``, ``__ri``) file-position columns for callers that
        need row addresses (the DV writer itself).

        Empty ``records`` (a fully-pruned or still-empty snapshot, an
        empty change set) read as an EMPTY frame with the pinned
        schema — never a zero-path reader error."""
        schema = mf.get("schema")
        if not records:
            if not schema:
                raise FileNotFoundError(
                    f"{self.root}: nothing to read and no pinned schema "
                    "to type an empty result")
            cols = list(schema) + ([["__rel", "string"], ["__ri", "bigint"]]
                                   if keep_pos else [])
            return local_frame(
                spark, [], ", ".join(f"`{n}` {t}" for n, t in cols))
        cm = mf.get("colmap") or {}
        reader = spark.read
        if schema:
            # read under PHYSICAL names with the PINNED (possibly
            # widened) types: Spark's parquet reader reconciles by
            # name (pre-evolution files NULL-fill) and upcasts
            # INT32-family / float->double narrow files natively;
            # logical aliases apply after
            reader = reader.schema(
                ", ".join(f"`{cm.get(n, n)}` {t}" for n, t in schema))
        df = reader.parquet(*[r["path"] for r in records])
        for n, _ in (schema or []):
            p = cm.get(n, n)
            if p != n:
                df = df.withColumnRenamed(p, n)
        adn = mf.get("adopted_dirs")
        if adn and schema:
            # zero-copy ADOPTED hive layout (:meth:`adopt`): the
            # original writer's ``partitionBy`` dropped the partition
            # column from the adopted data files, so the pinned-schema
            # read NULL-fills it — reconstruct each row's value from
            # its file's ``<col>=<value>`` directory name (JVM-side
            # path parse, no UDF).  coalesce keeps stored values for
            # engine-written post-adoption files, which DO carry the
            # column (and whose txn paths contain ``__pt=`` — the
            # leading '/' in the pattern cannot match that).
            inv = {p: l for l, p in cm.items()}
            logical = inv.get(adn, adn)
            dt = {n: tp for n, tp in schema}.get(logical)
            if dt is not None:
                df = df.withColumn(logical, F.coalesce(
                    F.col(logical),
                    F.regexp_extract(
                        F.col("_metadata.file_path"),
                        "/" + re.escape(adn) + "=([^/]+)/", 1)
                    .cast(dt)))
        dv_entries = list({d["path"]: d for r in records
                           for d in r["dv"]}.values())
        if dv_entries or keep_pos:
            # ``_metadata.file_path`` is a URI whose slash count varies
            # ("file:///abs" vs "file:/abs" — r9 ADVICE item 2): parse
            # it like a URI (scheme + any slashes -> one leading "/"),
            # percent-DECODE it (a root with a space/'#'/… arrives as
            # "%20"/"%23" and would otherwise fail the root-prefix
            # check AND diverge from the plain os.path.relpath strings
            # the DSv2 readers compare DV rels against — r10 ADVICE
            # item 2; literal "+" is pre-escaped because url_decode
            # follows form-encoding and would turn it into a space),
            # then relativize against the table root.  Both the DV
            # writer and every reader derive ``__rel`` HERE, so row
            # addresses stay stable across table moves and URI
            # renderings.
            rootabs = os.path.abspath(self.root)
            df = (df.withColumn("__p", F.url_decode(F.regexp_replace(
                      F.regexp_replace(
                          F.col("_metadata.file_path"),
                          "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/"),
                      r"\+", "%2B")))
                  .withColumn("__rel", F.when(
                      F.col("__p").startswith(rootabs + "/"),
                      F.col("__p").substr(
                          F.lit(len(rootabs) + 2), F.length("__p")))
                      .otherwise(F.col("__p")))
                  .drop("__p")
                  .withColumn("__ri", F.col("_metadata.row_index")))
        if dv_entries:
            dv_paths = [e["path"] for e in dv_entries]
            # DV sidecars are tiny by the mode's contract (bounded by
            # deleted-row count, the low-fraction-delete path), and
            # their exact sizes are IN the commit object — when the
            # whole set fits a driver budget, read the KB-sized
            # files with pyarrow on the driver and hand Spark the
            # rows directly instead of planning one scan task per
            # sidecar (83 sub-ms tasks + a distributed broadcast
            # build measured ~3x the whole anti-joined read at
            # sf0.1; guide §2.4 — remove the job, don't tune it).
            # Unknown sizes or a big set keep the distributed scan:
            # more I/O, never a driver OOM (see
            # :func:`_dv_fits_driver_budget`).
            if _dv_fits_driver_budget(dv_entries):
                import pyarrow as pa
                import pyarrow.parquet as pq
                tb = pa.concat_tables([
                    pq.read_table(p, columns=["rel", "row_index"])
                    for p in dv_paths])
                dv = spark.createDataFrame(
                    tb.to_pandas(),
                    schema="__rel string, __ri bigint")
            else:
                dv = spark.read.parquet(*dv_paths).select(
                    F.col("rel").alias("__rel"),
                    F.col("row_index").alias("__ri"))
            df = df.join(F.broadcast(dv), ["__rel", "__ri"],
                         "left_anti")
        if dv_entries and not keep_pos:
            df = df.drop("__rel", "__ri")
        return df

    def read(self, spark: SparkSession,
             manifest_name: str | None = None,
             where: dict | None = None) -> DataFrame:
        """Snapshot read through the manifest.  With ``where``, the
        file list is pruned via partition values + footer stats before
        Spark sees it; the result is still a SUPERSET of the matching
        rows (skipping is file-granular) — callers apply the exact
        filter, exactly as an engine applies residual predicates after
        zone-map skipping.  A fully-pruned (or still-empty) snapshot
        reads as an EMPTY frame with the pinned schema — never a
        zero-path reader error."""
        name = manifest_name or self._current_name()   # one snapshot
        return self._read_files(
            spark, self.scan_plan(where, name)["records"], self._raw(name))

    def register(self, spark: SparkSession, name: str,
                 version: int | None = None,
                 timestamp=None, tag: str | None = None,
                 reader_options: dict | None = None) -> DataFrame:
        """Make this table SQL-ADDRESSABLE (VERDICT r10 #2 — the
        reference's entire serving tier speaks raw SQL strings,
        data-viz/utilities/snowflake_helper.py:42-51, screener SQL
        assembly 2_Universe_Screener.py:58-77): bind ``name`` as a
        temp view over the ``format("manifest")`` DSv2 read path, so
        ``spark.sql(f"SELECT ... FROM {name} WHERE ...")`` plans
        straight through Catalyst filter pushdown into the table's
        own pruning (partition values, zone maps, footer stats,
        Bloom probes) with surviving files packed into byte-budget
        tasks (``packFiles=auto``, the r17 default; well-sized files
        plan one task each) and deletion vectors applied
        executor-side — a dashboard's WHERE clause prunes the 100 TB
        table exactly like the DataFrame API path.

        ``version`` / ``timestamp`` / ``tag`` (at most one) bind a
        TIME-TRAVELED view — the option-bound per-version form of
        ``VERSION AS OF`` (for the literal SQL syntax see
        :func:`manifest_datasource.manifest_sql`).  SNAPSHOT
        SEMANTICS, stated honestly: like a Delta ``spark.read``
        DataFrame, the view pins the snapshot current AT
        REGISTRATION (the DSv2 plan resolves its file list once) —
        commits made afterwards are served by calling ``register``
        again (idempotent, re-binds the name), which is what a
        serving tier's per-request handler should do; it costs one
        manifest-header read, no data I/O.

        Sets ``spark.sql.python.filterPushdown.enabled`` (required
        for any Python-DSv2 pushdown source; without it Spark
        refuses to plan the reader) and registers the datasource —
        both idempotent, session-scoped.  Returns the bound frame."""
        from .manifest_datasource import ManifestDataSource

        if sum(x is not None for x in (version, timestamp, tag)) > 1:
            raise ValueError("pass at most ONE of version/timestamp/tag")
        spark.dataSource.register(ManifestDataSource)
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       "true")
        reader = spark.read.format("manifest")
        if version is not None:
            reader = reader.option("versionAsOf", int(version))
        if timestamp is not None:
            reader = reader.option("timestampAsOf", timestamp)
        if tag is not None:
            reader = reader.option("tag", tag)
        for k, v in (reader_options or {}).items():
            # extra DSv2 reader options for the bound view (e.g. the
            # pruning-proof entries bind a packFiles=0 probe view so
            # their exact one-task-per-file gate survives the r17
            # packed-by-default read path)
            reader = reader.option(k, v)
        df = reader.load(self.root)
        df.createOrReplaceTempView(name)
        return df

    # -- write paths -------------------------------------------------

    @classmethod
    def create(cls, df: DataFrame, root: str, ts: str | None,
               backend: CommitBackend | None = None,
               bloom: dict | None = None,
               max_records_per_file: int | None = None,
               partition=None,
               cluster_by: list[str] | None = None) -> "ManifestTable":
        """Initial materialization: stage everything, commit v1.
        ``bloom`` ({"cols": [...], "m": 2^b, "k": n}) pins the Bloom
        spec from the very first commit so even the initial files
        carry filters (the :meth:`set_bloom`-after-create path leaves
        v1's files filterless until a rewrite).

        ``cluster_by`` sorts rows on the named columns WITHIN each
        partition before the first files are written (see
        :meth:`_stage`) — the only way to get a clustered v1:
        pre-sorting the input frame does NOT survive, because _stage
        repartitions on the partition value (the anti-sliver rule)
        and that shuffle destroys any upstream ordering.

        ``partition`` declares a HIDDEN-PARTITIONING transform over
        ``ts`` (:func:`_pt_norm_spec` forms: "days"/"month"/"hour",
        ("bucket", n), ("truncate", n)) — the Iceberg partition-spec
        idea re-expressed: directories hold fn(ts), no derived column
        is materialized, and every reader's predicate on the RAW
        column still prunes partitions because scan_plan floors the
        bounds through the same transform.  At 100 TB this is what
        keeps a per-second event table from creating a directory per
        timestamp: month/hour grouping happens in table METADATA, not
        in user ETL."""
        t = cls(root, ts, backend=backend, partition=partition)
        if t._pt_ctor is not None:
            dtypes = {f.name: f.dataType.simpleString()
                      for f in df.schema.fields}
            if ts not in dtypes:
                raise SchemaMismatch(
                    f"partition source column {ts!r} not in frame")
            if t._pt_ctor["fn"] in ("bucket", "truncate"):
                ok = ("string", "tinyint", "smallint", "int", "bigint")
                if dtypes[ts] not in ok:
                    raise SchemaMismatch(
                        f"partition transform {t._pt_ctor['fn']!r} "
                        f"needs a string/integer source column; "
                        f"{ts!r} is {dtypes[ts]!r}")
        if bloom is not None:
            if (bloom["m"] & (bloom["m"] - 1)) != 0 or bloom["m"] < 64:
                raise ValueError(
                    f"bloom m={bloom['m']} must be a power of two >= 64")
            dtypes = {f.name: f.dataType.simpleString()
                      for f in df.schema.fields}
            for c in bloom["cols"]:
                if dtypes.get(c) not in _BLOOM_TYPES:
                    raise SchemaMismatch(
                        f"bloom column {c!r} has type "
                        f"{dtypes.get(c)!r}; supported: "
                        f"{sorted(_BLOOM_TYPES)}")
        parts = t._stage(df, bloom=bloom,
                         cluster_by=cluster_by,
                         max_records_per_file=max_records_per_file)
        t._commit(parts, base_version=0, schema=_schema_sig(df),
                  bloom=bloom)
        return t

    @classmethod
    def adopt(cls, spark: SparkSession, root: str,
              ts: str | None = None,
              backend: CommitBackend | None = None) -> "ManifestTable":
        """ZERO-COPY adoption of an existing parquet lake at ``root``
        (Delta's ``CONVERT TO DELTA parquet.`path``` / Iceberg's
        ``add_files`` analog, in place, VERDICT r15 "Next round" #3):
        harvest every data file's FOOTER into manifest entries — rows,
        bytes, per-column zone maps, null-free sets (:func:`_file_entry`,
        a few KB of metadata per file) — and publish ONE v1 commit; no
        data file is read, rewritten, or moved.  At the 100 TB north
        star this is the difference between onboarding a lake in
        minutes (O(files) footer reads, driver-side) and re-writing
        100 TB through Spark.  Every subsequent operation — append,
        MERGE, DV delete, compact, time travel, CDF, SQL — works
        unchanged on the adopted snapshot.

        Three lake shapes:

        - ``ts=None``: an unpartitioned directory of parquet files —
          adopted whole as the single-partition table.
        - ``ts='col'`` with classic single-level HIVE layout
          (``col=value/`` directories, the column ABSENT from the
          files because the original writer's ``partitionBy`` dropped
          it): each directory adopts as one manifest partition keyed
          by its raw value string, and the commit records
          ``adopted_dirs`` so every read reconstructs the column from
          the directory name (:meth:`_read_files` — JVM-side path
          parse; engine-written post-adoption files carry the column
          physically and keep their stored values via coalesce).
        - ``ts='col'`` with the column IN the files (an engine-style
          or ``repartition(col)``-written lake, flat or nested): files
          group into partitions by their footer ``[min, max]`` of the
          column — zero-copy requires FILE-ALIGNED values (min == max,
          provably null-free); a file spanning values raises rather
          than mis-key rows.

        The pinned schema comes from Spark's own parquet + hive-dir
        inference over the lake (``basePath`` = root), so partition
        value types (int/date/string) resolve exactly as a direct
        ``spark.read.parquet(root)`` would type them.  Hive-escaped
        (``%``-encoded) and ``__HIVE_DEFAULT_PARTITION__`` values are
        refused at the adopt boundary — the same filesystem-plain rule
        :meth:`_stage` enforces on writes.  Historical note for
        ``vacuum``: adopted files live OUTSIDE ``data/`` and are never
        reclaimed (conservative — a later :meth:`compact` rewrites
        them into engine-owned txn dirs, after which the originals
        simply stop being referenced)."""
        t = cls(root, ts, backend=backend)
        try:
            t._raw()
        except (FileNotFoundError, OSError):
            pass
        else:
            raise ValueError(
                f"{root} already holds a manifest table — adopt() "
                f"initializes a lake, it never re-registers one")

        parts, adopted_dirs = _harvest_lake(root, ts, spark=spark)
        if not parts:
            raise FileNotFoundError(
                f"{root}: no parquet files to adopt")
        # schema from Spark's own inference (hive partition dirs
        # included and typed exactly as a direct read would)
        inferred = spark.read.option("basePath", root).parquet(root)
        sig = [[f.name, f.dataType.simpleString()]
               for f in inferred.schema.fields]
        if ts is not None and ts not in [n for n, _ in sig]:
            raise SchemaMismatch(
                f"partition column {ts!r} not found in the lake "
                f"(neither as hive directories nor a file column); "
                f"columns: {[n for n, _ in sig]}")
        if adopted_dirs is None and ts is not None:
            # shape-A (file-aligned) keys render through Python's
            # str(footer stat); every later addressing site (DV
            # delete/update/merge via _owning_pt's fallback) renders
            # through Spark's cast-to-string.  The two agree for
            # int/string/date — and provably DIVERGE for timestamp
            # ('T' vs ' ' separator, micros), boolean ('True' vs
            # 'true') and float/double (exponent forms): a mismatch
            # would stage DVs under a key no partition owns, so those
            # types refuse at the adopt boundary instead
            dtype = dict((n, t) for n, t in sig)[ts]
            ok = (dtype in ("string", "date")
                  or dtype in ("tinyint", "smallint", "int", "bigint"))
            if not ok:
                raise SchemaMismatch(
                    f"file-aligned adoption cannot key partitions by "
                    f"{ts!r} ({dtype}): its Python and Spark string "
                    f"renderings diverge, which would mis-address "
                    f"row-level deletes later; partition by an "
                    f"int/string/date column, use a hive "
                    f"({ts}=value/) layout, or adopt flat (ts=None)")
        # vacuum / _stage expect the engine-owned txn area to exist
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        for es in parts.values():        # validation-only key
            for e in es:
                e.pop("cols", None)
        t._commit(parts, base_version=0, schema=sig,
                  adopted_dirs=adopted_dirs)
        return t

    def adopt_files(self, cdf: bool = False,
                    spark: SparkSession | None = None) -> dict:
        """INCREMENTAL zero-copy adoption (Iceberg's repeatable
        ``add_files`` — the steady-state half of :meth:`adopt`): an
        external writer keeps landing parquet under the table's lake
        layout (a new ``ts=value/`` directory each day, new files in
        existing ones, or new file-aligned chunks), and one metadata
        commit absorbs every not-yet-referenced file — footers
        harvested with zero data I/O (pass ``spark`` to distribute
        the harvest as one metadata job when the lake grew by many
        files — see :func:`_harvest_lake`), append semantics (new
        entries MERGE into existing refs with their DV sidecars
        carried, exactly like a blind append).  ``cdf=True`` records
        the commit's feed at zero extra bytes (``insert_files`` kind:
        the adopted entries ARE the change set).  Returns
        ``{"files_added", "rows_added", "partitions_touched"}``
        (all-zero when the walk finds nothing new — the idempotent
        re-run).

        Restricted to IDENTITY partitioning: under a hidden-partition
        transform the stats-grouping walk would have to re-derive
        ``fn(ts)`` per file, and an externally-written file has no
        proven alignment with any transformed directory value —
        raises rather than mis-key rows."""
        parts: dict = {}

        def build(mf: dict) -> dict | None:
            nonlocal parts
            if mf.get("pt") or mf.get("pt_history"):
                raise ValueError(
                    "adopt_files needs identity partitioning — a "
                    "hidden-partition transform cannot prove an "
                    "external file's directory value")
            ts = mf.get("ts")
            known = frozenset(e["path"] for v in mf["partitions"]
                              for e in self._entries(mf, v))
            mode = ("dirs" if mf.get("adopted_dirs")
                    else "flat" if ts is None else "stats")
            # a full re-walk on every attempt: a competitor may have
            # adopted some of the same files
            parts, _ = _harvest_lake(self.root, ts, mode=mode,
                                     known=known, spark=spark)
            if not parts:
                return None
            # schema safety (the add_files validation): a new file
            # carrying a column the pinned schema does not know would
            # silently drop data on every read — refuse; missing
            # pinned columns NULL-fill (the documented evolution
            # semantic; dirs-mode partition columns fill from the
            # directory value).  The column sets come from the
            # harvest's own footer pass (``with_cols``) — validating
            # 10^5 new files must not re-open 10^5 footers
            # sequentially on the driver after a distributed harvest
            cm = mf.get("colmap") or {}
            pinned = {cm.get(n, n) for n, _ in
                      (mf.get("schema") or [])} | {_PT}
            for es in parts.values():
                for e in es:
                    extra = sorted(set(e.pop("cols", [])) - pinned)
                    if extra:
                        raise SchemaMismatch(
                            f"adopt_files: {e['path']} carries "
                            f"columns the pinned schema does not "
                            f"know: {extra}")
            return self._append_commit(mf, parts, cdf)

        self._transact(build)       # parts: the committed harvest
        return {"files_added": sum(len(es) for es in parts.values()),
                "rows_added": int(sum(e["rows"] for es in parts.values()
                                      for e in es)),
                "partitions_touched": len(parts)}

    def _parse_by_source(self, mf: dict, keys: list[str],
                         delete, update, condition):
        """Validate/normalize the WHEN NOT MATCHED BY SOURCE clause
        params into ``(kind, condition_col, assignments)`` or None.
        ``delete``: True (unconditional) or a Column/SQL condition
        over the TARGET row.  ``update``: {col: Column/SQL} over the
        target row, with ``condition`` optionally gating it.  One of
        delete/update at most (Delta's builder allows clause chains;
        the two real shapes — full-sync hard delete and close-out
        flagging — need exactly one)."""
        if delete is None and update is None:
            if condition is not None:
                raise ValueError(
                    "not_matched_by_source_condition needs "
                    "not_matched_by_source_update (the delete form "
                    "takes its condition directly)")
            return None
        if delete is not None and update is not None:
            raise ValueError(
                "pass ONE of not_matched_by_source_delete / "
                "not_matched_by_source_update")
        if delete is not None:
            if condition is not None:
                raise ValueError(
                    "not_matched_by_source_delete takes its condition "
                    "directly (pass a Column/SQL instead of True)")
            cond = (None if delete is True
                    else F.expr(delete) if isinstance(delete, str)
                    else delete)
            return ("delete", cond, None)
        dtypes = {n: t for n, t in (mf.get("schema") or [])}
        for c in update:
            if c not in dtypes:
                raise SchemaMismatch(
                    f"not_matched_by_source_update assigns unknown "
                    f"column {c!r}")
            if c in keys or c == self.ts:
                raise ValueError(
                    f"not_matched_by_source_update must not assign "
                    f"key/partition column {c!r} (a close-out keeps "
                    f"row identity; re-keying is a delete + insert)")
        cond = (F.expr(condition) if isinstance(condition, str)
                else condition)
        return ("update", cond, dict(update))

    def _by_source_affected_values(self, spark: SparkSession,
                                   mf: dict, src_keys: DataFrame,
                                   keys: list[str], by_source,
                                   exclude: set) -> list[str]:
        """Partition values outside ``exclude`` holding at least one
        NOT-MATCHED-BY-SOURCE row (key absent from the source, clause
        condition true).  One column-pruned anti-join probe over the
        non-touched live partitions — only the partition column, the
        keys and the condition's columns are read, so at 100 TB the
        planning pass costs a key-column scan, not a table scan."""
        live = mf["partitions"]
        outside = [v for v in live if v not in exclude]
        if not outside:
            return []
        _, bscond, _ = by_source
        probe = (self._read_files(spark, self._part_records(mf, outside),
                                  mf, keep_pos=True)
                 .join(src_keys, keys, "left_anti"))
        if bscond is not None:
            probe = probe.where(F.coalesce(bscond, F.lit(False)))
        # the OWNING partition value (from the file address), not the
        # recomputed transform: under partition evolution an affected
        # row's active-era value may name a different (or no) live
        # partition than the one actually holding it
        return [r[0] for r in
                probe.select(_owning_pt(mf).alias("__v"))
                .distinct().collect()]

    @staticmethod
    def _by_source_split(current: DataFrame, src_keys: DataFrame,
                         keys: list[str], by_source
                         ) -> tuple[DataFrame, DataFrame]:
        """Split ``current`` into (affected, survivors) under the
        by-source clause: affected = key absent from the source AND
        the clause condition holds (NULL condition keeps the row —
        SQL three-valued logic, same stance as delete_where)."""
        _, bscond, _ = by_source
        m = src_keys.withColumn("__m", F.lit(1))
        flagged = current.join(m, keys, "left")
        hit = F.col("__m").isNull()
        if bscond is not None:
            hit = hit & F.coalesce(bscond, F.lit(False))
        return (flagged.where(hit).drop("__m"),
                flagged.where(~hit).drop("__m"))

    @staticmethod
    def _assign(mf: dict, rows: DataFrame, assigns: dict) -> DataFrame:
        """``rows`` with each ``assigns`` column (Column or SQL string)
        set and cast to the column's PINNED type — SQL UPDATE
        assignment semantics: a literal like "0.0" parses DECIMAL and
        would silently re-type a double column."""
        dtypes = {n: t for n, t in (mf.get("schema") or [])}
        for c, expr in assigns.items():
            col = F.expr(expr) if isinstance(expr, str) else expr
            rows = rows.withColumn(c, col.cast(dtypes[c]))
        return rows

    def _stage_rows(self, spark: SparkSession, mf: dict, mode: str,
                    values: list, change, cdf: bool,
                    records: list[dict] | None = None,
                    matched_only: bool = False) -> _RowChange:
        """THE staging of every row-level DML (:meth:`merge`,
        :meth:`merge_batch`, :meth:`delete_where`,
        :meth:`update_where`) against the snapshot ``mf``.  The op
        names the partition ``values`` it reads (``records``, a pruned
        :meth:`scan_plan`'s, narrows the read) and ``change(rows)``,
        which maps the read rows to ``(kept, gone, adds, feed)``: the
        rows that survive, the rows removed, the new row images (None:
        none) and the change feed as ``(rows, _change_type)`` pairs.
        The frames are lazy; each mode runs only what it needs.

        ``mode="rewrite"`` (copy-on-write) restages every read
        partition as ``kept`` plus ``adds``.  ``mode="dv"`` (merge-on-
        read) dead-marks ``gone`` with deletion-vector sidecars on the
        partition that OWNS each row's file (:func:`_owning_pt` —
        era-exact under partition evolution) and appends ``adds`` as
        new files.  ``matched_only`` marks an op that rewrites only
        where ``gone`` matched: a rewrite first counts ``gone`` per
        owning partition over the candidate files and reads back only
        the partitions holding a match, and ``adds`` outside them join
        their partitions as new files.  A delete or an update (whose
        ``adds`` derive from its matches) is void when nothing matched;
        a merge's upserts still land.  Nothing is visible until
        :meth:`_change_commit`'s commit."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode {mode!r}: expected 'rewrite' or 'dv'")
        none = _RowChange([], {}, {}, {}, [] if cdf else None)
        if not values or records == []:
            return none
        dv = mode == "dv"
        live = [v for v in values if v in mf["partitions"]]
        if records is None:
            records = self._part_records(mf, live)
        kept, gone, adds, feed = change(self._read_files(
            spark, records, mf, keep_pos=dv or matched_only))
        dvs, removed = {}, {}
        if dv and records:
            dvs = self._stage_dv(gone.select(_owning_pt(mf).alias("__pt"),
                                             "__rel", "__ri"))
            removed = {v: sum(e["rows"] for e in es)
                       for v, es in dvs.items() if es}
        elif matched_only:
            removed = {r["__v"]: r["n"] for r in
                       (gone.groupBy(_owning_pt(mf).alias("__v"))
                        .agg(F.count(F.lit(1)).alias("n")).collect())}
        if matched_only and not removed and (dv or adds is None):
            return none
        if dv:
            staged = {} if adds is None else self._stage(adds)
        else:
            if matched_only:
                live = list(removed)
                kept, gone, adds, feed = change(self._read_files(
                    spark, self._part_records(mf, live), mf))
            staged = self._stage(
                kept if adds is None else kept.unionByName(adds),
                enforce=adds is not None)
        cdf_entries = None
        if cdf:
            rows = [f.drop("__rel", "__ri")
                    .withColumn("_change_type", F.lit(t)) for f, t in feed]
            cdf_entries = [e for es in
                           self._stage(reduce(DataFrame.unionByName, rows),
                                       bloom=None, enforce=False).values()
                           for e in es]
        return _RowChange([] if dv else live, staged, dvs, removed,
                          cdf_entries)

    def _change_commit(self, mf: dict, snap: dict, ch: _RowChange,
                       op: str) -> dict:
        """THE commit build of a :meth:`_stage_rows` change staged from
        ``mf``, onto ``snap``: the rewritten refs drop, and every
        partition with staged files or sidecars is rebuilt through
        :meth:`_rebuilt_parts` (a fully dead one drops).  A competitor
        that changed a partition the change read, addressed or adds to
        makes the staging stale (:class:`CommitConflict`); a disjoint
        one rebases."""
        _check_unchanged(mf, snap, {*ch.rewritten, *ch.adds, *ch.removed},
                         f"a concurrent writer changed a partition this "
                         f"{op} read or addressed by row position; re-run "
                         f"{op}() against the new snapshot")
        base = {**snap, "partitions": {
            v: r for v, r in snap["partitions"].items()
            if v not in ch.rewritten}}
        return {"partitions": self._rebuilt_parts(base, ch.adds, ch.dvs,
                                                  ch.removed),
                "cdf": ch.cdf}

    def _stage_merge(self, spark: SparkSession, mf: dict,
                     updates: DataFrame, keys: list[str], mode: str,
                     cdf: bool, when_matched_delete, nmbs_delete,
                     nmbs_update, nmbs_condition,
                     validate_key_stability: bool = False,
                     insert_marked: bool = False) -> _RowChange:
        """:meth:`merge`'s row change against the snapshot ``mf``,
        staged through :meth:`_stage_rows`; the clause semantics are
        stated on :meth:`merge`.  The touched partitions come from the
        source rows, expanded to older-era partitions under partition
        evolution and to every partition holding a NOT-MATCHED-BY-
        SOURCE row (one column-pruned anti-join probe).

        PRECONDITION (the partition-pruning contract): a key never
        moves between partition values — every source row's partition
        value equals that of the live row for its key, if one exists;
        a re-dated key would leave its stale row alive in the old
        partition.  Holds by construction when keys contain (or
        determine) the partition column, as every caller here does.
        ``validate_key_stability=True`` (debug/test builds) enforces
        it with one anti-scan over the NON-touched live files and
        raises on violation — leave it off in production, the check
        reads the data the pruning exists to skip.

        ``insert_marked``: a delete-marked source row that matches no
        live row is inserted (SQL MERGE's WHEN NOT MATCHED THEN
        INSERT) instead of dropped."""
        self._check_schema(updates, mf)
        by_source = self._parse_by_source(mf, keys, nmbs_delete,
                                          nmbs_update, nmbs_condition)
        if when_matched_delete is not None:
            if isinstance(when_matched_delete, str):
                when_matched_delete = F.expr(when_matched_delete)
            marked = F.coalesce(when_matched_delete, F.lit(False))
            del_rows = updates.where(marked)
            upserts = updates.where(~marked)
        else:
            del_rows = None
            upserts = updates
        # a rewrite restages only the partitions a delete-clause merge
        # matched in, so marked rows that match nothing change nothing
        matched_only = del_rows is not None and mode == "rewrite"
        if self.ts is None:
            touched = [] if updates.isEmpty() else ["__all"]
        else:
            touched = [str(r[0]) for r in
                       updates.select(self._pt_col(updates, mf))
                       .distinct().collect()]
        # partition evolution: older-era live partitions can hold the
        # updates' rows under different value strings — expand BEFORE
        # anything derives reads or stability checks from the set
        touched = self._era_touched(updates, mf, touched)
        orig_touched = list(touched)
        src_keys = updates.select(*keys).distinct()
        if by_source is not None:
            touched = sorted(set(touched) | set(
                self._by_source_affected_values(
                    spark, mf, src_keys, keys, by_source,
                    set(touched))))
        live = mf["partitions"]
        if touched and validate_key_stability:
            # the stability contract is about the UPDATE's partitions
            # (orig_touched): a stray updated key outside them is a
            # violation even if by-source expansion happens to pull
            # its partition into the rewrite
            key_cols = [k for k in keys if k != self.ts]
            outside = self._part_records(
                mf, [v for v in live if v not in orig_touched])
            if outside and key_cols:
                strays = (self._read_files(spark, outside, mf)
                          .join(updates.select(*key_cols).distinct(),
                                key_cols, "left_semi"))
                n = strays.count()
                if n:
                    raise ValueError(
                        f"merge precondition violated: {n} row(s) "
                        f"carry an updated key in a partition outside "
                        f"the update's {self.ts} set "
                        f"{sorted(orig_touched)} — a key moved "
                        f"partitions")

        def change(cur: DataFrame) -> tuple:
            # frames only the other mode or the change feed reads are
            # not built: each costs driver-side analysis
            feed, closed, gone = [], None, None
            if by_source is not None:
                # by-source rows (key in NO source row) are disjoint
                # from every matched clause's rows, so clause order is
                # immaterial: split them out first
                affected, cur = self._by_source_split(
                    cur, src_keys, keys, by_source)
                if by_source[0] == "delete":
                    feed.append((affected, "delete"))
                else:
                    closed = self._assign(
                        mf, affected.drop("__rel", "__ri"), by_source[2])
                    feed += [(affected, "update_preimage"),
                             (closed, "update_postimage")]
            if mode == "dv" or matched_only:
                # EVERY matched live row goes: an upsert replaces it, a
                # delete-clause row removes it
                gone = cur.join(src_keys, keys, "left_semi")
                if by_source is not None:
                    gone = gone.unionByName(affected)
            ups = upserts
            if del_rows is not None:
                del_keys = del_rows.select(*keys).distinct()
                if insert_marked:
                    ups = ups.unionByName(del_rows.join(
                        cur.select(*keys).distinct(), keys, "left_anti"))
                feed.append((cur.join(del_keys, keys, "left_semi"),
                             "delete"))
                cur = cur.join(del_keys, keys, "left_anti")
            up_keys = ups.select(*keys).distinct()
            if cdf:
                # classified against the POST-delete rows: a key the
                # delete clause removes and an upsert row re-inserts is
                # 'delete' + 'insert', not an update
                cur_keys = cur.select(*keys).distinct()
                feed += [(cur.join(up_keys, keys, "left_semi"),
                          "update_preimage"),
                         (ups.join(cur_keys, keys, "left_semi"),
                          "update_postimage"),
                         (ups.join(cur_keys, keys, "left_anti"), "insert")]
            adds = ups if closed is None else ups.unionByName(closed)
            return cur.join(up_keys, keys, "left_anti"), gone, adds, feed

        return self._stage_rows(spark, mf, mode, touched, change, cdf,
                                matched_only=matched_only)

    def overwrite(self, df: DataFrame) -> None:
        """Atomic FULL REFRESH (the dbt ``table`` materialization):
        stage the complete new build, then commit a snapshot that
        contains ONLY it — old partitions drop by omission, readers
        flip from the entire old build to the entire new one at the
        link, and the old snapshot stays time-travelable until
        vacuum.  The schema RE-PINS from the new frame (a full refresh
        is the one sanctioned way to change column shape beyond
        ``add_columns``) — and the COLUMN MAPPING resets with it: the
        refresh's files are written under the new frame's own names,
        which become the stable physical names going forward (a stale
        mapping could collide with a reused old physical name).  The
        stream ledger carries forward.  The ``retired`` physical-name
        ledger resets with the colmap: the refresh's snapshot holds
        no old file, so no retired physical can resurrect."""
        mf = self._raw()
        staged = self._stage(df, colmap=None)
        self._transact(lambda snap: self._refresh(staged, _schema_sig(df)),
                       snap=mf, attempts=1)

    @staticmethod
    def _refresh(staged: dict, schema: list) -> dict:
        """The commit of a FULL REFRESH — :meth:`overwrite` and the
        DSv2 overwrite both publish exactly this: only the staged
        partitions, the schema re-pinned from the new frame, and the
        column mapping and ``retired`` ledger reset (the new files are
        written under the frame's own names, and no old file survives
        to hold a retired physical).  Everything else carries."""
        return {"partitions": staged, "schema": schema, "colmap": None,
                "retired": None}

    def merge(self, spark: SparkSession, updates: DataFrame,
              keys: list[str],
              validate_key_stability: bool = False,
              cdf: bool = False,
              when_matched_delete=None,
              not_matched_by_source_delete=None,
              not_matched_by_source_update=None,
              not_matched_by_source_condition=None,
              mode: str = "rewrite",
              _crash_before_commit: bool = False,
              _pre_commit_hook=None,
              _insert_unmatched_marked: bool = False):
        """Keyed MERGE of ``updates`` on ``keys``, partition-pruned and
        committed atomically across ALL touched partitions: a reader
        never observes a mix of old and new partitions, and a crash
        anywhere before the commit leaves the old snapshot fully live.

        The clauses (SQL/Delta MERGE; :meth:`merge_batch` follows them):

        - WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT:
          every source row lands, and one whose key matches live rows
          replaces EVERY live copy of that key.
        - ``when_matched_delete`` (a Column or SQL string over the
          SOURCE row) adds WHEN MATCHED AND <cond> THEN DELETE: a
          source row where it is TRUE removes its matched live rows
          instead of replacing them; a NULL condition routes the row
          to the upsert (SQL three-valued logic).  A marked row that
          matches no live row is a no-op here — SQL MERGE inserts it
          when a WHEN NOT MATCHED THEN INSERT clause applies, which is
          how :func:`~.manifest_datasource.manifest_sql` runs it.  When
          one source batch carries a marked and an unmarked row for
          the same key, clauses apply per source row: the delete
          removes the live row and the upsert re-inserts.  A partition
          emptied by deletes drops from the table.
        - WHEN NOT MATCHED BY SOURCE: live rows whose key tuple appears
          in NO source row are deleted (``not_matched_by_source_delete``
          =True, or a Column/SQL condition over the target row) or
          close-out updated (``not_matched_by_source_update={"col":
          expr}``, optionally gated by
          ``not_matched_by_source_condition``) in the same commit —
          the full-snapshot dimension sync (the reference's SCD-2
          hard-delete invalidation,
          snapshots/russell3000_constituents_snapshot.sql:4-12).  The
          clause addresses the whole target: a column-pruned anti-join
          probe finds the partitions holding affected rows.  An EMPTY
          source with an unconditional delete clause empties the table
          — exactly SQL MERGE's contract; guard the source upstream.

        ``cdf=True`` captures the row-level change feed in the same
        commit (Delta CDF shape, read via :meth:`changes`): a replaced
        live row is ``update_preimage`` and its replacement
        ``update_postimage``, a source row with no live match is
        ``insert``, a delete-clause or by-source removal is ``delete``
        and a close-out is a pre/post pair; a key deleted and
        re-inserted by one batch is 'delete' + 'insert'.

        ``mode="rewrite"`` (copy-on-write) rewrites every touched
        partition and makes a single commit attempt against the
        snapshot it staged from.  ``mode="dv"`` is the low-shuffle
        variant (merge-on-read): the matched live rows are dead-marked
        with deletion-vector sidecars and the new row images appended
        as new files — the same visible rows and change feed at
        O(matched + source rows) write cost instead of O(touched
        partitions); reads pay the DV anti-join until :meth:`compact`
        materializes it, and a competitor disjoint from the addressed
        partitions is rebased over.  Returns ``{"rows_dead",
        "rows_appended"}`` in dv mode, None in rewrite mode.
        ``validate_key_stability``: see :meth:`_stage_merge`."""
        mf = self._raw()
        # ``updates`` is not persisted here: each consumer reads it
        # column-pruned (the touched-partition distinct reads one
        # column), and a cache would force every column — measured
        # slower at sf0.1.  A caller whose source is EXPENSIVE
        # materializes it first (incremental_momentum_run persists its
        # trailing recompute, whose lineage is the whole history).
        ch = self._stage_merge(
            spark, mf, updates, keys, mode, cdf, when_matched_delete,
            not_matched_by_source_delete, not_matched_by_source_update,
            not_matched_by_source_condition, validate_key_stability,
            _insert_unmatched_marked)
        out = None if mode == "rewrite" else {
            "rows_dead": sum(ch.removed.values()),
            "rows_appended": sum(e["rows"] for es in ch.adds.values()
                                 for e in es)}
        if not (ch.rewritten or ch.adds or ch.dvs):
            return out      # empty update, or deletes that matched nothing
        if _crash_before_commit:
            raise CrashInjected("writer died after staging, before commit")
        if _pre_commit_hook is not None:
            _pre_commit_hook()
        self._transact(lambda snap: self._change_commit(mf, snap, ch,
                                                        "merge"),
                       snap=mf, attempts=(1 if mode == "rewrite"
                                          else _COMMIT_ATTEMPTS))
        return out

    def changes(self, spark: SparkSession, version: int) -> DataFrame:
        """ROW-LEVEL change feed for one commit (Delta's ``table_changes``
        analog): the classified rows a ``merge(..., cdf=True)`` at
        ``version`` produced, typed as the table schema AT that version
        plus ``_change_type`` (insert / update_preimage /
        update_postimage).  Downstream incremental consumers of a MERGE
        target read THIS instead of re-deriving state from the file-
        level feed's rewritten partitions (:meth:`added_files` — exact
        for appends, partition-granular for merges).  History window =
        vacuum retention, same as time travel; a commit made without
        ``cdf=True`` raises a clear error rather than silently
        returning an empty (wrong) change set."""
        mf = self._raw(self._mname(version))
        if "cdf" not in mf:
            raise FileNotFoundError(
                f"{self.root} version {version}: committed without "
                "cdf=True — no row-level change set was captured")
        # the change set is exactly what the commit wrote: no sidecar
        # of its own snapshot addresses those files
        records = [self._file_record(mf, e) for e in mf["cdf"]]
        if mf.get("cdf_kind") == "insert_files":
            # an append's feed IS its data files (pure inserts, zero
            # extra bytes on disk); the classification is a constant
            return (self._read_files(spark, records, mf)
                    .withColumn("_change_type", F.lit("insert")))
        return self._read_files(spark, records, {
            **mf, "schema": list(mf.get("schema") or [])
            + [["_change_type", "string"]]})

    def cdf_commit_action(self, v: int, mf: dict) -> str:
        """Classify one in-range commit for a change-feed walk:
        ``"read"`` (a captured change set exists), ``"skip"``
        (row-preserving maintenance — compact/OPTIMIZE's
        dataChange=false analog — or a provably metadata-only
        commit whose partitions map is byte-identical to its
        predecessor's), else RAISE for an uncaptured DATA commit.
        ONE rule shared by the batch range walk
        (:meth:`table_changes`) and the ``readChangeFeed`` stream —
        the two walks diverging on which commits are safe to skip is
        exactly the bug class ADVICE r15 #1 fixed (a stream dying on
        a commit the batch walk skipped)."""
        if "cdf" in mf:
            return "read"
        if mf.get("row_preserving"):
            return "skip"
        prev = None
        try:
            prev = self._raw(self._mname(v - 1))
        except (FileNotFoundError, OSError):
            pass               # vacuumed away: cannot prove safe
        if prev is not None and mf["partitions"] == prev["partitions"]:
            return "skip"      # metadata-only: zero change rows
        raise FileNotFoundError(
            f"{self.root} version {v}: a DATA commit in the "
            "requested range was captured without cdf=True, "
            "so its row-level change set does not exist; "
            "re-run the feed with start past this version, or "
            "pass cdf=True on every data write "
            "(append/merge/delete_where) whose changes the "
            "feed must carry — maintenance commits "
            "(compact/OPTIMIZE, ANALYZE, DDL) never need it")

    def table_changes(self, spark: SparkSession, start: int,
                      end: int | None = None) -> DataFrame:
        """RANGE change feed — Delta's ``table_changes('t', v1[, v2])``
        semantics (the SQL spelling rides on this via
        :func:`~.manifest_datasource.manifest_sql`): the classified
        row-level changes of every commit in ``[start, end]``
        (``end`` defaults to the live head), each stamped with its
        ``_commit_version``, unioned BY NAME so schema-evolution
        commits inside the range NULL-fill older change sets exactly
        like a time-travel read would.  Metadata-only commits in
        range (ANALYZE, DDL, branch/tag bookkeeping — provably so:
        their partitions map is byte-identical to the previous
        version's) contribute zero rows; a DATA commit captured
        without ``cdf=True`` raises the same clear error
        :meth:`changes` and the ``readChangeFeed`` stream do — a
        silent gap would corrupt every downstream incremental view.
        The read is bounded by CHANGE volume across the range, never
        table size."""
        live = self.version()
        end = live if end is None else int(end)
        if not 1 <= int(start) <= end <= live:
            raise ValueError(
                f"table_changes: need 1 <= start <= end <= live "
                f"head, got start={start} end={end} live={live}")
        frames = []
        for v in range(int(start), end + 1):
            mf = self._raw(self._mname(v))
            if self.cdf_commit_action(v, mf) == "skip":
                continue
            frames.append(self.changes(spark, v).withColumn(
                "_commit_version", F.lit(v).cast("long")))
        if not frames:
            schema = list(self._raw(self._mname(end)).get("schema")
                          or []) + [["_change_type", "string"],
                                    ["_commit_version", "bigint"]]
            return local_frame(
                spark, [], ", ".join(f"`{n}` {t}" for n, t in schema))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def merge_batch(self, spark: SparkSession, updates: DataFrame,
                    keys: list[str], stream_id: str, batch_id: int,
                    cdf: bool = False,
                    when_matched_delete=None,
                    not_matched_by_source_delete=None,
                    not_matched_by_source_update=None,
                    not_matched_by_source_condition=None,
                    mode: str = "rewrite",
                    _crash_before_commit: bool = False) -> bool:
        """Exactly-once streaming MERGE (the ``foreachBatch`` upsert
        sink): :meth:`merge`'s clauses, modes and change feed, with the
        stream's high-water batch id committed in the SAME manifest
        link as the data — no crash window between "data merged" and
        "batch remembered".  A replayed batch id (checkpoint recovery
        re-delivers the last uncommitted micro-batch) is refused from
        the ledger without staging a byte.  Returns True if the batch
        committed, False on replay.  With ``when_matched_delete`` this
        is the CDC-ingest tombstone shape: Debezium-style op='d' rows
        delete, the rest upsert.

        Unlike :meth:`merge` and :meth:`append_batch`, a
        :class:`CommitConflict` retry RE-STAGES against the new
        snapshot: the staged output read the pre-conflict partitions
        and could miss the competitor's rows.  The retry re-checks the
        ledger first, so a competitor landing the same batch id turns
        it into a replay refusal, and the committed change feed always
        describes the commit that landed.  The abandoned attempt's
        files are invisible orphans for ``vacuum()``."""
        def build(mf: dict) -> dict | None:
            streams = dict(mf.get("streams", {}))
            if streams.get(stream_id, -1) >= batch_id:
                return None                       # replay: already in
            streams[stream_id] = batch_id
            # an empty batch still commits its ledger entry
            ch = self._stage_merge(
                spark, mf, updates, keys, mode, cdf, when_matched_delete,
                not_matched_by_source_delete, not_matched_by_source_update,
                not_matched_by_source_condition)
            if _crash_before_commit:
                raise CrashInjected(
                    "writer died after staging, before commit")
            return {**self._change_commit(mf, mf, ch, "merge_batch"),
                    "streams": streams}

        return self._transact(build) is not None

    def append(self, df: DataFrame, cdf: bool = False) -> None:
        """Blind append (the streaming-ingest write shape): stage new
        files and ADD them to each touched partition's file list — no
        read-side merge, no rewrite of existing files.  Repeated small
        appends accumulate files per partition; ``compact()`` is the
        antidote.

        A blind append commutes with ANY concurrent commit (it only
        ADDS files), so a :class:`CommitConflict` rebases onto the new
        snapshot and retries with the already-staged files — Delta's
        appends-never-conflict semantics — instead of surfacing a
        retryable error to every ingest caller.

        ``cdf=True`` publishes the append's row-level change feed at
        ZERO extra write cost: appends are pure inserts, so the feed
        entries simply reference the commit's own data files
        (``cdf_kind='insert_files'``) and :meth:`changes` adds the
        constant classification."""
        staged: dict[str, list] | None = None

        def build(mf: dict) -> dict:
            nonlocal staged
            self._check_schema(df, mf)
            if staged is None:                    # stage once per call
                staged = self._stage(df)
            return self._append_commit(mf, staged, cdf)

        self._transact(build)

    def _append_commit(self, mf: dict, staged: dict, cdf: bool) -> dict:
        """The commit of a blind append of ``staged`` onto ``mf`` —
        :meth:`append`, :meth:`append_batch` and the DSv2 append all
        publish this: each touched ref rebuilt by
        :meth:`_rebuild_ref` (an append lands under the ACTIVE spec, so
        a value string shared with an older era's ref makes it
        era-mixed, and the base's DVs/text index ride along), and
        ``cdf`` feeding the staged files themselves."""
        return {"partitions": self._rebuilt_parts(mf, staged),
                "cdf": ([e for es in staged.values() for e in es]
                        if cdf else None),
                "cdf_kind": "insert_files"}

    def append_batch(self, df: DataFrame, stream_id: str,
                     batch_id: int, cdf: bool = False) -> bool:
        """Exactly-once streaming append (the ``foreachBatch`` sink
        shape): the per-stream high-water batch id lives IN the
        manifest, so recording the batch and publishing its files is
        ONE atomic commit — there is no crash window between "data
        written" and "batch remembered", which is the hole an external
        ledger file always leaves.  A replayed batch (restart from
        checkpoint re-delivers the last uncommitted micro-batch) is
        recognized from the live manifest and dropped without staging
        a byte.  Returns True if the batch committed, False if it was
        a replay.

        Batch ids must be monotonically increasing per ``stream_id`` —
        exactly Structured Streaming's contract for foreachBatch.  A
        :class:`CommitConflict` from a concurrent writer (another
        stream, a compaction) re-reads the new snapshot and retries;
        the replay check re-runs each attempt, so a competing commit
        of THIS batch is also caught."""
        staged: dict[str, list] | None = None

        def build(mf: dict) -> dict | None:
            nonlocal staged
            streams = dict(mf.get("streams", {}))
            if streams.get(stream_id, -1) >= batch_id:
                return None                       # replay: already in
            if staged is None:                    # stage once per call
                self._check_schema(df, mf)
                staged = self._stage(df)
            streams[stream_id] = batch_id
            return {**self._append_commit(mf, staged, cdf),
                    "streams": streams}

        return self._transact(build) is not None

    def added_files(self, since_version: int,
                    manifest_name: str | None = None) -> list[str]:
        """File-level CHANGE FEED: data files present in the live (or
        named) snapshot but absent from ``since_version``'s — the
        incremental-consumption primitive (Iceberg's incremental scan;
        Delta's CDF minus row-level delete vectors).  For append-only
        tables this is exact row-level change capture; for partitions
        a merge/compaction rewrote, the rewritten partition's full
        file set appears (file granularity — the consumer re-derives
        its state for those partitions, the standard contract).

        Sharded-metadata cost: partitions whose shard REF is unchanged
        between the two commit objects are skipped without opening a
        shard; only changed partitions load their (two) shards for the
        path diff — O(changed), not O(table)."""
        return [r["path"] for r in
                self._added_records(since_version, manifest_name)]

    def _added_records(self, since_version: int,
                       manifest_name: str | None = None) -> list[dict]:
        """:meth:`added_files` as reader records (:meth:`_file_record`
        — the stream source's incremental plan)."""
        new = self._raw(manifest_name)
        old = self._raw(self._mname(since_version))
        out: list[dict] = []
        for value, ref in new["partitions"].items():
            old_ref = old["partitions"].get(value)
            if old_ref is not None and old_ref["shard"] == ref["shard"]:
                continue                      # identical by ref
            old_paths = ({e["path"] for e in self._entries(old, value)}
                         if old_ref is not None else set())
            dvs = self._dvs(ref)
            out.extend(self._file_record(new, e, dvs)
                       for e in self._entries(new, value)
                       if e["path"] not in old_paths)
        return out

    def read_incremental(self, spark: SparkSession,
                         since_version: int) -> DataFrame:
        """Rows added since ``since_version`` (file-granular — see
        :meth:`added_files`), read through the pinned schema; an empty
        change set comes back as a typed empty frame.  This is what a
        downstream incremental pipeline tails instead of re-scanning
        the table: at 100 TB the read is bounded by the CHANGE volume,
        not the table size."""
        name = self._current_name()                      # one snapshot
        return self._read_files(
            spark, self._added_records(since_version, name), self._raw(name))

    def restore(self, version: int) -> None:
        """Delta's ``RESTORE TABLE ... TO VERSION`` analog: commit a
        NEW snapshot whose partitions, schema AND stream ledger are
        those of an older one — metadata-only (shards and data files
        are immutable, so re-pointing refs restores the data without
        moving a byte), and history-preserving (the restore is itself
        a new version; nothing is erased, so a restore can itself be
        rolled back).  The whole old snapshot is restored, ledger
        included, because it is self-consistent by construction:
        restoring data to before batch N while remembering batch N
        would lose those events forever.

        Safe against vacuum by invariant: vacuum removes historical
        manifest files in the same pass that reclaims their
        unreferenced shards/data, so any manifest still on disk has
        its whole file set intact; a vacuumed-away version fails here
        with FileNotFoundError instead of resurrecting dangling
        refs."""
        old = self._raw(self._mname(version))
        self._transact(lambda mf: {
            "partitions": old["partitions"],
            "streams": old.get("streams", {}),
            "schema": old.get("schema"),
            # the restored snapshot's OWN column mapping (schema and
            # colmap travel together — the current mapping may alias
            # names the restored schema never had)
            "colmap": old.get("colmap"),
            # retired physicals UNION: the restore brings the old
            # version's files back live, so both eras' retired names
            # must stay unreusable
            "retired": sorted(set(old.get("retired") or [])
                              | set(mf.get("retired") or [])) or None},
            attempts=1)

    def read_pruned_by_keys(self, spark: SparkSession,
                            keys: DataFrame, on: str,
                            max_keys: int = 100_000):
        """DYNAMIC FILE PRUNING (the Delta/Photon DFP shape, owned by
        the table layer): before a fact-side scan joins against a
        filtered dimension, the dimension's DISTINCT join keys drive
        the manifest's whole skipping stack — partition pruning,
        partition/file zone maps, and (when a bloom spec covers
        ``on``) per-file membership filters — so the join reads only
        the files that can possibly match, instead of the whole
        table.  At 100 TB this is the difference between "scan 10^5
        files, shuffle, then throw 99% away" and "open the handful of
        files the keys live in".

        ``keys``: any DataFrame carrying column ``on`` (typically the
        already-filtered dim).  Key collection is bounded: up to
        ``max_keys`` distinct values travel to the driver as an
        IN-list spec (the bloom-probe shape); beyond that the spec
        degrades to the keys' [min, max] RANGE — one aggregate row,
        still zone-map-prunable, never a collect of unbounded size.
        Returns ``(df, plan)``: the pruned frame is a SUPERSET of the
        matching rows (skipping is file-granular) — the JOIN ITSELF
        is the exact predicate, exactly as engines apply DFP —
        and ``plan`` is the scan_plan dict so callers/tests can pin
        the skip counts."""
        import datetime

        def canon(v):
            if isinstance(v, (datetime.date, datetime.datetime)):
                return v.isoformat()
            return v

        kd = keys.select(on).distinct()
        if kd.limit(max_keys + 1).count() <= max_keys:
            vals = [canon(r[0]) for r in kd.collect()
                    if r[0] is not None]
            where = {on: vals}
        else:
            b = kd.agg(F.min(on).alias("lo"),
                       F.max(on).alias("hi")).collect()[0]
            where = {on: (canon(b["lo"]), canon(b["hi"]))}
        name = self._current_name()                      # one snapshot
        plan = self.scan_plan(where, name)
        return self._read_files(spark, plan["records"], self._raw(name)), plan

    def build_text_index(self, spark: SparkSession, col: str,
                         m: int = 1 << 15, k: int = 5) -> dict:
        """Build a WORD-LEVEL membership index over a text column —
        the full-text analog of :meth:`set_bloom`: one Spark job
        tokenizes every live file's ``col`` (lowercased, split on
        non-alphanumeric runs), folds each file's distinct words into
        a Bloom filter JVM-side (the module hashing contract:
        md5 → two 60-bit halves → Kirsch-Mitzenmacher positions →
        ``bit_or`` word masks — :func:`_bloom_words`, the build
        :meth:`_attach_blooms` uses, so the driver probe replays it
        bit-for-bit), and stores
        one sidecar JSON per partition next to the shards.
        :meth:`search_text` then drops whole files whose filter proves
        a term absent — at 100 TB, a needle-term search opens the
        handful of files that contain the word instead of scanning
        every text page.  The index is INCREMENTAL-SAFE by
        conservatism: files appended after the build are simply
        absent from the map and are always read; rewrites (compact /
        merge) drop the stale ref key.  Re-run to refresh.  Same
        coverage gate as the value blooms (r9 ADVICE item 3): only
        files the build job provably read under the driver-resolved
        path get a filter; a wordless-but-read file gets ``{}`` (skips
        every probe, correctly)."""
        if (m & (m - 1)) != 0 or m < 64:
            raise ValueError(f"m={m} must be a power of two >= 64")
        mf = self._raw()
        cm = mf.get("colmap") or {}
        p = cm.get(col, col)
        dtypes = {n: t for n, t in (mf.get("schema") or [])}
        if dtypes and dtypes.get(col) != "string":
            raise SchemaMismatch(
                f"build_text_index: column {col!r} has type "
                f"{dtypes.get(col)!r}; text indexing wants string")
        records = self._part_records(mf, list(mf["partitions"]))
        if not records:
            return {}
        abs_to_rel = {os.path.abspath(r["path"]): r["rel"]
                      for r in records}
        df = spark.read.parquet(*[r["path"] for r in records])
        seen, words = _bloom_words(
            df, {col: F.explode(F.array_remove(F.array_distinct(
                F.split(F.lower(F.col(p)), "[^a-z0-9]+")), ""))},
            m, k)
        per_file: dict[str, dict] = {
            rel: {} for ab, rel in abs_to_rel.items() if ab in seen}
        for path, _, w, b in words:
            rel = abs_to_rel.get(path)
            if rel is not None and rel in per_file:
                per_file[rel][w] = b
        sdir = os.path.join(self.root, _SHARD_DIR)
        os.makedirs(sdir, exist_ok=True)

        def build(cur: dict) -> dict:      # metadata-only: rebases
            parts: dict = {}
            for value, ref in cur["partitions"].items():
                es = self._entries(cur, value)
                fmap = {e["path"]: per_file[e["path"]]
                        for e in es if e["path"] in per_file}
                ref2 = dict(ref)
                if not fmap:
                    ref2.pop("tidx", None)
                    parts[value] = ref2
                    continue
                shard_rel = os.path.join(
                    _SHARD_DIR,
                    f"tidx-{uuid.uuid4().hex[:16]}.json")
                with open(os.path.join(self.root, shard_rel),
                          "w") as f:
                    f.write(json.dumps(fmap, sort_keys=True))
                    f.flush()
                    os.fsync(f.fileno())
                ref2["tidx"] = {**(ref2.get("tidx") or {}),
                                col: {"shard": shard_rel, "m": m, "k": k}}
                parts[value] = ref2
            return {"partitions": parts}

        self._transact(build)
        return {"files": len(records), "indexed": len(per_file)}

    def search_text(self, spark: SparkSession, col: str, terms,
                    manifest_name: str | None = None):
        """Word search over an indexed text column: every term (split
        into lowercase words) must appear as a WHOLE WORD in ``col``.
        File skipping comes from the :meth:`build_text_index` sidecars
        — a file whose filter proves ANY query word absent never
        reaches Spark's reader; unindexed files (appended post-build,
        or no index at all) are read conservatively.  Returns
        ``(df, stats)``: the frame already carries the EXACT word-
        boundary predicate (the index is only an accelerator, never
        the answer), stats pins {files, files_pruned} so tests and
        dashboards can watch index effectiveness."""
        mf = self._raw(manifest_name)
        words: list[str] = []
        for t in (terms if isinstance(terms, (list, tuple, set))
                  else [terms]):
            words += [w for w in re.split(r"[^a-z0-9]+",
                                          str(t).lower()) if w]
        if not words:
            raise ValueError(f"no searchable words in {terms!r}")
        kept: list[dict] = []
        total = pruned = 0
        for value, ref in mf["partitions"].items():
            tidx = ((ref.get("tidx") or {}).get(col)
                    if isinstance(ref, dict) else None)
            fmap: dict = {}
            if tidx:
                with open(os.path.join(self.root,
                                       tidx["shard"])) as f:
                    fmap = json.load(f)
            dvs = self._dvs(ref)
            for e in self._entries(mf, value):
                total += 1
                bc = fmap.get(e["path"])
                if bc is not None and any(
                        _bloom_excluded(bc, [w], "string",
                                        tidx["m"], tidx["k"])
                        for w in words):
                    pruned += 1
                    continue
                kept.append(self._file_record(mf, e, dvs))
        df = self._read_files(spark, kept, mf)
        pred = None
        for w in words:
            one = F.lower(F.col(col)).rlike(
                f"(^|[^a-z0-9]){w}([^a-z0-9]|$)")
            pred = one if pred is None else (pred & one)
        return df.where(pred), {"files": total, "files_pruned": pruned}

    def analyze(self, spark: SparkSession,
                columns: list[str] | None = None,
                approx: bool = False,
                frequencies: list[str] | None = None,
                quantiles: list[str] | None = None,
                quantile_scale: float = 1.0) -> dict:
        """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``:
        one distributed aggregation over the LIVE rows computes, per
        column, the distinct-value count, null count, and min/max,
        and records them in the commit object stamped with the
        version they were computed at — the optimizer-grade stats
        (NDV for join sizing, null fraction for filter selectivity)
        that footer zone maps cannot supply.  ``approx=True`` swaps
        exact ``countDistinct`` (a shuffle per column — fine at audit
        time, expensive at 100 TB) for HyperLogLog — and STORES the
        per-column register arrays (2^8 ints, a few hundred bytes
        each) in the commit object, which is the documented reason
        the sketch module exists (functions/sketches.py:1-24, VERDICT
        r12 "Next round" #7): registers merge by element-wise max, so
        :meth:`analyze_incremental` can refresh stats after appends
        by sketching ONLY the new files and folding — never
        re-scanning 100 TB the optimizer already analyzed.  Approx
        NDV is :func:`~.functions.sketches.hll_estimate_py` over the
        stored registers (the SAME estimator a later merge uses — no
        cross-implementation drift between fresh and merged stats).
        Stats carry commit-to-commit;
        :meth:`meta_column_stats` marks them ``stale`` once the table
        moves past the analyzed version (re-run to refresh — the
        Delta/Iceberg stats-freshness contract).  Returns the
        recorded payload.

        ``frequencies=[cols]`` additionally stores a Count-Min
        frequency sketch per named column (functions/sketches.py —
        4x256 pure-sum counters, order-independent, mergeable by
        addition): :meth:`estimate_frequency` then answers "how hot
        is key K?" from the commit object in O(1), the input to a
        salt-this-join decision that normally costs a full fact
        groupBy.  Sketched columns merge through
        :meth:`analyze_incremental` exactly (sums commute).

        ``quantiles=[cols]`` (VERDICT r13 "Next round" #5 — the last
        member of the stored-stats family: NDV + frequency +
        quantiles) additionally stores a deterministic log-histogram
        quantile sketch per named column
        (functions/sketches.py:ddq_buckets — the DDSketch bucket
        family on integer-exact keys, chosen over KLL because KLL's
        randomized compaction is not oracle-replayable): counts are
        pure sums so incremental merge is EXACT, and
        :meth:`estimate_quantile` answers "p99 of this column" from
        the commit object with zero rank error at bucket granularity
        and <= 1/32 relative value error.  ``quantile_scale`` is the
        quantization grain (100.0 = cents for price columns); it is
        stored with the sketch and pinned for later merges."""
        mf = self._raw()
        schema = mf.get("schema") or []
        if not schema:
            raise RuntimeError(f"{self.root}: no pinned schema to "
                               f"analyze")
        names = [n for n, _ in schema]
        cols = columns or names
        missing = [c for c in cols if c not in names]
        if missing:
            raise SchemaMismatch(
                f"analyze: no column(s) {missing} in the pinned "
                f"schema {names}")
        for c in frequencies or []:
            if c not in cols:
                raise SchemaMismatch(
                    f"analyze(frequencies=...): column {c!r} not in "
                    f"the analyzed set {cols} (a sketch without base "
                    f"stats would read back partial)")
        for c in quantiles or []:
            if c not in cols:
                raise SchemaMismatch(
                    f"analyze(quantiles=...): column {c!r} not in "
                    f"the analyzed set {cols} (a sketch without base "
                    f"stats would read back partial)")
        df = self.read(spark)
        # the stats pass, each CMS grid and each quantile sketch are
        # INDEPENDENT jobs over the same snapshot; submit them from a
        # small thread pool so later jobs back-fill the cores the
        # current job's tail leaves idle (guide §2.6 — a 2-col
        # frequencies+stats analyze was 5 sequential narrow jobs).
        # Each job's result is deterministic on its own, so overlap
        # changes wall-clock only, never the recorded payload.
        from concurrent.futures import ThreadPoolExecutor

        from .functions import sketches

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_stats = pool.submit(self._column_stats, df, cols, approx)
            f_cms = {c: pool.submit(sketches.cms_counters, df, c)
                     for c in frequencies or []}
            f_ddq = {c: pool.submit(sketches.ddq_buckets, df, c,
                                    float(quantile_scale))
                     for c in quantiles or []}
            stats = f_stats.result()
            for c, fut in f_cms.items():
                stats[c]["cms"] = fut.result()
            for c, fut in f_ddq.items():
                stats[c]["ddq"] = {"scale": float(quantile_scale),
                                   "buckets": fut.result()}
        return self._record_colstats(mf, stats, approx)

    def _record_colstats(self, mf: dict, stats: dict,
                         approx: bool) -> dict:
        """Commit ``stats`` (per-column ANALYZE payloads computed from
        snapshot ``mf``) over the live stats of the other columns —
        metadata-only, so a conflict rebases.  The analyze commit
        itself changes no data, so stats computed from ``mf`` are
        valid AT the version this commit creates — unless the table
        moved under the scan, in which case they are recorded against
        the version actually read and staleness shows honestly.
        Returns the recorded payload."""
        return self._transact(lambda cur: {"colstats": {
            "version": (cur["version"] + 1
                        if cur["version"] == mf["version"]
                        else mf["version"]),
            "approx": bool(approx),
            "columns": {**(cur.get("colstats") or {}).get("columns", {}),
                        **stats}}})["colstats"]

    def _column_stats(self, df: DataFrame, cols: list[str],
                      approx: bool) -> dict:
        """One pass of nulls/min/max over ``df`` plus, per column,
        either an exact countDistinct (audit mode) or an HLL register
        sketch (approx mode — one grouped job per column at register
        grain; registers are what make the stats MERGEABLE)."""
        from .functions import sketches

        aggs = []
        for c in cols:
            if not approx:
                aggs.append(F.countDistinct(F.col(c))
                            .alias(f"ndv__{c}"))
            aggs += [F.sum(F.col(c).isNull().cast("long"))
                      .alias(f"nulls__{c}"),
                     F.min(F.col(c)).cast("string")
                      .alias(f"min__{c}"),
                     F.max(F.col(c)).cast("string")
                      .alias(f"max__{c}")]
        row = df.agg(*aggs).collect()[0]
        stats = {}
        for c in cols:
            stats[c] = {"nulls": int(row[f"nulls__{c}"] or 0),
                        "min": row[f"min__{c}"],
                        "max": row[f"max__{c}"]}
            if approx:
                regs_rows = sketches.hll_registers(
                    df.where(F.col(c).isNotNull()).select(c),
                    [], c).collect()
                regs = (list(regs_rows[0]["hll"]) if regs_rows
                        else [0] * 256)
                stats[c]["hll"] = regs
                stats[c]["ndv"] = (sketches.hll_estimate_py(regs)
                                   if any(regs) else 0)
            else:
                stats[c]["ndv"] = int(row[f"ndv__{c}"])
        return stats

    def _analyze_rebuild(self, spark: SparkSession,
                         columns: list[str] | None = None) -> dict:
        """Full approx re-analyze of ``columns`` (default: the pinned
        schema) REBUILDING every sketch the columns already carry —
        CMS frequencies re-threaded into every per-scale call and ddq
        sketches rebuilt per scale group, because one analyze() call
        carries ONE quantile scale and replaces each column's stats
        dict wholesale (ADVICE r14 #1/#2 were the same
        sketch-stripping defect landed in two copies of this loop —
        now the single shared implementation under both
        ``analyze_incremental``'s full fallback and SQL ``ANALYZE``).
        Returns the recorded payload."""
        mf = self._raw()
        prior = (mf.get("colstats") or {}).get("columns", {})
        cols = columns or [n for n, _ in (mf.get("schema") or [])]
        freq = [c for c in cols if prior.get(c, {}).get("cms")]
        groups: dict[float, list[str]] = {}
        for c in cols:
            ddq = prior.get(c, {}).get("ddq")
            if ddq:
                groups.setdefault(ddq["scale"], []).append(c)
        scales = sorted(groups)
        out = self.analyze(
            spark, columns=columns, approx=True, frequencies=freq,
            quantiles=sorted(groups[scales[0]]) if scales else [],
            quantile_scale=scales[0] if scales else 1.0)
        for s in scales[1:]:
            out = self.analyze(
                spark, columns=sorted(groups[s]), approx=True,
                frequencies=sorted(set(groups[s]) & set(freq)),
                quantiles=sorted(groups[s]), quantile_scale=s)
        return out

    def analyze_incremental(self, spark: SparkSession,
                            columns: list[str] | None = None) -> dict:
        """Refresh ANALYZE stats after APPENDS without re-scanning
        analyzed data (VERDICT r12 "Next round" #7): sketch only the
        files added since the last ``analyze(approx=True)`` and MERGE
        — HLL registers union by element-wise max, null counts add,
        min/max fold typed — so the cost is O(new rows) + metadata,
        the property that makes per-append stats maintenance viable
        at 100 TB.  Honest fallbacks to a FULL approx analyze (HLL
        cannot subtract): no prior sketch for a requested column, the
        analyzed manifest vacuumed away, any analyzed file no longer
        live, or any deletion-vector growth since the analyze —
        removals invalidate a union-only sketch.  Returns the
        recorded payload plus ``scanned_files`` (the incremental
        proof: == the new-file count, 0 when already fresh)."""
        from .functions import sketches

        mf = self._raw()
        cs = mf.get("colstats") or {}
        cols = columns or [n for n, _ in (mf.get("schema") or [])]
        prior = cs.get("columns", {})
        av = cs.get("version")
        # columns whose prior stats carry a CMS / quantile sketch
        # keep it through the refresh — counters are pure sums, so
        # incremental merge is EXACT for them, and a full fallback
        # must rebuild them too
        freq_cols = [c for c in cols if prior.get(c, {}).get("cms")]
        ddq_cols = {c: prior[c]["ddq"]["scale"] for c in cols
                    if prior.get(c, {}).get("ddq")}

        def _full_fallback() -> dict:
            out = self._analyze_rebuild(spark, columns)
            out["scanned_files"] = -1          # full scan, documented
            return out

        if av is None or any(not prior.get(c, {}).get("hll")
                             for c in cols):
            return _full_fallback()
        if av >= mf["version"]:
            return {**cs, "scanned_files": 0}  # already fresh
        try:
            old = self._raw(self._mname(av))
        except (FileNotFoundError, OSError):
            return _full_fallback()
        old_entries = {v: self._entries(old, v)
                       for v in old["partitions"]}
        old_files = {e["path"] for es in old_entries.values()
                     for e in es}
        live_entries = {v: self._entries(mf, v)
                        for v in mf["partitions"]}
        live_files = {e["path"] for es in live_entries.values()
                      for e in es}
        dv_grew = any(
            (r.get("dv_rows", 0) if isinstance(r, dict) else 0)
            > (old["partitions"].get(v, {}).get("dv_rows", 0)
               if isinstance(old["partitions"].get(v), dict) else 0)
            for v, r in mf["partitions"].items())
        if not old_files <= live_files or dv_grew:
            return _full_fallback()
        new = [self._file_record(mf, e, self._dvs(mf["partitions"][v]))
               for v, es in live_entries.items() for e in es
               if e["path"] not in old_files]
        if not new:
            merged = {**prior}
        else:
            frame = self._read_files(spark, new, mf)
            fresh = self._column_stats(frame, cols, approx=True)
            dtypes = dict(mf.get("schema") or [])
            merged = {**prior}
            for c in cols:
                p_, f_ = prior[c], fresh[c]
                regs = sketches.hll_merge_py(p_["hll"], f_["hll"])
                lo, hi = self._fold_minmax(
                    spark, dtypes.get(c),
                    (p_["min"], p_["max"]), (f_["min"], f_["max"]))
                merged[c] = {
                    "ndv": (sketches.hll_estimate_py(regs)
                            if any(regs) else 0),
                    "nulls": p_["nulls"] + f_["nulls"],
                    "min": lo, "max": hi, "hll": regs}
                if c in freq_cols:
                    merged[c]["cms"] = sketches.cms_merge_py(
                        p_["cms"], sketches.cms_counters(frame, c))
                if c in ddq_cols:
                    s = p_["ddq"]["scale"]
                    merged[c]["ddq"] = {
                        "scale": s,
                        "buckets": sketches.ddq_merge_py(
                            p_["ddq"]["buckets"],
                            sketches.ddq_buckets(frame, c, s))}
        return {**self._record_colstats(mf, merged, True),
                "scanned_files": len(new)}

    def estimate_frequency(self, col: str, value) -> int:
        """Estimated row count of ``value`` in ``col`` from the
        Count-Min sketch stored by ``analyze(frequencies=[col])`` —
        O(1) commit-object lookups, no scan.  NEVER an undercount
        (CMS guarantees estimate >= truth); overcount bounded by
        ~e/256 of the column's non-null rows per the published
        analysis.  This is the 100 TB skew probe: compare against
        rows/NDV (the mean frequency) to decide whether a join key
        needs salting BEFORE launching the join.  Raises if no sketch
        was recorded for the column (an implicit zero would read as
        'not skewed')."""
        from .functions import sketches

        cs = (self._raw().get("colstats") or {}).get("columns", {})
        grid = cs.get(col, {}).get("cms")
        if not grid:
            raise RuntimeError(
                f"{self.root}: no frequency sketch for {col!r} — run "
                f"analyze(spark, frequencies=[{col!r}]) first")
        return sketches.cms_estimate_py(grid, value)

    def estimate_quantile(self, col: str, q: float) -> float:
        """Quantile estimate of ``col`` from the log-histogram sketch
        stored by ``analyze(quantiles=[col])`` — a cumulative walk
        over the commit-object bucket pairs, no scan.  Rank is EXACT
        at bucket granularity (counts are pure sums); the returned
        value is the straddling bucket's midpoint, within 1/32
        relative (log region) or 1/scale absolute (linear region) of
        a true value at that rank.  This is the 100 TB range-stat
        probe: "p99 of order value this quarter" or a range
        predicate's selectivity from metadata, where exact
        percentile_cont is a full sort-shuffle.  Raises if no sketch
        was recorded for the column."""
        from .functions import sketches

        cs = (self._raw().get("colstats") or {}).get("columns", {})
        ddq = cs.get(col, {}).get("ddq")
        if not ddq:
            raise RuntimeError(
                f"{self.root}: no quantile sketch for {col!r} — run "
                f"analyze(spark, quantiles=[{col!r}]) first")
        out = sketches.ddq_quantile_py(ddq["buckets"], q,
                                       ddq["scale"])
        if out is None:
            # a recorded-but-empty sketch (all rows NULL/non-finite
            # at analyze time): an implicit None would TypeError far
            # from the cause in any caller doing arithmetic on it
            raise RuntimeError(
                f"{self.root}: quantile sketch for {col!r} is empty "
                f"(no finite non-null rows were analyzed)")
        return out

    def estimate_range_rows(self, col: str, lo=None, hi=None) -> int:
        """Estimated row count with ``lo <= col < hi`` from the
        stored quantile sketch (either bound None = open) — the
        range-selectivity probe VERDICT r13 #5 named: zone maps can
        only say "this file MIGHT overlap [lo, hi)", never how many
        rows do, so a cost-based choice (broadcast vs shuffle, scan
        vs index) over a range predicate otherwise needs a data
        pass.  The walk counts whole buckets inside the range and
        takes the pro-rata share of the two straddling buckets
        (uniform-within-bucket, the textbook histogram assumption);
        the error is bounded by the straddlers' counts, and buckets
        are <= 1/32 relative wide so the estimate degrades only on
        extremely value-concentrated data.  O(buckets), no scan.
        Raises if no sketch was recorded for the column."""
        from .functions import sketches

        cs = (self._raw().get("colstats") or {}).get("columns", {})
        ddq = cs.get(col, {}).get("ddq")
        if not ddq:
            raise RuntimeError(
                f"{self.root}: no quantile sketch for {col!r} — run "
                f"analyze(spark, quantiles=[{col!r}]) first")
        total = 0.0
        for k, c in ddq["buckets"]:
            blo, bhi = sketches.ddq_bounds_py(k, ddq["scale"])
            left = blo if lo is None else max(blo, float(lo))
            right = bhi if hi is None else min(bhi, float(hi))
            if right <= left:
                continue
            total += c * (right - left) / (bhi - blo)
        return int(round(total))

    def plan_salt(self, col: str, skew_threshold: float = 4.0,
                  max_salts: int = 64) -> dict | None:
        """The SALT-THIS-KEY decision from the commit object alone
        (the second stored-stats planning consumer, VERDICT r14 #4):
        compares the hottest key's CMS frequency upper bound
        (:func:`~.functions.sketches.cms_max_frequency_py` — no
        candidate key needed) against the MEAN key frequency
        (non-null rows / HLL NDV) and recommends a salt fan-out for
        :func:`~.operators.salt.salted_agg` /
        ``salted_broadcast_left`` — the decision that otherwise costs
        a full fact groupBy BEFORE the real job can even be planned.
        Returns ``{"skewed": bool, "n_salts": int, "est_hot": int,
        "mean": float, "ndv": int}`` with ``n_salts`` =
        ceil(est_hot / mean) clamped to [1, max_salts] (spread the
        hot key until its per-task share is ~the mean key's work), or
        ``None`` when the column carries no CMS or NDV stats — the
        honest no-stats fallback: the caller keeps its static
        default, never a guessed fan-out."""
        import math

        mf = self._raw()
        cs = (mf.get("colstats") or {}).get("columns", {})
        stats = cs.get(col, {})
        grid, ndv = stats.get("cms"), stats.get("ndv")
        if not grid or not ndv:
            return None
        from .functions import sketches

        live = sum(r["rows"] - r.get("dv_rows", 0)
                   for r in mf["partitions"].values())
        nonnull = max(live - int(stats.get("nulls", 0)), 0)
        mean = nonnull / max(int(ndv), 1)
        est_hot = sketches.cms_max_frequency_py(grid)
        skewed = est_hot >= skew_threshold * max(mean, 1.0)
        n = (min(max_salts, max(1, math.ceil(est_hot / max(mean, 1.0))))
             if skewed else 1)
        return {"skewed": bool(skewed), "n_salts": int(n),
                "est_hot": int(est_hot), "mean": float(mean),
                "ndv": int(ndv)}

    def plan_broadcast(self,
                       threshold_bytes: int = 10 * 1024 * 1024,
                       where: tuple | None = None) -> dict:
        """The BROADCAST-OR-SHUFFLE side decision from the commit
        object alone (the other half of what a warehouse optimizer
        does with stored stats, VERDICT r15 "Next round" #4): the
        table's live on-disk size — total file bytes scaled by the
        live-row fraction when deletion vectors mark rows dead —
        against ``threshold_bytes`` (Spark's
        ``autoBroadcastJoinThreshold`` shape).  Pure commit-object
        arithmetic: no scan, no ANALYZE required (rows/bytes are
        structural in every ref), so the decision is available the
        moment the table exists.  Returns ``{"broadcast": bool,
        "est_bytes": int, "live_rows": int, "threshold": int,
        "selectivity": float | None}``; the caller applies
        ``F.broadcast()`` iff ``broadcast`` — at 100 TB this is what
        keeps a 50-row dim from shuffling a 10^11-row fact, decided
        without touching either.

        ``where=(col, lo, hi)`` decides for the FILTERED side of a
        join — "does ``t WHERE lo <= col < hi`` fit a broadcast?" —
        the textbook CBO selectivity × width estimate, and the
        stored QUANTILE sketch's planning consumer (VERDICT r15
        "Next round" #2, closing the stats triad: CMS → probe order,
        CMS+HLL → salt fan-out, DDQ → range selectivity): when
        ``analyze(quantiles=[col])`` stats exist,
        :meth:`estimate_range_rows` scales the size estimate by the
        range's selectivity — zone maps can only say a file MIGHT
        overlap, never how many rows do.  Without a sketch the
        decision falls back to the UNFILTERED size with
        ``selectivity: None`` — the honest conservative fallback: a
        missing sketch can delay a broadcast, never cause a wrong
        one."""
        mf = self._raw()
        refs = list(mf["partitions"].values())
        total_bytes = sum(r["bytes"] for r in refs)
        rows = sum(r["rows"] for r in refs)
        live = rows - sum(r.get("dv_rows", 0) for r in refs)
        est = (0 if rows == 0
               else int(round(total_bytes * live / rows)))
        sel = self._range_selectivity(live, where)
        if sel is not None:
            est = int(round(est * sel))
        return {"broadcast": bool(est <= int(threshold_bytes)),
                "est_bytes": est, "live_rows": int(live),
                "threshold": int(threshold_bytes),
                "selectivity": sel}

    def _range_selectivity(self, live: int,
                           where: tuple | None) -> float | None:
        """Shared no-sketch-honest range-selectivity probe for the
        stats-driven planners (:meth:`plan_broadcast`,
        :meth:`plan_backfill`): the fraction of live rows
        ``estimate_range_rows`` puts inside ``where=(col, lo, hi)``,
        clamped to [0, 1] — or ``None`` when ``where`` is absent, the
        table is empty, or no quantile sketch exists for the column
        (every caller treats None as "assume everything matches", the
        conservative fallback)."""
        if where is None or live <= 0:
            return None
        col, lo, hi = where
        try:
            est_rows = self.estimate_range_rows(col, lo, hi)
        except RuntimeError:
            return None          # no sketch: full-volume fallback
        return min(max(est_rows, 0) / live, 1.0)

    def plan_backfill(self, step_rows: int,
                      where: tuple | None = None,
                      max_step_files: int = 4096,
                      since_version: int | None = None) -> dict:
        """Pre-size a chunked backfill's per-run FILE budget from the
        commit object (VERDICT r15 "Next round" #2's other named
        consumer): ``backfill_manifest_stream`` admits whole versions
        until ``step_files`` staged files, but the quantity a sink
        actually has to absorb per run is ROWS DELIVERED — and when
        the replayed query filters on a range (``where=(col, lo,
        hi)``), rows delivered per staged file is the file's row count
        times the range's selectivity.  This turns a per-run ROW
        budget into the file budget the walk understands:
        ``step_files = step_rows / (avg_rows_per_file x selectivity)``
        with selectivity from the stored quantile sketch
        (:meth:`estimate_range_rows` — the same DDQ consumer
        :meth:`plan_broadcast` uses).  A selective replay admits
        proportionally MORE files per run, so a catch-up finishes in
        fewer bounded runs at the SAME sink pressure.  Without a
        sketch (or without ``where``) selectivity falls back to 1.0
        with ``selectivity: None`` — the honest conservative default:
        a missing sketch can only make chunks smaller (more runs),
        never an oversized batch.  Pure commit-object arithmetic —
        no scan, no data I/O; at 100 TB the sizing decision for a
        month-long catch-up costs one JSON read.

        ``since_version`` scopes the rows/file average to what the
        walk will actually REPLAY — the diff of the two commit
        objects' aggregates, exact for an append-only range: a big
        compacted base would otherwise inflate the average (slivered
        streaming appends would then land oversized runs), and a
        slivered base would deflate it.  If the range's diff is not
        append-shaped (a compaction/merge in range makes the file or
        row delta non-positive), the whole-table mean stays the
        honest basis.  The sketch's selectivity is whole-table
        either way (sketches are snapshot-scoped) — the stationary-
        distribution assumption every histogram CBO makes."""
        mf = self._raw()
        refs = list(mf["partitions"].values())
        files = sum(r["files"] for r in refs)
        rows = sum(r["rows"] for r in refs)
        live = rows - sum(r.get("dv_rows", 0) for r in refs)
        avg = (live / files) if files else 0.0
        if since_version is not None:
            old = self._raw(self._mname(int(since_version)))
            orefs = list(old["partitions"].values())
            dfiles = files - sum(r["files"] for r in orefs)
            dlive = live - sum(r["rows"] - r.get("dv_rows", 0)
                               for r in orefs)
            if dfiles > 0 and dlive > 0:
                avg = dlive / dfiles
        sel = self._range_selectivity(live, where)
        eff = avg * (1.0 if sel is None else sel)
        n = (int(max_step_files) if eff <= 0.0
             else int(int(step_rows) // max(eff, 1e-9)))
        n = max(1, min(int(max_step_files), n))
        return {"step_files": n, "selectivity": sel,
                "avg_rows_per_file": float(avg),
                "est_rows_per_run": int(round(n * eff)),
                "live_rows": int(live), "files": int(files)}

    @staticmethod
    def _fold_minmax(spark, dtype: str | None, a: tuple, b: tuple):
        """TYPED min/max fold of two string-rendered bounds pairs —
        '9' < '10' lexically, so the fold casts through the pinned
        column type (one local Spark expression, no job)."""
        vals = [x for x in (*a, *b)]
        if all(v is None for v in vals):
            return None, None
        t = dtype or "string"
        row = spark.range(1).select(
            F.least(*[F.lit(v).cast(t) for v in (a[0], b[0])])
             .cast("string").alias("lo"),
            F.greatest(*[F.lit(v).cast(t) for v in (a[1], b[1])])
             .cast("string").alias("hi")).first()
        return row["lo"], row["hi"]

    def meta_column_stats(self, spark: SparkSession) -> DataFrame:
        """COLUMN-STATISTICS inspection table: one row per pinned
        column — type, analyzed NDV / null count / min / max (NULL
        until :meth:`analyze` runs for that column), the version the
        stats were computed at, and whether they are STALE (the table
        has committed past that version).  Commit-object read only —
        no shard loads, no data I/O."""
        mf = self._raw()
        cs = mf.get("colstats") or {}
        cur = mf["version"]
        av = cs.get("version")
        rows = []
        for n, t in (mf.get("schema") or []):
            s = cs.get("columns", {}).get(n)
            rows.append((
                n, t,
                None if s is None else int(s["ndv"]),
                None if s is None else int(s["nulls"]),
                None if s is None else s["min"],
                None if s is None else s["max"],
                None if s is None else int(av),
                None if s is None else bool(av < cur),
                # which stored sketches exist for the column — the
                # capability surface of metadata-priced answers (NDV
                # / frequency / quantile+range)
                None if s is None else bool(s.get("hll")),
                None if s is None else bool(s.get("cms")),
                None if s is None else bool(s.get("ddq"))))
        return local_frame(
            spark, rows, "column string, dtype string, ndv bigint, "
                         "nulls bigint, vmin string, vmax string, "
                         "analyzed_version bigint, stale boolean, "
                         "has_hll boolean, has_cms boolean, "
                         "has_quantiles boolean")

    def clone(self, dest_root: str, version: int | None = None,
              shallow: bool = True,
              backend: CommitBackend | None = None) -> "ManifestTable":
        """Delta's ``CREATE TABLE ... CLONE`` analog: materialize an
        independent table at ``dest_root`` from this table's snapshot
        (live, or a pinned ``version`` — time-travel clone).

        ``shallow=True`` (default) is ZERO-COPY: the clone's manifest
        BORROWS the source's immutable data files by absolute path —
        driver-side metadata writes only, no data byte moves, O(files)
        JSON regardless of table size (the operation Delta ships for
        "test a migration against prod data without copying 100 TB").
        Writes to the clone stage new files under the CLONE root and
        never touch the source; a later :meth:`compact` re-homes
        borrowed files locally ("un-clone").  Deletion-vector sidecars
        are copied (they are tiny indexes, not data) with their row
        addresses rewritten to the borrowed files' absolute paths, so
        DV-dead rows stay dead through every clone read path.
        ``vacuum`` on the CLONE never reclaims borrowed files (they
        live outside its data dir); vacuum on the SOURCE can reclaim
        a borrowed file once the source no longer references it — the
        standard shallow-clone dependency Delta documents.  Deep-clone
        or compact the clone before vacuuming the source aggressively.

        ``shallow=False`` copies every referenced data file (and DV
        sidecar) under the clone root — a self-contained backup with
        the file layout, footer stats, Bloom indexes and zone maps
        carried over verbatim (driver-side copy; a petabyte-scale
        deep clone would distribute the byte copy, but the manifest
        assembly here is already O(metadata)).

        Either way the clone starts a FRESH history at version 1 with
        the source's schema, column mapping, Bloom spec and
        constraints carried; the source's stream ledger is NOT
        carried (the clone is a new sink identity — replay suppression
        keyed to the source would silently drop the first batch of
        any stream re-pointed at the clone), and tags/branches stay
        with the source."""
        import shutil

        name = None if version is None else self._mname(version)
        mf = self._raw(name)
        dest = ManifestTable(dest_root, mf.get("ts"), backend=backend,
                             partition=mf.get("pt"))
        if os.path.exists(os.path.join(dest_root, _MANIFEST_DIR)):
            raise RuntimeError(
                f"clone destination {dest_root!r} already holds a "
                f"manifest table")
        os.makedirs(dest._mdir(), exist_ok=True)
        # a pure-borrow clone may stage nothing locally, but the data
        # dir is part of the table layout (vacuum walks it)
        os.makedirs(os.path.join(dest_root, "data"), exist_ok=True)
        txn = f"txn-clone-{uuid.uuid4().hex[:12]}"
        parts: dict[str, list | dict] = {}
        for value in sorted(mf["partitions"]):
            ref = mf["partitions"][value]
            leaf = os.path.join(dest_root, "data", txn,
                                f"{_PT}={value}")
            entries, relmap = [], {}
            for i, e in enumerate(self._entries(mf, value)):
                ne = dict(e)
                src_abs = os.path.abspath(
                    os.path.join(self.root, e["path"]))
                if shallow:
                    ne["path"] = src_abs
                else:
                    rel = os.path.join("data", txn, f"{_PT}={value}",
                                       f"clone-{i:05d}.parquet")
                    os.makedirs(leaf, exist_ok=True)
                    shutil.copy2(src_abs, os.path.join(dest_root,
                                                       rel))
                    ne["path"] = rel
                    relmap[e["path"]] = rel
                entries.append(ne)
            extra: dict = {}
            if isinstance(ref, dict) and "pid" in ref:
                extra["pid"] = ref["pid"]   # era stamp travels
            tidx_in = (ref.get("tidx", {})
                       if isinstance(ref, dict) else {})
            if tidx_in:
                # the text-index sidecars travel too, re-keyed to the
                # clone's file addresses (absolute borrows / re-homed
                # copies) so search_text keeps pruning on the clone
                os.makedirs(os.path.join(dest_root, _SHARD_DIR),
                            exist_ok=True)
                tidx_out = {}
                for tcol, spec in tidx_in.items():
                    with open(os.path.join(self.root,
                                           spec["shard"])) as f:
                        fmap = json.load(f)
                    if shallow:
                        fmap = {os.path.abspath(
                                    os.path.join(self.root, r)): bc
                                for r, bc in fmap.items()}
                    else:
                        fmap = {relmap[r]: bc
                                for r, bc in fmap.items()
                                if r in relmap}
                    shard_rel = os.path.join(
                        _SHARD_DIR,
                        f"tidx-{uuid.uuid4().hex[:16]}.json")
                    with open(os.path.join(dest_root, shard_rel),
                              "w") as f:
                        f.write(json.dumps(fmap, sort_keys=True))
                    tidx_out[tcol] = {**spec, "shard": shard_rel}
                extra["tidx"] = tidx_out
            dv_in = (ref.get("dv", [])
                     if isinstance(ref, dict) else [])
            if not dv_in:
                parts[value] = ({"entries": entries, **extra}
                                if extra else entries)
                continue
            os.makedirs(leaf, exist_ok=True)
            dv_out = []
            for j, d in enumerate(dv_in):
                import pyarrow as pa
                import pyarrow.parquet as pq
                src_dv = os.path.abspath(
                    os.path.join(self.root, d["path"]))
                rel = os.path.join("data", txn, f"{_PT}={value}",
                                   f"dv-{j:05d}.parquet")
                tbl = pq.read_table(src_dv)
                if shallow:
                    rels = [os.path.abspath(
                                os.path.join(self.root, r))
                            for r in tbl.column("rel").to_pylist()]
                else:
                    rels = []
                    for r in tbl.column("rel").to_pylist():
                        if r not in relmap:
                            raise RuntimeError(
                                f"clone: DV sidecar {d['path']} "
                                f"addresses {r!r}, which is not a "
                                f"live file of partition {value!r}")
                        rels.append(relmap[r])
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("rel"), "rel",
                    pa.array(rels, pa.string()))
                pq.write_table(tbl, os.path.join(dest_root, rel))
                dv_out.append({"path": rel, "rows": tbl.num_rows,
                               "bytes": os.path.getsize(
                                   os.path.join(dest_root, rel))})
            parts[value] = {"entries": entries, "dv": dv_out,
                            "dv_rows": ref.get("dv_rows", 0),
                            **extra}
        dest._commit(parts, base_version=0, streams={},
                     schema=mf.get("schema"),
                     bloom=mf.get("bloom"),
                     colmap=mf.get("colmap"),
                     constraints=mf.get("constraints"),
                     # the clone borrows/copies the source's files, so
                     # its retired physicals ride along
                     retired=mf.get("retired"),
                     # the spec history (and each ref's era stamp
                     # above) must survive the clone or source-column
                     # predicates would prune the borrowed directories
                     # under the wrong transform
                     pt_history=mf.get("pt_history"))
        return dest

    # -- write-audit-publish branches --------------------------------

    def _publish_body(self, name: str, body: dict) -> None:
        """Write ``body`` fsynced to a hidden temp file and publish it
        under ``name`` through the table's :class:`CommitBackend` —
        the same two steps :meth:`_commit` ends with, shared by the
        branch operations (which publish bodies they did not
        assemble)."""
        mdir = self._mdir()
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            f.write(json.dumps(body, sort_keys=True))
            f.flush()
            os.fsync(f.fileno())
        try:
            self.backend.publish(mdir, name, tmp)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def create_branch(self, name: str) -> "ManifestTable":
        """Cut an isolated WRITE-AUDIT-PUBLISH branch at the current
        snapshot (Iceberg branch / Delta+dbt's build-test-swap,
        §3.2's dbt workflow: ``dbt run`` builds, ``dbt test`` audits,
        only then does the mart go live — the reference runs that
        sequence with no isolation, so a failed test leaves the bad
        build PUBLISHED; here the audit happens on an invisible
        chain).  The branch starts as a metadata-only COPY of the
        live manifest (shards and data files are immutable and
        shared — cutting a branch on a 100 TB table writes one small
        JSON file), named ``branch-{name}.manifest-{v}.json`` — a
        namespace main's ``max(manifest-*)`` listing never matches,
        so nothing on the branch is visible to main readers.

        Returns a branch-bound :class:`ManifestTable`: every write
        op (append, merge, delete_where, set_bloom, add_columns,
        compact, restore …) works on it unchanged, committing
        ``branch-{name}.manifest-{v+1}`` … under the SAME optimistic
        backend CAS as main (two writers racing the same branch
        version: one wins, one gets :class:`CommitConflict`)."""
        if self.branch is not None:
            raise RuntimeError("create_branch runs on the main table")
        if not _BRANCH_RE.fullmatch(name):
            raise ValueError(
                f"branch name {name!r} must match {_BRANCH_RE.pattern}")
        if name in self.branches():
            raise RuntimeError(
                f"branch {name!r} already exists; publish_branch or "
                "drop_branch it before cutting it again")
        raw = self._raw()
        body = {k: v for k, v in raw.items()
                if k not in ("cdf", "cdf_kind")}
        body["branch"] = {"name": name, "base": raw["version"]}
        self._publish_body(
            f"branch-{name}.manifest-{raw['version']:08d}.json", body)
        return ManifestTable(self.root, self.ts, self.backend,
                             branch=name)

    def branches(self) -> dict[str, dict]:
        """Live branches: name → {"base": cut version, "head": branch
        head version, "commits": writes since the cut}.  One listing
        of ``_manifests/``."""
        heads: dict[str, int] = {}
        for m in os.listdir(self._mdir()):
            g = _BRANCH_FILE_RE.fullmatch(m)
            if g:
                heads[g.group(1)] = max(heads.get(g.group(1), -1),
                                        int(g.group(2)))
        out = {}
        for name, head in heads.items():
            info = self._raw(
                f"branch-{name}.manifest-{head:08d}.json")["branch"]
            out[name] = {"base": info["base"], "head": head,
                         "commits": head - info["base"]}
        return out

    def publish_branch(self, name: str) -> dict:
        """The PUBLISH step of write-audit-publish: fast-forward main
        to the audited branch head in ONE atomic commit.  The branch's
        final state (partitions, schema, bloom spec, DV sidecars,
        stream high-water marks) becomes ``manifest-{main+1}.json``
        through the normal backend CAS — so a publish races cleanly
        against every other main writer.  Strictly a FAST-FORWARD:
        if main advanced past the branch's cut point the publish
        raises :class:`CommitConflict` (publishing would silently
        drop those commits); re-cut the branch against the new
        snapshot and re-run the audit — the audit's verdict on stale
        inputs is stale too, which is why there is no auto-rebase.

        A multi-commit branch publishes as a SQUASH: the published
        commit carries no row-level change set (``changes()`` on it
        raises), because no single branch commit's CDF describes the
        whole delta.  A single-commit branch keeps its CDF — the
        common audit shape (one write, audit, publish) stays fully
        change-feed-readable.  Returns {"published_version",
        "commits"}; a branch with zero commits publishes nothing
        (the audit inspected an unchanged copy) and returns
        published_version None."""
        if self.branch is not None:
            raise RuntimeError("publish_branch runs on the main table")
        bt = ManifestTable(self.root, self.ts, self.backend,
                           branch=name)
        head = bt._raw(bt._current_name())
        info = head["branch"]
        ncommits = head["version"] - info["base"]
        if ncommits == 0:
            return {"published_version": None, "commits": 0}
        main_v = self.version()
        if main_v != info["base"]:
            raise CommitConflict(
                f"main advanced to v{main_v} since branch {name!r} "
                f"was cut at v{info['base']}; re-create the branch "
                "against the new snapshot and re-run the audit")
        body = {k: v for k, v in head.items() if k != "branch"}
        if ncommits != 1:
            body.pop("cdf", None)
            body.pop("cdf_kind", None)
        body["version"] = main_v + 1
        self._publish_body(self._mname(main_v + 1), body)
        return {"published_version": main_v + 1, "commits": ncommits}

    def drop_branch(self, name: str) -> int:
        """Abandon a branch (the audit FAILED): remove its manifest
        chain.  Data files staged only by branch commits become
        unreferenced orphans — reclaimed by :meth:`vacuum` under the
        normal retention rules, exactly like a crashed writer's
        stage.  Main is untouched.  Returns the number of branch
        snapshots removed."""
        if self.branch is not None:
            raise RuntimeError("drop_branch runs on the main table")
        n = 0
        for m in sorted(os.listdir(self._mdir())):
            g = _BRANCH_FILE_RE.fullmatch(m)
            if g and g.group(1) == name:
                os.remove(os.path.join(self._mdir(), m))
                n += 1
        return n

    # -- snapshot tags ------------------------------------------------

    def create_tag(self, name: str,
                   version: int | None = None) -> dict:
        """Pin a named, immutable TAG to a snapshot version (Iceberg's
        ``create_tag`` / a git tag): ``tag-{name}.json`` records the
        version; readers resolve it with ``spark.read.format(
        "manifest").option("tag", name)`` (manifest_datasource) or
        :meth:`tags`.  A tagged snapshot is PROTECTED from
        :meth:`vacuum` regardless of age — the tag IS the explicit
        "keep this version" retention signal, so time travel to it
        outlives the normal history window (:meth:`drop_tag`
        releases it).  Tags are immutable pointers: re-tagging a
        live name raises (drop it first), and creation goes through
        the commit backend's put-if-absent, so two racing
        create_tags of one name get one winner and one
        :class:`CommitConflict`."""
        if self.branch is not None:
            raise RuntimeError("create_tag runs on the main table")
        if not _BRANCH_RE.fullmatch(name):
            raise ValueError(
                f"tag name {name!r} must match {_BRANCH_RE.pattern}")
        v = self.version() if version is None else int(version)
        mname = self._mname(v)
        if not os.path.exists(os.path.join(self._mdir(), mname)):
            raise FileNotFoundError(
                f"cannot tag v{v}: {mname} does not exist (never "
                "committed, or already vacuumed)")
        if name in self.tags():
            raise RuntimeError(
                f"tag {name!r} already exists; tags are immutable "
                "pointers — drop_tag it before re-pointing")
        self._publish_body(f"tag-{name}.json",
                           {"tag": name, "version": v})
        return {"name": name, "version": v}

    def tags(self) -> dict[str, dict]:
        """Live tags: name → {"version": pinned snapshot version}.
        One listing of ``_manifests/``."""
        out = {}
        for m in sorted(os.listdir(self._mdir())):
            g = _TAG_FILE_RE.fullmatch(m)
            if g:
                with open(os.path.join(self._mdir(), m)) as f:
                    out[g.group(1)] = {
                        "version": json.load(f)["version"]}
        return out

    def drop_tag(self, name: str) -> None:
        """Release a tag: its snapshot re-joins normal retention
        ageing on the next :meth:`vacuum`.  KeyError if absent."""
        path = os.path.join(self._mdir(), f"tag-{name}.json")
        if not os.path.exists(path):
            raise KeyError(f"tag {name!r} does not exist")
        os.remove(path)

    def _stage_dv(self, hits: DataFrame) -> dict[str, list]:
        """Stage DELETION-VECTOR sidecars: ``hits`` carries (__pt,
        __rel, __ri) row addresses; one parquet of (rel, row_index)
        per touched partition lands under a fresh txn dir, invisible
        until the commit that references it from the partition's ref.
        Same directory discipline as :meth:`_stage`, minus schema
        pinning/stats/blooms (a DV is an index, not data)."""
        txn = f"txn-{uuid.uuid4().hex[:12]}"
        txn_dir = os.path.join(self.root, "data", txn)
        (hits.select(F.col("__pt").alias(_PT),
                     F.col("__rel").alias("rel"),
                     F.col("__ri").alias("row_index"))
         .repartition(F.col(_PT))
         .write.partitionBy(_PT).parquet(txn_dir))
        out: dict[str, list] = {}
        for d in sorted(os.listdir(txn_dir)):
            if not d.startswith(_PT + "="):
                continue
            value = d[len(_PT) + 1:]
            leaf = os.path.join(txn_dir, d)
            entries = []
            for fn in sorted(os.listdir(leaf)):
                if fn.endswith(".parquet"):
                    rel = os.path.join("data", txn, d, fn)
                    ap = os.path.join(leaf, fn)
                    import pyarrow.parquet as pq
                    entries.append({
                        "path": rel,
                        "rows": pq.ParquetFile(ap).metadata.num_rows,
                        "bytes": os.path.getsize(ap)})
            out[value] = entries
        return out

    def delete_where(self, spark: SparkSession, condition,
                     where: dict | None = None,
                     cdf: bool = False,
                     mode: str = "rewrite",
                     _crash_before_commit: bool = False) -> dict:
        """Transactional DELETE (the ``DELETE FROM t WHERE ...`` /
        MERGE WHEN MATCHED DELETE shape — the reference's snapshot
        invalidation updates,
        snapshots/russell3000_constituents_snapshot.sql:4-12, are this
        op's keyed cousin): drop every row matching ``condition`` with
        ONE atomic multi-partition commit.  A reader sees the table
        entirely before or entirely after the delete; a crash leaves
        the old snapshot fully live; pre-delete snapshots stay
        time-travelable until vacuum.

        ``condition`` is a Column (or SQL string) evaluated per row
        under SQL DELETE three-valued logic: a row is deleted only
        where the condition is TRUE — a NULL-valued condition KEEPS
        the row, matching SQL/Delta DELETE (a bare ``where(~cond)``
        would drop NULL-condition rows in rewritten partitions while
        identical rows in match-free partitions survived).  ``where``
        optionally carries {col: (lo, hi)} bounds implied by the
        condition, used EXACTLY like :meth:`scan_plan`'s pruning:
        partitions/files the bounds exclude are never read.  Bounds
        must be implied by (i.e. a superset of) the condition — rows
        outside them are assumed non-matching.  ``cdf=True`` commits
        the deleted rows as the change feed's 'delete' rows.

        ``mode="rewrite"``: one counting aggregation over the
        candidate files finds the partitions that actually contain
        matches; only THOSE are rewritten.  A partition whose rows all
        match is dropped without writing a byte; untouched and
        match-free partitions are carried by shard ref.
        ``mode="dv"`` is the MERGE-ON-READ variant (Delta deletion
        vectors / Iceberg positional deletes): no data file is
        rewritten — (rel, row_index) sidecars address exactly the
        matching rows, and every internal read anti-joins them away
        (:meth:`_read_files`) until a :meth:`compact` materializes the
        delete.  The mode is for low-fraction deletes: read cost grows
        by one broadcast anti-join bounded by the deleted-row count.
        Returns {"rows_deleted", "partitions_rewritten",
        "partitions_dropped"}; a competitor disjoint from the touched
        partitions is rebased over."""
        if isinstance(condition, str):
            condition = F.expr(condition)
        mf = self._raw()
        return self._delete(spark, condition, self.scan_plan(where), mf,
                            cdf, _crash_before_commit, mode)

    def _delete(self, spark: SparkSession, condition, plan: dict,
                mf: dict, cdf: bool, _crash_before_commit: bool,
                mode: str = "dv") -> dict:
        """:meth:`delete_where` over a resolved ``plan`` of the snapshot
        ``mf`` (``_delete_dv`` is its merge-on-read form, which the
        conflict tests drive against a stale ``mf``)."""
        hit = F.coalesce(condition, F.lit(False))
        ch = self._stage_rows(
            spark, mf, mode, plan["partitions"],
            lambda cur: (cur.where(~hit), cur.where(hit), None,
                         [(cur.where(hit), "delete")]),
            cdf, records=plan["records"], matched_only=True)
        if not ch.removed:
            return {"rows_deleted": 0, "partitions_rewritten": 0,
                    "partitions_dropped": 0}
        if _crash_before_commit:
            raise CrashInjected("writer died after staging, before commit")
        parts = self._transact(
            lambda snap: self._change_commit(mf, snap, ch, "delete_where"),
            snap=mf)["partitions"]
        return {"rows_deleted": sum(ch.removed.values()),
                "partitions_rewritten": len(ch.adds),
                "partitions_dropped": len(set(ch.removed) - set(parts))}

    _delete_dv = _delete

    def update_where(self, spark: SparkSession,
                     set_exprs: dict, condition,
                     where: dict | None = None,
                     cdf: bool = False,
                     _crash_before_commit: bool = False) -> dict:
        """Transactional row-level UPDATE, merge-on-read (Delta's
        ``UPDATE t SET ... WHERE ...`` with deletion vectors): the
        matching rows' old images are dead-marked via (rel, row_index)
        sidecars and their updated images appended as new files — ONE
        atomic commit, ZERO existing data files rewritten.  The
        rewrite-mode equivalent (rewrite every partition the predicate
        touches) is what :meth:`merge` already does keyed; this is the
        predicate-shaped, scattered-rows form — at 100 TB an UPDATE
        touching 0.1% of rows across every partition costs O(matching
        rows), not a full-table rewrite.

        ``set_exprs`` maps column -> Column or SQL string evaluated
        over the MATCHED row (``{"close": "close * split_ratio"}``),
        cast to the column's pinned type.  Assigning the partition
        column is supported: the new image simply lands in its new
        partition while the DV kills the old position (how Delta
        handles partition-value updates).  ``condition`` follows
        DELETE three-valued logic (NULL keeps the row untouched).
        ``where`` optionally carries pruning bounds exactly like
        :meth:`scan_plan`.  ``cdf=True`` commits the classified
        update_preimage/update_postimage rows with the data
        (:meth:`changes` serves them; ivm folds them).

        Returns {"rows_updated", "partitions_rewritten": 0,
        "partitions_touched"}.  Conflict matrix: positional addresses
        invalidate on ANY change to a touched partition — raise; a
        disjoint competitor rebases."""
        mf = self._raw()
        for c in set_exprs:
            if c not in {n for n, _ in (mf.get("schema") or [])}:
                raise SchemaMismatch(
                    f"update_where assigns unknown column {c!r}")
        if isinstance(condition, str):
            condition = F.expr(condition)
        plan = self.scan_plan(where)
        hit = F.coalesce(condition, F.lit(False))

        def change(cur: DataFrame) -> tuple:
            old = cur.where(hit)
            new = self._assign(mf, old.drop("__rel", "__ri"), set_exprs)
            return None, old, new, [(old, "update_preimage"),
                                    (new, "update_postimage")]

        ch = self._stage_rows(spark, mf, "dv", plan["partitions"], change,
                              cdf, records=plan["records"],
                              matched_only=True)
        if not ch.removed:
            return {"rows_updated": 0, "partitions_rewritten": 0,
                    "partitions_touched": 0}
        if _crash_before_commit:
            raise CrashInjected(
                "writer died after staging, before commit")
        # updated images may MOVE rows into new partitions, and a
        # partition whose rows all moved away drops
        self._transact(lambda snap: self._change_commit(mf, snap, ch,
                                                        "update_where"),
                       snap=mf)
        return {"rows_updated": sum(ch.removed.values()),
                "partitions_rewritten": 0,
                "partitions_touched": len(set(ch.removed) | set(ch.adds))}

    def compact_dvs(self, spark: SparkSession,
                    min_sidecars: int = 2) -> dict:
        """Consolidate each partition's deletion-vector SIDECARS into
        one (Delta's DV file compaction analog): repeated small
        dv-deletes leave a ref with many tiny sidecar parquets, and
        every read unions all of them into the anti-join build side.
        This rewrites only the SIDECARS — one (rel, row_index) parquet
        per partition — and swaps the refs in one metadata commit; no
        data file moves, visible rows cannot change (asserted by the
        row-identity of the dv relation, deduped defensively).  The
        heavier :meth:`compact` remains the full materialization (it
        removes the read tax entirely); this keeps the tax at one
        small broadcast when a full rewrite isn't worth it yet.
        Returns {"partitions": n, "sidecars_before": n,
        "sidecars_after": n}."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        mf = self._raw()
        todo = {v: r for v, r in mf["partitions"].items()
                if isinstance(r, dict)
                and len(r.get("dv", [])) >= min_sidecars}
        if not todo:
            return {"partitions": 0, "sidecars_before": 0,
                    "sidecars_after": 0}
        txn = f"txn-{uuid.uuid4().hex[:12]}"
        before = 0
        staged: dict[str, dict] = {}
        for v, ref in todo.items():
            before += len(ref["dv"])
            tables = [pq.read_table(os.path.join(self.root, e["path"]),
                                    columns=["rel", "row_index"])
                      for e in ref["dv"]]
            merged = pa.concat_tables(tables)
            # defensive dedupe: the write paths can never address a
            # row twice (reads apply existing DVs first), but a
            # consolidated sidecar is the natural place to enforce it
            import pandas as pd
            pdf = merged.to_pandas().drop_duplicates()
            leaf = os.path.join(self.root, "data", txn, f"{_PT}={v}")
            os.makedirs(leaf, exist_ok=True)
            rel = os.path.join("data", txn, f"{_PT}={v}",
                               "dv-consolidated.parquet")
            full = os.path.join(self.root, rel)
            pq.write_table(pa.Table.from_pandas(pdf,
                                                preserve_index=False),
                           full)
            staged[v] = {"path": rel, "rows": len(pdf),
                         "bytes": os.path.getsize(full)}

        def build(snap: dict) -> dict:
            _check_unchanged(mf, snap, staged,
                             "a concurrent writer changed a partition "
                             "whose deletion vectors this compaction "
                             "consolidated; re-run compact_dvs()")
            parts = dict(snap["partitions"])
            for v, e in staged.items():
                parts[v] = {**parts[v], "dv": [e], "dv_rows": e["rows"]}
            return {"partitions": parts, "row_preserving": True}

        self._transact(build, snap=mf)
        return {"partitions": len(staged), "sidecars_before": before,
                "sidecars_after": len(staged)}

    def plan_compact(self, target_rows: int,
                     min_files: int = 2,
                     small_ratio: float = 0.5) -> dict:
        """OPTIMIZE victim selection from the commit object alone —
        the maintenance decision a lakehouse makes daily at 100 TB,
        priced at one JSON read: a partition is flagged FRAGMENTED
        when it holds >= ``min_files`` files whose MEAN live rows
        per file sit below ``small_ratio * target_rows`` (streaming
        ingest's small-file debris), or when it carries a
        deletion-vector sidecar (the rewrite materializes the delete
        and frees the per-read DV tax).  Everything else is left
        alone — the half :meth:`compact`'s own file-count threshold
        cannot express: a partition of few WELL-SIZED files is
        healthy, and rewriting it is pure write amplification (at
        100 TB, re-copying a well-laid terabyte to "compact" its 3
        files).  ``target_rows`` is the same unit
        :meth:`compact`'s ``max_records_per_file`` targets (Delta /
        Iceberg size their OPTIMIZE in bytes; under this engine's
        row-targeted writer, rows are the knob — and unlike bytes
        they are not distorted by per-file format overhead on small
        fixtures).  Returns ``{"partitions": [values],
        "files_before": n, "est_files_after": n, "rows": n}`` —
        ``est_files_after`` projects each victim at
        ``ceil(live_rows / target_rows)`` files, i.e. exactly what
        ``compact(spark, partitions=plan["partitions"],
        max_records_per_file=target_rows)`` will produce on a
        single-era table (under partition EVOLUTION a migrating
        rewrite can merge into a colliding active-spec ref and land
        more files than the per-victim projection — the projection is
        a floor there, not an identity); an empty list means the
        layout already is the one maintenance would build (the
        idempotent fixed point).

        ``min_files`` must stay >= 2: a single-file partition cannot
        compact into fewer files (``compact(partitions=...)``
        re-filters through its own >= 2-files-or-DV rule and would
        silently skip such a victim, breaking the projection
        contract); the one legitimate single-file rewrite — DV
        materialization — is what the sidecar rule already flags."""
        import math

        if int(min_files) < 2:
            raise ValueError(
                "plan_compact: min_files must be >= 2 — a "
                "single-file partition has nothing to compact (the "
                "DV rule covers the only single-file rewrite worth "
                "doing), and compact(partitions=...) would silently "
                "skip it")
        mf = self._raw()
        victims, fb, fa, total = [], 0, 0, 0
        for v, r in mf["partitions"].items():
            nfiles = int(r["files"])
            live = int(r["rows"]) - int(r.get("dv_rows", 0))
            fragged = (nfiles >= int(min_files)
                       and (live / max(nfiles, 1))
                       < float(small_ratio) * int(target_rows))
            if fragged or r.get("dv"):
                victims.append(v)
                fb += nfiles
                # live > 0 always: delete_where drops a fully-dead
                # partition's ref at delete time, never leaving it
                fa += max(1, math.ceil(live / int(target_rows)))
                total += live
        return {"partitions": victims, "files_before": fb,
                "est_files_after": fa, "rows": total}

    def compact(self, spark: SparkSession,
                min_files: int = 2,
                cluster_by: list[str] | None = None,
                zorder_by: list[str] | None = None,
                max_records_per_file: int | None = None,
                partitions: list[str] | None = None) -> dict:
        """Rewrite every partition holding >= ``min_files`` files into
        compacted form and commit the swap atomically — concurrent
        readers keep the old snapshot until the commit link, and time
        travel to pre-compaction manifests still works until vacuum.
        Row-preserving by construction (read live files, write them
        back); returns {"partitions": n, "files_before": n,
        "files_after": n} for observability.

        With ``cluster_by``, EVERY partition is rewritten sorted on
        those columns (chunked by ``max_records_per_file``), so the
        post-compaction manifest carries tight per-file ranges and
        ``scan_plan`` skips file-granularly on the cluster columns —
        but a lexicographic sort only tightens the LEADING column's
        ranges.  ``zorder_by`` instead sorts by a Morton (bit-
        interleaved) curve over the named columns (:func:`_zvalue_col`
        — pure Column bit math, JVM-side; numeric and date/timestamp
        columns rank by min-max-normalized value, string columns by a
        stable hash — see the derivation notes there), so files become
        multi-dimensional tiles and ``scan_plan`` skips on EVERY
        participating dimension — Delta's OPTIMIZE ZORDER proper,
        including the reference's own (trade_date, string ticker)
        cluster key.  Column domains come from the commit object's
        zone maps (no extra scan); mutually exclusive with
        ``cluster_by``.

        ``partitions`` bounds maintenance to the NAMED partition
        values (Delta's ``OPTIMIZE WHERE`` shape): at 100 TB a table
        never compacts whole — the streaming-ingest pattern is
        "compact yesterday's partition once it stops receiving
        appends", touching one partition's files while the other 10^4
        partitions ride along by ref.  Composes with min_files /
        cluster_by / zorder_by (selection intersects; unknown values
        raise — a silent no-op would read as maintenance done)."""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        mf = self._raw()
        live = mf["partitions"]
        todo_vals = (list(live) if (cluster_by or zorder_by)
                     else [v for v, r in live.items()
                           if r["files"] >= min_files
                           # a deletion-vector'd partition always
                           # compacts regardless of file count: the
                           # rewrite MATERIALIZES the delete (reads
                           # exclude DV rows, the fresh ref carries no
                           # dv), freeing the sidecar read tax
                           or r.get("dv")])
        if partitions is not None:
            unknown = [v for v in partitions if v not in live]
            if unknown:
                raise KeyError(
                    f"compact(partitions=...) names values not in the "
                    f"live snapshot: {unknown}")
            sel = set(partitions)
            todo_vals = [v for v in todo_vals if v in sel]
        if not todo_vals:
            return {"partitions": 0, "files_before": 0, "files_after": 0}
        files_before = sum(live[v]["files"] for v in todo_vals)
        frame = self._read_files(spark, self._part_records(mf, todo_vals),
                                 mf)
        sort_cols, drop_after = cluster_by, None
        if zorder_by:
            dtypes = {f.name: f.dataType.simpleString()
                      for f in frame.schema.fields}
            bounds = {}
            for c in zorder_by:
                if dtypes.get(c) == "string":
                    continue           # hash rank: no domain needed
                b = self.stat_bounds(c)
                if b is None:          # zone maps absent: one real agg
                    row = frame.agg(F.min(c), F.max(c)).first()
                    b = (row[0], row[1])
                bounds[c] = b
            frame = frame.withColumn(
                "__z", _zvalue_col(zorder_by, bounds, dtypes=dtypes))
            sort_cols, drop_after = ["__z"], ["__z"]
        staged = self._stage(frame,
                             cluster_by=sort_cols,
                             drop_after_sort=drop_after,
                             max_records_per_file=max_records_per_file,
                             enforce=False)
        # maintenance-commit conflict resolution (Delta's matrix for
        # OPTIMIZE vs concurrent writers): a competing commit that did
        # not touch any partition THIS compaction rewrote is DISJOINT
        # — rebase: carry the competitor's partitions, keep our staged
        # rewrites, retry.  A competitor that rewrote one of our
        # partitions (another merge/delete landed there) makes our
        # staged files stale — surface CommitConflict; the caller
        # re-runs compaction against the new snapshot.
        def build(snap: dict) -> dict:
            _check_unchanged(mf, snap, todo_vals,
                             "a concurrent writer rewrote a partition "
                             "this compaction read; re-run compact() "
                             "against the new snapshot")
            # every compacted partition drops its OLD key before the
            # staged rewrites land: re-staging runs under the ACTIVE
            # spec, so under partition evolution a compaction MIGRATES
            # its partitions to the new value domain (Iceberg's lazy
            # migration); single-era, staged keys == todo keys and
            # this is the plain swap it always was.  A partition whose
            # rows were all DV-dead stages nothing and drops outright
            # (the rewrite materialized the delete).
            #
            # A staged (active-spec) key may COLLIDE with a live ref
            # outside todo_vals — e.g. a DV'd old-era day ref migrates
            # into its month value while that month already holds rows
            # appended under the new spec.  Replacing would clobber
            # those rows; instead the staged entries MERGE into the
            # colliding ref exactly as an append does
            # (:meth:`_rebuild_ref`).  Because this merged map is
            # rebuilt from `snap` on every rebase, a concurrent append
            # landing on a colliding key is re-read here rather than
            # needing its own conflict fingerprint (the fingerprint
            # guards only todo_vals, whose staged rewrites CAN go
            # stale).
            rest = {k: v for k, v in snap["partitions"].items()
                    if k not in set(todo_vals)}
            return {"partitions": self._rebuilt_parts(
                        {**snap, "partitions": rest}, staged),
                    "row_preserving": True}

        parts = self._transact(build, snap=mf)["partitions"]
        files_after = sum(len(parts[k]["entries"]) for k in staged)
        return {"partitions": len(todo_vals),
                "files_before": files_before,
                "files_after": files_after}

    def vacuum(self, retention_seconds: float = 86400.0,
               dry_run: bool = False) -> list[str]:
        """Remove data files not referenced by the LIVE manifest
        (orphans from crashed writers, files replaced by later merges
        or compactions) and historical manifest files.  Returns removed
        paths; reclaim unit is the file, then empty leaf/txn dirs.
        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) returns the
        SAME list without deleting anything — the operational
        pre-check before an irreversible reclaim.

        SAFE CONCURRENT WITH IN-FLIGHT WRITERS (VERDICT r7 #3,
        enforced, not assumed): a txn directory with NO live files
        whose newest mtime is younger than ``retention_seconds`` is
        SKIPPED — it may belong to a writer between ``_stage`` and
        ``_commit``; deleting its files would let that writer publish
        a manifest pointing at nothing, the torn-table outcome this
        module exists to prevent.  Hidden ``.tmp-`` manifest bodies get
        the same grace (a writer sits between fsync and link there).
        The default retention (24 h) is Delta's retention-analog shape:
        generously longer than any real stage; pass 0 only when you
        KNOW no writer is mid-stage (tests reclaiming a just-crashed
        writer's orphans).  Committed txns are exempt from the grace —
        a txn with any live file has passed its commit point, so its
        superseded files are reclaimable immediately.

        HISTORY survives the same window (r8 ADVICE item 4): a
        historical manifest younger than ``retention_seconds`` is
        RETAINED, and every data file and shard it references counts
        as live — so time travel, ``restore(version)`` and a change-
        feed consumer polling ``since_version=N`` keep working for the
        full documented retention, exactly the Delta
        ``delta.deletedFileRetentionDuration`` contract the docstring
        cites.  Before this fix vacuum removed ALL historical
        manifests immediately, permanently disabling time travel in
        one routine pass while granting data files a 24 h grace —
        retention applied to the wrong layer."""
        import shutil
        import time

        if self.branch is not None:
            raise RuntimeError("vacuum runs on the main table (it is "
                               "branch-aware: branch heads are live)")
        now = time.time()
        raw = self._raw()
        current = self._current_name()
        # every branch's HEAD is live regardless of age — an
        # unpublished audit branch must never have its data reclaimed
        # out from under it (drop_branch is the explicit way to
        # abandon one); non-head branch snapshots age out like
        # historical main manifests
        branch_heads = {
            f"branch-{n}.manifest-{b['head']:08d}.json"
            for n, b in self.branches().items()}
        # snapshots whose referenced files/shards must survive: the
        # live manifest, every branch head, every TAGGED version
        # (pinned regardless of age — the tag is the explicit
        # retention signal; drop_tag releases it), plus every
        # historical manifest still inside retention
        tagged = {self._mname(t["version"])
                  for t in self.tags().values()}
        retained_names = [current,
                          *sorted({*branch_heads, *tagged}
                                  - {current})]
        for m in sorted(os.listdir(self._mdir())):
            full = os.path.join(self._mdir(), m)
            if (os.path.isfile(full) and m != current
                    and m not in branch_heads and m not in tagged
                    and (m.startswith("manifest-")
                         or _BRANCH_FILE_RE.fullmatch(m))
                    and m.endswith(".json")
                    and (now - os.path.getmtime(full)) < retention_seconds):
                retained_names.append(m)
        live_rel: set = set()
        live_shards: set = set()
        for name in retained_names:
            snap = raw if name == current else self._raw(name)
            live_shards |= {r["shard"]
                            for r in snap["partitions"].values()}
            # text-index sidecars are as live as the refs carrying
            # them (same rule as DV sidecars)
            live_shards |= {t["shard"]
                            for r in snap["partitions"].values()
                            if isinstance(r, dict)
                            for t in (r.get("tidx") or {}).values()}
            live_rel |= {e["path"] for v in snap["partitions"]
                         for e in self._entries(snap, v)}
            # deletion-vector sidecars are as live as the refs that
            # carry them — reclaiming one would resurrect its rows on
            # the very next read (r9 ADVICE item 2)
            live_rel |= {e["path"]
                         for r in snap["partitions"].values()
                         if isinstance(r, dict)
                         for e in r.get("dv", [])}
            # a retained commit's row-level change set stays readable
            live_rel |= {e["path"] for e in snap.get("cdf", [])}

        def _young(path: str) -> bool:
            try:
                newest = max(os.path.getmtime(os.path.join(dp, f))
                             for dp, _, fs in os.walk(path)
                             for f in [*fs, "."])
            except (OSError, ValueError):
                newest = now
            return (now - newest) < retention_seconds

        removed: list[str] = []
        data_dir = os.path.join(self.root, "data")
        for txn in sorted(os.listdir(data_dir)):
            txn_dir = os.path.join(data_dir, txn)
            txn_rels = [
                os.path.join("data", txn, leaf, fn)
                for leaf in sorted(os.listdir(txn_dir))
                if os.path.isdir(os.path.join(txn_dir, leaf))
                and leaf.startswith(_PT + "=")
                for fn in sorted(os.listdir(os.path.join(txn_dir, leaf)))
                if fn.endswith(".parquet")]
            committed = any(r in live_rel for r in txn_rels)
            if not committed and _young(txn_dir):
                continue          # possibly mid-stage: grace window
            any_live = False
            for leaf in sorted(os.listdir(txn_dir)):
                full = os.path.join(txn_dir, leaf)
                if not (os.path.isdir(full)
                        and leaf.startswith(_PT + "=")):
                    continue  # _SUCCESS / .crc markers ride with the txn
                leaf_live = False
                for fn in sorted(os.listdir(full)):
                    if not fn.endswith(".parquet"):
                        continue
                    rel = os.path.join("data", txn, leaf, fn)
                    if rel in live_rel:
                        leaf_live = True
                    else:
                        if not dry_run:
                            os.remove(os.path.join(full, fn))
                        removed.append(rel)
                if leaf_live:
                    any_live = True
                else:
                    if not dry_run:
                        shutil.rmtree(full)
                    removed.append(os.path.join("data", txn, leaf))
            if not any_live:
                if not dry_run:
                    shutil.rmtree(txn_dir)
                removed.append(os.path.join("data", txn))
        retained = set(retained_names)
        for m in sorted(os.listdir(self._mdir())):
            full = os.path.join(self._mdir(), m)
            if not os.path.isfile(full):
                continue                      # shards/ handled below
            stale_manifest = ((m.startswith("manifest-")
                               or _BRANCH_FILE_RE.fullmatch(m))
                              and m not in retained)
            crash_tmp = (m.startswith(".tmp-")
                         and (now - os.path.getmtime(full))
                         >= retention_seconds)
            # a CoordinatorClaimBackend claim marker is reclaimable
            # once its manifest exists (the claim did its job) or once
            # aged past the grace an in-flight claimer could need
            consumed_claim = (
                m.startswith(".claim-")
                and (os.path.exists(os.path.join(self._mdir(),
                                                 m[len(".claim-"):]))
                     or (now - os.path.getmtime(full))
                     >= retention_seconds))
            if stale_manifest or crash_tmp or consumed_claim:
                if not dry_run:
                    os.remove(full)
                removed.append(os.path.join(_MANIFEST_DIR, m))
        # shard files: keep the live manifest's; reclaim the rest once
        # aged (young non-live shards may belong to a writer between
        # shard write and commit link — same grace as txn dirs)
        sdir = os.path.join(self.root, _SHARD_DIR)
        if os.path.isdir(sdir):
            for fn in sorted(os.listdir(sdir)):
                rel = os.path.join(_SHARD_DIR, fn)
                full = os.path.join(sdir, fn)
                if rel in live_shards:
                    continue
                if (now - os.path.getmtime(full)) < retention_seconds:
                    continue
                if not dry_run:
                    os.remove(full)
                removed.append(rel)
        return removed

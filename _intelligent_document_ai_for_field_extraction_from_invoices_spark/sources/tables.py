"""Iceberg-style table layer over partitioned Parquet.

No Iceberg runtime jar ships in this sandbox (SURVEY §7.0), so this thin layer
provides the Iceberg semantics the pipeline needs — atomic snapshot commits,
append/overwrite, time-travel-able snapshot history, and idempotent replace —
behind a `Catalog.read/write/append` API that is a config swap for a real
Iceberg catalog (`df.writeTo(tbl).append()`).

Metadata layout (Iceberg manifest-list shape):

  <table>/_meta/m-<uuid>.json   MANIFEST: the files ADDED by one commit
                                (path + partition values + txn per file)
  <table>/_meta/v<N>.json       SNAPSHOT: a manifest LIST — one small entry
                                per live manifest (path, n_files, txn set,
                                op, per-column partition-value summary) —
                                plus the table schema, its partition spec
                                (partition_by: the column list every live
                                file is partitioned by, [] when
                                unpartitioned) and the set of txns
                                committed since the last overwrite
                                (all_txns; an overwrite restarts it at its
                                own txn, so it is the replay set txns()
                                returns).
                                Creating this file (atomic os.link,
                                fail-if-exists) IS the commit point.
  <table>/_meta/_current        advisory version HINT (atomic os.replace);
                                readers probe forward from it

This is the only layout the catalog reads: `_load_snap` is where snapshot
metadata enters the program, and it rejects a v<N>.json without a manifest
list, an all_txns set, a schema or a partition spec (ValueError naming the
version).

A table has one partition spec (Iceberg's partition spec): the first
append sets it, `overwrite` resets it to [], and every other writer carries
it forward. An append whose `partition_by` differs raises ValueError before
staging a file, so every manifest records a value for every spec column.

An append therefore writes O(new files) manifest bytes plus an O(#manifests)
snapshot, and #manifests is kept bounded by merging small manifests on
commit (Iceberg's commit.manifest.min-count-to-merge analogue), so metadata
bytes per append stay flat no matter how many commits the table has seen.
Readers prune at the manifest-list level first — a partition predicate that
rules out a manifest's value summary never opens that manifest at all.

Commit protocol (optimistic multi-writer, driver-side — SURVEY §7.3.5; the
same shape as Iceberg's HadoopTableOperations):
  1. executors write parquet files into  <table>/data/<uuid>/        (staging)
  2. the driver writes the manifest and a snapshot tempfile under _meta/
  3. the driver atomically LINKS the snapshot into place as v<N>.json
     (os.link, fail-if-exists) — THE commit point; EEXIST means another
     writer committed version N first (rebase and retry)
  4. the driver advances the _current hint (os.replace) — advisory only
Readers resolve _current, probe FORWARD for newer committed v<N+k>.json
files (a writer may have crashed between 3 and 4, or a racing hint write
may have regressed the pointer), then snapshot -> manifests -> file list.
A crash anywhere before step 3 leaves only unreferenced staging/metadata
files (never a torn table); a crash after step 3 leaves a fully durable
commit that the forward probe surfaces. There is no claimed-but-uncommitted
window at all, so no commit can wedge the table and no manual repair step
exists. Every writer (append, overwrite, rollback, compact) commits through
one retry loop, `_commit_rebased`: its staged files are parent-independent,
so a lost race only recomputes the snapshot against the winner's.

Partition predicates (`where=` on read/scan_files) name spec columns only
(any other key raises ValueError) and accept:
  {"lang": "en"}                                     equality
  {"lang": None}                                     IS NULL
  {"day": (">=", "2025-01-01")}                      inclusive bound (also <=)
  {"day": ("between", "2025-01-01", "2025-02-01")}   inclusive range
Each reduces to one inclusive string range (lo, hi), an end None when open;
equality is (v, v). Any other op raises ValueError. Values compare as Spark
STRING casts (manifest values always are): ranges are lexicographic, which
is correct for zero-padded dates and fixed-width keys — the pipeline's
partition columns. Python bool/int/None predicate values are normalized to
Spark's cast-to-string form ('true', not 'True'); floats raise (Java's
Double.toString disagrees with Python repr — pass the string you
partitioned with).
"""

from __future__ import annotations

import json
import os
import re
import time
import unicodedata
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Spark writes null AND empty-string partition values to this hive dir name.
# The DIRECTORY encoding is lossy, but the residual row filter is not: the
# sentinel only governs which files are OPENED; equality-with-None then
# matches exactly the null rows and equality-with-'' exactly the '' rows.
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# manifest merge policy: when at least MERGE_MIN manifests smaller than
# SMALL_MANIFEST files have accumulated, one commit folds them into a single
# manifest. Each merge multiplies a file's manifest size ~MERGE_MIN-fold, so
# a file is rewritten O(log(SMALL_MANIFEST)/log(MERGE_MIN)) ~= 1-2 times in
# its life — amortized O(1) metadata work per file.
MERGE_MIN = 16
SMALL_MANIFEST = 64
# value summaries larger than this collapse to {min,max} bounds
SUMMARY_MAX_VALUES = 16
# optimistic-concurrency rebase attempts before giving up. A retry is only
# consumed when ANOTHER writer's commit landed, so N retries tolerate N
# concurrent committers — not N time slices.
COMMIT_RETRIES = 16
# vacuum's safety gate for deleting UNREFERENCED metadata/staging files:
# anything younger than this may belong to an in-flight commit (staged data
# and manifests are written BEFORE the atomic snapshot link), so only files
# past the gate are reclaimable orphans. Matches the spirit of Iceberg's
# remove-orphan-files "older-than" requirement.
VACUUM_MIN_AGE_SECS = 600.0


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this snapshot version first (the atomic
    v<N>.json link is the commit point, so an existing version file is
    always a COMPLETED commit, never a stale lock). Writers that can
    rebase (append/rollback/compact — their staged files are still valid
    against a newer parent) retry automatically."""


def _pvalue(v) -> str:
    """Normalize a Python predicate value to Spark's cast-to-string form.

    bool must map to 'true'/'false' (Python str() gives 'True' — a silent
    empty result); None maps to the hive null sentinel; floats raise because
    Java Double.toString ('1.0E21') disagrees with Python repr ('1e+21')."""
    if v is None:
        return HIVE_NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        raise TypeError(
            "float partition predicate values are ambiguous (Python repr != "
            "Spark's string cast); pass the string the column casts to")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    raise TypeError(f"unsupported partition predicate value: {v!r}")


def _uri_path(path: str) -> str:
    """`path` as Spark's input_file_name() spells it after the scheme —
    Hadoop's `Path(path).toUri().getRawPath()`, i.e. java.net.URI path
    quoting: URI-legal characters ('+' included) stay, other ASCII is
    %XX-escaped (space as %20, '%' as %25), and non-ASCII stays raw unless
    it is a Unicode space or control."""
    def esc(m):
        c = m.group()
        if c.isascii() or unicodedata.category(c) in ("Zs", "Zl", "Zp", "Cc"):
            return urllib.parse.quote(c, safe="")
        return c

    return re.sub(r"[^A-Za-z0-9\-_.!~*'():@&=+$,;/]", esc, path)


def _normalize_pred(spec) -> tuple[str | None, str | None] | None:
    """Parse one `where` entry into an inclusive string range (lo, hi),
    an end None when open, or None for IS NULL."""
    if not isinstance(spec, (tuple, list)):
        v = _pvalue(spec)
        return None if v == HIVE_NULL else (v, v)
    op, *bounds = spec
    if (op, len(bounds)) not in ((">=", 1), ("<=", 1), ("between", 2)):
        raise ValueError(f"unknown partition predicate: {spec!r}")
    vals = [_pvalue(b) for b in bounds]
    if HIVE_NULL in vals:
        raise ValueError(f"a range bound cannot be None: {spec!r}")
    return {">=": (vals[0], None), "<=": (None, vals[0])}.get(op, tuple(vals))


def _match_value(pred, v: str) -> bool:
    """Does one file's recorded partition value satisfy the predicate? The
    hive sentinel dir holds BOTH null and empty-string rows, so a sentinel
    file is kept for IS NULL and whenever '' lies in the range (pruning it
    while the residual `c >= ''` would match is a silent row loss); null
    rows themselves never satisfy a range."""
    if pred is None:
        return v == HIVE_NULL
    lo, hi = pred
    v = "" if v == HIVE_NULL else v
    return (lo is None or lo <= v) and (hi is None or v <= hi)


def _match_summary(pred, summ: dict) -> bool:
    """Can ANY file in a manifest satisfy the predicate, judged from the
    manifest-list value summary alone?"""
    if "values" in summ:
        return any(_match_value(pred, v) for v in summ["values"])
    # bounds summary: {min, max} over non-null values, "null": True if any
    if summ["null"] and _match_value(pred, HIVE_NULL):
        return True  # sentinel files: null rows, or '' rows in the range
    if pred is None or "min" not in summ:
        return False
    lo, hi = pred
    return (lo is None or lo <= summ["max"]) and \
        (hi is None or summ["min"] <= hi)


def _build_summary(rows: list[dict], spec: list[str]) -> dict[str, dict]:
    """Per-column partition-value summary for a manifest entry: every spec
    column, an empty manifest's too (no values, so it never matches)."""
    out: dict[str, dict] = {}
    for c in spec:
        vals = sorted({r["partition"][c] for r in rows})
        if len(vals) <= SUMMARY_MAX_VALUES:
            out[c] = {"values": vals}
        else:
            non_null = [v for v in vals if v != HIVE_NULL]
            out[c] = {"null": len(non_null) < len(vals)}
            if non_null:
                out[c]["min"] = non_null[0]
                out[c]["max"] = non_null[-1]
    return out


class Catalog:
    def __init__(self, root: str):
        # realpath at construction: a relative root would otherwise resolve
        # against the Python cwd for manifest/listdir paths but against the
        # JVM's launch cwd for df.write, and those can drift apart mid-
        # session; pinning one absolute spelling removes the whole class of
        # split-brain paths (vacuum additionally realpaths per-file)
        self.root = os.path.realpath(root)
        os.makedirs(self.root, exist_ok=True)
        # stats of the most recent scan_files call, for plan assertions:
        # {"manifests_total", "manifests_opened", "files_selected"}
        self.last_scan_stats: dict[str, int] = {}

    # -- paths --------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _meta(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_meta")

    def _current_path(self, table: str) -> str:
        return os.path.join(self._meta(table), "_current")

    # -- manifest plumbing --------------------------------------------------
    def _write_manifest(self, table: str, rows: list[dict],
                        txns: list[str | None], spec: list[str],
                        op: str = "append") -> dict:
        """Write one manifest file and return its manifest-LIST entry.
        `rows` = [{"path": ..., "partition": {col: str},
                   "txn": str | None}], summarized over the table's
        partition `spec`. `op` records the originating
        operation so rollback surgery can distinguish append commits
        (rollback candidates) from overwrite commits (replace semantics —
        e.g. an ANN index rebuild — never rolled back by txn absence)."""
        meta = self._meta(table)
        os.makedirs(meta, exist_ok=True)
        path = os.path.join(meta, f"m-{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump({"files": rows}, f)
        return {
            "manifest": path,
            "n_files": len(rows),
            "txns": sorted({t for t in txns if t}),
            "op": op,
            "summary": _build_summary(rows, spec),
        }

    def _read_manifest(self, entry: dict) -> list[dict]:
        with open(entry["manifest"]) as f:
            return json.load(f)["files"]

    def _maybe_merge(self, table: str, entries: list[dict],
                     spec: list[str]) -> list[dict]:
        """Fold accumulated small manifests into one (Iceberg's
        commit.manifest.min-count-to-merge) so the manifest list — and with
        it the snapshot json — stays bounded across unbounded appends."""
        # only append-originated manifests merge: folding an overwrite
        # entry in would erase the op provenance rollback surgery keys on
        small = [e for e in entries if e["n_files"] < SMALL_MANIFEST
                 and e["op"] == "append"]
        if len(small) < MERGE_MIN:
            return entries
        rows: list[dict] = []
        for e in small:
            rows.extend(self._read_manifest(e))
        merged = self._write_manifest(
            table, rows, [t for e in small for t in e["txns"]], spec)
        small_ids = {id(e) for e in small}
        return [e for e in entries if id(e) not in small_ids] + [merged]

    # -- snapshot plumbing --------------------------------------------------
    def _listdir_version(self, table: str) -> int:
        """Newest version derivable from a _meta directory listing — the
        recovery path when the hint is missing, corrupt, or stale past a
        vacuum expiry gap (any existing v<N>.json is a completed commit,
        so the max is always the current version)."""
        meta = self._meta(table)
        if not os.path.isdir(meta):
            return 0
        return max(
            (int(fn[1:-5]) for fn in os.listdir(meta)
             if fn.startswith("v") and fn.endswith(".json")
             and fn[1:-5].isdigit()), default=0)

    def _current_version(self, table: str) -> int:
        """Newest COMMITTED version (0 = table absent). The _current hint is
        advisory: a writer may have crashed between its atomic snapshot link
        (the commit point) and the hint write, or a slow racing hint write
        may have regressed the pointer — so readers probe FORWARD from the
        hint for newer v<N>.json files. The hint is rewritten on every
        commit, so the probe is one stat call in the steady state."""
        meta = self._meta(table)
        try:
            with open(self._current_path(table)) as f:
                version = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            version = self._listdir_version(table)
        while os.path.exists(os.path.join(meta, f"v{version + 1}.json")):
            version += 1
        return version

    def _read_current(self, table: str) -> dict | None:
        version = self._current_version(table)
        if version == 0:
            return None
        try:
            return self._load_snap(table, version)
        except FileNotFoundError:
            # the hint can be stale across a vacuum EXPIRY GAP (review
            # finding): hint says 5, v6/v7 were committed by writers that
            # crashed before their hint writes, vacuum expired v5/v6 —
            # the forward probe from 5 stops at the gap. Any existing
            # v<N>.json is a completed commit, so the listing's max is
            # authoritative; heal the hint so later reads are O(1) again.
            version = self._listdir_version(table)
            if version == 0:
                return None
            snap = self._load_snap(table, version)
            self._write_hint(table, version)
            return snap

    def _load_snap(self, table: str, version: int) -> dict:
        """Open committed snapshot `version` — the one place snapshot
        metadata enters the program, so the one layout check: a v<N>.json
        without the manifest list, the `all_txns` set, a recorded schema or
        a partition spec raises ValueError naming the version. A missing
        file raises FileNotFoundError."""
        with open(os.path.join(self._meta(table), f"v{version}.json")) as f:
            snap = json.load(f)
        if "manifests" not in snap or "all_txns" not in snap \
                or snap.get("schema") is None or "partition_by" not in snap:
            raise ValueError(
                f"version {version} of table {table!r} is not a manifest-"
                "list snapshot with all_txns, a schema and a partition spec")
        return snap

    def _commit(self, table: str, manifests: list[dict], operation: str,
                parent: int | None, txn: str | None = None, *,
                schema: str, all_txns: list[str],
                partition_by: list[str]) -> int:
        meta = self._meta(table)
        os.makedirs(meta, exist_ok=True)
        version = (parent or 0) + 1
        snap = {
            "version": version,
            "parent": parent,
            "operation": operation,
            "manifests": manifests,
            "txn": txn,
            "schema": schema,
            "partition_by": partition_by,
            # Iceberg-like txn summary: the CURRENT snapshot knows every txn
            # tag committed since the last overwrite, so the exactly-once
            # replay check (txns()) is O(1) metadata file opens instead of
            # walking every historical version json — which streaming calls
            # per micro-batch
            "all_txns": sorted(set(all_txns) | ({txn} if txn else set())),
            "committed_at": time.time(),
        }
        # optimistic concurrency (Iceberg's HadoopTableOperations shape):
        # the atomic link(tmp, vN) IS the commit point — the fully-written
        # snapshot appears in one step, and a second writer racing for the
        # same version gets EEXIST instead of silently overwriting (an
        # open("w") last-write-wins would LOSE one of two concurrent
        # commits — e.g. a streaming append racing a compact job). Because
        # the link is the LAST step that matters, a crash at any point
        # leaves either nothing visible or a fully durable commit — there
        # is no claimed-but-uncommitted state to repair.
        vpath = os.path.join(meta, f"v{version}.json")
        tmp_v = vpath + f".tmp.{uuid.uuid4().hex}"
        with open(tmp_v, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp_v, vpath)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} of table {table!r} was committed by a "
                "concurrent writer") from None
        finally:
            os.remove(tmp_v)
        # advance the advisory hint. Best-effort and non-monotonic under
        # races (a descheduled writer can replace it with an older number);
        # readers probe forward from whatever it says, so a stale or
        # regressed hint costs stat calls, never correctness.
        self._write_hint(table, version)
        return version

    def _write_hint(self, table: str, version: int) -> None:
        tmp = self._current_path(table) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._current_path(table))

    def _commit_rebased(self, table: str, build) -> int | None:
        """The one retry loop of every commit: `build(cur)` returns the
        _commit kwargs computed against the snapshot read for THIS
        attempt, or None when there is nothing to commit (then so is the
        result). On a version conflict (EEXIST on the commit link — the
        conflicting version file is by construction a COMPLETED commit)
        the next iteration's `_read_current` probes forward to the
        winner's snapshot and the commit is rebased against it. The
        staged data files are parent-independent, so only metadata is
        recomputed. A retry is consumed only when another commit actually
        landed; an error `build` raises is not a conflict and propagates."""
        for _ in range(COMMIT_RETRIES):
            kwargs = build(self._read_current(table))
            if kwargs is None:
                return None
            try:
                return self._commit(table, **kwargs)
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"gave up committing to {table!r} after {COMMIT_RETRIES} "
            "rebases (heavy concurrent write load)")

    def _snap(self, table: str, version: int | None) -> dict:
        if version is None:
            snap = self._read_current(table)
            if snap is None:
                raise FileNotFoundError(f"table not found: {table}")
            return snap
        # any existing v<N>.json is a completed commit (the atomic link that
        # created it was the commit point), so time travel may open it
        # directly; a missing file is a hard error
        try:
            return self._load_snap(table, version)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {version} of table {table!r} is not a "
                "committed snapshot") from None

    # -- public API ---------------------------------------------------------
    def exists(self, table: str) -> bool:
        return self._read_current(table) is not None

    def snapshots(self, table: str) -> list[dict]:
        """All retained snapshots, oldest first (vacuum may have expired
        older version jsons into _history.json)."""
        meta = self._meta(table)
        if not os.path.isdir(meta):
            return []
        out = []
        for fn in os.listdir(meta):
            if fn.startswith("v") and fn.endswith(".json"):
                # every v<N>.json is a completed commit (the atomic link
                # that created it was the commit point) — nothing to hide
                try:
                    out.append(self._load_snap(table, int(fn[1:-5])))
                except FileNotFoundError:
                    continue  # expired by a concurrent vacuum between the
                    # listing and the open — it was already historical
        return sorted(out, key=lambda s: s["version"])

    def _stage(self, table: str, df: DataFrame, partition_by: list[str],
               txn: str | None = None) -> list[dict]:
        """Write a staging commit; returns manifest rows
        [{"path", "partition", "txn"}] parsed from the hive-style
        directory layout. Partition columns are DUPLICATED into shadow
        `_p_<col>` dir keys so the data files keep the original column
        (snapshot reads use explicit file lists, which cannot recover
        dir-encoded values the way a directory scan would)."""
        stage_dir = os.path.join(self._tdir(table), "data", uuid.uuid4().hex)
        # Iceberg's spec stores timestamps as int64 microseconds, and
        # parquet's INT96 (Spark's default) is deprecated; write
        # TIMESTAMP_MICROS so the data files are what an Iceberg reader
        # expects. Scoped to this write and restored — the catalog must
        # not leak config into the caller's session.
        TS_KEY = "spark.sql.parquet.outputTimestampType"
        conf = df.sparkSession.conf
        ts_old = conf.get(TS_KEY)
        conf.set(TS_KEY, "TIMESTAMP_MICROS")
        try:
            if partition_by:
                # hash-cluster by value: ~one file each (AQE splits big ones)
                shadowed = df.hint("rebalance", *partition_by).withColumns(
                    {f"_p_{c}": F.col(c).cast("string")
                     for c in partition_by})
                shadowed.write.partitionBy(
                    *[f"_p_{c}" for c in partition_by]
                ).mode("overwrite").parquet(stage_dir)
            else:
                df.write.mode("overwrite").parquet(stage_dir)
        finally:
            conf.set(TS_KEY, ts_old)
        rows: list[dict] = []
        for root, _dirs, fns in os.walk(stage_dir):
            pvals = {}
            rel = os.path.relpath(root, stage_dir)
            for seg in rel.split(os.sep):
                if "=" in seg and seg.startswith("_p_"):
                    k, v = seg.split("=", 1)
                    # Spark hive-escapes dir values (':' -> '%3A' etc.);
                    # record the UNESCAPED value or predicates with any
                    # escaped character would silently prune matching files.
                    # Null/empty values keep Spark's HIVE_NULL sentinel.
                    pvals[k[3:]] = urllib.parse.unquote(v)
            for fn in fns:
                if fn.endswith(".parquet"):
                    rows.append({
                        "path": os.path.join(root, fn),
                        "partition": dict(pvals),
                        "txn": txn,
                    })
        rows.sort(key=lambda r: r["path"])
        return rows

    def overwrite(self, table: str, df: DataFrame,
                  txn: str | None = None) -> int:
        """Replace the table's contents. `txn` tags the commit the same way
        append's does, and the replaced history goes with the replaced
        rows: the new snapshot's txn set is just {txn} (empty when
        untagged). So a replace-semantics writer (an index rebuild, a
        curate stage) replays exactly while its commit is the current
        contents — `txn in txns(table)`, the same check append writers
        use — and a later overwrite by another run makes it recompute.
        A commit conflict rebases and retries: replace semantics clobber
        whatever the concurrent writer committed by DESIGN (the overwrite
        serializes after it). The new contents are unpartitioned: the
        partition spec resets to []."""
        rows = self._stage(table, df, [], txn=txn)
        entry = self._write_manifest(table, rows, [txn], [], op="overwrite")

        def build(cur):
            return dict(manifests=[entry], operation="overwrite",
                        parent=cur["version"] if cur else None, txn=txn,
                        schema=df.schema.json(), all_txns=[],
                        partition_by=[])

        return self._commit_rebased(table, build)

    @staticmethod
    def _merge_schema(old_json: str, new_schema) -> str:
        """Additive schema evolution (Iceberg add-column semantics): the
        recorded table schema gains any column the appended frame carries
        that the table lacks (forced nullable — existing files don't have
        it); a column present in both with a DIFFERENT type raises instead
        of silently corrupting reads. Dropped columns stay in the table
        schema (old files still hold them; readers see null for new
        files via the name-based parquet column resolution)."""
        old = StructType.fromJson(json.loads(old_json))
        by_name = {f.name: f for f in old.fields}
        merged = list(old.fields)
        for f in new_schema.fields:
            have = by_name.get(f.name)
            if have is None:
                merged.append(StructField(f.name, f.dataType, nullable=True))
            elif have.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution type conflict on column {f.name!r}: "
                    f"table has {have.dataType.simpleString()}, append has "
                    f"{f.dataType.simpleString()} (only additive evolution "
                    "is supported)")
        return StructType(merged).json()

    def append(self, table: str, df: DataFrame, txn: str | None = None,
               partition_by: list[str] | None = None) -> int:
        """Append with an optional transaction tag. A multi-table writer tags
        every table's append with one txn id and commits a marker table last;
        `remove_orphan_appends` can then roll back appends whose txn never
        reached the marker — pure metadata surgery, no data rewrite.

        Metadata cost is O(new files): one manifest for the added files plus
        a bounded manifest list (small manifests merge on commit).

        Schema evolution is additive: an appended frame may carry NEW
        columns (recorded nullable; readers see null for pre-evolution
        files via the recorded-schema read path); a type change on an
        existing column raises.

        The first append sets the table's partition spec; a `partition_by`
        that differs from it raises ValueError before any file is staged
        (and again against the snapshot the commit rebases on), so every
        live file records a value for every spec column.

        Concurrent writers are safe: the staged files and the new
        manifest are parent-independent, so a commit conflict (another
        append/compact won the version) rebases the manifest LIST against
        the fresh snapshot and retries — neither writer's rows are lost
        (Iceberg's optimistic append)."""
        spec = list(partition_by or [])

        def check(cur):
            if cur is not None and cur["partition_by"] != spec:
                raise ValueError(
                    f"cannot append to {table!r} partitioned by {spec}: "
                    f"the table is partitioned by {cur['partition_by']}")

        check(self._read_current(table))
        rows = self._stage(table, df, spec, txn=txn)
        entry = self._write_manifest(table, rows, [txn], spec)

        def build(cur):
            check(cur)
            entries = (list(cur["manifests"]) if cur else []) + [entry]
            entries = self._maybe_merge(table, entries, spec)
            schema = (self._merge_schema(cur["schema"], df.schema)
                      if cur else df.schema.json())
            return dict(manifests=entries, operation="append",
                        parent=cur["version"] if cur else None, txn=txn,
                        schema=schema,
                        all_txns=cur["all_txns"] if cur else [],
                        partition_by=spec)

        return self._commit_rebased(table, build)

    def txns(self, table: str) -> set[str]:
        """Transaction tags committed to `table` since its last overwrite,
        the overwrite's own tag included — also ones whose version metadata
        vacuum has since expired; empty for an absent table. `txn in
        txns(table)` is every writer's replay check: on an append-only
        table it covers every tag ever committed, and on a replace-
        semantics table it holds only for the current contents' committer.

        Two metadata file opens (the _current hint + the current
        snapshot's `all_txns` set). This runs on EVERY streaming
        micro-batch and CLI run as the exactly-once replay check, so it
        must not walk table history."""
        cur = self._read_current(table)
        return set(cur["all_txns"]) if cur else set()

    def remove_orphan_appends(self, table: str, live_txns: set[str]) -> int:
        """Drop the files added by tagged APPENDS whose txn is not in
        `live_txns` (i.e. the crash happened before the txn's marker commit).
        Untagged snapshots are always kept, and so are overwrite-originated
        manifests (each entry records its `op`): an overwrite's txn exists
        for replay detection only — rolling back a live index rebuild
        because its txn is outside some OTHER writer's marker set would
        drop a live table. Returns the number of files removed; commits one
        'rollback' snapshot iff anything was removed.

        Manifest-level surgery: an all-dead manifest is dropped from the
        list; a manifest the merge step mixed (dead + live txns) is
        rewritten without the dead files — O(affected manifests), never
        O(table files).

        Concurrency discipline (review finding): the dead-candidate set
        is FROZEN at the first snapshot read — a commit conflict retries
        the surgery against the fresh manifest list, but a txn that only
        appeared AFTER the first read (a concurrent writer's append,
        whose marker may have landed after the caller computed
        `live_txns`) is never a candidate, so the retry loop cannot
        widen the caller's stale view into deleting a committed
        transaction. Reconciliation remains a single-reconciler startup
        operation with respect to writers of the SAME marker protocol.
        An absent table has nothing to roll back (0)."""
        candidates: set[str] | None = None
        n_removed = 0

        def build(cur):
            nonlocal candidates, n_removed
            if cur is None:
                return None
            if candidates is None:
                candidates = {t for e in cur["manifests"]
                              if e["op"] == "append"
                              for t in e["txns"]} - set(live_txns)
            keep_entries: list[dict] = []
            n_removed = 0
            for e in cur["manifests"]:
                # an overwrite commit is never a rollback candidate
                dead = set(e["txns"]) & candidates \
                    if e["op"] == "append" else set()
                if not dead:
                    keep_entries.append(e)
                    continue
                # a manifest with dead txns is always REWRITTEN from its
                # rows, never dropped by its entry-level txn set alone: the
                # set omits untagged (txn=None) rows a merge may have folded
                # in, and dropping the whole manifest would silently lose
                # them ('untagged appends are always kept' is the contract)
                rows = self._read_manifest(e)
                live_rows = [r for r in rows if r["txn"] not in dead]
                n_removed += len(rows) - len(live_rows)
                if live_rows:
                    keep_entries.append(self._write_manifest(
                        table, live_rows, [r["txn"] for r in live_rows],
                        cur["partition_by"]))
            if not n_removed:
                return None
            return dict(manifests=keep_entries, operation="rollback",
                        parent=cur["version"], schema=cur["schema"],
                        all_txns=cur["all_txns"],
                        partition_by=cur["partition_by"])

        return n_removed if self._commit_rebased(table, build) else 0

    def compact(self, spark: SparkSession, table: str,
                target_file_bytes: int = 128 * 1024 * 1024,
                live_txns: set[str] | None = None) -> dict:
        """Rewrite the current snapshot's data into right-sized files
        (Iceberg's rewriteDataFiles analogue). A streaming sink's per-batch
        appends accumulate small files — at 10^5 micro-batches a reader
        pays 10^5 footer opens per scan; compaction rewrites the SAME rows
        into ceil(bytes/target) files and commits one 'compact' snapshot.

        Partition layout is preserved: the rewrite is partitioned by the
        snapshot's partition spec, so manifest-level pruning works
        identically on the compacted table.
        The rewritten manifest is untagged ('compact' op, txn=None) —
        never a rollback candidate — while the snapshot chains `all_txns`
        forward, so exactly-once replay checks for already-committed
        streaming batches still hold after compaction. Old files become
        unreferenced and are reclaimed by the next `vacuum`.

        TORN-TRANSACTION DISCIPLINE (review finding): folding rows into an
        untagged manifest permanently removes them from
        `remove_orphan_appends`' reach, so compacting a table that may
        hold appends whose marker commit never landed would freeze those
        orphans in place and the resumed run would duplicate them. Pass
        `live_txns` (the marker table's committed txn set) and compact
        reconciles torn appends FIRST, exactly like run_extraction does on
        start; multi-table writers (the CLI does this for the extraction
        trio) must reconcile before compacting.

        A commit CONFLICT REBASES instead of aborting (Iceberg's
        rewriteDataFiles validation-and-retry — round-5 verdict #1, so a
        streaming sink's per-few-seconds appends can never starve the
        maintenance job that exists because of them). An attempt against
        the version compact read commits the compacted entry alone; once
        another commit has landed, compact validates that every file it
        rewrote is still referenced by the fresh snapshot, keeps verbatim any manifest whose files it did not
        touch (a racing append's — disjoint new data by construction),
        rewrites any manifest a racing merge mixed (replaced + new rows)
        down to just the new rows, and commits the compacted entry plus
        the survivors. Only a concurrent ROLLBACK/OVERWRITE/compact —
        one that removed files this compaction rewrote, making its
        output stale — still aborts with ConcurrentCommitError (the
        caller re-runs; staged files become vacuum-able orphans).

        Returns {"files_before", "files_after", "version",
        "orphans_removed"} (version=None when already at or below the
        target count)."""
        import math  # noqa: PLC0415

        cur = self._read_current(table)
        if cur is None:
            raise FileNotFoundError(f"table not found: {table}")
        n_orphans = 0
        if live_txns is not None:
            n_orphans = self.remove_orphan_appends(table, live_txns)
            cur = self._read_current(table)
        # pin the file list AND the data read to cur's version: a racing
        # append between these reads would otherwise leak rows into the
        # rewrite that the conflict rebase then double-counts
        files = self._scan(cur, None)
        total = sum(os.path.getsize(f) for f in files)
        n_target = max(1, math.ceil(total / target_file_bytes))
        spec = cur["partition_by"]
        # a rewrite keeps at least one file per partition value, so a table
        # already at that floor is compacted: rewriting it again would only
        # add a snapshot holding the same files' worth of data
        n_values = len({tuple(r["partition"][c] for c in spec)
                        for e in cur["manifests"]
                        for r in self._read_manifest(e)})
        if len(files) <= max(n_target, n_values):
            return {"files_before": len(files), "files_after": len(files),
                    "version": None, "orphans_removed": n_orphans}
        df = self.read(spark, table, version=cur["version"])
        if not spec:
            df = df.repartition(n_target)
        # _stage splits a partition value past AQE's advisory size: use ours
        ADV_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        adv_old = spark.conf.get(ADV_KEY)
        spark.conf.set(ADV_KEY, str(target_file_bytes))
        try:
            rows = self._stage(table, df, spec)
        finally:
            spark.conf.set(ADV_KEY, adv_old)
        entry = self._write_manifest(table, rows, [], spec, op="compact")
        replaced = set(files)  # every file whose rows the rewrite holds
        pinned = cur["version"]

        def build(now):
            rest = [] if now["version"] == pinned \
                else self._rebase_compact(table, now, replaced)
            return dict(manifests=[entry] + rest, operation="compact",
                        parent=now["version"], schema=now["schema"],
                        all_txns=now["all_txns"], partition_by=spec)

        return {"files_before": len(files), "files_after": len(rows),
                "version": self._commit_rebased(table, build),
                "orphans_removed": n_orphans}

    def _rebase_compact(self, table: str, cur: dict,
                        replaced: set[str]) -> list[dict]:
        """Validation-and-retry surgery for a compact commit that lost a
        version race: against the FRESH snapshot, return the manifest
        entries to carry alongside the compacted one. An entry none of
        whose files were rewritten (a racing append) is kept verbatim; an
        entry fully covered by the rewrite is dropped (the compacted entry
        holds its rows); a MIXED entry (a racing `_maybe_merge` folded
        replaced rows together with a new append's) is rewritten down to
        just the non-replaced rows. Raises ConcurrentCommitError if any
        rewritten file is NO LONGER referenced — a concurrent rollback/
        overwrite/compact removed rows this compaction would resurrect,
        so its output is stale and the whole compaction must re-run."""
        keep: list[dict] = []
        still_live: set[str] = set()
        for e in cur["manifests"]:
            rows = self._read_manifest(e)
            mine = [r for r in rows if r["path"] in replaced]
            still_live.update(r["path"] for r in mine)
            others = [r for r in rows if r["path"] not in replaced]
            if not mine:
                keep.append(e)
            elif others:
                keep.append(self._write_manifest(
                    table, others, [r["txn"] for r in others],
                    cur["partition_by"], op=e["op"]))
            # else: fully replaced — the compacted entry carries its rows
        if still_live != replaced:
            raise ConcurrentCommitError(
                f"compaction of {table!r} is stale: a concurrent rollback/"
                "overwrite/compact removed files it rewrote — re-run "
                "compaction against the fresh snapshot")
        return keep

    def vacuum(self, table: str,
               min_age_secs: float = VACUUM_MIN_AGE_SECS) -> int:
        """Delete data files the current snapshot does not reference
        (Iceberg's expire-snapshots + orphan-file GC analogue — reclaims the
        files left behind by `remove_orphan_appends` rollbacks, compactions
        and overwrites), plus manifest files it does not reference, plus
        every older version's v<N>.json metadata itself — each expired
        snapshot leaves one summary line in `_meta/_history.json` (version,
        operation, txn, committed_at), so the audit trail survives at O(1)
        bytes per commit while the _meta dir stays bounded across unbounded
        append+vacuum cycles (a streaming sink's life is 10^5+ commits;
        keeping every version json made every listdir-based call pay for
        all of them). Time travel reaches versions no vacuum has expired.

        SAFE UNDER CONCURRENT WRITERS via the `min_age_secs` gate: an
        in-flight commit stages its data files and manifest BEFORE the
        atomic snapshot link, so at that instant they are unreferenced —
        indistinguishable from orphans by reference-counting alone. Every
        unreferenced-file deletion (staging data, manifests, claim/flip
        tempfiles) therefore skips files younger than the gate (Iceberg's
        remove-orphan-files has the same older-than requirement). Only
        set min_age_secs=0 when provably no writer is live. Returns data
        files deleted."""

        def _expired(path: str) -> bool:
            try:
                return time.time() - os.path.getmtime(path) > min_age_secs
            except OSError:
                return False  # vanished underneath us — nothing to delete

        def _mtime(p: str) -> float:
            try:
                return os.path.getmtime(p)
            except OSError:
                return time.time()
        # list the versions BEFORE resolving the current one, so no
        # version newer than the kept snapshot is ever a candidate
        snaps = self.snapshots(table)
        cur = self._read_current(table)
        if cur is None:
            return 0
        # never GC files visible from _current. Liveness is compared on
        # REALPATHS: the catalog may be opened with a different spelling of
        # the same root (relative vs absolute vs symlinked) than the one
        # that wrote the manifests, and a naive string comparison would
        # then see every live file as dead.
        keep_manifests = {os.path.realpath(e["manifest"])
                          for e in cur["manifests"]}
        keep = {os.path.realpath(r["path"]) for e in cur["manifests"]
                for r in self._read_manifest(e)}
        data_root = os.path.join(self._tdir(table), "data")
        if not os.path.isdir(data_root):
            return 0
        n = 0
        for stage in os.listdir(data_root):
            sdir = os.path.join(data_root, stage)
            if not os.path.isdir(sdir):
                continue
            # walk RECURSIVELY: partitioned staging commits nest their data
            # files under hive-style key=value dirs — a flat listdir would
            # see zero parquet files and rmtree a live commit
            parquets = [os.path.join(root, f)
                        for root, _dirs, fs in os.walk(sdir)
                        for f in fs if f.endswith(".parquet")]
            if any(os.path.realpath(p) in keep for p in parquets):
                # one `_stage` call's files share one txn and enter and
                # leave snapshots together (rollback drops by txn, compact
                # and overwrite replace whole file sets), so one live file
                # means the whole staging dir is live
                continue
            # whole staging commit unreferenced — but a commit IN FLIGHT
            # (staged, not yet snapshot-linked) looks exactly like this, so
            # only a staging dir past the age gate is an orphan (age = the
            # newest write anywhere under it; files vanishing mid-walk — a
            # concurrent vacuum's rmtree — read as age 0, i.e. skip this
            # pass and let the next vacuum see the settled state)
            newest = max([_mtime(sdir)] +
                         [_mtime(os.path.join(r, f))
                          for r, _d, fs in os.walk(sdir) for f in fs])
            if time.time() - newest <= min_age_secs:
                continue
            import shutil  # noqa: PLC0415

            n += len(parquets)
            # a concurrent vacuum may have won the race for some files
            shutil.rmtree(sdir, ignore_errors=True)
        # expired manifests (metadata GC — the manifest list rewrites small
        # manifests on merge, and those originals are dead weight)
        meta = self._meta(table)
        for fn in os.listdir(meta):
            if fn.startswith("m-") and fn.endswith(".json"):
                # unreferenced manifest: either dead weight from a merge/
                # rollback rewrite, or an IN-FLIGHT commit's manifest
                # written just before its snapshot link — the age gate
                # tells them apart (ADVICE round-5: deleting a young one
                # let a racing writer publish a snapshot referencing a
                # deleted manifest)
                p = os.path.join(meta, fn)
                if os.path.realpath(p) not in keep_manifests and _expired(p):
                    os.remove(p)
            elif ".tmp." in fn:
                # snapshot/hint temp files a writer left by crashing
                # between its tmp write and link/replace; same age gate —
                # a LIVE writer mid-commit is never raced
                p = os.path.join(meta, fn)
                if _expired(p):
                    try:
                        os.remove(p)
                    except OSError:
                        pass
        # expired version jsons: every version but _current's, compacted to
        # one history line each. The txn summary rides in the CURRENT
        # snapshot (all_txns), so expiry cannot break the exactly-once
        # replay check for old txns.
        # The age gate applies to version jsons too (review finding): a
        # concurrent reader lists _meta then opens each version file, and
        # expiring a just-superseded version under it would race the open;
        # readers also tolerate the vanish (snapshots() skips), so the
        # gate is belt-and-braces for the freshest files only
        expired = [
            s for s in snaps
            if s["version"] != cur["version"] and _expired(
                os.path.join(meta, f"v{s['version']}.json"))]
        if expired:
            hist = os.path.join(meta, "_history.json")
            with open(hist, "a") as f:
                for s in expired:
                    f.write(json.dumps({
                        "version": s["version"],
                        "operation": s["operation"],
                        "txn": s["txn"],
                        "committed_at": s["committed_at"],
                        "n_manifests": len(s["manifests"]),
                    }) + "\n")
            for s in expired:
                vpath = os.path.join(meta, f"v{s['version']}.json")
                if os.path.exists(vpath):
                    os.remove(vpath)
        return n

    def scan_files(self, table: str, *,
                   where: dict | None = None) -> list[str]:
        """Snapshot file list after MANIFEST-LEVEL pruning — the Iceberg
        move, in two stages: (1) the manifest LIST's per-manifest value
        summaries rule out whole manifests without opening them; (2)
        surviving manifests' per-file partition values rule out files.
        `where` predicates hit PARTITION values (string-cast compare,
        hive-null sentinel semantics); a key outside the table's partition
        spec raises ValueError.
        `self.last_scan_stats` records how much the scan pruned."""
        return self._scan(self._snap(table, None), where)

    def _scan(self, snap: dict, where: dict | None) -> list[str]:
        """`scan_files` over an already resolved snapshot, so a caller that
        also needs the snapshot's schema (or an older version) resolves it
        only once."""
        preds = {k: _normalize_pred(v) for k, v in (where or {}).items()}
        if not preds.keys() <= set(snap["partition_by"]):
            raise ValueError(
                f"where keys {sorted(preds)} are not all partition columns "
                f"of the table (partitioned by {snap['partition_by']})")
        stats = {"manifests_total": len(snap["manifests"]),
                 "manifests_opened": 0, "files_selected": 0}
        files: list[str] = []
        for e in snap["manifests"]:
            if not all(_match_summary(p, e["summary"][c])
                       for c, p in preds.items()):
                continue  # manifest pruned: never opened
            stats["manifests_opened"] += 1
            files.extend(r["path"] for r in self._read_manifest(e)
                         if all(_match_value(p, r["partition"][c])
                                for c, p in preds.items()))
        stats["files_selected"] = len(files)
        self.last_scan_stats = stats
        return sorted(files)

    def read(self, spark: SparkSession, table: str,
             version: int | None = None,
             where: dict | None = None) -> DataFrame:
        """Read a snapshot; `where=` (partition values) prunes at the
        manifest level (only matching files are opened) and applies a
        residual row filter for exactness.

        The read uses the RECORDED snapshot schema (not a sampled file
        footer), so mixed-schema file sets read stably: after an additive
        schema evolution, pre-evolution files surface null for the new
        columns no matter which file a footer sample would have hit."""
        snap = self._snap(table, version)
        schema = StructType.fromJson(json.loads(snap["schema"]))
        files = self._scan(snap, where)
        if not files:
            # the manifest list's per-entry counts tell an empty table from
            # a predicate that matched nothing without opening a manifest
            if not any(e["n_files"] for e in snap["manifests"]):
                raise ValueError(f"empty table: {table}")
            # a predicate matching zero partitions is a normal query
            # outcome: empty result with the table's recorded schema
            return spark.createDataFrame([], schema)
        df = spark.read.schema(schema).parquet(*files)
        for k, v in (where or {}).items():
            df = df.filter(self._residual(df, k, _normalize_pred(v)))
        return df

    def _commit_delta(self, table: str, since: int,
                      until: int) -> list[tuple[str, int, str | None]]:
        """The data files ADDED by the commits in `(since, until]`, as
        (absolute path, version, txn): the commit-delta rule behind
        `read_incremental`. `compact` adds nothing; `overwrite` is accepted
        only as table creation; any other operation removes rows and raises
        ValueError; a vacuum-expired version raises FileNotFoundError. An
        append added the files of its entries the parent does not list,
        minus the files of the parent's entries it no longer lists
        (`_maybe_merge` folds those into its new manifest). Appends never
        remove files, so the rule is exact, and only new and folded-away
        manifests are opened, each once."""
        if not 0 <= since <= until:
            raise ValueError(f"need 0 <= since ({since}) <= until ({until})")
        opened: dict[str, set[str]] = {}

        def files(entries) -> set[str]:
            out: set[str] = set()
            for e in entries:
                key = e["manifest"]
                if key not in opened:
                    opened[key] = {r["path"] for r in self._read_manifest(e)}
                out |= opened[key]
            return out

        prev = self._snap(table, since) if since else None
        delta: list[tuple[str, int, str | None]] = []
        for v in range(since + 1, until + 1):
            snap = self._snap(table, v)
            op = snap["operation"]
            if op != "compact":
                if op != "append" and not (op == "overwrite"
                                           and prev is None):
                    raise ValueError(
                        f"version {v} of {table!r} is a '{op}' commit, "
                        "which removes rows — an added-rows feed cannot "
                        "express it; re-read the table instead")
                parent = {e["manifest"]: e
                          for e in (prev["manifests"] if prev else [])}
                child = {e["manifest"] for e in snap["manifests"]}
                added = files(e for e in snap["manifests"]
                              if e["manifest"] not in parent)
                added -= files(e for k, e in parent.items()
                               if k not in child)
                delta.extend((os.path.abspath(p), v, snap["txn"])
                             for p in sorted(added))
            prev = snap
        return delta

    def read_incremental(self, spark: SparkSession, table: str,
                         since_version: int,
                         until_version: int | None = None) -> DataFrame:
        """Incremental (CDC-style) read: the rows ADDED by append commits
        in `(since_version, until_version]` (until defaults to the current
        snapshot), each tagged with `_commit_version` and `_commit_txn` —
        the Iceberg incremental-append-scan shape that lets a downstream
        consumer catch up on a table without re-reading it. `since_version
        = 0` streams the full history from table creation.

        Which files each commit added is `_commit_delta`'s rule: compact
        adds nothing, an overwrite/rollback in range raises ValueError (fall
        back to a full re-read), a vacuum-expired version FileNotFoundError.
        The delta reads as ONE parquet relation under the until-snapshot's
        recorded schema (no per-commit union); the file->commit tag map
        joins by broadcast on the file name as input_file_name() spells it
        (`_uri_path`), and a row whose file has no tag fails the query.
        An absent table (until 0) is an empty feed without columns."""
        until = (until_version if until_version is not None
                 else self._current_version(table))
        fmap = self._commit_delta(table, since_version, until)
        schema = StructType.fromJson(json.loads(
            self._snap(table, until)["schema"])) if until else StructType()
        if not fmap:
            return spark.createDataFrame([], schema).select(
                "*", F.lit(None).cast("int").alias("_commit_version"),
                F.lit(None).cast("string").alias("_commit_txn"))
        df = spark.read.schema(schema).parquet(
            *sorted(p for p, _, _ in fmap))
        tags = spark.createDataFrame(
            [(_uri_path(p), v, txn) for p, v, txn in fmap],
            "_path string, _commit_version int, _commit_txn string")
        path = F.regexp_replace(F.input_file_name(), "^[a-z]+:/+", "/")
        untagged = F.raise_error(F.concat(
            F.lit("read_incremental: no commit tag for "), F.col("_path")))
        return (df.withColumn("_path", path)
                .join(F.broadcast(tags), "_path", "left")
                .withColumn("_commit_version",
                            F.coalesce("_commit_version", untagged))
                .drop("_path"))

    @staticmethod
    def _residual(df: DataFrame, col: str, pred):
        """Row-level filter, EXACT where the hive dir encoding is lossy:
        null and '' share the sentinel dir (so both files are opened), but
        here None matches only NULL rows and '' only empty-string rows."""
        c = df[col].cast("string")
        if pred is None:
            return c.isNull()
        lo, hi = pred
        return (c >= lo if lo is not None else F.lit(True)) & \
            (c <= hi if hi is not None else F.lit(True))

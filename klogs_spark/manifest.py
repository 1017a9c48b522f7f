"""Snapshot manifests — versioned reads over the parquet logs table.

Plain parquet directories give readers whatever files exist at scan time:
a reader overlapping an append sees a torn table, and there is no way to
re-run yesterday's report against yesterday's data. Transactional table
formats (Delta, Iceberg) fix this with a manifest layer; this module is
the minimal same-idea implementation for the engine's native table — a
``_manifest/v{N}.json`` sequence, each listing the exact data files of
one consistent snapshot.

* :func:`publish_snapshot` — enumerate current data files through the
  Hadoop FS API, write ``v{N}.json`` to a temp name and publish it with a
  CHECKED rename (the same object-store-safe discipline as
  ``stream.exactly_once_sink``: Hadoop FS booleans are failure returns,
  not exceptions). Writers call it after each append/job commit.
* :func:`read_snapshot` — load a pinned version's exact file list (or the
  latest), read those files only. Readers never see files published after
  their snapshot.

Scale: a manifest is one small JSON per version (file paths only) and
``publish`` is an O(#partitions) listing — no data pass.

Every maintenance verb rewrites the table COPY-ON-WRITE, like MergeTree
publishing new parts in place of old ones: :func:`cow_delete_where`,
:func:`cow_update_where`, :func:`cow_merge_upsert`,
:func:`cow_compact_partition`, :func:`reprocess_partition`,
:func:`optimize_zorder`, :func:`materialize_promotions`,
:func:`apply_retention` and :func:`apply_retention_policy` all run the
same rewrite (:func:`_rewrite_days`). A table that was never published
gets its v0 from the first verb (:func:`_cow_base_version`). Replaced
files are RETAINED for pinned readers and CDC (:func:`snapshot_changes`),
rewrites journal their intent for crash recovery
(:func:`recover_incomplete_rewrite`), overlapping rewrites are resolved
by optimistic concurrency (validate-then-publish: the loser detects the
moved base or a reclaimed journal, cleans up its unpublished files, and
raises :class:`ConcurrentRewriteError` — retry folds the winner's
result), and disk is reclaimed by an explicit :func:`vacuum` whose
retention window is the time-travel horizon. Erasure contract (GDPR): a
delete hides rows from every read at once, but their bytes stay in the
replaced files until a :func:`vacuum` whose window no longer holds a
version that lists them — run ``vacuum(keep_versions=1)`` after a
delete that must erase data. The MERGE-ON-READ tier
(:func:`mor_delete_where` / :func:`mor_update_where` +
:func:`dv_compact`) completes the verb family with Delta/Iceberg-style
deletion vectors: a delete records (file, row position) tombstones and
rewrites nothing, an update additionally appends the changed copies,
reads anti-join the tombstones away, and compaction folds them back
into files.

``_manifest`` starts with ``_`` so Spark partition discovery ignores it.
"""

from __future__ import annotations

import json
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import PARTITION_COLUMN, _hadoop_fs, read_schema

MANIFEST_DIR = "_manifest"
REWRITE_MARKER = f"{MANIFEST_DIR}/.rewrite-inprogress.json"


def _must(ok: bool, op: str, target) -> None:
    if not ok:
        raise IOError(
            f"manifest: {op} failed for {target} (Hadoop FS returned false)"
        )


def _retry_safe_observation(spark: SparkSession):
    """An Observation whose counts are trusted in returned results and
    control flow (merge/delete/maintain row counts, mor_update_where's
    no-op gate). CollectMetrics accumulators double-count rows when a
    SUCCESSFUL task is executed twice — speculative execution, or a
    shuffle-stage retry re-running completed maps — so the one-job
    metric ride is only sound with speculation off (Spark's default).
    Refuse loudly rather than return silently-wrong counts (ADVICE r21
    #1); a speculative cluster must run these verbs with materialized
    counts instead."""
    from pyspark.sql import Observation

    if str(spark.conf.get("spark.speculation", "false")).lower() == "true":
        raise ValueError(
            "manifest maintenance counts ride the write as Observation "
            "metrics, which double-count under spark.speculation=true; "
            "disable speculation for maintenance jobs"
        )
    return Observation()


def _list_data_files(fs, root, hpath_cls) -> list[str]:
    files: list[str] = []
    prefix = f"{PARTITION_COLUMN}="
    for part in fs.listStatus(root):
        name = part.getPath().getName()
        if not (part.isDirectory() and name.startswith(prefix)):
            continue
        for f in fs.listStatus(part.getPath()):
            fname = f.getPath().getName()
            if fname.endswith(".parquet"):
                files.append(f"{name}/{fname}")
    return sorted(files)


import re as _re

# Hadoop accepts both file:///x and the single-slash file:/x URI form —
# recognize any scheme-prefixed path, not just '://'
_URI_RE = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:/")


def _is_abs_entry(f: str) -> bool:
    """Manifest entries are normally RELATIVE (``date=.../part-*.parquet``);
    a shallow clone (:func:`shallow_clone`) publishes ABSOLUTE entries
    that point into its source table — the Delta CLONE representation.
    Absolute entries are read-only references: vacuum never deletes them
    (it intersects with the local listing), COW rewrites drop them from
    the manifest without touching the source bytes."""
    return f.startswith("/") or bool(_URI_RE.match(f))


def _entry_exists(spark: SparkSession, fs, hpath_cls, path: str, f: str):
    """Existence probe for a manifest entry. Absolute entries resolve
    their OWN FileSystem from the entry URI — probing an s3a:// source
    reference through a local clone's FS raises Wrong FS in
    Path.checkPath, so the table's own handle only serves relative
    entries."""
    if _is_abs_entry(f):
        efs, _, p = _hadoop_fs(spark, f)
        return efs.exists(p)
    return fs.exists(hpath_cls(_entry_path(path, f)))


def _entry_path(path: str, f: str) -> str:
    """Physical location of a manifest entry: relative entries resolve
    against the table root, absolute (clone) entries stand alone."""
    return f if _is_abs_entry(f) else f"{path}/{f}"


def _read_footer(spark: SparkSession, path: str, f: str):
    """The parquet footer of manifest entry ``f`` (schema and row-group
    row counts), read on the driver: one metadata read, no Spark job and
    no data scan."""
    jvm = spark._jvm
    _, hpath_cls, _ = _hadoop_fs(spark, path)
    return jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), hpath_cls(_entry_path(path, f)),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .NO_FILTER,
    )


def _list_dir_names(fs, dirpath) -> set | None:
    """One ``listStatus``: the child names under ``dirpath``, or None
    when the directory itself is gone. The seam the batched existence
    probe goes through (tests count invocations here to pin the
    O(day dirs) contract)."""
    if not fs.exists(dirpath):
        return None
    return {st.getPath().getName() for st in fs.listStatus(dirpath)}


def _missing_entries(
    spark: SparkSession, fs, hpath_cls, path: str, files: list
) -> list:
    """Batched existence probe for manifest entries: ONE directory
    listing per parent dir instead of one ``exists()`` RPC per file
    (VERDICT r17 #4 — a time-travel read of a million-file snapshot was
    a sequential per-file driver-side scan; this is O(day dirs) RPCs).
    Relative entries group under the table root's day dirs and use the
    table's FileSystem; absolute (clone) entries group under their own
    parent dir and resolve their OWN FileSystem (probing an s3a://
    source reference through a local clone's FS raises Wrong FS —
    the same contract as :func:`_entry_exists`)."""
    by_dir: dict[str, list] = {}
    for f in files:
        d, _, name = _entry_path(path, f).rpartition("/")
        by_dir.setdefault(d, []).append((name, f))
    missing: list = []
    for d, entries in sorted(by_dir.items()):
        if _is_abs_entry(entries[0][1]):
            dfs, _, dirpath = _hadoop_fs(spark, d)
        else:
            dfs, dirpath = fs, hpath_cls(d)
        names = _list_dir_names(dfs, dirpath)
        if names is None:
            missing.extend(f for _, f in entries)
            continue
        missing.extend(f for name, f in entries if name not in names)
    return missing


def _entry_day_dir(f: str) -> str:
    """The ``date=...`` partition directory of a manifest entry — the
    file's parent directory name, which is the same component whether
    the entry is relative (``date=X/part``) or absolute
    (``/src/date=X/part``). An entry with no directory component (an
    explicit-files publish of a bare filename) has no partition — return
    '' so day-grouping callers treat it as unpartitioned instead of
    raising."""
    parts = f.rsplit("/", 2)
    return parts[-2] if len(parts) >= 2 else ""


# default of ``_read_data_files(schema=...)``: read the table's marker
_FROM_MARKER = object()


def _read_data_files(
    spark: SparkSession,
    path: str,
    files: list,
    with_pos: bool = False,
    schema=_FROM_MARKER,
) -> DataFrame:
    """Read a manifest file list faithfully: relative entries share the
    table root as ``basePath`` (partition column recovered from the
    directory name); absolute clone entries group by THEIR base (the
    directory above the partition dir) so the same recovery applies,
    and the groups union by name. Every group reads with the table's
    known schema (``table.known_schema``: ``schema``, or the table's
    marker when not given), so no footer job runs and files that predate
    a promotion read its column as NULL. A table without a marker
    (``schema`` None) infers with mergeSchema, so mixed files still
    resolve every column.

    ``with_pos=True`` attaches the deletion-vector join key: ``__dv_key``
    (the entry's last two path components — :func:`_dv_key_of_entry`'s
    column twin) and ``__dv_pos`` (the parquet ``_metadata.row_index``,
    stable across reads of an immutable file). Costs nothing when False:
    the metadata column is never requested.

    An empty ``files`` (a rewrite deleted every row) reads as zero rows
    when the schema is known, and raises when it would have to be
    inferred."""
    if schema is _FROM_MARKER:
        schema = read_schema(spark, path)
    if not files:
        if schema is None:
            raise FileNotFoundError(
                "snapshot lists no data files (a rewrite deleted every "
                "row) and the table has no layout marker to declare a "
                "schema — nothing to read at this version"
            )
        empty = spark.createDataFrame([], schema)
        if with_pos:
            empty = empty.withColumn(
                "__dv_key", F.lit(None).cast("string")
            ).withColumn("__dv_pos", F.lit(None).cast("long"))
        return empty
    groups: dict[str, list[str]] = {}
    for f in files:
        if _is_abs_entry(f):
            groups.setdefault(f.rsplit("/", 2)[0], []).append(f)
        else:
            groups.setdefault(path, []).append(f"{path}/{f}")
    dfs = []
    for base, fls in sorted(groups.items()):
        reader = spark.read.option("basePath", base)
        if schema is None:
            reader = reader.option("mergeSchema", "true")
        else:
            reader = reader.schema(schema)
        df = reader.parquet(*sorted(fls))
        if with_pos:
            df = df.withColumn(
                "__dv_key",
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
                ),
            ).withColumn("__dv_pos", F.col("_metadata.row_index"))
        dfs.append(df)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _unmanifested_files(spark: SparkSession, path: str) -> set[str]:
    """On-disk data files referenced by NO published manifest — plain
    appends (``write_logs mode=append``) that landed after the last
    ``publish_snapshot``. These are COMMITTED data, not COW leftovers:
    a leftover retained by a copy-on-write rewrite always appears in at
    least one OLDER manifest (the rewrite publishes a manifest that
    excludes it but never deletes the prior manifest that includes it).
    Rewrite jobs fold these into their base set so a delete predicate
    scans them and the next manifest references them; :func:`vacuum`
    leaves them untouched."""
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    on_disk = set(_list_data_files(fs, root, hpath_cls))
    return on_disk - _all_manifested(spark, path)


def _list_manifest_names(spark: SparkSession, path: str) -> list[str]:
    """One listStatus of ``_manifest`` — the shared walk behind
    :func:`snapshot_versions` and :func:`_dv_sidecar_versions`, so read
    paths that need both (read_snapshot) pay a single directory scan."""
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    mdir = hpath_cls(f"{path}/{MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    return [f.getPath().getName() for f in fs.listStatus(mdir)]


def _versions_from_names(names: list[str]) -> list[int]:
    versions = []
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            try:
                versions.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(versions)


def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    return _versions_from_names(_list_manifest_names(spark, path))


CHECKPOINT_REL = f"{MANIFEST_DIR}/_checkpoint.json"


def _read_manifest_checkpoint(spark: SparkSession, path: str):
    """The rolled checkpoint: ``(version, set-of-every-file-ever-
    manifested-through-version)`` — the Delta ``_last_checkpoint``
    pattern. Purely a CACHE over the manifest history: corrupt, missing
    or torn checkpoints fail OPEN to ``(0, set())`` and the caller
    unions the full version walk instead, so it can never change an
    answer, only the cost of computing it."""
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    try:
        if not fs.exists(hpath_cls(f"{path}/{CHECKPOINT_REL}")):
            return 0, set()
        data = _read_small_json(fs, hpath_cls, path, CHECKPOINT_REL)
        return int(data["version"]), set(data["files"])
    except Exception:
        return 0, set()


def _all_manifested(
    spark: SparkSession, path: str, versions: list[int] | None = None,
    resolved_head: list | set | None = None,
) -> set[str]:
    """Union of every published manifest's file list — O(1) manifest
    reads amortized: checkpoint set + only the manifests NEWER than the
    checkpoint (normally just the head, since every publish advances
    it). This was the last O(history) metadata scan in the table layer:
    listing-mode publishes, rewrite recovery and vacuum all need 'was
    this file ever manifested', and walking every version unioning full
    file lists is O(versions x files) driver-side JSON at thousands of
    commits. A checkpoint AHEAD of the visible head (a hand-copied
    ``_manifest`` dir, a foreign checkpoint) is ignored wholesale —
    fall back to the exact walk."""
    if versions is None:
        versions = snapshot_versions(spark, path)
    ckpt_v, files = _read_manifest_checkpoint(spark, path)
    if ckpt_v > (versions[-1] if versions else 0):
        ckpt_v, files = 0, set()
    gap = [v for v in versions if v > ckpt_v]
    prev_v = None
    for v in gap:
        if prev_v is None:
            # resolve the first gap version fully (bounded chain walk);
            # the caller may have just resolved the head already — reuse
            # it when the gap is exactly [head] (the common case after a
            # full-version checkpoint roll)
            if resolved_head is not None and v == (versions or [None])[-1]:
                files |= set(resolved_head)
            else:
                files |= set(_manifest_files(spark, path, v))
        else:
            doc = _manifest_doc(spark, path, v)
            if "files" in doc:
                files |= set(doc["files"])
            elif "base" in doc and int(doc["base"]) == prev_v:
                # live(v) = live(base) - remove + add, and live(base) is
                # already in the union — only the add-list is new
                files |= set(doc["add"])
            else:
                # non-contiguous chain (shouldn't happen: vacuum only
                # drops version prefixes) or a doc missing 'base' — fall
                # back to the exact resolve, which raises the typed
                # ManifestChainError on true corruption
                files |= set(_manifest_files(spark, path, v))
        prev_v = v
    return files


def _advance_manifest_checkpoint(
    spark: SparkSession, path: str, version: int, all_files: set[str]
) -> None:
    """Best-effort roll after a publish (tmp+rename, losers of a
    concurrent publish race simply leave an older checkpoint — the gap
    union in :func:`_all_manifested` absorbs any staleness). Never
    rolls backwards."""
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    ckpt_v, _unused = _read_manifest_checkpoint(spark, path)
    if ckpt_v >= version:
        return
    _write_small_json(
        fs, hpath_cls, path, CHECKPOINT_REL,
        {"version": version, "files": sorted(all_files)},
    )


def publish_snapshot(
    spark: SparkSession,
    path: str,
    files: list[str] | None = None,
    _from_clone: bool = False,
) -> int:
    """Record the table's current file set as the next snapshot version
    (or an explicit ``files`` list — how copy-on-write rewrites publish a
    manifest that EXCLUDES replaced files still on disk). Returns the
    published version number.

    Directory-listing mode (``files=None``) REFUSES to publish while a
    COW rewrite journal is live: the listing cannot tell a concurrent
    rewrite's uncommitted survivor files from committed appends, so
    publishing would capture uncommitted data into a manifest (and
    protect it from the loser's cleanup — double-counted rows, found by
    the r12 race tests). Retry after the rewrite completes, or run
    :func:`recover_incomplete_rewrite` if it crashed. Explicit-files
    publishes are unaffected (the caller states exactly what commits).

    Once the table HAS a manifest history, listing mode publishes the
    CURRENT LOGICAL STATE — the head manifest's still-live files plus
    committed unmanifested appends — NOT the raw directory: copy-on-
    write rewrites deliberately RETAIN replaced files on disk for
    pinned readers, so a raw listing would capture those tombstones and
    RESURRECT deleted rows into the new head (found by the randomized
    lifecycle property test: append → cow_delete → append → snapshot
    brought every deleted row back). The same rule carries a shallow
    clone's absolute source references forward (a walk only sees local
    files). A first publish (no manifests yet) is the plain listing.

    Name-reuse caveat: the checkpoint remembers every relative name EVER
    manifested, even after vacuum reclaims the file. A later committed
    append that reuses the exact relative name of a vacuumed-away file
    is therefore treated as already-manifested by a listing publish and
    excluded from the new head. Engine part files are UUID-named so this
    cannot occur on normal write paths; it only affects explicit-files
    publishes of hand-named files — give those fresh names."""
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    _listing_manifested: set | None = None
    _listing_versions: list | None = None
    _listing_head: tuple | None = None  # (version, file set) if listed
    if files is None:
        def _refuse_if_rewrite_live() -> None:
            if fs.exists(hpath_cls(f"{path}/{REWRITE_MARKER}")):
                raise ConcurrentRewriteError(
                    f"publish_snapshot({path}) refused: a COW rewrite is "
                    "in progress (live journal) and a directory listing "
                    "would capture its uncommitted files; retry after it "
                    "finishes (or recover_incomplete_rewrite if it "
                    "crashed)"
                )

        _refuse_if_rewrite_live()
        on_disk = set(_list_data_files(fs, root, hpath_cls))
        versions = snapshot_versions(spark, path)
        if versions:
            head_f = set(_manifest_files(spark, path, versions[-1]))
            _listing_head = (versions[-1], head_f)
            manifested = _all_manifested(
                spark, path, versions, resolved_head=head_f
            )
            # cache for the checkpoint advance below — valid as long as
            # no concurrent publish lands between here and there
            _listing_manifested, _listing_versions = manifested, versions
            # head's live files (absolute clone refs kept verbatim;
            # relative ones must still exist — a file removed behind
            # the manifest's back is not carried forward)
            keep_head = {
                f for f in head_f if _is_abs_entry(f) or f in on_disk
            }
            files = sorted(keep_head | (on_disk - manifested))
        else:
            # a FIRST listing-mode publish onto a crashed clone's
            # remnants: without this sweep the stray dv sidecar would
            # silently govern the new table's v1 with a foreign vector
            # (review-found). The intent marker is the discriminator —
            # a live clone publishes via explicit files, never here.
            if fs.exists(hpath_cls(f"{path}/{CLONE_INTENT}")):
                for m in _dv_sidecar_versions(spark, path):
                    _must(
                        fs.delete(
                            hpath_cls(f"{path}/{_dv_sidecar_rel(m)}"),
                            False,
                        ),
                        "publish-crashed-clone-sidecar", m,
                    )
                _must(
                    fs.delete(hpath_cls(f"{path}/{CLONE_INTENT}"), False),
                    "publish-crashed-clone-intent", CLONE_INTENT,
                )
            files = sorted(on_disk)
        # re-check AFTER the listing: a rewrite that claimed the journal
        # while we were walking the directory may already have appended
        # survivor files into our listing (the same TOCTOU the r13 atomic
        # claim closed for rewrite-vs-rewrite). A claim made after the
        # listing completed is safe — its survivors land after our walk
        # and are not in `files`.
        _refuse_if_rewrite_live()
        prior_versions = snapshot_versions(spark, path)
    else:
        files = sorted(files)
        prior_versions = snapshot_versions(spark, path)
        # an explicit-files FIRST publish onto a crashed clone's remnants
        # would silently adopt the stray dv_v1.json sidecar — the new
        # table's v1 governed by a foreign vector (the listing-mode sweep
        # above closes exactly this for listing publishes; ADVICE r17
        # flagged the explicit branch). shallow_clone's OWN publish is
        # the one legitimate explicit-files publish under a live intent
        # marker and identifies itself via ``_from_clone``.
        if (
            not _from_clone
            and not prior_versions
            and fs.exists(hpath_cls(f"{path}/{CLONE_INTENT}"))
        ):
            raise FileExistsError(
                f"publish_snapshot({path}) refused: a crashed clone's "
                f"intent marker ({CLONE_INTENT}) and its stray deletion-"
                "vector sidecar govern this directory — a first publish "
                "here would be silently ruled by a foreign vector. "
                "Run a listing-mode publish_snapshot (which sweeps the "
                "remnants), or remove the directory and start clean."
            )
    version = (prior_versions or [0])[-1] + 1
    mdir = hpath_cls(f"{path}/{MANIFEST_DIR}")
    if not fs.exists(mdir):
        _must(fs.mkdirs(mdir), "mkdirs", mdir)
    import time as _time

    # commit wall-clock for TIMESTAMP AS OF resolution (version_as_of);
    # old manifests lack it and fall back to the file's modification time
    doc: dict = {"version": version,
                 "committed_at_ms": int(_time.time() * 1000)}
    # delta-encode against the prior head (O(changed files) metadata per
    # commit); every FULL_MANIFEST_INTERVAL-th version and every first
    # publish stays a self-contained full list so chains stay bounded
    is_full = (not prior_versions) or version % FULL_MANIFEST_INTERVAL == 0
    if not is_full:
        if _listing_head is not None and _listing_head[0] == prior_versions[-1]:
            prev = _listing_head[1]
        else:
            try:
                prev = set(
                    _manifest_files(spark, path, prior_versions[-1])
                )
            except ManifestChainError:
                # fail OPEN to a full manifest: a broken ancestor chain
                # must not stop new commits (and the full list re-anchors
                # future deltas past the damage)
                prev = None
        if prev is None:
            is_full = True
        else:
            fset = set(files)
            doc["base"] = prior_versions[-1]
            doc["add"] = sorted(fset - prev)
            doc["remove"] = sorted(prev - fset)
    if is_full:
        doc["files"] = files
    tmp = hpath_cls(f"{path}/{MANIFEST_DIR}/.v{version}.json.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(doc).encode())
    finally:
        out.close()
    final = hpath_cls(f"{path}/{MANIFEST_DIR}/v{version}.json")
    _must(fs.rename(tmp, final), "publish-rename", final)
    # the checkpoint (ever-manifested union, O(table files) JSON) rolls
    # only on FULL versions — delta commits write O(delta) metadata total;
    # _all_manifested unions the bounded gap's add-lists instead
    if is_full:
        # reuse the listing mode's already-computed all-manifested set
        # when no concurrent publish landed in between (the common case)
        try:
            if (
                _listing_manifested is not None
                and _listing_versions == prior_versions
            ):
                prior_manifested = _listing_manifested
            else:
                prior_manifested = _all_manifested(
                    spark, path, prior_versions
                )
            _advance_manifest_checkpoint(
                spark, path, version, prior_manifested | set(files)
            )
        except Exception:
            # the advance is best-effort by contract (the checkpoint is a
            # pure fail-open cache): the commit itself (full-list, renamed
            # above) must stand no matter what breaks here — a broken
            # ancestor chain, a failed checkpoint write, anything. This
            # also gives callers the invariant they rely on for cleanup:
            # publish_snapshot raising means NO manifest was committed
            # (review-found: an IOError here after the rename made
            # shallow_clone delete the dv sidecar of a committed v1).
            pass
    return version


def snapshot_commit_times(spark: SparkSession, path: str) -> dict:
    """version -> commit epoch-millis for every published snapshot. The
    manifest's own ``committed_at_ms`` field is authoritative (it
    survives file copies/migrations); manifests from before the field
    existed resolve to the manifest file's modification time — the same
    fallback Delta uses for its commit files."""
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    out = {}
    for v in snapshot_versions(spark, path):
        rel = f"{MANIFEST_DIR}/v{v}.json"
        try:
            doc = _read_small_json(fs, hpath_cls, path, rel)
            ms = doc.get("committed_at_ms")
        except Exception:
            ms = None
        if ms is None:
            ms = int(
                fs.getFileStatus(hpath_cls(f"{path}/{rel}"))
                .getModificationTime()
            )
        out[v] = int(ms)
    return out


def version_as_of(spark: SparkSession, path: str, ts_ms: int) -> int:
    """TIMESTAMP AS OF resolution — the Delta verb: the latest snapshot
    whose commit time is <= ``ts_ms``. Raises if the timestamp predates
    the first commit (nothing existed to read)."""
    times = snapshot_commit_times(spark, path)
    eligible = [v for v, ms in times.items() if ms <= int(ts_ms)]
    if not eligible:
        raise FileNotFoundError(
            f"no snapshot of {path} committed at or before {ts_ms} "
            f"(earliest: {min(times.values()) if times else 'none'})"
        )
    return max(eligible)


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Read the table as of a snapshot: exactly the files its manifest
    lists, nothing published later. ``basePath`` keeps the partition
    column. Raises if no snapshot exists or a listed file is gone
    (rewritten by compaction/delete — the stated pin-until-rewrite limit).

    The files are read with the table's known schema
    (``table.known_schema``: ``date``, the LOG_SCHEMA columns and the
    marker's promoted columns), so opening a snapshot runs no Spark job.
    The engine's own writers legitimately produce tables whose files
    disagree on promoted physical columns (plain history +
    ``write_logs_promoted`` appends before ``materialize_promotions``
    backfills — the documented promotions_deficient state); the declared
    schema still resolves every promoted column, NULL on the files that
    lack it. A table
    without a layout marker (parquet published by hand) has no declared
    schema and infers one with ``mergeSchema``, a footer pass over the
    pinned files.

    ``as_of_ms`` is TIMESTAMP AS OF (mutually exclusive with
    ``version``): the latest snapshot committed at or before the given
    epoch-millis, resolved via :func:`version_as_of`."""
    if version is not None and as_of_ms is not None:
        raise ValueError("pass version OR as_of_ms, not both")
    names = _list_manifest_names(spark, path)  # one walk serves both
    versions = _versions_from_names(names)
    if not versions:
        raise FileNotFoundError(f"no snapshots published under {path}")
    if as_of_ms is not None:
        version = version_as_of(spark, path, as_of_ms)
    version = versions[-1] if version is None else version
    if version not in versions:
        raise FileNotFoundError(f"snapshot v{version} not found in {versions}")
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    files = _manifest_files(spark, path, version)
    missing = sorted(_missing_entries(spark, fs, hpath_cls, path, files))
    if missing:
        raise FileNotFoundError(
            f"snapshot v{version} references rewritten/removed files "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''} — older "
            "snapshots do not survive compaction/delete rewrites (for "
            "clone entries: a vacuum on the SOURCE table breaks clones "
            "pinned to its files, the documented Delta CLONE caveat)"
        )
    # merge-on-read: a snapshot governed by a deletion vector anti-joins
    # its (file, pos) tombstones away; version resolution gives pinned
    # readers the HISTORICAL vector of their snapshot, not the head's
    dv_ref = _dv_ref_at(
        spark, path, version, sidecars=_dv_versions_from_names(names)
    )
    if not _dv_refs(dv_ref):
        return _read_data_files(spark, path, files)
    return _apply_dv(
        _read_data_files(spark, path, files, with_pos=True),
        _read_dv(spark, path, dv_ref),
    )


# Every FULL_MANIFEST_INTERVAL-th version (and every first publish) writes
# the full file list inline; versions in between are DELTAS (base +
# add/remove lists) — the actual Delta log format, so a commit writes
# O(changed files) metadata bytes instead of O(table files) JSON. Delta
# chains are therefore bounded by the interval, and vacuum materializes a
# ``v{N}.full.json`` sidecar for the oldest kept version before dropping
# its chain ancestors (sidecar first, atomically — a crash leaves either
# an intact chain or a finished materialization, never a broken head).
FULL_MANIFEST_INTERVAL = 10


class ManifestChainError(RuntimeError):
    """A delta manifest's base chain cannot be resolved (ancestor manifest
    missing without a materialized sidecar) — metadata corruption that
    must be loud, never an empty file list."""


def _manifest_doc(spark: SparkSession, path: str, version: int) -> dict:
    """The raw manifest document for one version (full or delta form)."""
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    return _read_small_json(
        fs, hpath_cls, path, f"{MANIFEST_DIR}/v{version}.json"
    )


def _sidecar_files(spark: SparkSession, path: str, version: int):
    """The vacuum-materialized full list for a version, or None."""
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    rel = f"{MANIFEST_DIR}/v{version}.full.json"
    if not fs.exists(hpath_cls(f"{path}/{rel}")):
        return None
    return _read_small_json(fs, hpath_cls, path, rel)["files"]


def _manifest_files(spark: SparkSession, path: str, version: int) -> list:
    """The file list a snapshot manifest pins (relative paths; absolute
    for clone references). Full-form manifests (and vacuum's sidecar
    materializations) answer directly; delta manifests replay the
    add/remove chain from the nearest full ancestor — bounded by
    FULL_MANIFEST_INTERVAL reads."""
    doc = _manifest_doc(spark, path, version)
    if "files" in doc:
        return doc["files"]
    own_side = _sidecar_files(spark, path, version)
    if own_side is not None:
        # vacuum materialized this version directly (it was the oldest
        # kept delta when its chain ancestors were dropped)
        return own_side
    if "base" not in doc:
        raise ManifestChainError(
            f"manifest v{version} of {path} has neither 'files' nor "
            "'base' — corrupt manifest document"
        )
    deltas = [doc]
    cur = int(version)
    base = int(doc["base"])
    while True:
        if not 0 < base < cur:
            # a corrupt/hand-edited base pointer must be LOUD, never an
            # infinite walk: valid chains are strictly decreasing
            raise ManifestChainError(
                f"manifest v{cur} of {path} has a non-decreasing base "
                f"pointer v{base} — corrupt delta chain"
            )
        side = _sidecar_files(spark, path, base)
        if side is not None:
            base_files = side
            break
        try:
            bdoc = _manifest_doc(spark, path, base)
        except Exception as e:
            raise ManifestChainError(
                f"manifest v{version} of {path} is a delta whose ancestor "
                f"v{base} is unreadable and has no materialized sidecar: "
                f"{e}"
            ) from e
        if "files" in bdoc:
            base_files = bdoc["files"]
            break
        if "base" not in bdoc:
            raise ManifestChainError(
                f"manifest v{base} of {path} has neither 'files' nor "
                "'base' — corrupt manifest document"
            )
        deltas.append(bdoc)
        cur = base
        base = int(bdoc["base"])
    files = set(base_files)
    for d in reversed(deltas):
        files -= set(d["remove"])
        files |= set(d["add"])
    return sorted(files)


def snapshot_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Row-level change feed between two published snapshots — the CDC
    read Delta calls Change Data Feed, recovered purely from the manifest
    layer (no per-commit change files). File-pruned: only files listed in
    exactly one of the two manifests are scanned, so the diff costs
    O(churned files), not O(table) — at 100 TB an append+delete day
    touches a handful of partitions and the feed reads just those.

    Rows in to-only files are insert candidates, rows in from-only files
    are delete candidates; a copy-on-write rewrite (cow_delete_where /
    compaction) carries its unchanged rows in BOTH candidate sets, and
    ``exceptAll`` cancels them with multiset semantics, leaving exactly
    the net inserts and deletes. Map columns are emitted as their sorted
    entry arrays (``array_sort(map_entries(...))``) because Spark set ops
    cannot compare map types — ``map_from_entries`` restores them.

    Returns the canonical log columns (maps entry-encoded) plus
    ``_change_type`` ('insert' | 'delete'). Both versions must still be
    readable (the pin-until-rewrite limit of read_snapshot applies to
    v_from's files that ALSO vanished from v_to — those raise)."""
    from .schema import LOG_SCHEMA
    from .table import LOG_COLUMNS

    files_from = set(_manifest_files(spark, path, v_from))
    files_to = set(_manifest_files(spark, path, v_to))
    only_from = sorted(files_from - files_to)
    only_to = sorted(files_to - files_from)

    map_cols = {
        f.name
        for f in LOG_SCHEMA.fields
        if f.dataType.typeName() == "map"
    }
    cols = [PARTITION_COLUMN, *LOG_COLUMNS]

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.array_sort(F.map_entries(c)).alias(c)
                if c in map_cols
                else F.col(c)
                for c in cols
            ]
        )

    # each side reads under ITS OWN deletion vector: rows MOR-deleted
    # before v_from are not in the from-side (they were already gone),
    # and rows MOR-deleted by v_to are not in the to-side
    ref_from = _dv_ref_at(spark, path, v_from)
    ref_to = _dv_ref_at(spark, path, v_to)

    def dv_rows(ref) -> DataFrame:
        if not _dv_refs(ref):
            return spark.createDataFrame([], DV_SCHEMA)
        return _read_dv(spark, path, ref)

    empty_schema = None

    def rows(files: list, ref) -> DataFrame:
        nonlocal empty_schema
        if not files:
            if empty_schema is None:
                empty_schema = canon(
                    read_snapshot(spark, path, v_to).limit(0)
                ).schema
            return spark.createDataFrame([], empty_schema)
        if not _dv_refs(ref):
            return canon(_read_data_files(spark, path, files))
        return canon(
            _apply_dv(
                _read_data_files(spark, path, files, with_pos=True),
                dv_rows(ref),
            )
        )

    adds, drops = rows(only_to, ref_to), rows(only_from, ref_from)
    inserts = adds.exceptAll(drops)
    deletes = drops.exceptAll(adds)

    if ref_from != ref_to:
        # merge-on-read churn lives in files BOTH manifests list (a MOR
        # delete rewrites nothing): positions added between the versions
        # are deletes, positions removed (a restore past a MOR delete)
        # are inserts. Keys whose file is NOT common are skipped — those
        # files churned in the file diff above, which already carries
        # their rows' fate. File-pruned: only files with changed
        # positions are read.
        dv_f, dv_t = dv_rows(ref_from), dv_rows(ref_to)
        new_del = dv_t.exceptAll(dv_f)
        un_del = dv_f.exceptAll(dv_t)
        key2entry = {
            _dv_key_of_entry(f, path): f for f in (files_from & files_to)
        }

        def pos_rows(diff: DataFrame) -> DataFrame:
            keys = {
                r["file"]
                for r in diff.select("file").distinct().collect()
            }  # bounded by churned files
            touched = sorted(
                key2entry[k] for k in keys if k in key2entry
            )
            if not touched:
                return None
            tdf = _read_data_files(spark, path, touched, with_pos=True)
            hit = tdf.join(
                diff.select(
                    F.col("file").alias("__dv_key"),
                    F.col("pos").alias("__dv_pos"),
                ),
                ["__dv_key", "__dv_pos"],
            )
            return canon(hit)

        mor_del = pos_rows(new_del)
        mor_ins = pos_rows(un_del)
        if mor_del is not None:
            deletes = deletes.unionByName(mor_del)
        if mor_ins is not None:
            inserts = inserts.unionByName(mor_ins)

    inserts = inserts.withColumn("_change_type", F.lit("insert"))
    deletes = deletes.withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def _write_small_json(fs, hpath_cls, path: str, rel: str, obj) -> None:
    tmp = hpath_cls(f"{path}/{rel}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(obj).encode())
    finally:
        out.close()
    final = hpath_cls(f"{path}/{rel}")
    if fs.exists(final):
        _must(fs.delete(final, False), "marker-replace", final)
    _must(fs.rename(tmp, final), "marker-rename", final)


def _claim_marker(fs, hpath_cls, path: str, rel: str, obj) -> bool:
    """Atomically claim a journal slot: create the marker at its FINAL
    path with create-exclusive (``overwrite=False`` — the namenode makes
    this atomic on HDFS; local FS maps it to O_CREAT|O_EXCL-equivalent).
    Returns False when the slot is already held. Deliberately NOT
    tmp+rename: POSIX rename overwrites an existing destination, so a
    rename can never be the exclusivity primitive — two claimants would
    both "succeed" and the last rename would silently steal the slot
    (the r12-advice double-rewrite race).

    On the local filesystem Hadoop's ``create(overwrite=false)`` is
    itself check-then-act in Java (RawLocalFileSystem has no O_EXCL
    path), so local claims go through ``os.open(O_CREAT|O_EXCL)`` — the
    kernel-atomic equivalent of what the HDFS namenode provides."""
    target = hpath_cls(f"{path}/{rel}")
    payload = json.dumps(obj).encode()
    if getattr(fs, "getScheme", lambda: "")() == "file":
        import os

        local = f"{path}/{rel}"
        if local.startswith("file:"):
            local = local[len("file:"):]
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as out:
            out.write(payload)
        return True
    try:
        out = fs.create(target, False)
    except Exception:
        if fs.exists(target):
            return False
        raise
    try:
        out.write(payload)
    finally:
        out.close()
    return True


def _read_small_json(fs, hpath_cls, path: str, rel: str):
    stream = fs.open(hpath_cls(f"{path}/{rel}"))
    try:
        raw = bytes(
            stream.readAllBytes()
            if hasattr(stream, "readAllBytes")
            else _read_all(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode())


_TORN = object()


def _journal_before(fs, hpath_cls, path: str):
    """The rewrite journal's before-listing, as a set. None when no
    journal exists (or it vanished while being read: the rewrite
    finished or was recovered); ``_TORN`` when its payload does not
    parse, that is the claimant died inside :func:`_claim_marker`
    between the create-exclusive and the write. Survivor files are only
    appended after :func:`_begin_rewrite` returns a fully written
    journal, so a torn journal proves none exist. A journal that still
    exists but cannot be read raises: taking it as absent or torn could
    serve a live rewrite's survivors doubled or reclaim nothing of a
    crashed one (ADVICE r19)."""
    marker = hpath_cls(f"{path}/{REWRITE_MARKER}")
    if not fs.exists(marker):
        return None
    try:
        return set(
            _read_small_json(fs, hpath_cls, path, REWRITE_MARKER)["before"]
        )
    except (ValueError, KeyError, TypeError):
        return _TORN  # JSON and UTF-8 decode errors are ValueErrors
    except Exception:
        if fs.exists(marker):
            raise
        return None


def recover_incomplete_rewrite(spark: SparkSession, path: str) -> int:
    """Crash recovery for every verb that holds the rewrite journal: the
    COW rewrites, the merge-on-read verbs (:func:`mor_delete_where`,
    :func:`mor_update_where`, :func:`dv_compact`, :func:`dv_coalesce`)
    and a :func:`restore_snapshot` across a vector — the two-phase-commit
    cleanup.

    A rewrite journals its intent BEFORE appending survivor files: the
    marker records the full on-disk file listing at start. If the job dies
    between the survivor append and the manifest publish, the directory
    holds orphan files that belong to NO manifest and are NOT committed
    appends — indistinguishable from committed data without the journal
    (and folding them into the next base would DOUBLE the surviving rows).
    Recovery deletes exactly the files that are (a) absent from the
    journaled before-listing, and (b) referenced by no manifest — files
    the crashed rewrite wrote but never published. A crash AFTER publish
    leaves its files manifested, so (b) protects them and recovery just
    drops the stale marker. A deletion-vector sidecar claimed for a
    version that was never published is dropped too. Returns the number
    of orphans reclaimed.

    Single-maintenance-writer assumption (the Delta/Iceberg norm without
    a lock service): no concurrent plain appends while a rewrite runs —
    an append racing the crash window would be listed as an orphan."""
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    before = _journal_before(fs, hpath_cls, path)
    if before is None:
        return 0
    marker = hpath_cls(f"{path}/{REWRITE_MARKER}")
    # a verb that crashed between its sidecar claim and the manifest
    # publish leaves a dv_v{M}.json pointing PAST the head —
    # left in place it would govern the NEXT published version (someone
    # else's commit adopting a half-finished delete). Drop such sidecars
    # here; their orphan generations are swept by vacuum.
    head = (snapshot_versions(spark, path) or [0])[-1]
    for m in _dv_sidecar_versions(spark, path):
        if m > head:
            _must(
                fs.delete(hpath_cls(f"{path}/{_dv_sidecar_rel(m)}"), False),
                "recover-orphan-dv-sidecar", m,
            )
    if before is _TORN:
        # no orphan data files can exist: drop the marker (un-wedging
        # every future COW op) and reclaim nothing. If the claimant is
        # in fact alive mid-write (a microsecond window), it loses its
        # slot here and _finish_rewrite's ownership check makes it abort
        # cleanly.
        _must(fs.delete(marker, False), "rewrite-marker-delete", marker)
        return 0
    manifested = _all_manifested(spark, path)
    on_disk = set(_list_data_files(fs, root, hpath_cls))
    orphans = sorted(on_disk - before - manifested)
    for f in orphans:
        _must(
            fs.delete(hpath_cls(f"{path}/{f}"), False),
            "rewrite-recover-delete",
            f,
        )
    _must(fs.delete(marker, False), "rewrite-marker-delete", marker)
    return len(orphans)


def _cow_base_version(spark: SparkSession, path: str) -> int:
    """The snapshot a COW rewrite works from: the latest manifest — unless
    committed appends landed AFTER it (files in no manifest), in which
    case a fresh base snapshot folding them in is published first.
    Without this, appended rows escape the rewrite's predicate, fall out
    of the published manifest, and are then either stranded forever
    (:func:`vacuum` rightly spares unmanifested files) or silently lost to
    readers — the r9-advice data-loss chain. Publishing the base from the
    EXPLICIT file list (latest manifest ∪ unmanifested) rather than a
    directory listing keeps already-tombstoned COW leftovers dead.
    Recovery of a previously crashed rewrite runs first, so its orphan
    survivor files are never mistaken for committed appends."""
    recover_incomplete_rewrite(spark, path)
    versions = snapshot_versions(spark, path)
    base_version = (
        versions[-1] if versions else publish_snapshot(spark, path)
    )
    unman = _unmanifested_files(spark, path)
    if unman:
        base_version = publish_snapshot(
            spark,
            path,
            sorted(
                set(_manifest_files(spark, path, base_version)) | unman
            ),
        )
    return base_version


def _plan_files(spark: SparkSession, path: str) -> list[str]:
    """The file list a dry run plans from without writing anything: the
    head manifest's, or the data-file listing of a table never published
    (exactly what its first rewrite publishes as v0)."""
    versions = snapshot_versions(spark, path)
    if versions:
        return _manifest_files(spark, path, versions[-1])
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    return _list_data_files(fs, root, hpath_cls) if fs.exists(root) else []


class ConcurrentRewriteError(IOError):
    """A COW rewrite lost an optimistic-concurrency race: the base
    snapshot moved (another maintenance job published first), or a
    competing job's crash recovery reclaimed this rewrite's in-flight
    journal. The losing rewrite publishes NOTHING — its unpublished
    survivor files are cleaned up before raising, so the table stays
    exactly at the winner's head. Retrying the operation is always safe:
    the fresh :func:`_cow_base_version` folds the winner's result into
    the new base."""


def _begin_rewrite(
    spark: SparkSession, path: str, op: str, base_version: int
) -> tuple[set, str]:
    """Journal a COW rewrite's intent and claim the single-writer slot.

    The marker is the mutual-exclusion token: an existing marker means
    another rewrite is LIVE (a crashed one was already reclaimed by the
    :func:`recover_incomplete_rewrite` pass inside
    :func:`_cow_base_version`), so starting a second is refused loudly
    rather than silently clobbering the first job's crash journal. The
    marker carries a random token; :func:`_finish_rewrite` re-reads it to
    prove ownership before publishing — if a competitor's recovery
    replaced or removed it mid-flight, the publish is aborted.
    Returns (before-listing, ownership token).

    The claim itself is ATOMIC (:func:`_claim_marker`, create-exclusive at
    the final path) — an exists-check followed by a write would let two
    rewrites both pass the check, and the loser's in-flight survivor files
    would be absorbed into the winner's ``after − before`` listing,
    publishing duplicated rows the loser's abort can no longer clean up
    (they are manifested). The before-listing is taken before the claim;
    that is safe BECAUSE the claim is atomic: while we hold the marker no
    other rewrite can append, so any file the listing missed is either a
    committed plain append (correctly absorbed into the published
    manifest, same as a post-claim listing would) or a file of a rewrite
    that finished in between — and that rewrite moved the head, so our
    base-stability check in :func:`_finish_rewrite` aborts us before we
    could publish over it."""
    import uuid

    fs, hpath_cls, root = _hadoop_fs(spark, path)
    before = set(_list_data_files(fs, root, hpath_cls))
    token = uuid.uuid4().hex
    claimed = _claim_marker(
        fs, hpath_cls, path, REWRITE_MARKER,
        {"op": op, "base_version": base_version,
         "before": sorted(before), "token": token},
    )
    if not claimed:
        raise ConcurrentRewriteError(
            f"cow rewrite ({op}) refused: another rewrite is in progress "
            f"under {path} (live {REWRITE_MARKER}); if that job crashed, "
            "recover_incomplete_rewrite reclaims it"
        )
    return before, token


_INHERIT_DV = object()  # the new version inherits the head's vector


def _finish_rewrite(
    spark: SparkSession,
    path: str,
    base_version: int,
    before: set,
    token: str,
    keep: set,
    dv=_INHERIT_DV,
    gen: str | None = None,
) -> int:
    """Validate-then-publish for every verb that publishes a version
    under the rewrite journal (the optimistic-concurrency commit): the
    output manifest is ``keep`` (base files that survive) plus every
    file appended since ``before``.

    ``dv`` is the deletion-vector ref the new version publishes (a
    chain of generations, or None to end the vector); ``gen`` is the
    generation this rewrite wrote for it. The ``dv_v{base+1}.json``
    sidecar is claimed create-exclusive, tagged with our token, BEFORE
    the checks and the manifest publish: a crash in between leaves a
    sidecar past the head, which recovery drops, so no head is ever
    served the wrong vector. An existing sidecar at that version means
    a competitor published it first. Without ``dv`` no sidecar is
    written and the new version inherits the head's vector. Two checks
    then gate the publish:

    * ownership — the journal marker must still exist and carry OUR
      token. A competing job's recovery replaces/removes it (and may
      have reclaimed our in-flight survivor files with it), so a foreign
      marker means our append set is no longer trustworthy.
    * base stability — the head manifest must still be ``base_version``.
      A competitor that published first computed its rewrite against
      files we are about to drop; publishing over it would silently
      undo the winner (the classic lost update).

    Every loss runs one abort before raising
    :class:`ConcurrentRewriteError`: our sidecar goes only if it still
    carries our token (a winner's sidecar at the same version must
    survive), then ``gen``; and only while the journal still carries our
    token are the files new since ``before`` that no manifest references
    deleted and the journal released. A journal that is gone or foreign
    means recovery reclaimed our appends, or a competitor holds the slot
    and its in-flight survivors look exactly like ours."""
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    marker = hpath_cls(f"{path}/{REWRITE_MARKER}")
    next_v = base_version + 1
    new_files = set(_list_data_files(fs, root, hpath_cls)) - before

    def _abort(reason: str) -> None:
        if dv is not _INHERIT_DV:
            _drop_dv_sidecar_if_mine(fs, hpath_cls, path, next_v, token)
        if gen:
            _drop_gen_dir(fs, hpath_cls, path, gen, "race-abort-gen-delete")
        if _journal_is_mine(fs, hpath_cls, path, token):
            # the manifest walk is skipped when nothing was appended
            orphans = (
                new_files - _all_manifested(spark, path) if new_files
                else set()
            )
            for f in sorted(orphans):
                p = hpath_cls(f"{path}/{f}")
                if fs.exists(p):
                    _must(fs.delete(p, False), "race-abort-delete", f)
            _must(fs.delete(marker, False), "journal-release", marker)
        raise ConcurrentRewriteError(
            f"cow rewrite lost the race under {path}: {reason}; its "
            "unpublished files were cleaned up — retry the operation "
            "against the new head"
        )

    if dv is not _INHERIT_DV:
        try:
            _write_dv_sidecar_claimed(
                fs, hpath_cls, path, next_v, dv, token
            )
        except ConcurrentRewriteError as e:
            _abort(str(e))
    if not fs.exists(marker):
        _abort("journal marker vanished (competing recovery reclaimed it)")
    if not _journal_is_mine(fs, hpath_cls, path, token):
        _abort("journal marker replaced by a competing rewrite")
    versions = snapshot_versions(spark, path)
    if not versions or versions[-1] != base_version:
        _abort(
            f"base snapshot moved (v{base_version} -> "
            f"v{versions[-1] if versions else '?'})"
        )
    try:
        version = publish_snapshot(spark, path, sorted(keep | new_files))
    except IOError as e:
        # A competitor that publishes the same next version between our
        # base-stability check and publish_snapshot's rename makes the
        # rename fail with a bare IOError (_must). Without this routing
        # the marker stayed live and our survivor files sat orphaned
        # until a later recovery pass — contradicting the 'loser cleans
        # up before raising' contract. _abort re-reads the manifests, so
        # the competitor's just-published files are protected. IOError
        # ONLY: any other exception is a genuine fault, and the journal
        # must survive it so recover_incomplete_rewrite can reclaim the
        # orphans (the crash-window contract the crash tests pin).
        _abort(f"manifest publish failed ({e!r}) — lost the publish race")
    _must(
        fs.delete(marker, False), "rewrite-marker-delete", REWRITE_MARKER
    )
    return version


def _rewrite_days(
    spark: SparkSession,
    path: str,
    op: str,
    base_version: int,
    live: list,
    day_dirs: set,
    rows: DataFrame | None,
    dv=_INHERIT_DV,
    gen: str | None = None,
    journal: tuple | None = None,
) -> int:
    """The one copy-on-write rewrite behind every maintenance verb.
    ``rows`` is the complete new content of the ``day_dirs`` partitions
    (``date=...`` names) of snapshot ``base_version``, whose file list is
    ``live``. The rewrite journals its intent (:func:`_begin_rewrite`),
    appends ``rows`` as NEW files through the table's one writer
    (``table._write_in_layout``: the marker's sort, the promoted columns
    re-derived from the maps; no marker is written, so a table without
    one keeps inferring its schema), and publishes ``live`` minus every file of
    ``day_dirs`` plus the new files (:func:`_finish_rewrite`, optimistic
    concurrency). ``rows`` None writes nothing: the days just leave the
    file list. The replaced files stay on disk for pinned readers until
    :func:`vacuum`. Returns the published version.

    ``dv`` and ``gen`` pass to :func:`_finish_rewrite`: the deletion
    vector the new version publishes and the generation written for it.
    A verb that writes ``gen`` passes the ``(before, token)`` of the
    journal it claimed first as ``journal``, so the generation is written
    before any append (:func:`_write_dv_generation`)."""
    before, tok = journal or _begin_rewrite(spark, path, op, base_version)
    if rows is not None:
        from .table import _write_in_layout, read_layout

        _write_in_layout(rows, path, read_layout(spark, path), "append")
    replaced = {f for f in live if _entry_day_dir(f) in day_dirs}
    return _finish_rewrite(
        spark, path, base_version, before, tok, set(live) - replaced,
        dv=dv, gen=gen,
    )


def _read_live_files(
    spark: SparkSession, path: str, version: int, files: list
) -> DataFrame:
    """``files`` of snapshot ``version`` read as ``date`` + LOG_COLUMNS,
    with that version's deletion vector applied: a raw read of a
    vector-governed day would write MOR-deleted rows into the rewrite's
    new files and resurrect them (the new files carry fresh keys, so the
    vector's positions dangle)."""
    from .table import LOG_COLUMNS

    dv_ref = _dv_ref_at(spark, path, version)
    if not _dv_refs(dv_ref):
        rows = _read_data_files(spark, path, files)
    else:
        rows = _apply_dv(
            _read_data_files(spark, path, files, with_pos=True),
            _read_dv(spark, path, dv_ref),
        )
    return rows.select(PARTITION_COLUMN, *LOG_COLUMNS)


def _predicate(predicate):
    """A Column or SQL string as a delete/update predicate, with SQL's
    three-valued logic collapsed: a row matches only where it is TRUE
    (a NULL predicate keeps the row)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    return F.coalesce(pred, F.lit(False))


def cow_delete_where(
    spark: SparkSession,
    path: str,
    predicate,
) -> dict:
    """Row-level delete (the GDPR / right-to-be-forgotten job): remove
    every row where ``predicate`` (a Column or SQL string) is TRUE by
    rewriting ONLY the days that hold a match. Survivors of affected
    days are written as NEW files, the old files STAY on disk for pinned
    readers and CDC (:func:`snapshot_changes` across the delete works),
    and the newly published manifest excludes them. A row whose
    predicate is NULL is kept.

    Erasure: the deleted rows' bytes remain in the replaced files until
    :func:`vacuum` drops every version that lists them —
    ``vacuum(keep_versions=1)`` right after the delete erases them.

    Scale: one aggregate counts each day's matches and rows, reading only
    the predicate's columns; the survivor write reads only the affected
    days that keep a row (a day whose every row matched just leaves the
    file list); and the manifest math is pure file-list set algebra on
    the driver, O(#files)."""
    from .table import LOG_COLUMNS

    hit = _predicate(predicate)
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    df = read_snapshot(spark, path, base_version).select(
        PARTITION_COLUMN, *LOG_COLUMNS
    )
    stats = (
        df.groupBy(PARTITION_COLUMN)
        .agg(
            F.count(F.when(hit, 1)).alias("n"),
            F.count(F.lit(1)).alias("rows"),
        )
        .filter(F.col("n") > 0)
        .collect()
    )  # bounded by affected days
    affected = sorted(str(r[PARTITION_COLUMN]) for r in stats)
    if not affected:
        return {
            "version": base_version,
            "partitions_rewritten": [],
            "rows_deleted": 0,
        }
    partial = [str(r[PARTITION_COLUMN]) for r in stats if r.n < r.rows]
    version = _rewrite_days(
        spark, path, "cow_delete_where", base_version, live,
        {f"{PARTITION_COLUMN}={d}" for d in affected},
        df.filter(F.col(PARTITION_COLUMN).isin(partial) & ~hit)
        if partial else None,
    )
    return {
        "version": version,
        "partitions_rewritten": affected,
        "rows_deleted": sum(r.n for r in stats),
    }


def cow_update_where(
    spark: SparkSession,
    path: str,
    predicate,
    set_exprs: dict,
) -> dict:
    """Copy-on-write row-level UPDATE ... SET: rows matching
    ``predicate`` get each column in ``set_exprs`` replaced by its
    expression, all SET expressions evaluated against the PRE-update row
    (simultaneous assignment, standard UPDATE semantics — a select, not
    chained withColumn); unmatched rows of affected days are carried
    unchanged. Same rewrite as :func:`cow_delete_where`, so
    ``snapshot_changes`` across an update shows the changed rows as
    delete+insert and cancels carried rows.

    Promoted physical columns re-derive from the (possibly updated) map
    in the rewrite's write — updating ``fields_string`` transparently
    refreshes its promoted column. Updating ``timestamp`` or the
    partition column is refused: the rewrite is partition-scoped and a
    date move is a delete+insert (that is :func:`cow_merge_upsert`'s
    job)."""
    from .table import LOG_COLUMNS

    hit = _predicate(predicate)
    exprs = _validate_set_exprs("cow_update_where", set_exprs, LOG_COLUMNS)
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    df = read_snapshot(spark, path, base_version).select(
        PARTITION_COLUMN, *LOG_COLUMNS
    )
    stats = (
        df.filter(hit)
        .groupBy(PARTITION_COLUMN)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # bounded by affected days
    affected = sorted(str(r[PARTITION_COLUMN]) for r in stats)
    if not affected:
        return {
            "version": base_version,
            "partitions_rewritten": [],
            "rows_updated": 0,
        }
    updated = df.filter(F.col(PARTITION_COLUMN).isin(affected)).select(
        PARTITION_COLUMN,
        *[
            F.when(hit, exprs[c]).otherwise(F.col(c)).alias(c)
            if c in exprs
            else F.col(c)
            for c in LOG_COLUMNS
        ],
    )
    version = _rewrite_days(
        spark, path, "cow_update_where", base_version, live,
        {f"{PARTITION_COLUMN}={d}" for d in affected}, updated,
    )
    return {
        "version": version,
        "partitions_rewritten": affected,
        "rows_updated": sum(r.n for r in stats),
    }


def cow_merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> dict:
    """Copy-on-write MERGE (``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT
    MATCHED INSERT``): rows in ``updates`` replace existing rows with the
    same key and new keys insert. The touched days' merged state is
    written as NEW files, the replaced files STAY on disk for pinned
    readers, and the published manifest swaps them — so time travel
    ACROSS a merge works and :func:`snapshot_changes` yields the
    row-level merge feed (old versions as deletes, new versions +
    brand-new rows as inserts; carried unchanged rows cancel under
    exceptAll). The update rows' promoted columns are derived from their
    own maps, like every rewrite's. The key should be unique within
    ``updates``; a key matching several existing rows replaces them all
    and counts once in ``rows_updated``. ``rows_updated`` counts the
    update rows whose key matches an existing row (duplicate update keys
    count once each, a NULL key never matches) and ``rows_inserted`` the
    rest.

    Scale: two Spark actions — the touched days, then the write, which
    carries both counts as observed metrics. Cost is the touched days'
    data plus O(#files) driver manifest algebra — the standard COW MERGE
    contract; untouched days never rewrite and their files are never
    opened."""
    from .table import LOG_COLUMNS

    dated = updates.withColumn(
        PARTITION_COLUMN, F.to_date(F.col("timestamp"))
    )
    days = [
        str(r[0])
        for r in dated.select(PARTITION_COLUMN).distinct().collect()
    ]  # bounded by affected days
    base_version = _cow_base_version(spark, path)
    if not days:
        return {"version": base_version, "partitions_rewritten": [],
                "rows_updated": 0, "rows_inserted": 0}
    live = _manifest_files(spark, path, base_version)
    df = read_snapshot(spark, path, base_version).select(
        PARTITION_COLUMN, *LOG_COLUMNS
    )
    existing = df.filter(F.col(PARTITION_COLUMN).isin(days))
    keys = dated.select(*key_cols)
    # both counts ride the merge write as observed metrics: each update
    # row is flagged by a join against the DISTINCT existing keys (one
    # output row per update row, so a key that matches several existing
    # rows counts once and rows_inserted cannot go negative; a NULL key
    # never matches), and the flagged rows are counted as they stream
    # into the write — no separate count job
    obs = _retry_safe_observation(spark)
    flagged = dated.join(
        existing.select(*key_cols).distinct().withColumn(
            "__hit", F.lit(1)
        ),
        key_cols,
        "left",
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.count("__hit").alias("hit"),
    )
    merged = existing.join(keys, key_cols, "left_anti").unionByName(
        flagged.drop("__hit"), allowMissingColumns=True
    )
    version = _rewrite_days(
        spark, path, "cow_merge_upsert", base_version, live,
        {f"{PARTITION_COLUMN}={d}" for d in days}, merged,
    )
    counts = obs.get
    return {
        "version": version,
        "partitions_rewritten": sorted(
            f"{PARTITION_COLUMN}={d}" for d in days
        ),
        "rows_updated": int(counts["hit"]),
        "rows_inserted": int(counts["n"] - counts["hit"]),
    }


def cow_compact_partition(
    spark: SparkSession, path: str, partition: str
) -> dict:
    """Small-file compaction (the MergeTree background-merge equivalent):
    merge one day-partition's fragments into new files in the recorded
    sort layout, RETAIN the fragments for pinned snapshot readers until
    :func:`vacuum`, and publish a manifest that swaps them out.
    ``partition`` is the directory name, e.g. ``date=2024-01-03``. The
    CDC feed across a pure compaction is EMPTY by construction (every
    row appears on both sides and cancels). No-op below two files.

    Schema contract: the compacted output is PROJECTED onto the
    canonical table schema — PARTITION_COLUMN + LOG_COLUMNS plus the
    layout's promoted columns re-derived from the maps. Any other
    physical column a fragment might carry is dropped; the engine's
    writers never produce such columns, so this is a normalization, not
    data loss — but files written around the engine do not keep extra
    columns through a compact."""
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    frags = [f for f in live if _entry_day_dir(f) == partition]
    if len(frags) < 2:
        return {"version": base_version, "files_compacted": 0}
    version = _rewrite_days(
        spark, path, "cow_compact_partition", base_version, live,
        {partition}, _read_live_files(spark, path, base_version, frags),
    )
    return {"version": version, "files_compacted": len(frags)}


def reprocess_partition(
    spark: SparkSession,
    path: str,
    partition: str,
    transform,
) -> dict:
    """Backfill one day through a new transform (a parser fix, a
    redaction sweep): read the day ``partition`` (e.g.
    ``date=2024-01-03``) of the current snapshot without its partition
    column, apply ``transform(df) -> df``, and rewrite the day
    copy-on-write. The transform must keep the LOG_COLUMNS; the date is
    restored from the partition name, so no row can move to another
    day. Promoted columns re-derive from the transformed maps and the
    recorded sort layout is re-applied. Untouched days never rewrite.
    Returns ``{"version", "partitions_rewritten"}``; a day the snapshot
    does not hold is a no-op."""
    from .table import LOG_COLUMNS

    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    files = [f for f in live if _entry_day_dir(f) == partition]
    if not files:
        return {"version": base_version, "partitions_rewritten": []}
    day = partition.split("=", 1)[1]
    rows = transform(
        _read_live_files(spark, path, base_version, files)
        .drop(PARTITION_COLUMN)
    ).select(
        F.lit(day).cast("date").alias(PARTITION_COLUMN), *LOG_COLUMNS
    )
    version = _rewrite_days(
        spark, path, "reprocess_partition", base_version, live,
        {partition}, rows,
    )
    return {"version": version, "partitions_rewritten": [partition]}


def _rewrite_unchanged(
    spark: SparkSession, path: str, op: str, base_version: int,
    live: list, day_dirs: list,
) -> dict:
    """Rewrite ``day_dirs`` with their rows unchanged — how a layout or
    promotion change reaches existing files: the rewrite re-sorts by the
    current layout marker and re-derives the promoted columns."""
    if not day_dirs:
        return {"version": base_version, "partitions_rewritten": []}
    dirs = set(day_dirs)
    files = [f for f in live if _entry_day_dir(f) in dirs]
    version = _rewrite_days(
        spark, path, op, base_version, live, dirs,
        _read_live_files(spark, path, base_version, files),
    )
    return {"version": version, "partitions_rewritten": day_dirs}


def optimize_zorder(
    spark: SparkSession,
    path: str,
    zorder_on: tuple[str, ...] = ("namespace", "app", "host"),
    days: list[str] | None = None,
) -> dict:
    """Convert an EXISTING table to the z-order layout — the
    ``OPTIMIZE ... ZORDER BY`` twin (``write_logs_zordered`` covers new
    writes; this rewrites history). The layout marker flips FIRST, so
    every later rewrite (this one included) sorts in Morton order; then
    the chosen days rewrite unchanged. ``days`` (``YYYY-MM-DD``)
    restricts the rewrite (resumable backfill); default is every day.
    Returns ``{"version", "partitions_rewritten"}``."""
    from .table import _write_layout_marker, read_layout

    _write_layout_marker(
        spark, path, {
            **read_layout(spark, path),
            "layout": "zorder", "cols": list(zorder_on),
        },
    )
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    prefix = f"{PARTITION_COLUMN}="
    targets = sorted({
        d for d in map(_entry_day_dir, live)
        if d.startswith(prefix)
        and (days is None or d[len(prefix):] in days)
    })
    return _rewrite_unchanged(
        spark, path, "optimize_zorder", base_version, live, targets
    )


def materialize_promotions(spark: SparkSession, path: str) -> dict:
    """Backfill promoted columns into data written BEFORE the promotion
    was recorded — the MATERIALIZE COLUMN half of the reference recipe
    (README.md:69-91; the DEFAULT half is write_logs's automatic
    materialization on append). Needed exactly when write_logs_promoted
    appends onto a table with plain history: those files lack the
    physical column, so the column reads NULL where the map holds the
    key. Detection reads only file footers (one metadata read per file
    on the driver, no data scan): the days holding a file that lacks a
    promoted column rewrite unchanged, and the rewrite derives the
    promoted columns from the maps. Clears the marker's
    ``promotions_deficient`` flag. Returns ``{"version",
    "partitions_rewritten"}``."""
    from .table import _write_layout_marker, read_layout

    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    layout = read_layout(spark, path)
    columns = list((layout.get("promotions") or {}).values())

    def predates(f: str) -> bool:
        schema = _read_footer(spark, path, f).getFileMetaData().getSchema()
        return not all(schema.containsField(c) for c in columns)

    deficient = sorted(
        {_entry_day_dir(f) for f in live if columns and predates(f)}
    )
    res = _rewrite_unchanged(
        spark, path, "materialize_promotions", base_version, live, deficient,
    )
    # backfill complete (or verified unnecessary): promoted existence
    # fast paths are safe again — see write_logs_promoted
    if layout.get("promotions_deficient"):
        _write_layout_marker(
            spark, path, {**layout, "promotions_deficient": False}
        )
    return res


def apply_retention(
    spark: SparkSession,
    path: str,
    retention_days: int = 30,
    today: date | None = None,
    dry_run: bool = False,
) -> dict:
    """TTL job: delete every row of the days older than the retention
    window — ``TTL toDateTime(timestamp) + INTERVAL 30 DAY``
    (schema.sql:19), where ClickHouse drops an expired day as whole parts
    with no row scan. The expired days come from the head file list; one
    aggregate counts their live rows (deletion vector applied) through a
    ``date < cutoff`` filter that Spark turns into a scan partition
    filter, so only the expired days' files are read, no data column is
    read, and a new cutoff compiles no new code. The days then just leave
    the file list: no survivor is read or written. A day whose every row
    was deleted merge-on-read has no live row and is left alone. The
    expired days' token-Bloom sidecar partitions are dropped with them.
    As with every delete, the bytes stay on disk until :func:`vacuum`.

    ``dry_run=True`` reports the days that WOULD be rewritten, planned
    from the current file list (or the data-file listing of a table
    never published) without writing anything — the approve-before-
    delete step every retention runbook wants. The plan reads no data,
    so on a table with a deletion vector it is a superset: an expired
    day whose rows were all deleted merge-on-read is listed, and the
    real run leaves it alone. Returns ``cutoff`` plus
    :func:`cow_delete_where`'s report keys (``would_rewrite`` instead on
    a dry run)."""
    from .table import TOKEN_BLOOM_DIR

    cutoff = str((today or date.today()) - timedelta(days=retention_days))
    prefix = f"{PARTITION_COLUMN}="

    def expired(files: list) -> list:
        return sorted({
            d[len(prefix):]
            for d in map(_entry_day_dir, files)
            if d.startswith(prefix) and d[len(prefix):] < cutoff
        })

    if dry_run:
        return {
            "cutoff": cutoff,
            "dry_run": True,
            "would_rewrite": expired(_plan_files(spark, path)),
        }
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    stats = []
    if expired(live):
        stats = (
            read_snapshot(spark, path, base_version)
            .filter(F.col(PARTITION_COLUMN) < F.lit(cutoff).cast("date"))
            .groupBy(PARTITION_COLUMN)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )  # bounded by expired days
    affected = sorted(str(r[PARTITION_COLUMN]) for r in stats)
    version = base_version
    if affected:
        version = _rewrite_days(
            spark, path, "apply_retention", base_version, live,
            {f"{prefix}{d}" for d in affected}, None,
        )
        fs, hpath_cls, _ = _hadoop_fs(spark, path)
        for d in affected:
            # the expired day's token-Bloom partition has no rows left
            sidecar = hpath_cls(f"{path}/{TOKEN_BLOOM_DIR}/{prefix}{d}")
            if fs.exists(sidecar):
                fs.delete(sidecar, True)
    return {
        "cutoff": cutoff,
        "version": version,
        "partitions_rewritten": affected,
        "rows_deleted": sum(r.n for r in stats),
    }


def apply_retention_policy(
    spark: SparkSession,
    path: str,
    policies: dict[str, int],
    default_days: int = 30,
    today: date | None = None,
) -> dict:
    """Differentiated TTL — per-namespace retention windows, the
    data-category retention a GDPR program needs beyond the reference's
    single ``TTL 30 DAY`` (schema.sql:19). ``policies`` maps namespace ->
    retention days; everything unlisted keeps ``default_days``. ONE
    :func:`cow_delete_where` with a predicate OR-ing each namespace's
    cutoff: one table pass regardless of how many policies exist, and
    untouched days never rewrite. Returns the delete's report."""
    today = today or date.today()

    def expired(days: int):
        cut = (today - timedelta(days=days)).isoformat()
        return F.col(PARTITION_COLUMN) < F.lit(cut).cast("date")

    pred = expired(default_days)
    if policies:
        pred = pred & ~F.col("namespace").isin(list(policies))
    for ns, days in policies.items():
        pred = pred | ((F.col("namespace") == ns) & expired(days))
    return cow_delete_where(spark, path, pred)


def vacuum(
    spark: SparkSession, path: str, keep_versions: int = 1,
    dry_run: bool = False,
) -> dict:
    """Reclaim disk after COW rewrites: delete the data files that dropped
    snapshots TOMBSTONED — referenced by a manifest outside the retention
    window but by none inside it — then drop those older manifests (they
    would dangle). Files referenced by NO manifest at all are committed
    appends newer than the last publish (see :func:`_unmanifested_files`)
    and are never touched; their count is reported so operators know a
    ``publish_snapshot`` is due. Checked FS deletes throughout (Hadoop
    booleans are failure returns, not exceptions). The retention window is
    the time-travel horizon: keep_versions=3 means readers can still pin
    the last three snapshots. ``dry_run=True`` reports what WOULD be
    reclaimed without touching disk or manifests (and without the
    crash-recovery replay) — the approve-before-delete gate, matching
    ``apply_retention(dry_run=...)``; the report gains "dry_run": True
    and lists the doomed files."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    # reclaim any crashed-rewrite orphans first: they belong to no
    # manifest, so without the journal replay they would leak forever
    # (vacuum deliberately spares unmanifested files)
    if not dry_run:
        recover_incomplete_rewrite(spark, path)
    versions = snapshot_versions(spark, path)
    if not versions:
        return {
            "files_deleted": 0,
            "manifests_dropped": 0,
            "dv_generations_deleted": 0,
            "files_unmanifested": 0,
        }
    keep = versions[-keep_versions:]
    dropped = [v for v in versions if v not in keep]
    # resolve kept versions oldest-first, rolling each delta forward from
    # the previous resolution instead of re-walking the shared chain
    # prefix per version
    kept_lists: dict[int, list] = {}
    running: set | None = None
    prev_v = None
    for v in keep:
        doc = _manifest_doc(spark, path, v)
        if running is not None and "base" in doc and doc["base"] == prev_v:
            running = (running - set(doc["remove"])) | set(doc["add"])
        else:
            running = set(_manifest_files(spark, path, v))
        kept_lists[v] = sorted(running)
        prev_v = v
    kept_refs: set[str] = set()
    for fl in kept_lists.values():
        kept_refs |= set(fl)
    # everything ever manifested (checkpoint + gap) stands in for the
    # dropped versions' union — it also covers files remembered only by
    # the checkpoint (their manifests were dropped by an EARLIER vacuum
    # while a then-kept manifest still referenced them), so those
    # tombstones are reclaimed too instead of leaking forever
    all_man = _all_manifested(spark, path, versions)
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    on_disk = set(_list_data_files(fs, root, hpath_cls))
    doomed = sorted((all_man - kept_refs) & on_disk)
    # deletion-vector retention: generations resolved by ANY kept version
    # stay; every other gen-* directory (dropped history, crashed MOR
    # deletes) is reclaimed, as are sidecars made redundant by the drop
    # (those below the oldest kept version, after re-anchoring its
    # resolution) and orphans past the head
    dv_sidecars = _dv_sidecar_versions(spark, path)
    # one sidecar-JSON read per distinct governing version, not per kept
    # version (consecutive kept versions usually share a sidecar), and
    # the directory listing above is shared via sidecars=
    _gov_cache: dict = {}

    def _gens_at(v: int) -> list:
        gov = max((m for m in dv_sidecars if m <= v), default=None)
        if gov is None:
            return []
        if gov not in _gov_cache:
            _gov_cache[gov] = _dv_refs(
                _dv_ref_at(spark, path, v, sidecars=dv_sidecars)
            )
        return _gov_cache[gov]

    needed_gens = {r for v in keep for r in _gens_at(v)}
    dv_dir = hpath_cls(f"{path}/{DV_DIR}")
    on_disk_gens = set()
    if fs.exists(dv_dir):
        for st in fs.listStatus(dv_dir):
            name = st.getPath().getName()
            if name.startswith("gen-"):
                on_disk_gens.add(f"{DV_DIR}/{name}")
    doomed_gens = sorted(on_disk_gens - needed_gens)
    if dry_run:
        return {
            "dry_run": True,
            "files_deleted": 0,
            "would_delete_files": doomed,
            "manifests_dropped": 0,
            "would_drop_manifests": dropped,
            "would_drop_dv_generations": doomed_gens,
            "files_unmanifested": len(on_disk - all_man),
        }
    # the oldest kept version must stay resolvable after its delta-chain
    # ancestors are dropped: materialize its full list as a sidecar FIRST
    # (atomic tmp+rename; a crash here leaves the chain intact, a crash
    # after leaves a finished materialization — never a broken head)
    if dropped:
        oldest = keep[0]
        if (
            "files" not in _manifest_doc(spark, path, oldest)
            and _sidecar_files(spark, path, oldest) is None
        ):
            _write_small_json(
                fs, hpath_cls, path,
                f"{MANIFEST_DIR}/v{oldest}.full.json",
                {"version": oldest, "files": sorted(kept_lists[oldest])},
            )
    for f in doomed:
        _must(
            fs.delete(hpath_cls(f"{path}/{f}"), False), "vacuum-delete", f
        )
    # delete dropped manifests NEWEST-first: a crash after any prefix of
    # this loop leaves the surviving older manifests a still-intact chain
    # (oldest-first would strand delta manifests whose full ancestor was
    # already deleted). Per version, the sidecar goes BEFORE the manifest
    # so a crash in between can never orphan a sidecar forever (a
    # manifest-less version would vanish from snapshot_versions and no
    # later vacuum would revisit it).
    for v in reversed(dropped):
        side = hpath_cls(f"{path}/{MANIFEST_DIR}/v{v}.full.json")
        if fs.exists(side):
            _must(fs.delete(side, False), "vacuum-sidecar-delete", side)
        mf = hpath_cls(f"{path}/{MANIFEST_DIR}/v{v}.json")
        _must(fs.delete(mf, False), "vacuum-manifest-delete", mf)
    # sweep sidecars orphaned by pre-fix crashes (manifest gone, sidecar
    # left behind): they answer _sidecar_files probes for versions that
    # no longer exist, so reclaim them here
    mdir = hpath_cls(f"{path}/{MANIFEST_DIR}")
    if fs.exists(mdir):
        vset = set(snapshot_versions(spark, path))
        for st in fs.listStatus(mdir):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".full.json"):
                try:
                    sv = int(name[1:-len(".full.json")])
                except ValueError:
                    continue
                if sv not in vset:
                    _must(
                        fs.delete(st.getPath(), False),
                        "vacuum-orphan-sidecar-delete", st.getPath(),
                    )
    # deletion-vector sweep. Ordering is crash-safe: (1) re-anchor the
    # oldest kept version's resolution at its own number (same idea as
    # the delta-chain sidecar materialization — the governing sidecar
    # below the horizon is about to be dropped), (2) THEN drop redundant
    # sidecars, (3) THEN reclaim unreferenced generations. A crash after
    # any step leaves resolution intact (the re-anchor is a same-content
    # copy; max-at-or-before picks either).
    if dv_sidecars:
        oldest = keep[0]
        governing = max(
            (m for m in dv_sidecars if m <= oldest), default=None
        )
        if governing is not None and governing < oldest:
            _write_small_json(
                fs, hpath_cls, path, _dv_sidecar_rel(oldest),
                {
                    "version": oldest,
                    "dv": _dv_ref_at(spark, path, oldest),
                },
            )
        head_v = versions[-1]
        for m in dv_sidecars:
            if m < oldest or m > head_v:
                sc = hpath_cls(f"{path}/{_dv_sidecar_rel(m)}")
                if fs.exists(sc):
                    _must(fs.delete(sc, False), "vacuum-dv-sidecar", sc)
    for g in doomed_gens:
        _must(
            fs.delete(hpath_cls(f"{path}/{g}"), True),
            "vacuum-dv-generation", g,
        )
    # compact the checkpoint to the kept manifests' union: every file
    # that was only in dropped/checkpoint history and still local was
    # just deleted, so the kept union is again exactly 'everything ever
    # manifested that can still appear in a listing'. Re-read the
    # checkpoint first and honor the never-rolls-backwards contract: a
    # publish racing this vacuum may have already advanced it past our
    # head, and overwriting that fresher checkpoint with an older-version
    # one would (briefly) break the O(1)-history property — the next
    # vacuum compacts the stale tombstones instead.
    ckpt_v, _ = _read_manifest_checkpoint(spark, path)
    if ckpt_v <= versions[-1]:
        _write_small_json(
            fs, hpath_cls, path, CHECKPOINT_REL,
            {"version": versions[-1], "files": sorted(kept_refs)},
        )
    return {
        "files_deleted": len(doomed),
        "manifests_dropped": len(dropped),
        "dv_generations_deleted": len(doomed_gens),
        "files_unmanifested": len(on_disk - all_man),
    }


def restore_snapshot(spark: SparkSession, path: str, version: int) -> int:
    """Delta-style RESTORE: make an OLDER snapshot the new head by
    publishing a fresh manifest with that version's exact file list — no
    data is copied or rewritten, the operation is one manifest write.
    Works as the undo button for a bad COW delete/compact/merge as long
    as the restored files still exist (i.e. the target is within the
    :func:`vacuum` horizon — a missing file raises loudly, same contract
    as :func:`read_snapshot`). The CDC feed across a restore is exactly
    the NET REVERSAL of the feed it undoes (rows the undone rewrite
    deleted come back as inserts, its inserts as deletes). Returns the
    newly published head version.

    Deletion vectors restore WITH the snapshot: when the target version
    was governed by a different vector than the head (e.g. the restore
    undoes a :func:`mor_delete_where`), the new head gets a sidecar
    re-pointing at the target's generation (or an explicit null),
    committed under the rewrite journal through :func:`_finish_rewrite`
    like every MOR verb, so a crash can never leave a head serving the
    wrong vector."""
    recover_incomplete_rewrite(spark, path)
    versions = snapshot_versions(spark, path)
    if version not in versions:
        raise FileNotFoundError(
            f"snapshot v{version} not found in {versions}"
        )
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    files = _manifest_files(spark, path, version)
    missing = sorted(_missing_entries(spark, fs, hpath_cls, path, files))
    if missing:
        raise FileNotFoundError(
            f"cannot restore v{version}: files already vacuumed "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''}"
        )
    head = versions[-1]
    ref_target = _dv_ref_at(spark, path, version)
    ref_head = _dv_ref_at(spark, path, head)
    if ref_target == ref_head:
        return publish_snapshot(spark, path, files)
    before, tok = _begin_rewrite(spark, path, "restore_snapshot", head)
    return _finish_rewrite(
        spark, path, head, before, tok, set(files), dv=ref_target
    )


CLONE_MARKER = f"{MANIFEST_DIR}/clone.json"
# claimed for the span of shallow_clone's sidecar-then-publish sequence;
# a surviving marker = a crashed clone. Listing-mode FIRST publishes
# sweep it (with any stray dv sidecars) before committing; explicit-files
# first publishes do not look (their callers state exactly what commits
# — that is the clone's own publish path), so reusing a crashed-clone
# directory via an explicit-files publish should clean it manually.
CLONE_INTENT = f"{MANIFEST_DIR}/.clone-inprogress.json"


def shallow_clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
) -> dict:
    """Delta-style SHALLOW CLONE: create a new table at ``dst`` whose
    first manifest REFERENCES the source's data files by absolute path —
    zero bytes of data copied, one metadata write, done in O(#files)
    driver work at any table size. The clone then lives independently:
    appends land as its own local files, COW delete/update/merge/compact
    rewrite the touched days locally and drop the absolute references
    from the manifest (the SOURCE bytes are never modified or deleted —
    vacuum on the clone only ever reclaims clone-local files, because it
    intersects candidates with the clone's own listing).

    Cloning pins the source's CURRENT state: the files of its latest
    manifest (or ``version``) plus, for the latest, any committed
    unmanifested appends — without publishing anything on the source
    (a clone must not mutate its origin). The source's layout marker is
    copied so maintenance jobs preserve the physical sort contract, and
    a ``_manifest/clone.json`` provenance marker records the origin.

    The documented Delta caveat applies: a VACUUM on the SOURCE can
    remove files a clone still references —
    :func:`fsck` on the clone reports them missing, reads raise.
    Refuses to clone onto an existing table (dst must have no
    manifests). Returns {"version", "n_files", "n_ref_files", "source",
    "source_version"}."""
    from .table import LAYOUT_MARKER, read_layout, _write_layout_marker

    # a RELATIVE source would produce entries that fail _is_abs_entry and
    # later resolve against the CLONE root (review-found: every read of
    # the clone then raises) — qualify scheme-less paths up front. The
    # scheme test uses _URI_RE, not '://', so single-slash Hadoop URIs
    # (file:/x) survive unmangled.
    if not _is_abs_entry(src):
        import os

        src = os.path.abspath(src)
    fs, hpath_cls, _ = _hadoop_fs(spark, src)
    src_versions = snapshot_versions(spark, src)
    if not src_versions:
        raise FileNotFoundError(
            f"shallow_clone: no snapshots published under {src}"
        )
    if fs.exists(hpath_cls(f"{src}/{REWRITE_MARKER}")):
        raise ConcurrentRewriteError(
            f"shallow_clone({src}) refused: a COW rewrite is in progress "
            "on the source; its survivor set is not yet committed"
        )
    if snapshot_versions(spark, dst):
        raise FileExistsError(
            f"shallow_clone: {dst} already has published snapshots"
        )
    src_version = src_versions[-1] if version is None else version
    if src_version not in src_versions:
        raise FileNotFoundError(
            f"snapshot v{src_version} not found in {src_versions}"
        )
    files = list(_manifest_files(spark, src, src_version))
    if version is None:
        # committed appends newer than the source's last publish belong
        # to its current state; reference them too (no source mutation)
        files += sorted(_unmanifested_files(spark, src))
    refs = [_entry_path(src, f) for f in files]
    # batched probe — one listing per source day dir, not one exists()
    # RPC per file (a clone of a million-file table otherwise pays a
    # million driver round-trips before copying zero bytes)
    missing = sorted(
        _entry_path(src, f)
        for f in _missing_entries(spark, fs, hpath_cls, src, files)
    )
    if missing:
        raise FileNotFoundError(
            f"shallow_clone: source files missing {missing[:3]}"
        )
    _write_layout_marker(spark, dst, read_layout(spark, src))
    # markers land under DST — resolve its own FileSystem (the handle
    # above is the SOURCE's; on a cross-FS clone it would misplace them
    # inside the source's store)
    dfs_, dhp_, _ = _hadoop_fs(spark, dst)
    # a vector-governed source clones WITH its deletion vector: the
    # clone's first version gets a sidecar whose ref points (absolutely)
    # into the source's generation — without this, every MOR-deleted row
    # would RESURRECT on the clone. Same read-only-reference contract as
    # the data files: the clone's own dv_compact localizes, a source
    # vacuum outside the clone's knowledge breaks it (fsck reports).
    # Written BEFORE the publish (clone of a fresh dst is always v1) —
    # the MOR two-phase rule: a sidecar without a manifest is cleaned up
    # below, a manifest without its sidecar is silent wrong data. A
    # crash between the two leaves dst manifest-less with a stray
    # dv_v1.json; re-cloning the SAME source adopts an identical
    # sidecar, and any other use starts from 'no snapshots'.
    # claim the clone-intent marker FIRST (create-exclusive): it fences
    # the whole sidecar-then-publish sequence so a crash mid-clone leaves
    # a self-describing remnant — a later LISTING-MODE first publish at
    # this path (someone reusing the directory for a normal table) sees
    # the marker and sweeps the stray sidecar instead of being silently
    # governed by a foreign vector (review-found). A pre-existing marker
    # means an earlier clone crashed here: refuse loudly.
    if not _claim_marker(
        dfs_, dhp_, dst, CLONE_INTENT,
        {"source": src, "source_version": src_version},
    ):
        raise FileExistsError(
            f"shallow_clone: {dst} holds a crashed clone's intent marker "
            f"({CLONE_INTENT}) — a listing-mode publish_snapshot sweeps "
            "it, or remove the directory and re-clone"
        )
    # dst has no snapshots (checked above), so any sidecar under it is a
    # crashed earlier clone's remnant — possibly of a DIFFERENT source;
    # clear them (CHECKED deletes: a sidecar that survives here would
    # silently govern this clone's v1) so a stale vector can never win
    for m in _dv_sidecar_versions(spark, dst):
        _must(
            dfs_.delete(dhp_(f"{dst}/{_dv_sidecar_rel(m)}"), False),
            "clone-stale-sidecar-delete", m,
        )
    src_dv = _dv_refs(_dv_ref_at(spark, src, src_version))
    if src_dv:
        _write_small_json(
            dfs_, dhp_, dst, _dv_sidecar_rel(1),
            {"version": 1,
             "dv": [_entry_path(src, r) for r in src_dv]},
        )
    try:
        v = publish_snapshot(spark, dst, refs, _from_clone=True)
    except BaseException:
        # publish_snapshot raising means no manifest committed (its
        # post-rename checkpoint advance is fully best-effort), but
        # belt-check anyway: deleting the sidecar out from under a
        # COMMITTED v1 would be the silent-resurrection case
        if not snapshot_versions(spark, dst):
            if src_dv:
                sc = dhp_(f"{dst}/{_dv_sidecar_rel(1)}")
                if dfs_.exists(sc):
                    _must(
                        dfs_.delete(sc, False),
                        "clone-abort-sidecar-delete", sc,
                    )
            im = dhp_(f"{dst}/{CLONE_INTENT}")
            if dfs_.exists(im):
                _must(dfs_.delete(im, False), "clone-abort-intent", im)
        raise
    _write_small_json(
        dfs_, dhp_, dst, CLONE_MARKER,
        {"source": src, "source_version": src_version, "n_files": len(refs)},
    )
    _must(
        dfs_.delete(dhp_(f"{dst}/{CLONE_INTENT}"), False),
        "clone-intent-delete", CLONE_INTENT,
    )
    return {
        "version": v,
        "n_files": len(refs),
        "source": src,
        "source_version": src_version,
    }


def read_logs_at(
    spark: SparkSession,
    path: str,
    version: int | None = None,
) -> DataFrame:
    """Time-travel read: the logs table AS OF snapshot ``version`` (default
    latest), in canonical column order — :func:`read_snapshot` plus the
    same projection contract as ``table.read_logs``. A reader pinned to
    v1 keeps seeing the pre-append corpus no matter how many appends have
    published later versions (until a rewrite job invalidates the pin —
    the stated pin-until-rewrite limit)."""
    from .table import LOG_COLUMNS

    return read_snapshot(spark, path, version).select(
        PARTITION_COLUMN, *LOG_COLUMNS
    )


def _current_state_files(
    spark: SparkSession, path: str
) -> tuple[list, object]:
    """``(files, dv_ref)`` of the table's CURRENT LOGICAL STATE — the
    same computation a listing-mode :func:`publish_snapshot` performs:
    the head manifest's still-live files (absolute clone refs and bare
    explicit entries kept verbatim; relative day entries must still be
    on disk) plus committed unmanifested appends,
    and the head's deletion-vector ref. Raises when no snapshot is
    published. The file list is also the pruning seam for
    sidecar-indexed scans (``table.field_range_scan``)."""
    names = _list_manifest_names(spark, path)
    versions = _versions_from_names(names)
    if not versions:
        raise FileNotFoundError(f"no snapshots published under {path}")
    head = versions[-1]
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    on_disk = set(_list_data_files(fs, root, hpath_cls))
    head_f = set(_manifest_files(spark, path, head))
    manifested = _all_manifested(
        spark, path, versions, resolved_head=head_f
    )
    keep_head = {
        f for f in head_f
        if _is_abs_entry(f) or "/" not in f or f in on_disk
    }
    unmanifested = on_disk - manifested
    if unmanifested:
        # A COW/MOR rewrite IN FLIGHT has survivor appends on disk that
        # belong to no manifest yet: counting them as committed
        # unmanifested appends would serve their rows DOUBLED (next to
        # the head files they replace) — the exact window
        # publish_snapshot refuses (review r18). Anything newer than the
        # journal's before-listing is the rewrite's uncommitted output,
        # excluded here. Under the single-maintenance-writer contract no
        # plain append races a rewrite, so nothing legitimate is dropped.
        # No journal, or a torn one, means no live survivors.
        before = _journal_before(fs, hpath_cls, path)
        if isinstance(before, set):
            unmanifested &= before
    files = sorted(keep_head | unmanifested)
    dv_ref = _dv_ref_at(
        spark, path, head, sidecars=_dv_versions_from_names(names)
    )
    return files, dv_ref


def read_current_state(spark: SparkSession, path: str) -> DataFrame:
    """The table's CURRENT LOGICAL STATE under manifest governance —
    exactly the rows a listing-mode :func:`publish_snapshot` would
    capture, with the head's deletion vector applied. This is the safe
    twin of a raw directory read: ``table.read_logs`` /
    ``register_view`` / ``logs_query`` route here whenever the table has
    a published manifest, because a raw ``spark.read.parquet(path)``
    silently RESURRECTS every MOR-deleted row on a vector-governed head
    (VERDICT r17 #2) and double-reads COW-retained tombstone files after
    a copy-on-write rewrite. Unmanifested appends carry no vector
    positions by construction, so the anti-join passes them through
    untouched. The files are read with the table's known schema
    (``table.known_schema``), so building this frame runs no Spark job
    and promoted-column readers project from it directly; a table
    without a layout marker infers its schema with mergeSchema instead.
    Safe against a LIVE rewrite too: while ``REWRITE_MARKER``
    is held, files newer than the journaled before-listing (the
    rewrite's uncommitted survivors) are excluded rather than served
    doubled next to the head files they replace."""
    return _read_current_state(spark, path, read_schema(spark, path))


def _read_current_state(spark: SparkSession, path: str, schema) -> DataFrame:
    """:func:`read_current_state` with the read schema already known
    (None: the table has no marker, infer)."""
    files, dv_ref = _current_state_files(spark, path)
    if not _dv_refs(dv_ref):
        return _read_data_files(spark, path, files, schema=schema)
    return _apply_dv(
        _read_data_files(spark, path, files, with_pos=True, schema=schema),
        _read_dv(spark, path, dv_ref),
    )


# ---------------------------------------------------------------------------
# Deletion vectors — the MERGE-ON-READ twin of the copy-on-write
# `cow_delete_where`. A MOR delete rewrites NO data file: it records the doomed
# (file, row position) pairs in a positions dataset under `_dv/` and the
# read path anti-joins them away — the Delta/Iceberg deletion-vector model.
# At 100 TB this is the difference between a GDPR delete of 3 rows costing
# one tiny parquet write vs rewriting a 1 GB file; once a file accumulates
# enough positions, `dv_compact` folds them into a COW rewrite and clears
# the vector.
#
# Layout:
#   * `_dv/gen-<uuid>/` — a parquet dataset of (file string, pos long):
#     the positions ONE verb deleted. Each MOR delete/update writes a NEW
#     generation holding only its own positions; `dv_coalesce` and a
#     selective `dv_compact` write one holding a whole chain's live
#     positions. Generations are immutable, so pinned readers of older
#     snapshots keep resolving their own.
#   * `_manifest/dv_v{N}.json` — {"version": N, "dv": [<gen rel>, ...] |
#     "<gen rel>" | null, "token": <journal token, rewrite-written only>}:
#     the CHAIN of generations in effect FROM version N on (until a later
#     sidecar); the deleted set is the union of the chain's elements.
#     Every verb that writes one commits through `_finish_rewrite`.
#     Version resolution is "latest sidecar at-or-before the snapshot", so
#     `publish_snapshot` stays untouched: COW rewrites and plain appends
#     inherit the head's vector automatically, and TIME TRAVEL reads get
#     the historical vector for free. Dangling entries (positions of files
#     a later COW rewrite replaced) never match a listed file — harmless.
#
# `file` keys are the entry's LAST TWO path components (day dir + file
# name — identical for relative entries and absolute clone references, and
# computable from `_metadata.file_path` inside Spark). Part files are
# UUID-named, so key collisions cannot occur on engine write paths.
# ---------------------------------------------------------------------------

DV_DIR = "_dv"
DV_SCHEMA = "file string, pos long"


def _dv_key_of_entry(f: str, path: str) -> str:
    """The deletion-vector join key of a manifest entry: its last two
    PHYSICAL path components — the same value
    ``_read_data_files(with_pos=True)`` extracts from
    ``_metadata.file_path``, whether the entry is relative, absolute
    (a clone reference), or a bare unpartitioned filename. For a bare
    relative entry the physical path is ``{path}/{f}``, so the key's
    first component is the TABLE ROOT's directory name — keying the
    entry text alone would never match the column twin (the vector's
    deletes would silently resurrect through ``dv_compact`` /
    ``snapshot_changes``, ADVICE r17)."""
    if "/" not in f:
        return f"{path.rstrip('/').rsplit('/', 1)[-1]}/{f}"
    return "/".join(f.rsplit("/", 2)[-2:])


def _dv_sidecar_rel(version: int) -> str:
    return f"{MANIFEST_DIR}/dv_v{version}.json"


def _dv_keep_keys(spark: SparkSession, dv: DataFrame, keys) -> DataFrame:
    """Restrict a positions dataset to the given file keys with a
    broadcast left-semi join — never a giant IN literal (the key list
    can reach thousands of files under a wide GDPR drip)."""
    keys_df = spark.createDataFrame(
        [(k,) for k in sorted(keys)], "file string"
    )
    return dv.join(F.broadcast(keys_df), "file", "left_semi")


def _drop_gen_dir(fs, hpath_cls, path: str, gen: str, label: str) -> None:
    """Checked removal of a deletion-vector generation directory if it
    exists."""
    gdir = hpath_cls(f"{path}/{gen}")
    if fs.exists(gdir):
        _must(fs.delete(gdir, True), label, gdir)


def _dv_versions_from_names(names: list[str]) -> list[int]:
    out = []
    for name in names:
        if name.startswith("dv_v") and name.endswith(".json"):
            try:
                out.append(int(name[4:-5]))
            except ValueError:
                continue
    return sorted(out)


def _dv_sidecar_versions(spark: SparkSession, path: str) -> list[int]:
    """Versions that carry a deletion-vector sidecar, ascending. (The
    ``dv_`` prefix keeps these invisible to :func:`snapshot_versions`,
    which matches ``v*.json``.)"""
    return _dv_versions_from_names(_list_manifest_names(spark, path))


def _dv_ref_at(
    spark: SparkSession, path: str, version: int, sidecars=None
) -> "list | str | None":
    """The deletion-vector ``dv`` field in effect at a snapshot version
    — VERBATIM: a chain (list of generation refs), a legacy single
    string, or None. Pass it through :func:`_dv_refs` before use:
    the latest ``dv_v{M}.json`` with M <= version (its ``dv`` field may
    be null — an explicit 'no vector from here on', written by
    :func:`dv_compact` and by restores to pre-vector versions). None when
    no sidecar governs the version. An unreadable sidecar is metadata
    corruption and raises — silently reading the table WITHOUT its
    vector would resurrect deleted rows. ``sidecars`` lets callers that
    already walked ``_manifest`` skip the second directory listing."""
    if sidecars is None:
        sidecars = _dv_sidecar_versions(spark, path)
    eligible = [m for m in sidecars if m <= version]
    if not eligible:
        return None
    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    doc = _read_small_json(
        fs, hpath_cls, path, _dv_sidecar_rel(max(eligible))
    )
    return doc.get("dv")


def _dv_refs(ref) -> list:
    """Normalize a sidecar's ``dv`` field to a list of generation refs.
    The field is a CHAIN: each MOR delete prepends its own generation
    (one O(new positions) write — never a copy of the accumulated
    vector), so the governed set is the union of the chain's elements.
    Legacy single-string form and explicit null both normalize."""
    if ref is None:
        return []
    if isinstance(ref, str):
        return [ref]
    return list(ref)


def _read_dv(spark: SparkSession, path: str, ref) -> DataFrame:
    """The (file, pos) rows governed by a sidecar ref (a single
    generation or a chain — union of its elements). Refs are normally
    table-relative (``_dv/gen-...``); a shallow clone of a
    vector-governed source carries ABSOLUTE refs into the source's
    generations (the clone caveat applies, as for data files)."""
    refs = _dv_refs(ref)
    return spark.read.schema(DV_SCHEMA).parquet(
        *[_entry_path(path, r) for r in refs]
    )


def _apply_dv(
    df: DataFrame, dv: DataFrame, keep_keys: bool = False
) -> DataFrame:
    """Filter a ``with_pos=True`` read through a positions dataset: one
    ANTI equi-join on (file key, row position), helper columns dropped
    unless the caller still needs them (``keep_keys``). The vector side
    is small by contract (``dv_compact`` folds oversized vectors into
    rewrites), so AQE plans this as a broadcast join."""
    out = df.join(
        dv.select(
            F.col("file").alias("__dv_key"), F.col("pos").alias("__dv_pos")
        ),
        ["__dv_key", "__dv_pos"],
        "left_anti",
    )
    return out if keep_keys else out.drop("__dv_key", "__dv_pos")


def _journal_is_mine(fs, hpath_cls, path: str, tok: str) -> bool:
    """Does the rewrite journal exist AND still carry our token? The one
    copy of the exists/read/compare dance every ownership decision uses
    (release, abort) — a torn or foreign marker reads as not-ours."""
    if not fs.exists(hpath_cls(f"{path}/{REWRITE_MARKER}")):
        return False
    try:
        return (
            _read_small_json(fs, hpath_cls, path, REWRITE_MARKER)
            .get("token") == tok
        )
    except Exception:
        return False


def _release_journal_if_mine(fs, hpath_cls, path: str, tok: str) -> None:
    """Release the rewrite journal only when it still carries OUR token —
    a competing recovery may have replaced it (the same ownership check
    _finish_rewrite's abort makes)."""
    if _journal_is_mine(fs, hpath_cls, path, tok):
        _must(
            fs.delete(hpath_cls(f"{path}/{REWRITE_MARKER}"), False),
            "journal-release", REWRITE_MARKER,
        )


def _write_dv_generation(
    spark: SparkSession, path: str, tok: str, positions: DataFrame,
    count: bool = True,
) -> tuple[str | None, int | None]:
    """Write ``positions`` (``file``, ``pos``) as a new deletion-vector
    generation under the rewrite journal ``tok``, before any data
    append. Returns ``(gen, n)``: ``n`` is the row count observed on the
    write (``count=False`` skips the observation: ``n`` None), and an
    empty generation is removed again, ``(None, 0)`` — the at-least-once
    REPLAY path of a delete that matches nothing. A failed write removes
    the generation and releases the journal: nothing is appended yet, so
    there is nothing only the journal's before-listing could identify.
    Positions are tiny relative to data by contract; rebalance lets AQE
    size the output files instead of one per task."""
    import uuid

    fs, hpath_cls, _ = _hadoop_fs(spark, path)
    gen = f"{DV_DIR}/gen-{uuid.uuid4().hex}"
    try:
        obs = _retry_safe_observation(spark) if count else None
        if obs is not None:
            positions = positions.observe(obs, F.count(F.lit(1)).alias("n"))
        positions.hint("rebalance").write.parquet(f"{path}/{gen}")
        n = obs.get["n"] if obs is not None else None
    except BaseException:
        _drop_gen_dir(fs, hpath_cls, path, gen, "dv-gen-abort")
        _release_journal_if_mine(fs, hpath_cls, path, tok)
        raise
    if n == 0:
        _drop_gen_dir(fs, hpath_cls, path, gen, "dv-empty-gen-delete")
        return None, 0
    return gen, n


def _write_dv_sidecar_claimed(
    fs, hpath_cls, path: str, version: int, dv, tok: str
) -> None:
    """Publish a deletion-vector sidecar with CREATE-EXCLUSIVE semantics,
    tagged with the writing rewrite's journal token. Exclusive because a
    plain overwrite could CLOBBER a competing winner's already-published
    sidecar for the same version (the loser's publish would then abort,
    but the winner's vector would already be gone — silent resurrection,
    review-found); an existing sidecar at this version proves we lost
    the race, so raise the standard loser error. The token lets the
    loser's cleanup delete only its OWN sidecar."""
    if not _claim_marker(
        fs, hpath_cls, path, _dv_sidecar_rel(version),
        {"version": version, "dv": dv, "token": tok},
    ):
        raise ConcurrentRewriteError(
            f"dv sidecar v{version} already exists under {path} — a "
            "competing rewrite published this version first; retry "
            "against the new head"
        )


def _drop_dv_sidecar_if_mine(
    fs, hpath_cls, path: str, version: int, tok: str
) -> None:
    """Lost-race cleanup for a pre-published sidecar: delete it ONLY when
    it still carries our token. A competing recovery may have dropped
    ours (past-head sweep) and a competing rewrite may have published
    its own at the same version — deleting that one would resurrect the
    winner's MOR-deleted rows.

    Known narrow window: the read-token-then-delete pair is not atomic
    (no filesystem offers compare-and-delete), so a recovery dropping
    our sidecar AND a competitor claiming the same version between our
    read and our delete could still lose the competitor's sidecar. The
    window is microseconds of driver-local work, requires three
    concurrent maintenance jobs on one table (outside the documented
    single-maintenance-writer assumption), and fsck surfaces the damage
    (dv_missing) — accepted residual risk."""
    rel = _dv_sidecar_rel(version)
    p = hpath_cls(f"{path}/{rel}")
    if not fs.exists(p):
        return
    try:
        mine = _read_small_json(fs, hpath_cls, path, rel).get("token") == tok
    except Exception:
        mine = False
    if mine:
        _must(fs.delete(p, False), "dv-sidecar-cleanup", rel)


def _validate_set_exprs(op: str, set_exprs: dict, log_columns) -> dict:
    """Shared UPDATE ... SET validation (cow_update_where /
    mor_update_where): expressions compile, timestamp/partition moves
    are refused (a date move is delete+insert — cow_merge_upsert), and
    unknown columns are refused."""
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in set_exprs.items()
    }
    frozen = {"timestamp", PARTITION_COLUMN} & exprs.keys()
    unknown = exprs.keys() - set(log_columns)
    if frozen or unknown:
        raise ValueError(
            f"{op} cannot set {sorted(frozen | unknown)}: "
            "timestamp/partition moves are delete+insert "
            "(cow_merge_upsert); unknown columns are not in LOG_COLUMNS"
        )
    return exprs


def has_live_dv(spark: SparkSession, path: str) -> bool:
    """True when the head snapshot is governed by a deletion vector
    (``maintain`` decides on a fold from it)."""
    names = _list_manifest_names(spark, path)  # one walk serves both
    versions = _versions_from_names(names)
    if not versions:
        return False
    return bool(_dv_refs(_dv_ref_at(
        spark, path, versions[-1],
        sidecars=_dv_versions_from_names(names),
    )))


def mor_delete_where(
    spark: SparkSession,
    path: str,
    predicate,
) -> dict:
    """Merge-on-read row-level delete: record matching rows' (file, pos)
    pairs in a new deletion-vector generation and publish a new snapshot
    version governed by it — ZERO data files are written or replaced
    (the survivor-materialization cost of :func:`cow_delete_where` is
    deferred to :func:`dv_compact` / the next COW rewrite of the day).
    Same NULL discipline as the other delete tiers: a row is deleted
    only where the predicate is TRUE.

    Concurrency/crash discipline mirrors the COW verbs: the rewrite
    journal is claimed for the whole operation (mutual exclusion with
    COW rewrites and other MOR deletes), the sidecar for version
    base+1 is written BEFORE the validate-then-publish, and a loser or
    crash cleans up: on a lost race :func:`_finish_rewrite` deletes its
    own sidecar + generation before re-raising; after a crash the journal
    is live, so every maintenance entry point funnels through
    :func:`recover_incomplete_rewrite`, which drops sidecars pointing
    past the head (and their now-unreferenced generations are swept by
    :func:`vacuum`).

    Scale shape: one predicate scan over the (vector-applied) base
    snapshot produces the new positions; the write is O(deleted rows),
    the publish O(changed metadata). No survivor write, no shuffle of
    table data."""
    hit = _predicate(predicate)
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    old_refs = _dv_refs(_dv_ref_at(spark, path, base_version))
    # positions of newly doomed rows — computed on the VECTOR-APPLIED
    # base so already-deleted rows never re-count (the anti-join is
    # skipped entirely on a table with no prior vector, the common
    # first-delete case)
    hits = _read_data_files(spark, path, live, with_pos=True).withColumn(
        "__hit", hit
    )
    if old_refs:
        hits = _apply_dv(hits, _read_dv(spark, path, old_refs), keep_keys=True)
    positions = hits.filter(F.col("__hit")).select(
        F.col("__dv_key").alias("file"), F.col("__dv_pos").alias("pos")
    )
    before, tok = _begin_rewrite(
        spark, path, "mor_delete_where", base_version
    )
    # ONE pass over the table writes ONLY the new positions, counted as
    # they stream past. The sidecar then CHAINS the new generation onto
    # the prior ref list, so each delete costs O(its own positions) —
    # never a copy of the accumulated vector (that copy made N small
    # GDPR batches quadratic). A no-match delete publishes nothing.
    gen, n_deleted = _write_dv_generation(spark, path, tok, positions)
    if gen is None:
        fs, hpath_cls, _ = _hadoop_fs(spark, path)
        _release_journal_if_mine(fs, hpath_cls, path, tok)
        return {"version": base_version, "rows_deleted": 0, "dv": old_refs}
    new_chain = [gen, *old_refs]
    version = _finish_rewrite(
        spark, path, base_version, before, tok, set(live),
        dv=new_chain, gen=gen,
    )
    return {
        "version": version,
        "rows_deleted": n_deleted,
        "dv": new_chain,
    }


def dv_compact(
    spark: SparkSession,
    path: str,
    min_deleted_ratio: float = 0.0,
    dry_run: bool = False,
) -> dict:
    """Fold the head's deletion vector into a copy-on-write rewrite —
    the maintenance step that keeps merge-on-read reads cheap (Delta's
    PURGE / Iceberg's rewrite-position-deletes). With the default
    ``min_deleted_ratio=0`` every day holding a vector-referenced file
    is rewritten from the vector-applied snapshot (survivors only, as
    NEW files), the new manifest drops the replaced files, and an
    explicit-null sidecar ends the vector's reign; the table reads with
    zero anti-joins again. Pinned older snapshots keep their historical
    vectors and retained files untouched either way.

    A POSITIVE ``min_deleted_ratio`` folds SELECTIVELY (VERDICT r17 #3
    — Delta's PURGE-threshold policy): only days holding a file whose
    deleted-position fraction crosses the threshold are rewritten; the
    surviving positions re-anchor as ONE fresh generation referenced by
    the new sidecar (so the chain coalesces as a side effect), keeping
    the MOR economics for lightly-deleted files — a 3-row GDPR delete
    must not turn the next nightly :func:`maintain` into a full-day COW
    rewrite at 100 TB. Dead positions (files a later COW rewrite
    already replaced) never re-anchor. A selective call that finds no
    file crossing the threshold is a pure no-op — use
    :func:`dv_coalesce` to shorten a long chain without folding.

    Scale: the per-file ratio probe reads the parquet footers of the
    vector-affected files on the driver (row counts from row-group
    metadata, no Spark job, no data scan); the only Spark reads are the
    vector's per-file position counts and the survivor write, which
    touches only folded days; everything else is manifest set algebra.
    Same journal/two-phase discipline as :func:`mor_delete_where`."""
    base_version = _cow_base_version(spark, path)
    ref = _dv_ref_at(spark, path, base_version)
    if not _dv_refs(ref):
        return {
            "version": base_version,
            "partitions_rewritten": [],
            "positions_folded": 0,
            "positions_kept": 0,
        }
    from .table import LOG_COLUMNS

    live = _manifest_files(spark, path, base_version)
    dv = _read_dv(spark, path, ref)
    per_key = {
        r["file"]: r["n"]
        for r in dv.groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }  # bounded by vector-affected files
    key2entry = {_dv_key_of_entry(f, path): f for f in live}
    affected_keys = sorted(k for k in per_key if k in key2entry)
    # dead positions: files a later COW rewrite replaced — their rows
    # exist in no listed file, so the positions fold away for free
    n_dead = sum(n for k, n in per_key.items() if k not in key2entry)
    if min_deleted_ratio > 0:
        rows_per_key = {
            k: sum(
                b.getRowCount()
                for b in _read_footer(spark, path, key2entry[k]).getBlocks()
            )
            for k in affected_keys
        }
        crossing = [
            k for k in affected_keys
            if rows_per_key[k]
            and per_key[k] >= min_deleted_ratio * rows_per_key[k]
        ]
    else:
        crossing = list(affected_keys)
    if affected_keys and not crossing:
        return {
            "version": base_version,
            "partitions_rewritten": [],
            "positions_folded": 0,
            "positions_kept": sum(per_key[k] for k in affected_keys),
        }
    # with no affected file the vector only references files a later COW
    # rewrite already replaced: no day is rewritten, its reign just ends
    day_dirs = {_entry_day_dir(key2entry[k]) for k in crossing}
    if "" in day_dirs:
        raise ValueError(
            f"dv_compact({path}) cannot rewrite unpartitioned manifest "
            "entries (bare filenames) — re-publish them under day "
            "partitions first"
        )
    # a folded day's rewrite replaces EVERY file in it, so all affected
    # keys living in fold days fold together
    folded_keys = {
        k for k in affected_keys
        if _entry_day_dir(key2entry[k]) in day_dirs
    }
    kept_keys = sorted(set(affected_keys) - folded_keys)
    days = sorted(d.split("=", 1)[1] for d in day_dirs)
    n_folded = sum(per_key[k] for k in folded_keys) + n_dead
    n_kept = sum(per_key[k] for k in kept_keys)
    if dry_run:
        # the full would-be plan, nothing mutated — maintain's dry run
        # reports this instead of a bare has-vector boolean (review r18)
        return {
            "version": base_version,
            "partitions_rewritten": days,
            "positions_folded": n_folded,
            "positions_kept": n_kept,
            "dry_run": True,
        }
    survivors = (
        read_snapshot(spark, path, base_version)
        .select(PARTITION_COLUMN, *LOG_COLUMNS)
        .filter(F.col(PARTITION_COLUMN).isin(days))
        if days else None
    )
    journal = _begin_rewrite(spark, path, "dv_compact", base_version)
    gen = None
    if kept_keys:
        # surviving positions re-anchor as ONE fresh generation BEFORE
        # the survivor write, while a failure has appended nothing yet
        gen, _ = _write_dv_generation(
            spark, path, journal[1], _dv_keep_keys(spark, dv, kept_keys),
            count=False,
        )
    version = _rewrite_days(
        spark, path, "dv_compact", base_version, live, day_dirs, survivors,
        dv=[gen] if gen else None, gen=gen, journal=journal,
    )
    return {
        "version": version,
        "partitions_rewritten": days,
        "positions_folded": n_folded,
        "positions_kept": n_kept,
    }


def dv_coalesce(spark: SparkSession, path: str) -> dict:
    """Rewrite the head's deletion-vector CHAIN as ONE generation
    WITHOUT folding anything into data files — merge-on-read semantics
    kept, but the read-side union of N small generation datasets
    becomes a single parquet read, and dead positions (files a later
    COW rewrite replaced) drop (VERDICT r17 #7: a long GDPR drip
    between compactions otherwise taxes every read with an N-way
    union). No data file is written or replaced; cost is O(live
    positions). Pinned older sidecars keep referencing the old
    generations (vacuum's DV retention protects them until their
    snapshots expire). A chain of <= 1 generation is a no-op — the
    dead-position cleanup alone is not worth a version bump. Same
    journal/two-phase discipline as the other MOR verbs."""
    base_version = _cow_base_version(spark, path)
    ref = _dv_ref_at(spark, path, base_version)
    refs = _dv_refs(ref)
    if len(refs) <= 1:
        return {
            "version": base_version,
            "generations_before": len(refs),
            "generations_after": len(refs),
            "positions_kept": None,
            "positions_dropped": 0,
        }
    live = _manifest_files(spark, path, base_version)
    # both counts ride the coalesce write as observed metrics (r21,
    # guide §1.2/§5): the standalone dv.count() job and the read-back
    # count of the freshly written generation were two extra Spark jobs
    # per maintenance call that re-derived what the one required action
    # already streams past
    obs_total = _retry_safe_observation(spark)
    kept = _dv_keep_keys(
        spark,
        _read_dv(spark, path, ref).observe(
            obs_total, F.count(F.lit(1)).alias("n")
        ),
        {_dv_key_of_entry(f, path) for f in live},
    )
    before, tok = _begin_rewrite(spark, path, "dv_coalesce", base_version)
    # every position dead: no generation, and the vector's reign ends
    gen, n_kept = _write_dv_generation(spark, path, tok, kept)
    n_total = obs_total.get["n"]
    version = _finish_rewrite(
        spark, path, base_version, before, tok, set(live),
        dv=[gen] if gen else None, gen=gen,
    )
    return {
        "version": version,
        "generations_before": len(refs),
        "generations_after": 1 if n_kept else 0,
        "positions_kept": n_kept,
        "positions_dropped": n_total - n_kept,
    }


def mor_update_where(
    spark: SparkSession,
    path: str,
    predicate,
    set_exprs: dict,
) -> dict:
    """Merge-on-read row-level UPDATE ... SET — the update twin of
    :func:`mor_delete_where` (how Iceberg v3 / Delta express updates over
    deletion vectors): matched rows' OLD positions join the vector chain
    and their UPDATED copies append as new files, so the write cost is
    O(matched rows) — never a survivor rewrite of the affected days
    (:func:`cow_update_where`'s model). Same SET semantics as the COW
    verb: every expression evaluates against the PRE-update row
    (simultaneous assignment), promoted physical columns re-derive from
    the possibly-updated maps, and timestamp/partition moves are refused
    (a date move is delete+insert — :func:`cow_merge_upsert`).

    Reads see exactly the updated state: the anti-join removes the old
    rows, the appended files carry the new ones, and the CDC feed across
    the update is the standard delete+insert pair (position diff + file
    diff). Crash/concurrency discipline is the union of the two parents:
    journaled intent before any write (after a crash, appended orphans
    reclaim through the before-listing and an orphan generation sweeps
    via vacuum), sidecar before publish, losers clean up both."""
    from .table import LOG_COLUMNS

    hit = _predicate(predicate)
    exprs = _validate_set_exprs("mor_update_where", set_exprs, LOG_COLUMNS)
    base_version = _cow_base_version(spark, path)
    live = _manifest_files(spark, path, base_version)
    old_refs = _dv_refs(_dv_ref_at(spark, path, base_version))
    df = _read_data_files(spark, path, live, with_pos=True)
    if old_refs:
        df = _apply_dv(df, _read_dv(spark, path, old_refs), keep_keys=True)
    # matched rows carry BOTH their positions (for the vector) and their
    # data (for the updated copies) — persisted so the predicate scan
    # over the table runs once and both writes read O(matched rows)
    matched = df.filter(hit).persist()
    try:
        updated = matched.select(
            PARTITION_COLUMN,
            *[exprs[c].alias(c) if c in exprs else F.col(c)
              for c in LOG_COLUMNS],
        )
        journal = _begin_rewrite(
            spark, path, "mor_update_where", base_version
        )
        gen, n_matched = _write_dv_generation(
            spark, path, journal[1],
            matched.select(
                F.col("__dv_key").alias("file"),
                F.col("__dv_pos").alias("pos"),
            ),
        )
        if gen is None:
            fs, hpath_cls, _ = _hadoop_fs(spark, path)
            _release_journal_if_mine(fs, hpath_cls, path, journal[1])
            return {
                "version": base_version,
                "rows_updated": 0,
                "dv": old_refs,
            }
        new_chain = [gen, *old_refs]
        # the updated copies append without replacing any day
        version = _rewrite_days(
            spark, path, "mor_update_where", base_version, live, set(),
            updated, dv=new_chain, gen=gen, journal=journal,
        )
    finally:
        matched.unpersist()
    return {
        "version": version,
        "rows_updated": n_matched,
        "dv": new_chain,
    }


def _read_all(stream) -> bytes:
    chunks = []
    while True:
        b = stream.read()
        if b < 0:
            break
        chunks.append(b)
    return bytes(chunks)


def fsck(spark: SparkSession, path: str) -> dict:
    """Manifest-layer consistency report — the read-only health check an
    operator runs before trusting a 100 TB table (Delta's ``fsck`` /
    Iceberg's ``verify`` analogue). Pure metadata: one directory listing
    plus the manifest JSONs; no data file is opened, so cost is
    O(#files + #versions) driver work regardless of table size.

    Reports, per category:
      * ``missing``   — {version: [files]} referenced by a manifest but
        absent on disk. Inside the vacuum horizon this is CORRUPTION
        (a pinned snapshot that cannot be served); for older manifests it
        is the documented pin-until-rewrite limit.
      * ``unmanifested`` — committed appends newer than the last publish
        (a ``publish_snapshot`` is due; vacuum rightly spares them).
      * ``tombstoned`` — files only older manifests reference (what a
        ``vacuum`` would reclaim).
      * ``journal_live`` / ``journal_torn`` — a COW rewrite is in flight
        (or crashed mid-claim; ``recover_incomplete_rewrite`` clears it).
      * ``ok`` — no missing files in the LATEST snapshot, no torn
        journal: every current reader is serviceable.
    """
    fs, hpath_cls, root = _hadoop_fs(spark, path)
    versions = snapshot_versions(spark, path)
    on_disk = set(_list_data_files(fs, root, hpath_cls))
    # resolve versions oldest-first, rolling contiguous deltas forward
    # from the previous resolution (one doc read per version — same trick
    # as vacuum's kept_lists; a fresh chain walk per version would make
    # this O(versions x interval))
    per_version: dict[int, set] = {}
    unresolvable: dict[int, str] = {}
    partial_refs: set = set()  # add-lists of unresolvable delta docs
    running_fsck: set | None = None
    prev_fv = None
    for v in versions:
        try:
            doc = _manifest_doc(spark, path, v)
            if (
                running_fsck is not None
                and "base" in doc and doc["base"] == prev_fv
            ):
                running_fsck = (
                    running_fsck - set(doc["remove"])
                ) | set(doc["add"])
            else:
                running_fsck = set(_manifest_files(spark, path, v))
            per_version[v] = running_fsck
            prev_fv = v
        except ManifestChainError as e:
            # a delta whose ancestors are gone — report, don't crash the
            # health check itself; its own add-list is still a known
            # lower bound on what it pins (keeps those files out of the
            # 'unmanifested' bucket below)
            unresolvable[v] = str(e)
            try:
                partial_refs |= set(
                    _manifest_doc(spark, path, v).get("add", [])
                )
            except Exception:
                pass
            running_fsck, prev_fv = None, None
    # absolute (clone) entries live outside the listing — probe them
    # BATCHED, one listing per source day dir instead of one exists()
    # RPC per file (a clone of a million-file table would otherwise pay
    # a million driver round-trips here). A vacuumed SOURCE is exactly
    # the corruption this must surface, the Delta CLONE caveat.
    abs_entries = sorted(
        {f for refs in per_version.values() for f in refs
         if _is_abs_entry(f)}
    )
    abs_missing = (
        set(_missing_entries(spark, fs, hpath_cls, path, abs_entries))
        if abs_entries else set()
    )

    def _gone(f: str) -> bool:
        if not _is_abs_entry(f):
            return f not in on_disk
        return f in abs_missing

    missing = {
        v: sorted(f for f in refs if _gone(f))
        for v, refs in per_version.items()
        if any(_gone(f) for f in refs)
    }
    manifested = set().union(*per_version.values()) if per_version else set()
    # when versions are unresolvable, 'manifested' is a lower bound (their
    # inherited files are unknowable) — fold in their own add-lists so at
    # least those are not misreported as pending appends; the docstring's
    # 'unmanifested'/'tombstoned' categories are best-effort in that state
    manifested |= partial_refs
    latest_refs = (
        per_version.get(versions[-1], set()) if versions else set()
    )
    before = _journal_before(fs, hpath_cls, path)
    journal_live, journal_torn = before is not None, before is _TORN
    # deletion-vector probes: the head's governing generation must exist
    # on disk (a vacuumed/lost generation means MOR-deleted rows would
    # resurrect — corruption, flips ok), and sidecars past the head are
    # crashed MOR deletes awaiting recover_incomplete_rewrite
    dv_missing = []
    dv_orphan_sidecars = []
    if versions:
        try:
            head_ref = _dv_ref_at(spark, path, versions[-1])
        except Exception:
            head_ref, dv_missing = None, ["<unreadable dv sidecar>"]
        for r in _dv_refs(head_ref):
            if not _entry_exists(spark, fs, hpath_cls, path, r):
                dv_missing.append(r)
        dv_orphan_sidecars = [
            m for m in _dv_sidecar_versions(spark, path)
            if m > versions[-1]
        ]
    return {
        "versions": versions,
        "n_files_on_disk": len(on_disk),
        "missing": missing,
        "unmanifested": sorted(on_disk - manifested),
        "tombstoned": sorted((manifested - latest_refs) & on_disk),
        "unresolvable": unresolvable,
        "journal_live": journal_live,
        "journal_torn": journal_torn,
        "dv_missing": dv_missing,
        "dv_orphan_sidecars": dv_orphan_sidecars,
        "ok": not missing.get(versions[-1] if versions else None)
        and not journal_torn
        and not dv_missing
        and (versions[-1] not in unresolvable if versions else True),
    }


def maintain(
    spark: SparkSession,
    path: str,
    max_files_per_partition: int = 8,
    keep_versions: int = 1,
    retention_days: int | None = None,
    dry_run: bool = False,
    dv_fold_min_ratio: float = 0.1,
    dv_fold_max_chain: int = 8,
    rollup_path: str | None = None,
) -> dict:
    """One-call housekeeping — the engine's OPTIMIZE/maintenance verb:
    heal any crashed rewrite, fold or coalesce an oversized deletion
    vector, compact fragmented day partitions, apply the optional
    retention window, and reclaim superseded files. Every step is a
    copy-on-write rewrite: per-day :func:`cow_compact_partition` for
    partitions whose head manifest lists more than
    ``max_files_per_partition`` files, :func:`apply_retention`, then
    :func:`vacuum`. A table never published gets its v0 first. Shallow
    clones are handled for free: the rewrites drop absolute references
    day-by-day as they localize data, and vacuum can never touch source
    bytes. ``dry_run`` reports the plan without writing anything, not
    even a v0. Returns a per-step report dict."""
    report: dict = {"compacted": [], "dry_run": dry_run}
    if rollup_path is not None:
        # the rollup advance runs LAST (after vacuum), but its lock is
        # checked FIRST: hitting a stale/foreign .rollup-inprogress.json
        # only after recover/compact/retention/vacuum already mutated the
        # table would discard the whole report behind the raise.
        # The check is a fast-fail courtesy, not the exclusivity
        # primitive (the advance re-claims atomically); a dry run
        # reports the held lock instead.
        from .table import ROLLUP_LOCK, ConcurrentRollupError

        fs_, hp_, _ = _hadoop_fs(spark, rollup_path)
        rollup_locked = fs_.exists(hp_(f"{rollup_path}/{ROLLUP_LOCK}"))
        if dry_run:
            report["rollup_locked"] = rollup_locked
        elif rollup_locked:
            raise ConcurrentRollupError(
                f"maintain({path}): rollup advance refused BEFORE any "
                f"maintenance ran — another advance holds "
                f"{rollup_path}/{ROLLUP_LOCK}; retry after it finishes, "
                "or release_rollup_lock if it crashed"
            )
    if dry_run:
        # a dry run REPORTS the crashed journal instead of healing it —
        # the same approve-before-delete gate vacuum's dry run keeps
        fs_, hp_, _ = _hadoop_fs(spark, path)
        report["journal_live"] = bool(
            fs_.exists(hp_(f"{path}/{REWRITE_MARKER}"))
        )
    else:
        report["journal_recovered"] = recover_incomplete_rewrite(spark, path)
        if not snapshot_versions(spark, path):
            publish_snapshot(spark, path)
        # deletion-vector policy FIRST (any fold rewrites affected days —
        # recomputing fragmentation after it avoids compacting the same
        # day twice). The fold is THRESHOLDED (VERDICT r17 #3): only
        # files whose deleted fraction crosses ``dv_fold_min_ratio``
        # trigger a day rewrite — an unconditional fold would turn every
        # nightly maintain after a 3-row GDPR delete into full-day COW
        # rewrites, defeating the MOR economics at 100 TB. Small vectors
        # stay live; a chain longer than ``dv_fold_max_chain``
        # generations coalesces into one (read cost bounded) without
        # folding. ``dv_fold_min_ratio=0`` restores the unconditional
        # fold.
        if has_live_dv(spark, path):
            dres = dv_compact(
                spark, path, min_deleted_ratio=dv_fold_min_ratio
            )
            report["dv_compacted"] = {
                "partitions_rewritten": dres["partitions_rewritten"],
                "positions_folded": dres["positions_folded"],
                "positions_kept": dres["positions_kept"],
            }
            head_now = snapshot_versions(spark, path)[-1]
            chain = _dv_refs(_dv_ref_at(spark, path, head_now))
            if len(chain) > dv_fold_max_chain:
                cres = dv_coalesce(spark, path)
                report["dv_coalesced"] = {
                    "generations_before": cres["generations_before"],
                    "generations_after": cres["generations_after"],
                    "positions_dropped": cres["positions_dropped"],
                }
    if dry_run:
        # preview the ACTUAL deletion-vector decision at the configured
        # threshold, not a bare has-vector boolean (review r18: the old
        # report said True for a 1-row vector the real run keeps live)
        if has_live_dv(spark, path):
            plan = dv_compact(
                spark, path,
                min_deleted_ratio=dv_fold_min_ratio,
                dry_run=True,
            )
            report["would_dv_compact"] = (
                bool(plan["partitions_rewritten"])
                or plan["positions_folded"] > 0
            )
            report["dv_fold_plan"] = {
                "partitions_rewritten": plan["partitions_rewritten"],
                "positions_folded": plan["positions_folded"],
                "positions_kept": plan["positions_kept"],
            }
            chain = _dv_refs(
                _dv_ref_at(spark, path, snapshot_versions(spark, path)[-1])
            )
            # derive from the plan's POST-fold chain: a real fold leaves
            # at most one generation (rewritten days re-anchor survivors
            # as one), and an all-dead fold (folded>0, kept==0) CLEARS
            # the vector entirely — in both cases the real run skips the
            # coalesce, so the dry run must not claim one (review r19)
            chain_survives = not plan["partitions_rewritten"] and not (
                plan["positions_folded"] > 0
                and plan["positions_kept"] == 0
            )
            report["would_dv_coalesce"] = (
                chain_survives and len(chain) > dv_fold_max_chain
            )
        else:
            report["would_dv_compact"] = False
            report["would_dv_coalesce"] = False
    per_day: dict[str, int] = {}
    for f in _plan_files(spark, path):
        d = _entry_day_dir(f)
        per_day[d] = per_day.get(d, 0) + 1
    # groups without the engine's 'date=...' shape are unpartitioned
    # entries (bare filenames or foreign k=v parent dirs from explicit
    # publishes, see _entry_day_dir) — they carry no day, so they are
    # never expired and never compactable as a partition
    _day_prefix = f"{PARTITION_COLUMN}="
    fragmented = sorted(
        d for d, n in per_day.items()
        if d.startswith(_day_prefix) and n > max_files_per_partition
    )
    if dry_run:
        report["would_compact"] = fragmented
        if retention_days is not None:
            report["retention"] = apply_retention(
                spark, path, retention_days, dry_run=True
            )
        report["vacuum"] = vacuum(spark, path, keep_versions, dry_run=True)
        if rollup_path is not None:
            # previewed LAST so it can see the other steps' plans: the
            # real advance runs after compact/retention/vacuum, each of
            # which may publish a version — a preview computed against
            # the PRE-maintenance head would say would_advance=False
            # exactly when maintenance work guarantees the opposite
            # (review r19)
            from .table import _rollup_state_versions

            fs_r, hp_r, _ = _hadoop_fs(spark, rollup_path)
            states_ = _rollup_state_versions(fs_r, hp_r, rollup_path)
            head_ = (snapshot_versions(spark, path) or [None])[-1]
            pending = bool(
                report.get("would_compact")
                or report.get("retention", {}).get("would_rewrite")
                or report.get("would_dv_compact")
                or report.get("would_dv_coalesce")
            )
            report["rollup"] = {
                "from_version": states_[-1] if states_ else None,
                "head_now": head_,
                "would_advance": (
                    not report["rollup_locked"]
                    and (not states_ or states_[-1] != head_ or pending)
                ),
            }
        return report
    for d in fragmented:
        res = cow_compact_partition(spark, path, d)
        if res.get("files_compacted"):
            report["compacted"].append(
                {"partition": d, "files_compacted": res["files_compacted"]}
            )
    if retention_days is not None:
        report["retention"] = apply_retention(spark, path, retention_days)
    report["vacuum"] = vacuum(spark, path, keep_versions)
    if rollup_path is not None:
        # advance the incremental rollup LAST, after every verb above
        # has published its versions — one maintain call leaves both the
        # table and its materialized view current. Runs after vacuum on
        # purpose: a vacuumed diff base makes incremental_rollup fail
        # open to a full recompute, which is exactly right here.
        from .table import incremental_rollup

        report["rollup"] = incremental_rollup(spark, path, rollup_path)
    return report

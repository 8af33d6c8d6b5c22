"""Manifest-based table snapshots: reproducible dataset versions.

A training-data pipeline must be able to say "the model was trained on
dataset v3" and re-read EXACTLY v3 forever, even while the table keeps
growing.  Lakehouse formats (Delta/Iceberg) do this with manifest files;
this is the same mechanism, self-contained on parquet + JSON manifests —
no external format dependency, every piece idiomatic Spark:

- ``snapshot_write(df, table_dir)`` writes the DataFrame's parquet files
  into a content-addressed data area and commits a JSON manifest
  ``v{N}.json`` listing exactly the files of that version (an atomic
  rename makes the version visible all-or-nothing).
- ``snapshot_read(spark, table_dir, version)`` reads ONLY the files in
  that manifest (``spark.read.parquet(*files)``), so later writes never
  leak into an old version — time travel by construction.
- Versions share unchanged files at the storage level when the caller
  passes ``reuse_files`` (append-style versions), the same trick that
  keeps lakehouse snapshots cheap: a new version is a new manifest, not
  a data copy.

At 100 TB the manifest lists thousands of files; reading a version is
one driver-side JSON read + a normal parallel parquet scan with full
pushdown (the file list is just the scan's input split set).

Local-FS paths only, like the jsonl sink (a production variant would
speak fsspec/Hadoop FS and write manifests with a conditional put).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
STAGED_DIR = "_staged"  # write-audit-publish branch markers


class ConcurrentSnapshotWrite(Exception):
    """Another writer committed this version first — re-read the table's
    current version and retry (optimistic concurrency, as in Delta)."""


class ConstraintViolation(Exception):
    """A CHECK constraint failed on the rows being committed — nothing
    was made visible (the staged files are orphans for vacuum)."""


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, MANIFEST_DIR, f"v{version}.json")


def _read_manifest(table_dir: str, version: int) -> dict:
    """The committed manifest of ``version``."""
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


def _schema_of(manifest: dict):
    """The schema a manifest records, as a ``StructType``."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(manifest["schema"]))


def _commit_manifest(manifest: dict, final: str) -> None:
    """Atomically publish a manifest, FAILING if the version exists.

    The staging file is WRITER-UNIQUE (uuid suffix) — a shared tmp path
    would let two racers truncate each other's half-written JSON and
    link the wrong bytes.  ``os.link`` is an atomic create-if-absent on
    POSIX — unlike ``os.replace``, which would silently overwrite a
    concurrent writer's committed manifest (lost update).  Losers get
    :class:`ConcurrentSnapshotWrite` and should recompute against the
    new current version and retry; the winner's version is untouched.
    """
    # transaction identifiers ride IN the manifest (Delta's txn action):
    # every commit inherits the head's {app: last_version} map and merges
    # its own markers, so an idempotence check survives interleaved
    # upserts/compactions/appends from other writers.  Centralized here
    # because every commit path funnels through this function.
    version = int(os.path.basename(final)[1:-5])
    if version > 1:
        prev_path = _manifest_path(
            os.path.dirname(os.path.dirname(final)), version - 1
        )
        try:
            with open(prev_path) as fh:
                prev_manifest = json.load(fh)
        except FileNotFoundError:  # vacuumed-away parent: markers lapse
            prev_manifest = {}
        merged = {**(prev_manifest.get("txns") or {}), **(manifest.get("txns") or {})}
        if merged:
            manifest["txns"] = merged
        # persistent CHECK constraints (Delta's table constraints) ride
        # in the manifest the same way: inherited from the head unless
        # the committing op explicitly sets the key
        # (snapshot_set_constraints / snapshot_drop_constraints).
        # Enforcement happens at the write sites; inheritance here keeps
        # the declaration alive across compactions, upserts and every
        # other commit path.
        if "constraints" not in manifest and prev_manifest.get("constraints"):
            manifest["constraints"] = prev_manifest["constraints"]
        # the clustering marker (incremental OPTIMIZE ZORDER) inherits
        # too: per-file clustered-ness survives appends/upserts, and the
        # reader intersects the marker with the live file list, so a
        # commit that rewrote clustered files simply sheds them from
        # the clustered set
        if "clustered" not in manifest and prev_manifest.get("clustered"):
            manifest["clustered"] = prev_manifest["clustered"]
        # hidden-partition transform definitions inherit too — without
        # this, any append would silently strip snapshot_read_hidden's
        # pruning map (reads stay correct, files just stop pruning)
        if "partition_transforms" not in manifest and prev_manifest.get(
            "partition_transforms"
        ):
            manifest["partition_transforms"] = prev_manifest[
                "partition_transforms"
            ]
        # ADD COLUMN initial defaults inherit the same way: a commit
        # that drops them would silently turn pre-add rows' defaults
        # into NULLs on every later read
        if "initial_defaults" not in manifest and prev_manifest.get(
            "initial_defaults"
        ):
            manifest["initial_defaults"] = prev_manifest["initial_defaults"]
        # a commit that keeps any head file keeps what the head records
        # about those files: their deletion vectors (DV rows are path-
        # keyed; entries for dropped files anti-join nothing) and the
        # retired physical names they may still carry.  Paths that
        # compute either key (write, publish, partitioned write, delete)
        # or must not take the head's (rollback) set it themselves.
        if set(manifest.get("files") or ()) & set(prev_manifest.get("files") or ()):
            for key in ("dv_dirs", "retired_physical"):
                if key not in manifest and prev_manifest.get(key):
                    manifest[key] = prev_manifest[key]
    tmp = f"{final}.{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.unlink(tmp)
        raise ConcurrentSnapshotWrite(
            f"version already committed: {final}"
        ) from None
    os.unlink(tmp)


def current_version(table_dir: str) -> int:
    """Highest committed version, or 0 if none."""
    mdir = os.path.join(table_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def _head(
    table_dir: str, version: "int | None" = None, empty_ok: bool = False
) -> "tuple[int, dict | None]":
    """``(version, manifest)`` of ``version``, or of the head when None.

    A table with no committed versions raises ``FileNotFoundError``, or
    gives ``(0, None)`` when ``empty_ok``."""
    v = current_version(table_dir) if version is None else version
    if v < 1:
        if empty_ok:
            return 0, None
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    return v, _read_manifest(table_dir, v)


def _commit(table_dir: str, head_version: int, manifest: dict) -> int:
    """Commit ``manifest`` as the version after ``head_version``, the head
    it was built on: stamp ``version`` and ``committed_at``, publish it
    through :func:`_commit_manifest` (which adds what the commit
    inherits from that head) and return the new version."""
    version = head_version + 1
    os.makedirs(os.path.join(table_dir, MANIFEST_DIR), exist_ok=True)
    manifest = {**manifest, "version": version, "committed_at": time.time()}
    _commit_manifest(manifest, _manifest_path(table_dir, version))
    return version


def _footer_stats(files: "list[str]", col: str, schema) -> "dict | None":
    """Per-file [min, max] of `col` from the parquet FOOTERS the write
    just produced — driver-side metadata arithmetic, no Spark job.

    INTEGER columns only: the parquet format's min/max statistics are
    exact for them, while binary (string) statistics may be TRUNCATED
    by the writer and float statistics are unreliable under NaN — for
    both, pruning against a wrong bound can skip an affected file, so
    they fall back to the aggregate scan.  Returns None whenever the
    footers can't prove exact bounds (missing stats, non-integer key,
    column absent at the footer's top level).
    """
    if next(
        (f.dataType.typeName() for f in schema.fields if f.name == col), None
    ) not in ("byte", "short", "integer", "long"):
        return None
    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        if col not in md.schema.names:
            return None
        idx = md.schema.names.index(col)
        mn = mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max or st.null_count is None:
                return None
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        # an empty file gets no stats entry -> it stays a MERGE
        # candidate, exactly as the aggregate-scan path records it
        if mn is not None:
            out[f] = [mn, mx]
    return out


def snapshot_write(
    df: DataFrame,
    table_dir: str,
    reuse_files: "list[str] | None" = None,
    stats_col: "str | None" = None,
    constraints: "list[str] | None" = None,
) -> int:
    """Commit `df` (+ optionally prior files) as the next version.

    Returns the committed version number.  The data files are written
    under a fresh uuid subdirectory (never overwritten by later writes);
    the manifest commit is an atomic rename, so a crash mid-write leaves
    the previous version intact and no partial version visible.

    ``constraints``: CHECK expressions (SQL strings) every NEW row must
    satisfy (Delta's table constraints).  They are validated against
    the WRITTEN files before the manifest commit — validate-then-
    commit, so a violating batch never becomes visible (its files are
    unreferenced orphans that vacuum sweeps) and a crash between write
    and validation leaves the table untouched.  Violations raise
    :class:`ConstraintViolation` with per-constraint counts.  A NULL
    result of a CHECK counts as a violation (stricter than SQL's
    three-valued CHECK — a constraint that can't evaluate on a row is
    a data bug at a 100 TB curation gate, not a pass).

    ``stats_col``: record per-file [min, max] of this column in the
    manifest (one aggregate scan of just the new files), the data-
    skipping index lakehouse manifests carry — ``snapshot_upsert`` uses
    it to prune which files a MERGE batch can possibly touch without
    scanning the table.  Stats for reused files are inherited from the
    previous manifest.
    """
    from pyspark.sql import functions as F

    prev_version, prev_manifest = _head(table_dir, empty_ok=True)
    # column mapping (snapshot_rename_column): a mapped table's FILES
    # carry physical names forever, so new files must be written with
    # physical names too — one global logical->physical map stays valid
    # for every file of every version, exactly Delta's column-mapping
    # invariant.  The manifest schema stays LOGICAL (the read authority).
    mapping = (prev_manifest or {}).get("column_mapping") or {}
    # prune entries whose logical column this commit's schema no longer
    # carries: the manifest schema becomes df.schema, so a stale entry
    # could only hijack a LATER column that reuses the retired physical
    # name (read-side inverse rename would mis-name it); with
    # reuse_files, reused files' extra physical columns are simply
    # never read under the narrower schema
    # every column narrowed out of the schema this commit — mapped or
    # not — leaves its PHYSICAL name behind in reused files
    prev_schema_cols: "list[str]" = []
    if prev_manifest is not None:
        prev_schema_cols = _schema_of(prev_manifest).fieldNames()
    pruned_phys = {
        mapping.get(c, c) for c in prev_schema_cols if c not in df.columns
    }
    mapping = {l: p for l, p in mapping.items() if l in df.columns}
    # retired physical names (ADVICE r6): reused files may still
    # physically carry a column whose logical owner was renamed away
    # and/or dropped/narrowed out (review: the unmapped case hijacks
    # identically — reads resolve parquet columns by NAME, so a never-
    # renamed dropped column's stale bytes also resurface).  Without a
    # tombstone, a LATER commit that introduces a new logical column
    # equal to that physical name would silently resolve the old files'
    # stale bytes as the new column.  Track the names for as long as
    # pre-retirement files can be referenced; a full overwrite (no
    # reuse_files) references none, so the set resets.  Delta avoids
    # the problem with UUID physical names — the tombstone set is the
    # refusal-based equivalent.
    retired: set = set((prev_manifest or {}).get("retired_physical") or [])
    retired = (retired | pruned_phys) if reuse_files else set()
    phys_df = df
    if mapping:
        phys = [mapping.get(c, c) for c in df.columns]
        if len(set(phys)) != len(phys):
            # e.g. cents was renamed to balance (physical stays cents)
            # and the writer now adds a NEW logical column named cents:
            # two columns would collide in the files.  Delta prevents
            # this with UUID physical names; we refuse the write.
            raise ValueError(
                "column-mapping physical-name collision: a new logical "
                "column reuses a mapped column's physical name "
                f"(physical layout would be {phys})"
            )
        phys_df = df.withColumnsRenamed(dict(mapping))
    if retired:
        hijack = sorted(
            c for c in df.columns if mapping.get(c, c) in retired
        )
        if hijack:
            raise ValueError(
                f"columns {hijack} match the physical (on-disk) name of a "
                "retired column still present in reused files — reads "
                "would resolve stale bytes as the new column.  Rename the "
                "new column, or full-rewrite first (reuse_files=None or "
                "snapshot_optimize_zorder)"
            )
    write_dir = os.path.join(table_dir, DATA_DIR, uuid.uuid4().hex[:12])
    phys_df.write.mode("error").parquet(write_dir)
    files = sorted(
        os.path.join(write_dir, f)
        for f in os.listdir(write_dir)
        if f.endswith(".parquet")
    )
    # persistent table constraints declared via snapshot_set_constraints
    # are enforced on every write alongside the per-call ones; a column
    # a constraint references that this commit's schema no longer
    # carries cannot be evaluated — refuse the narrowing instead of
    # silently un-enforcing (Delta refuses the DROP COLUMN instead)
    persistent = (prev_manifest or {}).get("constraints") or []
    constraints = list(dict.fromkeys([*persistent, *(constraints or [])]))
    for c in prev_schema_cols:
        if c not in df.columns and prev_manifest is not None:
            refs = _constraints_referencing(prev_manifest, c)
            if refs:
                raise ValueError(
                    f"schema narrows out column {c!r} still referenced by "
                    f"persistent constraints {refs}; drop them first "
                    "(snapshot_drop_constraints)"
                )
    if constraints and files:
        # one aggregate scan of the written files counts violations of
        # every constraint at once (NULL check result = violation);
        # constraints are written against LOGICAL names
        spark = df.sparkSession
        agg_cols = [
            F.sum(
                F.when(F.expr(c).eqNullSafe(F.lit(True)), 0).otherwise(1)
            ).alias(f"c{i}")
            for i, c in enumerate(constraints)
        ]
        chk = spark.read.parquet(*files)
        if mapping:
            chk = chk.withColumnsRenamed(
                {phys: logical for logical, phys in mapping.items()}
            )
        counts = chk.agg(*agg_cols).collect()[0]
        violated = {
            constraints[i]: int(counts[i])
            for i in range(len(constraints))
            if counts[i]
        }
        if violated:
            raise ConstraintViolation(
                f"commit rejected, violating rows per constraint: {violated}"
            )
    stats: dict[str, list] = {}
    if prev_manifest is not None:
        # inherit stats of reused files — ONLY if the stats describe the
        # same column; stats on a different column must not masquerade
        # as stats on this one (pruning against the wrong column would
        # drop affected files)
        if prev_manifest.get("stats_col") == stats_col and stats_col is not None:
            prev_stats = prev_manifest.get("stats", {})
            for f in reuse_files or []:
                if f in prev_stats:
                    stats[f] = prev_stats[f]
    # partition metadata of reused files always carries forward
    partitions, bases = _inherited_layout(prev_manifest, list(reuse_files or []))
    phys_stats_col = mapping.get(stats_col, stats_col)
    if stats_col is not None and files:
        footer_stats = _footer_stats(files, phys_stats_col, phys_df.schema)
        if footer_stats is not None:
            stats.update(footer_stats)
        else:
            spark = df.sparkSession
            new_stats = (
                spark.read.parquet(*files)
                .groupBy(F.col("_metadata.file_path").alias("__fp"))
                .agg(
                    F.min(phys_stats_col).alias("mn"),
                    F.max(phys_stats_col).alias("mx"),
                )
                .collect()
            )
            for r in new_stats:
                # only JSON-primitive stats are recorded (a timestamp key
                # would not round-trip through the manifest)
                if all(isinstance(v, (int, float, str)) for v in (r[1], r[2])):
                    stats[r[0].removeprefix("file:")] = [r[1], r[2]]
    manifest = {
        "files": list(reuse_files or []) + files,
        "schema": df.schema.json(),
        "stats": stats,
        "stats_col": stats_col,
        "partitions": partitions,
        "bases": bases,
    }
    if mapping:
        # the mapping outlives every rewrite: new files were written
        # with physical names above, so it stays valid table-wide
        manifest["column_mapping"] = mapping
    if retired:
        manifest["retired_physical"] = sorted(retired)
    return _commit(table_dir, prev_version, manifest)


def snapshot_files(table_dir: str, version: int) -> list[str]:
    return _read_manifest(table_dir, version)["files"]


def snapshot_stats(table_dir: str, version: int) -> "dict[str, list]":
    """Per-file [min, max] of the stats column, as recorded at write."""
    return _read_manifest(table_dir, version).get("stats", {})


def snapshot_stats_col(table_dir: str, version: int) -> "str | None":
    """Which column the manifest's per-file stats describe (or None)."""
    return _read_manifest(table_dir, version).get("stats_col")


def snapshot_col_stats(table_dir: str, version: int) -> "dict[str, dict]":
    """Multi-column per-file [min, max] stats ({col: {file: [mn, mx]}}),
    written by :func:`snapshot_optimize_zorder`; {} when absent."""
    return _read_manifest(table_dir, version).get("col_stats", {})


def _read_manifest_subset(
    spark: SparkSession,
    manifest: dict,
    files: "list[str]",
    schema=None,
    with_meta: bool = False,
):
    """Read a subset of a manifest's files, reconstructing hive partition
    columns for files written by :func:`snapshot_write_partitioned`.

    Partitioned files store their partition values in the PATH, not the
    payload — a plain ``spark.read.parquet(*files)`` (with or without an
    explicit schema) silently NULL-fills those columns.  Files sharing a
    recorded write-dir base are therefore read together with that dir as
    ``basePath`` (Spark rebuilds the partition columns from the paths and
    casts them to the given schema's types); files with no recorded base
    carry all columns in the payload and are read directly.  Groups union
    by name, so one version can mix files written under different specs.

    Deletion vectors: when the manifest carries ``dv_dirs``
    (:func:`snapshot_delete`), rows listed in the DV sidecars are
    anti-joined out HERE, so every manifest-reading API — reads, MERGE
    survivor scans, changefeeds, compaction, index builds — sees the
    post-delete table (merge-on-read).  The join keys are the scan's
    own ``_metadata`` (file_path, row_index), attached as real columns
    before the union because ``_metadata`` cannot be referenced through
    a join.

    ``with_meta=True`` keeps those columns (named ``__fp``/``__ri``) in
    the result for callers that need file lineage — selecting
    ``_metadata`` on the RETURNED frame breaks as soon as a DV join is
    present, so lineage-needing callers must use this flag instead.

    Column mapping (``manifest["column_mapping"]``, logical ->
    physical): renamed/dropped columns are METADATA-ONLY commits —
    the files keep their original (physical) names forever, exactly
    as Delta's column-mapping mode.  The scan therefore uses the
    schema with PHYSICAL names (so old files resolve and pruning/
    pushdown still hit the real parquet columns) and every part is
    renamed back to logical names before anything else sees it.

    Every manifest-reading API goes through here — reading partitioned
    files through a path that skipped the bases would corrupt partition
    columns to NULL (the exact interop bug this helper closes).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    mapping = manifest.get("column_mapping") or {}
    phys_schema = schema
    if schema is not None and mapping:
        from pyspark.sql.types import StructField, StructType

        phys_schema = StructType(
            [
                StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
    dv_dirs = manifest.get("dv_dirs") or []
    attach = with_meta or bool(dv_dirs)
    bases = manifest.get("bases", {})
    # ADD COLUMN initial defaults (snapshot_add_column): files that
    # predate the column are read WITHOUT it and get the recorded
    # literal — reading them through the full schema instead would
    # NULL-fill (losing the default) or, worse, resolve stale bytes of
    # a previously-dropped same-name physical column.  Rows written
    # after the add carry the column physically (including real NULLs),
    # so the fill never touches them.
    defaults = manifest.get("initial_defaults") or {}
    d_sets = {c: set(e["files"]) for c, e in defaults.items()}
    decl_fields = (
        {
            f.name: f.dataType
            for f in _schema_of(manifest).fields
        }
        if defaults
        else {}
    )
    by_grp: "dict[tuple, list[str]]" = {}
    for f in files:
        fills = tuple(sorted(c for c, s in d_sets.items() if f in s))
        by_grp.setdefault((bases.get(f), fills), []).append(f)
    parts = []
    for base, fills in sorted(
        by_grp, key=lambda k: (k[0] is not None, k[0] or "", k[1])
    ):
        rd = spark.read
        if base is not None:
            rd = rd.option("basePath", base)
        eff_schema = phys_schema
        if phys_schema is not None and fills:
            fill_phys = {mapping.get(c, c) for c in fills}
            eff_schema = StructType(
                [fl for fl in phys_schema.fields if fl.name not in fill_phys]
            )
        if eff_schema is not None:
            rd = rd.schema(eff_schema)
        p = rd.parquet(*sorted(by_grp[(base, fills)]))
        if mapping:
            p = p.withColumnsRenamed(
                {phys: logical for logical, phys in mapping.items()}
            )
        for c in fills:
            p = p.withColumn(
                c, F.lit(defaults[c]["value"]).cast(decl_fields[c])
            )
        if attach:
            p = p.withColumns(
                {
                    "__fp": F.col("_metadata.file_path"),
                    "__ri": F.col("_metadata.row_index"),
                }
            )
        if schema is not None:
            # project to the DECLARED schema: Spark appends path-derived
            # partition columns even under an explicit schema (verified
            # live), so hidden-partition transform columns
            # (snapshot_write_partitioned's year()/bucket() specs) would
            # otherwise leak into every read and MERGE survivor scan
            keep = [f.name for f in schema.fields]
            if attach:
                keep += ["__fp", "__ri"]
            p = p.select(*keep)
        parts.append(p)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if dv_dirs:
        # no broadcast hint: small DVs auto-broadcast under the session
        # threshold, a mass-delete DV shuffles — both correct
        dv = spark.read.parquet(*dv_dirs).select("__fp", "__ri").distinct()
        df = df.join(dv, ["__fp", "__ri"], "left_anti")
    if attach and not with_meta:
        df = df.drop("__fp", "__ri")
    return df


def _physicalize(df: DataFrame, manifest: "dict | None") -> DataFrame:
    """Rename logical -> physical column names before writing DATA FILES
    into a mapped table (column mapping, see snapshot_write): every
    file of a mapped table must carry physical names or later reads —
    which scan with the physical-name schema — NULL-fill the renamed
    columns.  Identity when the table is unmapped."""
    mapping = (manifest or {}).get("column_mapping") or {}
    return df.withColumnsRenamed(dict(mapping)) if mapping else df


def _logicalize(df: DataFrame, manifest: "dict | None") -> DataFrame:
    """Rename physical -> logical names on a frame read OUTSIDE
    _read_manifest_subset (e.g. staged files read by footer)."""
    mapping = (manifest or {}).get("column_mapping") or {}
    if not mapping:
        return df
    return df.withColumnsRenamed({p: l for l, p in mapping.items()})


def _from_read_under_to_mapping(
    from_manifest: dict, to_manifest: dict
) -> dict:
    """A read-manifest for the FROM version under the TO version's
    logical vocabulary: physical names are the stable column identity
    across renames, so cross-version readers (changefeed, version
    diff) swap in the TO mapping while keeping the FROM side's files,
    deletion vectors and partition bases."""
    out = dict(from_manifest)
    if to_manifest.get("column_mapping"):
        out["column_mapping"] = to_manifest["column_mapping"]
    else:
        out.pop("column_mapping", None)
    return out


def _inherited_layout(
    manifest: "dict | None", reuse_files: "list[str]"
) -> "tuple[dict, dict]":
    """(partitions, bases) entries carried forward for reused files.

    A version that inherits files from a partitioned predecessor MUST
    keep their partition metadata — otherwise any later read of the new
    version loses the basePath grouping and the partition columns come
    back NULL.  Files the predecessor wrote plain simply have no entries.
    """
    if not manifest or not reuse_files:
        return {}, {}
    prev_parts = manifest.get("partitions", {})
    prev_bases = manifest.get("bases", {})
    partitions = {f: prev_parts[f] for f in reuse_files if f in prev_parts}
    bases = {f: prev_bases[f] for f in reuse_files if f in prev_bases}
    return partitions, bases


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    version: "int | str | None" = None,
    key_range: "tuple | None" = None,
    key_col: "str | None" = None,
) -> DataFrame:
    """Read exactly one committed version (default: latest).

    ``version`` also accepts a TAG NAME (:func:`snapshot_tag`) — the
    named-ref form of time travel.

    The manifest's file list becomes the scan's input set — a normal
    parallel parquet read with pushdown/pruning; files written by later
    versions are invisible because they are simply not in the list.

    ``key_range=(lo, hi)`` with ``key_col`` (both required together)
    additionally SKIPS files whose manifest [min, max] stats can't
    intersect the range — file-level data skipping decided from the
    manifest alone, before a single footer is opened (the caller still
    applies the row-level filter; this only shrinks the input split
    set).  Pruning applies ONLY when the manifest's recorded
    ``stats_col`` matches ``key_col`` — stats on a different column
    must never drop files — and files without stats are always read.

    The scan uses the MANIFEST's recorded schema, not footer inference:
    a version whose write added a column reads older reused files with
    NULLs in the new column (standard parquet missing-column fill),
    without the all-footers cost of mergeSchema — the manifest is the
    schema authority, exactly as in lakehouse formats.
    """
    _, manifest = _head(table_dir, snapshot_resolve(table_dir, version))
    schema = _schema_of(manifest)
    files = manifest["files"]
    if key_range is not None:
        if key_col is None:
            raise ValueError("key_range requires key_col")
        lo, hi = key_range
        # pruning stats for the key column: the multi-column col_stats
        # map (written by snapshot_optimize_zorder) takes precedence,
        # else the single stats_col pair when it describes this column
        stats = manifest.get("col_stats", {}).get(key_col) or (
            manifest.get("stats", {})
            if manifest.get("stats_col") == key_col
            else {}
        )

        def may_intersect(st: list) -> bool:
            if st[0] is None or st[1] is None:
                return True
            try:
                return st[0] <= hi and st[1] >= lo
            except TypeError:  # stats/bounds type mismatch: never prune
                return True

        files = [f for f in files if f not in stats or may_intersect(stats[f])]
        if not files:
            return spark.createDataFrame([], schema)
    return _read_manifest_subset(spark, manifest, files, schema)


def _prune_candidates(
    files: "list[str]",
    stats: "dict[str, list]",
    sorted_keys: "list",
) -> "list[str]":
    """Files whose [min, max] key interval contains at least one batch key.

    A file with no recorded stats is always a candidate (must scan).
    Binary search per interval: O(files * log(batch)) driver arithmetic,
    no data read — the MERGE analogue of partition pruning.
    """
    import bisect

    out = []
    for f in files:
        st = stats.get(f)
        if not st or st[0] is None or st[1] is None:
            out.append(f)
            continue
        i = bisect.bisect_left(sorted_keys, st[0])
        if i < len(sorted_keys) and sorted_keys[i] <= st[1]:
            out.append(f)
    return out


def _bloom_prune_candidates(
    bloom: dict, files: "list[str]", keys: "list"
) -> "list[str]":
    """Files whose bloom filter admits at least one batch key.

    A file proves a key absent when some probe bit is unset; it stays a
    MERGE candidate only if SOME key passes all probes (or it has no
    recorded filter — must scan).  Pure driver arithmetic on the
    manifest: each file's bitmap is decoded once, each key's probe
    positions are computed once.
    """
    import base64

    probes = [
        bloom_probe_positions(k, bloom["bits"], bloom["k"]) for k in keys
    ]
    out = []
    for f in files:
        b64 = bloom["filters"].get(f)
        if b64 is None:
            out.append(f)
            continue
        bm = base64.b64decode(b64)
        if any(_bloom_admits(bm, ps) for ps in probes):
            out.append(f)
    return out


def snapshot_upsert(
    spark: SparkSession,
    batch: DataFrame,
    table_dir: str,
    key_col: str,
    batch_keys: "list | None" = None,
    delete_keys: "list | None" = None,
) -> int:
    """MERGE (upsert) `batch` into the latest version, copy-on-write.

    Lakehouse MERGE semantics at the manifest layer: rows whose key
    appears in `batch` are replaced, new keys are inserted, and — the
    part that matters at 100 TB — only the FILES that actually contain
    an affected key are rewritten:

    1. prune with the manifest's per-file [min, max] key stats: a file
       whose key interval contains NO batch key (binary search of the
       sorted batch keys per interval, pure driver-side arithmetic)
       cannot be affected and is never even scanned — at 100 TB this is
       what turns a point update from a table scan into a footer-sized
       read, exactly how Delta/Iceberg MERGE prunes on file stats; when
       the version also carries a bloom index on the key column
       (:func:`snapshot_build_bloom`), files whose filters prove every
       batch key absent are pruned too — the case [min, max] can't
       touch, keys scattered across every file's range;
    2. scan only the candidate files with ``_metadata.file_path`` and
       semi-join against the batch keys -> the affected-file list
       (the stats say "may contain", the scan says "does");
    3. anti-join ONLY those files' rows against the batch keys -> the
       surviving rows that must be carried over;
    4. commit survivors + batch as new files (with fresh stats),
       manifest = (old files minus affected) + new files.

    Untouched files are reused by reference, so a point update to one
    key rewrites one file, not the table.  First write (version 0)
    degenerates to a plain snapshot_write.  Returns the new version.

    ``delete_keys``: the DELETE clause of the same MERGE (Delta's
    ``WHEN MATCHED AND op = 'D' THEN DELETE``): rows with these keys
    are dropped from every rewritten file and not reinserted — one
    scan, one write, ONE commit for a full CDC batch instead of a
    delete version plus an upsert version.  Keys absent from the table
    are no-ops; a key in both ``delete_keys`` and the batch resolves to
    the batch row (removal happens in the rewrite, the insert after).
    Deletes here are copy-on-write; for bulk delete-ONLY workloads use
    :func:`snapshot_delete` (merge-on-read deletion vectors) so files
    touched by nothing else aren't rewritten.

    ``batch_keys``: the caller's already-collected DISTINCT non-null
    key list of the batch (``upsert_sink`` gathers it in the same agg
    job as its op summary) — skips the key collect here; the join
    sides below still come from the batch itself.
    """
    from pyspark.sql import functions as F

    cur_v, cur_manifest = _head(table_dir, empty_ok=True)
    if cur_manifest is None:
        return snapshot_write(
            batch.dropDuplicates([key_col]), table_dir, stats_col=key_col
        )

    cur_files = cur_manifest["files"]
    cur_schema = _schema_of(cur_manifest)
    del_list = sorted(set(delete_keys or ()))
    if any(k is None for k in del_list):
        raise ValueError("MERGE delete key must be non-null")
    key_schema = batch.select(key_col).schema
    # the affected/survivor key frame: delete keys participate exactly
    # like replaced keys (a file holding one is rewritten without it).
    # With caller-collected batch_keys it is a LOCAL literal relation —
    # the two broadcast joins below then cost no batch scan at all; and
    # a broadcast-hash build side needs no distinct (duplicates land in
    # the same hash bucket), so no pre-join shuffle either way.
    if batch_keys is not None:
        if any(k is None for k in batch_keys):
            raise ValueError("MERGE key must be non-null in the batch")
        all_keys = sorted(set(batch_keys) | set(del_list))
        keys = spark.createDataFrame([(k,) for k in all_keys], key_schema)
    else:
        keys = batch.select(key_col)
        if del_list:
            keys = keys.unionAll(
                spark.createDataFrame([(k,) for k in del_list], key_schema)
            )

    # --- stats + bloom pruning (driver-side, no data read) ---
    # [min, max] stats apply when the manifest's stats describe THIS key
    # column; a bloom index built on it (snapshot_build_bloom) prunes
    # the files min/max can't — scattered keys match every file's range
    # but set only a few files' bloom bits.  One bounded collect serves
    # both prunings and the size check.
    stats = snapshot_stats(table_dir, cur_v)
    stats_usable = bool(stats) and snapshot_stats_col(table_dir, cur_v) == key_col
    bloom = cur_manifest.get("bloom")
    bloom_usable = bool(bloom) and bloom.get("col") == key_col
    candidates = cur_files
    if stats_usable or bloom_usable:
        if batch_keys is not None:
            rows = [(k,) for k in all_keys[:1_000_001]]
        else:
            rows = keys.distinct().limit(1_000_001).collect()
        if len(rows) <= 1_000_000:  # CDC batches are small; else full scan
            raw_keys = [r[0] for r in rows]
            if any(k is None for k in raw_keys):
                raise ValueError("MERGE key must be non-null in the batch")
            key_list = sorted(raw_keys)
            if stats_usable:
                candidates = _prune_candidates(cur_files, stats, key_list)
            # bloom probing is O(files x keys x k) driver arithmetic:
            # worth it for CDC-sized batches, skipped for bulk loads
            if bloom_usable and len(key_list) <= 10_000:
                candidates = _bloom_prune_candidates(
                    bloom, candidates, key_list
                )
    if not candidates:
        return snapshot_write(
            batch.dropDuplicates([key_col]),
            table_dir,
            reuse_files=cur_files,
            stats_col=key_col,
        )

    # reads use the MANIFEST schema (the read authority, as in
    # snapshot_read): reused files from an older, narrower version fill
    # missing columns with NULLs instead of poisoning footer inference;
    # basePath grouping keeps partitioned predecessors' path columns real
    with_path = _read_manifest_subset(
        spark, cur_manifest, candidates, cur_schema, with_meta=True
    ).select(F.col(key_col), "__fp")
    affected = [
        r[0]
        for r in with_path.join(F.broadcast(keys), key_col, "left_semi")
        .select("__fp")
        .distinct()
        .collect()
    ]
    # file_path comes back URI-style (file:///...); manifests store raw paths
    affected_raw = {p.removeprefix("file:") for p in affected}
    untouched = [f for f in cur_files if f not in affected_raw]
    if affected_raw:
        survivors = _read_manifest_subset(
            spark, cur_manifest, sorted(affected_raw), cur_schema
        ).join(F.broadcast(keys), key_col, "left_anti")
        new_rows = survivors.unionByName(
            batch.dropDuplicates([key_col]), allowMissingColumns=True
        )
    else:
        new_rows = batch.dropDuplicates([key_col])
    return snapshot_write(
        new_rows, table_dir, reuse_files=untouched, stats_col=key_col
    )


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    key_col: str,
    value_cols: list[str],
    include_old: bool = False,
) -> DataFrame:
    """Changefeed between two committed versions (Delta's table_changes).

    Returns one row per changed key with ``change_type`` in
    {'insert', 'update', 'delete'}, the new values for insert/update and
    the old values for delete.  Unchanged keys are never emitted.
    ``include_old=True`` adds ``old_<col>`` columns (NULL for inserts) —
    what incremental view maintenance needs to retract an update's
    previous contribution without re-reading the old version.

    Manifest-level pruning makes this proportional to the CHANGED data,
    not the table: a file listed in both manifests holds byte-identical
    rows in both versions (files are immutable; versions share them by
    reference), so only each side's exclusive files are read and
    full-outer-joined.  A point update that rewrote one file diffs one
    old file against one new file — at 100 TB the diff of two adjacent
    versions touches megabytes, not the table.
    """
    from pyspark.sql import functions as F

    from_manifest = _read_manifest(table_dir, from_version)
    to_manifest = _read_manifest(table_dir, to_version)
    old_files = set(from_manifest["files"])
    new_files = set(to_manifest["files"])
    old_only = sorted(old_files - new_files)
    new_only = sorted(new_files - old_files)
    # merge-on-read deletes change a version WITHOUT changing its file
    # list: a shared file named by a deletion-vector sidecar that only
    # one side carries must be diffed too — each side reads it filtered
    # by ITS OWN vectors, so deleted rows surface old-side-only
    # ('delete') and re-appearing rows new-side-only ('insert'); rows
    # untouched by the vectors come back equal and drop out.  Pruning
    # stays proportional to change: only files the DELTA vectors name.
    dv_delta = sorted(
        set(from_manifest.get("dv_dirs") or [])
        ^ set(to_manifest.get("dv_dirs") or [])
    )
    if dv_delta:
        shared = old_files & new_files
        dv_files = sorted(_dv_touched_files(spark, dv_delta) & shared)
        old_only = sorted(set(old_only) | set(dv_files))
        new_only = sorted(set(new_only) | set(dv_files))
    cols = [key_col, *value_cols]
    # both sides read under the TO version's manifest schema: files of an
    # older, narrower version fill evolved columns with NULLs (the same
    # read authority as snapshot_read) instead of failing footer
    # inference when a requested column predates from_version.  Each
    # side's basePath grouping comes from ITS OWN manifest, so partition
    # columns of partitioned files diff as real values, not NULLs.
    to_schema = _schema_of(to_manifest)
    empty = spark.createDataFrame(
        [], spark.createDataFrame([], to_schema).select(*cols).schema
    )
    # rename-proof across versions: PHYSICAL names are the stable
    # column identity (snapshot_rename_column never rewrites files), so
    # the from-side read — which uses the TO version's LOGICAL schema —
    # must resolve those logical names through the TO version's
    # mapping; the from side keeps its own dv_dirs/bases.  A column
    # whose physical name is absent from the old files (added later, or
    # re-identified by a full-rewrite unmap) NULL-fills, the same
    # evolved-column semantics as snapshot_read.
    from_read = _from_read_under_to_mapping(from_manifest, to_manifest)
    old_df = (
        _read_manifest_subset(spark, from_read, old_only, to_schema)
        .select(*cols)
        if old_only
        else empty
    )
    new_df = (
        _read_manifest_subset(spark, to_manifest, new_only, to_schema)
        .select(*cols)
        if new_only
        else empty
    )
    o = old_df.select(
        F.col(key_col).alias("__k"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__old"),
    )
    n = new_df.select(
        F.col(key_col).alias("__k"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__new"),
    )
    joined = o.join(n, "__k", "full_outer")
    # NOTE: a key can sit in an old-only file while its row is unchanged
    # (its file was rewritten because a NEIGHBOR in the file changed) —
    # such keys appear on both sides with equal values and are dropped.
    changes = joined.select(
        F.col("__k").alias(key_col),
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        F.coalesce("__new", "__old").alias("__vals"),
        F.col("__old").alias("__oldvals"),
    ).filter(
        (F.col("change_type") != "update")
        | (F.col("__vals") != F.col("__oldvals"))
    )
    out_cols = [
        F.col(key_col),
        F.col("change_type"),
        *[F.col(f"__vals.{c}").alias(c) for c in value_cols],
    ]
    if include_old:
        out_cols += [
            F.col(f"__oldvals.{c}").alias(f"old_{c}") for c in value_cols
        ]
    return changes.select(*out_cols)


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    stats_col: "str | None" = None,
) -> int:
    """Compact the latest version's small files into ~target-size files,
    committed as a new version with IDENTICAL rows.

    The lakehouse OPTIMIZE step: small files are grouped by
    :func:`_compaction_groups` (files already >= target stay untouched
    and are reused by reference); each group is rewritten by one
    coalesced write.  Readers of old versions are unaffected — their
    manifests still name the original files (vacuum reclaims them only
    once no live manifest references them).  Returns the new version.
    """
    v, cur_manifest = _head(table_dir)
    sizes = [(f, os.path.getsize(f)) for f in cur_manifest["files"]]
    small = [(f, s) for f, s in sizes if s < target_bytes]
    keep = [f for f, s in sizes if s >= target_bytes]
    if len(small) <= 1:
        return v  # nothing to compact
    groups = _compaction_groups(small, target_bytes)
    write_dir = os.path.join(table_dir, DATA_DIR, uuid.uuid4().hex[:12])
    # group reads use the manifest schema: a group mixing files from
    # before and after a column was added rewrites under the FULL schema
    # (older rows fill NULLs) — footer inference could silently commit
    # the narrower schema and lose the evolved column's data.  Partitioned
    # files read through the manifest's basePath grouping, so their path
    # columns land in the compacted files' PAYLOAD with real values.
    cur_schema = _schema_of(cur_manifest)
    for gi, gfiles in sorted(groups.items()):
        _physicalize(
            _read_manifest_subset(spark, cur_manifest, sorted(gfiles), cur_schema),
            cur_manifest,
        ).coalesce(1).write.mode("append").parquet(write_dir)
    new_files = sorted(
        os.path.join(write_dir, f)
        for f in os.listdir(write_dir)
        if f.endswith(".parquet")
    )
    # commit: manifest = kept big files + compacted files, schema unchanged
    prev = cur_manifest
    # kept files inherit stats only if they describe the SAME column
    stats = (
        {f: st for f, st in prev.get("stats", {}).items() if f in keep}
        if prev.get("stats_col") == stats_col and stats_col is not None
        else {}
    )
    # kept files keep their partition metadata (compacted files carry the
    # former path columns in their payload and need none)
    partitions, bases = _inherited_layout(prev, keep)
    if stats_col is not None and new_files:
        from pyspark.sql import functions as F

        phys_col = (prev.get("column_mapping") or {}).get(stats_col, stats_col)
        for r in (
            spark.read.parquet(*new_files)
            .groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(F.min(phys_col).alias("mn"), F.max(phys_col).alias("mx"))
            .collect()
        ):
            if all(isinstance(x, (int, float, str)) for x in (r[1], r[2])):
                stats[r[0].removeprefix("file:")] = [r[1], r[2]]
    manifest = {
        "files": keep + new_files,
        "schema": prev["schema"],
        "stats": stats,
        "stats_col": stats_col,
        "partitions": partitions,
        "bases": bases,
    }
    if prev.get("column_mapping"):
        # compaction is a PARTIAL rewrite: kept files still carry
        # physical names, and the rewritten groups were re-written
        # physicalized above — the mapping must survive the commit
        manifest["column_mapping"] = prev["column_mapping"]
    # kept files inherit their deletion vectors and retired names; the
    # rewritten groups were read DV-filtered, so their new files are
    # clean and no DV path can match them
    return _commit(table_dir, v, manifest)


def _compaction_groups(
    files: "list[tuple[str, int]]", target_bytes: int
) -> "dict[int, list[str]]":
    """Greedy bin-pack of ``(path, size)`` pairs into ~target groups.

    Files are taken by size descending, then path; a file's group is
    ``floor(exclusive running size sum / target)``.  A group's total is
    below target + one file, a file larger than target sits alone, and
    no file is ever split.  Driver arithmetic over the file list."""
    groups: "dict[int, list[str]]" = {}
    before = 0
    for path, size in sorted(files, key=lambda fs: (-fs[1], fs[0])):
        groups.setdefault(before // target_bytes, []).append(path)
        before += size
    return groups


def snapshot_vacuum(
    table_dir: str,
    keep_versions: int = 2,
    orphan_grace_seconds: float = 3600,
    dry_run: bool = False,
) -> "dict[str, int]":
    """Garbage-collect versions and data files past the retention window.

    Drops manifests older than the newest ``keep_versions`` and deletes
    every data file not referenced by any REMAINING manifest — the
    Delta VACUUM contract: time travel works within retention, storage
    is reclaimed beyond it.  File sharing is respected (a file is
    deleted only when its last referencing manifest goes).  Also sweeps
    NEVER-committed orphans (a write that crashed between the parquet
    write and the manifest rename leaves an unreferenced uuid dir) once
    they are older than ``orphan_grace_seconds`` — the grace window
    protects a commit that is in flight right now.  Driver-side file
    ops only; returns {'versions_dropped': n, 'files_deleted': m}.

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) computes the same
    counts and touches NOTHING — the pre-flight an operator runs before
    an irreversible retention sweep.
    """
    if keep_versions < 1:
        raise ValueError(
            "keep_versions must be >= 1 (0 would delete the live table)"
        )
    cur = current_version(table_dir)
    if cur < 1:
        return {"versions_dropped": 0, "files_deleted": 0}
    keep = set(range(max(1, cur - keep_versions + 1), cur + 1))
    # tagged versions are pinned refs (Iceberg tags): retention never
    # collects a version a tag still names — "the model trained on tag
    # X" must stay re-readable until the tag itself is dropped
    keep |= set(snapshot_tags(table_dir).values())
    mdir = os.path.join(table_dir, MANIFEST_DIR)
    all_versions = sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )
    live_files: set[str] = set()
    for v in keep:
        live_files.update(snapshot_files(table_dir, v))
    # staged-but-unpublished WAP branches are live: an audit in progress
    # must not have its candidate files collected out from under it
    sdir = os.path.join(table_dir, STAGED_DIR)
    if os.path.isdir(sdir):
        for f in os.listdir(sdir):
            if f.endswith(".json"):
                with open(os.path.join(sdir, f)) as fh:
                    live_files.update(json.load(fh).get("files", []))
    dropped = 0
    deleted = 0
    counted: set[str] = set()  # dry-run double-count guard
    own = os.path.realpath(table_dir) + os.sep
    for v in all_versions:
        if v in keep:
            continue
        for f in snapshot_files(table_dir, v):
            # never reclaim a file OUTSIDE this table's directory: a
            # shallow clone (snapshot_clone) references the source's
            # files by path, and the borrower must not collect them —
            # only the owning table's vacuum may (Delta's rule)
            if (
                f not in live_files
                and f not in counted
                and os.path.realpath(f).startswith(own)
                and os.path.exists(f)
            ):
                if not dry_run:
                    os.remove(f)
                counted.add(f)
                deleted += 1
        if not dry_run:
            os.remove(_manifest_path(table_dir, v))
        dropped += 1
    # orphan sweep: uuid write dirs referenced by NO remaining manifest
    # (a commit that crashed before its manifest rename), past the grace
    # window.  Whole-dir granularity: a write dir is either fully
    # referenced by some manifest or was never committed at all.
    ddir = os.path.join(table_dir, DATA_DIR)
    now = time.time()
    if os.path.isdir(ddir):
        import shutil

        for sub in os.listdir(ddir):
            subdir = os.path.join(ddir, sub)
            if not os.path.isdir(subdir):
                continue
            # walk RECURSIVELY: partitioned write dirs nest hive
            # directories, so the committed files (and hence the
            # live_files hits) sit below the first level — a flat listdir
            # would both miss live references and crash removing dirs
            entries = []
            for root, _dirs, names in os.walk(subdir):
                entries.extend(os.path.join(root, n) for n in names)
            if any(p in live_files for p in entries):
                # PARTIALLY-referenced dir: a history rewrite
                # (snapshot_purge_key) strips individual files out of
                # every manifest while their siblings stay live, so the
                # all-or-nothing dir invariant no longer holds for
                # purged tables — reclaim the stripped files one by
                # one, same grace window (this is what completes the
                # right-to-be-forgotten: purge rewrites the references,
                # vacuum erases the bytes)
                for p in entries:
                    if (
                        p.endswith(".parquet")
                        and p not in live_files
                        and p not in counted
                        and now - os.path.getmtime(p) > orphan_grace_seconds
                    ):
                        if not dry_run:
                            os.remove(p)
                        counted.add(p)
                        deleted += 1
                continue
            mtimes = [os.path.getmtime(p) for p in entries] or [
                os.path.getmtime(subdir)  # crashed before any file landed
            ]
            if all(now - m > orphan_grace_seconds for m in mtimes):
                deleted += sum(
                    1
                    for p in entries
                    if p.endswith(".parquet") and p not in counted
                )
                if not dry_run:
                    shutil.rmtree(subdir)
    # deletion-vector sidecars referenced by NO remaining manifest are
    # reclaimed the same way (a DV dir outlives its manifests only while
    # some kept version still lists it in dv_dirs); same grace window
    # protects an in-flight snapshot_delete
    dvroot = os.path.join(table_dir, "_dv")
    if os.path.isdir(dvroot):
        import shutil

        live_dv: set[str] = set()
        for v in keep:
            live_dv.update(_read_manifest(table_dir, v).get("dv_dirs") or [])
        for sub in os.listdir(dvroot):
            subdir = os.path.join(dvroot, sub)
            if subdir in live_dv or not os.path.isdir(subdir):
                continue
            if now - os.path.getmtime(subdir) > orphan_grace_seconds:
                if not dry_run:
                    shutil.rmtree(subdir)
    return {"versions_dropped": dropped, "files_deleted": deleted}


# ---- write-audit-publish (WAP) ---------------------------------------------


def _staged_marker(table_dir: str, branch: str) -> str:
    if "/" in branch or branch.startswith("."):
        raise ValueError(f"invalid branch name: {branch!r}")
    return os.path.join(table_dir, STAGED_DIR, f"{branch}.json")


def snapshot_stage(df: DataFrame, table_dir: str, branch: str = "audit") -> list[str]:
    """WAP step 1 (WRITE): land candidate files WITHOUT committing a version.

    Files go into the normal content-addressed data area; a branch marker
    under ``_staged/`` records them.  Readers of any committed version
    never see staged files (manifests don't list them), and
    ``snapshot_vacuum`` treats marker-referenced files as live so an
    audit in progress can't be garbage-collected.  Re-staging the same
    branch replaces the marker (single-writer per branch; the abandoned
    attempt's files become ordinary orphans for vacuum).
    """
    os.makedirs(os.path.join(table_dir, STAGED_DIR), exist_ok=True)
    write_dir = os.path.join(table_dir, DATA_DIR, uuid.uuid4().hex[:12])
    # staged files must already carry the table's PHYSICAL names — the
    # publish commit lists them next to the mapped files, and every
    # read scans with the physical-name schema; the marker schema stays
    # LOGICAL (it becomes the published manifest's schema)
    _physicalize(df, _head(table_dir, empty_ok=True)[1]).write.mode(
        "error"
    ).parquet(write_dir)
    files = sorted(
        os.path.join(write_dir, f)
        for f in os.listdir(write_dir)
        if f.endswith(".parquet")
    )
    marker = {
        "branch": branch,
        "staged_at": time.time(),
        "files": files,
        "schema": df.schema.json(),
    }
    final = _staged_marker(table_dir, branch)
    tmp = f"{final}.{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(marker, fh)
    os.replace(tmp, final)
    return files


def snapshot_staged_read(
    spark: SparkSession, table_dir: str, branch: str = "audit"
) -> DataFrame:
    """WAP step 2 (AUDIT): read ONLY the staged candidate files (under
    LOGICAL column names — auditors never see physical mapping)."""
    with open(_staged_marker(table_dir, branch)) as fh:
        files = json.load(fh)["files"]
    return _logicalize(
        spark.read.parquet(*files), _head(table_dir, empty_ok=True)[1]
    )


def snapshot_publish(table_dir: str, branch: str = "audit") -> int:
    """WAP step 3 (PUBLISH): append the audited staged files to the table
    as the next version — one atomic manifest commit, no data rewrite.

    Raises :class:`ConcurrentSnapshotWrite` if another writer commits the
    version first (retry against the new current version).  The staged
    marker is removed after the commit; the files themselves are now
    owned by the manifest.
    """
    marker_path = _staged_marker(table_dir, branch)
    with open(marker_path) as fh:
        marker = json.load(fh)
    prev, prev_manifest = _head(table_dir, empty_ok=True)
    prev_files = prev_manifest["files"] if prev_manifest else []
    # inherited files keep their partition metadata (staged files are
    # written plain by snapshot_stage and need none) and their deletion
    # vectors (_commit_manifest)
    partitions, bases = _inherited_layout(prev_manifest, prev_files)
    manifest = {
        "files": prev_files + marker["files"],
        "schema": marker["schema"],
        "stats": {},
        "stats_col": None,
        "partitions": partitions,
        "bases": bases,
    }
    # the same retirement/hijack discipline as snapshot_write (review:
    # publish was a bypass): a staged column matching a retired physical
    # name still present in inherited files would resolve stale bytes,
    # and a publish that narrows the schema while keeping prev files
    # retires the narrowed-out physical names.
    if prev_manifest is not None:
        new_cols = _schema_of(marker).fieldNames()
        mapping = dict(prev_manifest.get("column_mapping") or {})
        prev_cols = _schema_of(prev_manifest).fieldNames()
        retired: set = set()
        if prev_files:  # no inherited files -> no stale bytes to guard
            retired = set(prev_manifest.get("retired_physical") or []) | {
                mapping.get(c, c) for c in prev_cols if c not in new_cols
            }
        mapping = {l: p for l, p in mapping.items() if l in new_cols}
        hijack = sorted(c for c in new_cols if mapping.get(c, c) in retired)
        if hijack:
            raise ValueError(
                f"staged columns {hijack} match the physical (on-disk) "
                "name of a retired column still present in inherited "
                "files — publish refused (stage under another name or "
                "full-rewrite first)"
            )
        # mapped prev files stay physical-named; staged files were
        # physicalized at stage time — the (pruned) mapping survives
        # whether or not prev files were inherited
        if mapping:
            manifest["column_mapping"] = mapping
        if retired:
            manifest["retired_physical"] = sorted(retired)
    version = _commit(table_dir, prev, manifest)
    os.unlink(marker_path)
    return version


def snapshot_rollback(table_dir: str, to_version: int) -> int:
    """RESTORE: commit a NEW version whose content replays ``to_version``
    (Delta RESTORE / Iceberg rollback semantics) — one atomic manifest
    commit, zero data movement.

    The bad versions stay in history (still time-travel-readable, still
    vacuum-accountable); the table's CURRENT state simply becomes the
    target version's file set again.  The target manifest's files,
    schema, stats and partition layout all carry forward verbatim —
    rolling back a hive-partitioned table keeps its partition columns
    readable (the ADVICE round-3 interop contract).  So do its deletion
    vectors and retired names, even when it has none: the head's would
    re-delete rows the target still has, or retire a column it reads.

    Raises :class:`ConcurrentSnapshotWrite` on a commit race and
    ``FileNotFoundError`` if ``to_version`` was never committed.
    """
    target = _read_manifest(table_dir, to_version)
    manifest = {
        **target,
        "dv_dirs": target.get("dv_dirs", []),
        "retired_physical": target.get("retired_physical", []),
        "restored_version": to_version,
    }
    return _commit(table_dir, current_version(table_dir), manifest)


def snapshot_abort_staged(table_dir: str, branch: str = "audit") -> int:
    """WAP abort: drop the staged files and marker; the table is untouched.

    Returns the number of data files removed.
    """
    marker_path = _staged_marker(table_dir, branch)
    with open(marker_path) as fh:
        files = json.load(fh)["files"]
    removed = 0
    dirs = set()
    for p in files:
        if os.path.exists(p):
            os.remove(p)
            removed += 1
        dirs.add(os.path.dirname(p))
    for d in dirs:
        try:
            os.rmdir(d)
        except OSError:
            pass  # shared or non-empty write dir stays
    os.unlink(marker_path)
    return removed


def snapshot_optimize_zorder(
    spark: SparkSession,
    table_dir: str,
    xcol: str,
    ycol: str,
    shift: int = 20,
    target_rows_per_file: int = 100_000,
    incremental: bool = False,
) -> int:
    """OPTIMIZE ZORDER: rewrite the latest version clustered on the
    Morton curve of (xcol, ycol), committed as a new version with
    IDENTICAL rows and per-file [min, max] stats on BOTH columns.

    Delta/Iceberg's multi-dimensional clustering step: a z-ordered
    layout makes every file's span tight in BOTH dimensions at once, so
    ``snapshot_read(key_range=...)`` prunes files for predicates on
    EITHER column — single-column sort can only ever serve one.

    File assignment is DETERMINISTIC (no RangePartitioner sampling):
    z-buckets (zval >> shift, <= 2^(32-shift) of them) aggregate to
    driver-sized counts, and a bucket's file is
    ``rows_in_strictly_earlier_buckets div target_rows_per_file`` — a
    running-sum rule any engine can replay exactly.  Files then land via
    one hash repartition on file id + partitionBy (each file id in one
    task -> one file), the same one-writer-per-partition shape as
    :func:`snapshot_write_partitioned`; the file id lives only in the
    path, never in the payload, so the table schema is unchanged.

    Multi-column stats ride a ``col_stats`` manifest key
    ({col: {file: [min, max]}}); ``snapshot_read`` consults it for
    pruning alongside the single-column ``stats``/``stats_col`` pair.
    Returns the new version.

    On a column-mapped table this is a FULL rewrite from the logical
    read, so the committed version comes out UNMAPPED (physical ==
    logical, no ``column_mapping`` key) — the same way Delta's REORG
    physically materializes metadata-only evolution.

    Inputs are first RANGE-BUCKETED into 16-bit space by driver-computed
    [min, max] (``(v - mn) div ceil(span / 65536)``, pure bigint — no
    overflow, no float): morton_interleave16 only reads the low 16 bits,
    so raw keys above 65535 (e.g. o_custkey at sf1) would otherwise wrap
    and alias high keys into low z-buckets, silently degrading the
    2-D clustering the operator exists for (pruning would stay correct —
    col_stats are measured post-write — but the benefit would not).
    Rows where either column is NULL get a dedicated z-bucket BELOW all
    real buckets (Morton of NULL is NULL, which would otherwise crash
    the driver-side bucket sort and be dropped by the assignment join),
    so they cluster into the first file(s) and are kept.

    ``incremental=True`` (Delta's incremental OPTIMIZE / liquid-style
    maintenance): files the LAST clustering pass produced on the same
    (xcol, ycol) are reused by reference and only the files appended
    since are rewritten — the manifest's ``clustered`` marker records
    which files are already laid out.  At 100 TB this turns the nightly
    maintenance job from a table rewrite into a rewrite of the day's
    ingest.  Reused files keep their deletion vectors and col_stats;
    requires an unmapped table (reused and new files must agree on
    physical names) — full-rewrite first on mapped tables.
    """
    from pyspark.sql import functions as F

    from flow_spark.functions.layout import morton_interleave16

    v, cur_manifest = _head(table_dir)
    if not cur_manifest["files"]:
        raise ValueError(
            f"snapshot_optimize_zorder: version {v} of {table_dir} is empty"
        )
    schema = _schema_of(cur_manifest)
    reuse: "list[str]" = []
    if incremental:
        if cur_manifest.get("column_mapping"):
            raise ValueError(
                "incremental zorder needs an unmapped table (reused and "
                "new files must agree on physical names); run a full "
                "rewrite first"
            )
        marker = cur_manifest.get("clustered") or {}
        if marker.get("cols") == [xcol, ycol]:
            reuse = sorted(
                set(marker.get("files") or []) & set(cur_manifest["files"])
            )
    rewrite = sorted(set(cur_manifest["files"]) - set(reuse))
    if incremental and not rewrite:
        return v  # everything is already clustered on (xcol, ycol)
    df = _read_manifest_subset(spark, cur_manifest, rewrite, schema)
    # driver-computed ranges: scale each column into 0..65535 so the
    # 16-bit Morton interleave sees the full key distribution
    rng = df.agg(
        F.min(F.col(xcol).cast("bigint")).alias("x_mn"),
        F.max(F.col(xcol).cast("bigint")).alias("x_mx"),
        F.min(F.col(ycol).cast("bigint")).alias("y_mn"),
        F.max(F.col(ycol).cast("bigint")).alias("y_mx"),
    ).collect()[0]

    def scaled(col: str, mn, mx):
        if mn is None:  # all-NULL column: every row takes the NULL bucket
            return F.lit(None).cast("bigint")
        divisor = max(1, (int(mx) - int(mn)) // 65536 + 1)
        # bigint `div` keeps the math exact (a double `/` would lose
        # precision above 2^53); operands are non-negative after the
        # min-shift, so div == floor
        return F.expr(
            f"(cast(`{col}` as bigint) - {int(mn)}L) div {divisor}L"
        )

    zb = F.shiftright(
        morton_interleave16(
            scaled(xcol, rng["x_mn"], rng["x_mx"]),
            scaled(ycol, rng["y_mn"], rng["y_mx"]),
        ),
        shift,
    )
    with_bucket = df.withColumn("__zb", F.coalesce(zb, F.lit(-1)))
    # bucket census: bounded by 2^(32-shift) rows -> driver arithmetic
    counts = sorted(
        (r["__zb"], r["n"])
        for r in with_bucket.groupBy("__zb").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if not counts and incremental and reuse:
        # the unclustered files hold no live rows (e.g. fully DV-deleted)
        # — commit the clustered set alone, which both compacts them
        # away and completes the pass
        prev_cs = cur_manifest.get("col_stats") or {}
        partitions, bases = _inherited_layout(cur_manifest, reuse)
        manifest = {
            "files": reuse,
            "schema": cur_manifest["schema"],
            "stats": {},
            "stats_col": None,
            "col_stats": {
                c: {f: st for f, st in (prev_cs.get(c) or {}).items() if f in set(reuse)}
                for c in (xcol, ycol)
            },
            "partitions": partitions,
            "bases": bases,
            "clustered": {"cols": [xcol, ycol], "files": reuse},
        }
        return _commit(table_dir, v, manifest)
    if not counts:
        raise ValueError(
            f"snapshot_optimize_zorder: version {v} of {table_dir} has no rows"
        )
    assign = []
    acc = 0
    for bucket, n in counts:
        assign.append((bucket, acc // target_rows_per_file))
        acc += n
    amap = spark.createDataFrame(assign, "__zb bigint, __zfile bigint")
    write_dir = os.path.join(table_dir, DATA_DIR, uuid.uuid4().hex[:12])
    (
        with_bucket.join(F.broadcast(amap), "__zb")
        .drop("__zb")
        .repartition(F.col("__zfile"))
        .sortWithinPartitions("__zfile")
        .write.partitionBy("__zfile")
        .mode("error")
        .parquet(write_dir)
    )
    files: list[str] = []
    for root, _dirs, names in os.walk(write_dir):
        files.extend(
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        )
    files.sort()
    # per-file [min, max] of BOTH z-columns (one aggregate scan of the
    # new files — __zfile is path-only, the payload is the table schema)
    col_stats: dict[str, dict[str, list]] = {xcol: {}, ycol: {}}
    for r in (
        spark.read.schema(schema).parquet(*files)
        .groupBy(F.col("_metadata.file_path").alias("__fp"))
        .agg(
            F.min(xcol).alias("x_mn"),
            F.max(xcol).alias("x_mx"),
            F.min(ycol).alias("y_mn"),
            F.max(ycol).alias("y_mx"),
        )
        .collect()
    ):
        fp = r["__fp"].removeprefix("file:")
        if all(isinstance(v_, (int, float, str)) for v_ in (r["x_mn"], r["x_mx"])):
            col_stats[xcol][fp] = [r["x_mn"], r["x_mx"]]
        if all(isinstance(v_, (int, float, str)) for v_ in (r["y_mn"], r["y_mx"])):
            col_stats[ycol][fp] = [r["y_mn"], r["y_mx"]]
    if reuse:
        # reused (already-clustered) files keep their recorded spans so
        # pruning on either column still skips them
        prev_cs = cur_manifest.get("col_stats") or {}
        for c in (xcol, ycol):
            for f in reuse:
                if f in (prev_cs.get(c) or {}):
                    col_stats[c][f] = prev_cs[c][f]
    partitions, bases = _inherited_layout(cur_manifest, reuse)
    # reused files keep their deletion vectors and retired names
    # (_commit_manifest); the rewritten subset materialized its deletes
    manifest = {
        "files": reuse + files,
        "schema": cur_manifest["schema"],
        "stats": {},
        "stats_col": None,
        "col_stats": col_stats,
        "partitions": partitions,
        "bases": bases,
        "clustered": {"cols": [xcol, ycol], "files": reuse + files},
    }
    return _commit(table_dir, v, manifest)


# ---- multi-table atomic commits --------------------------------------------


CATALOG_DIR = "_catalog"


def _catalog_path(root_dir: str, version: int) -> str:
    return os.path.join(root_dir, CATALOG_DIR, f"c{version}.json")


def catalog_current_version(root_dir: str) -> int:
    """Highest committed CATALOG version under ``root_dir``, or 0."""
    cdir = os.path.join(root_dir, CATALOG_DIR)
    if not os.path.isdir(cdir):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(cdir)
        if f.startswith("c") and f.endswith(".json")
    ]
    return max(versions, default=0)


def snapshot_commit_tables(
    writes: "dict[str, DataFrame]", root_dir: str
) -> "tuple[int, dict[str, int]]":
    """Commit N tables as ONE atomic catalog version (multi-table txn).

    Per-table manifests alone cannot give cross-table consistency: a
    reader can observe table A's new version next to table B's old one
    while a two-table commit is in flight (the classic fact+dimension
    torn read).  The fix is one more indirection level, exactly Iceberg's
    catalog commit: each table's data+manifest land FIRST (step 1), then
    a single catalog manifest mapping {table -> pinned version} publishes
    ALL of them with one atomic ``os.link`` (step 2, same
    create-if-absent protocol as :func:`_commit_manifest`, so concurrent
    multi-table committers get :class:`ConcurrentSnapshotWrite` and
    retry).

    Tables not named in `writes` are carried forward at their previously
    pinned versions, so a catalog version is always a COMPLETE,
    point-in-time-consistent view of every table.  Returns
    ``(catalog_version, {table: table_version})``.

    .. warning:: Cross-table consistency holds ONLY for readers going
       through :func:`snapshot_read_catalog`.  The step-1 versions are
       invisible to the catalog, but fully visible to the per-table API
       (:func:`snapshot_read` / :func:`current_version` pick up the
       latest per-table manifest), so a reader mixing per-table reads
       with catalog reads can still observe the torn fact/dimension
       state this function exists to prevent.  A crash after step 1 (or
       a retry after losing the step-2 catalog race) likewise leaves
       committed-but-unpinned per-table versions behind as extra history
       — harmless to catalog readers, but they count against
       :func:`snapshot_vacuum`'s ``keep_versions`` depth.

    .. note:: :func:`snapshot_vacuum` is per-table and does not consult
       catalog pins — keep its ``keep_versions`` at least as deep as the
       oldest catalog version you intend to time-travel to, PLUS any
       unpinned versions left by aborted multi-table commits.
    """
    prev_cv = catalog_current_version(root_dir)
    pinned: dict[str, int] = {}
    if prev_cv >= 1:
        with open(_catalog_path(root_dir, prev_cv)) as fh:
            pinned = dict(json.load(fh)["tables"])
    os.makedirs(os.path.join(root_dir, CATALOG_DIR), exist_ok=True)
    # step 1: land every table's data + per-table manifest (invisible to
    # catalog readers until step 2 — a crash between tables is harmless)
    for name in sorted(writes):
        pinned[name] = snapshot_write(writes[name], os.path.join(root_dir, name))
    # step 2: ONE atomic publish of the whole {table -> version} map
    cv = prev_cv + 1
    catalog = {
        "version": cv,
        "committed_at": time.time(),
        "tables": pinned,
    }
    _commit_manifest(catalog, _catalog_path(root_dir, cv))
    return cv, pinned


def snapshot_read_catalog(
    spark: SparkSession,
    root_dir: str,
    version: "int | None" = None,
) -> "dict[str, DataFrame]":
    """Read every table of one catalog version — a consistent multi-table
    view: all tables reflect the same atomic commit (or a version-pinned
    past one for time travel)."""
    cv = version if version is not None else catalog_current_version(root_dir)
    if cv < 1:
        raise FileNotFoundError(f"no committed catalog versions in {root_dir}")
    with open(_catalog_path(root_dir, cv)) as fh:
        tables = json.load(fh)["tables"]
    return {
        name: snapshot_read(spark, os.path.join(root_dir, name), v)
        for name, v in tables.items()
    }


def _parse_partition_spec(spec: "list[str]") -> "list[dict]":
    """Parse a partition spec of raw columns and Iceberg-style transform
    entries: ``year(col)``, ``month(col)``, ``day(col)``,
    ``bucket(N, col)``, ``truncate(N, col)``.

    Returns [{"name": derived_dir_name, "source": col, "kind": ...,
    "n": ...}]; raw columns get kind None and name == source.
    """
    import re

    out = []
    for entry in spec:
        m = re.fullmatch(r"(year|month|day)\((\w+)\)", entry.strip())
        if m:
            kind, src = m.groups()
            out.append(
                {"name": f"{src}_{kind}", "source": src, "kind": kind, "n": None}
            )
            continue
        m = re.fullmatch(
            r"(bucket|truncate)\((\d+)\s*,\s*(\w+)\)", entry.strip()
        )
        if m:
            kind, n, src = m.groups()
            if int(n) < 1:
                raise ValueError(f"partition spec {entry!r}: N must be >= 1")
            out.append(
                {
                    "name": f"{src}_{kind}",
                    "source": src,
                    "kind": kind,
                    "n": int(n),
                }
            )
            continue
        if not re.fullmatch(r"\w+", entry.strip()):
            raise ValueError(
                f"unparseable partition spec entry {entry!r} (raw column or "
                "year/month/day/bucket/truncate transform)"
            )
        out.append(
            {"name": entry.strip(), "source": entry.strip(), "kind": None, "n": None}
        )
    return out


def _transform_column(df: DataFrame, ent: dict):
    """The Spark column computing a transform entry's partition value —
    each paired with a driver-side twin in :func:`_transform_value` that
    must produce the IDENTICAL string for pruning to be sound."""
    from pyspark.sql import functions as F

    from flow_spark.functions.hashing import portable_hash64

    src, kind, n = ent["source"], ent["kind"], ent["n"]
    dtype = dict(zip(df.columns, [f.dataType.typeName() for f in df.schema.fields]))[src]
    if kind == "year":
        return F.year(src).cast("string")
    if kind == "month":
        return F.date_format(src, "yyyy-MM")
    if kind == "day":
        return F.date_format(src, "yyyy-MM-dd")
    if kind == "bucket":
        if dtype not in ("byte", "short", "integer", "long", "string"):
            raise ValueError(
                f"bucket() partition source must be integer or string, "
                f"got {dtype} for {src!r} (a timestamp's string form is "
                "engine-ambiguous)"
            )
        return F.pmod(portable_hash64(F.col(src).cast("string")), F.lit(n)).cast(
            "string"
        )
    if kind == "truncate":
        if dtype == "string":
            return F.substring(src, 1, n)
        if dtype in ("byte", "short", "integer", "long"):
            # floor-mod truncation (Iceberg): negatives bin downward
            return (F.col(src) - F.pmod(F.col(src), F.lit(n))).cast("string")
        raise ValueError(
            f"truncate() partition source must be integer or string, got {dtype}"
        )
    raise AssertionError(kind)


def _transform_value(ent: dict, value) -> str:
    """Driver-side twin of :func:`_transform_column`: the partition-dir
    string a source VALUE lands in, for predicate->partition pruning."""
    from flow_spark.functions.hashing import portable_hash64_py

    kind, n = ent["kind"], ent["n"]
    if kind in ("year", "month", "day"):
        s = str(value)
        if kind == "year":
            # the write side is F.year(...) — an UNPADDED int string
            # ('987' for year 987) — while str(date) zero-pads to 4
            # digits; strip the padding or pruning silently drops
            # matching files for years < 1000
            return str(int(s[:4]))
        return {"month": s[:7], "day": s[:10]}[kind]
    if kind == "bucket":
        return str(portable_hash64_py(str(value)) % n)
    if kind == "truncate":
        if isinstance(value, str):
            return value[:n]
        return str(int(value) - (int(value) % n))  # python % is floor-mod
    return str(value)  # raw column


def snapshot_write_partitioned(
    df: DataFrame,
    table_dir: str,
    spec: "list[str]",
    reuse_files: "list[str] | None" = None,
) -> int:
    """Commit `df` hive-partitioned by `spec` as the next version.

    Partition-spec EVOLUTION (Iceberg's headline planning feature): the
    spec is a property of the FILES WRITTEN IN THIS COMMIT, not of the
    table — the manifest records each file's partition values, so one
    version can mix files written under different specs and the reader
    prunes every file by exactly the columns its own spec had.  Old data
    is never rewritten when the partitioning strategy changes.

    Rows are repartitioned BY the spec columns before the write, so each
    partition value lands in exactly one task -> exactly one file per
    hive directory (deterministic file counts, and the 100 TB layout:
    one writer per partition, no small-file spray).

    Spec entries may be TRANSFORMS — ``year(col)`` / ``month(col)`` /
    ``day(col)`` / ``bucket(N, col)`` / ``truncate(N, col)`` — Iceberg's
    hidden partitioning: the derived value lives only in the path (the
    logical schema never shows it), the manifest records the transform,
    and :func:`snapshot_read_hidden` translates predicates on the SOURCE
    column into partition pruning.  Users never filter on a derived
    column, so the layout can evolve without breaking a single query.
    """
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    prev_version, prev_manifest = _head(table_dir, empty_ok=True)
    head_manifest = prev_manifest or {}
    ents = _parse_partition_spec(spec)
    for e in ents:
        if e["source"] not in df.columns:
            raise ValueError(
                f"partition spec source {e['source']!r} not in {df.columns}"
            )
        if e["kind"] and e["name"] in df.columns:
            raise ValueError(
                f"derived partition name {e['name']!r} collides with a "
                "real column"
            )
    transforms = {
        e["name"]: {"kind": e["kind"], "n": e["n"], "source": e["source"]}
        for e in ents
        if e["kind"]
    }
    prev_tf = head_manifest.get("partition_transforms") or {}
    for name, spec_def in transforms.items():
        if name in prev_tf and prev_tf[name] != spec_def:
            raise ValueError(
                f"partition transform {name!r} already defined as "
                f"{prev_tf[name]} — a conflicting redefinition would make "
                "old files prune under the wrong rule"
            )
    transforms = {**prev_tf, **transforms}
    if (head_manifest.get("column_mapping")):
        # partition values live in PATHS under the spec column's name;
        # mixing logical-named paths with physical-named payloads would
        # corrupt basePath reconstruction — evolve the spec only on
        # unmapped tables (snapshot_optimize_zorder's FULL rewrite
        # produces one: every file comes out physical==logical)
        raise ValueError(
            "snapshot_write_partitioned: table has column mapping active; "
            "full-rewrite it first (snapshot_optimize_zorder) before "
            "evolving the partition spec"
        )
    write_dir = os.path.join(table_dir, DATA_DIR, uuid.uuid4().hex[:12])
    names = [e["name"] for e in ents]
    wdf = df
    derived_cols = {
        e["name"]: _transform_column(df, e) for e in ents if e["kind"]
    }
    if derived_cols:
        wdf = wdf.withColumns(derived_cols)
    wdf.repartition(*[F.col(c) for c in names]).write.partitionBy(
        *names
    ).mode("error").parquet(write_dir)
    files: list[str] = []
    for root, _dirs, walk_names in os.walk(write_dir):
        files.extend(
            os.path.join(root, n) for n in walk_names if n.endswith(".parquet")
        )
    files.sort()
    # persistent constraints enforce on partitioned writes too (the
    # basePath read recovers the spec columns a constraint may mention);
    # read them from the SAME head manifest the transform/mapping checks
    # used — a second head read here would race a concurrent commit
    # into checking constraints from a different version than the one
    # validated above
    persistent = head_manifest.get("constraints") or []
    if persistent and files:
        chk = (
            df.sparkSession.read.option("basePath", write_dir)
            .parquet(write_dir)
        )
        counts = chk.agg(
            *[
                F.sum(
                    F.when(F.expr(c).eqNullSafe(F.lit(True)), 0).otherwise(1)
                ).alias(f"c{i}")
                for i, c in enumerate(persistent)
            ]
        ).collect()[0]
        violated = {
            persistent[i]: int(counts[i])
            for i in range(len(persistent))
            if counts[i]
        }
        if violated:
            raise ConstraintViolation(
                f"commit rejected, violating rows per constraint: {violated}"
            )
    partitions: dict[str, dict] = {}
    bases: dict[str, str] = {}
    for f in files:
        vals: dict[str, str] = {}
        for seg in os.path.relpath(f, write_dir).split(os.sep)[:-1]:
            k, _, v = seg.partition("=")
            vals[k] = unquote(v)
        partitions[f] = vals
        bases[f] = write_dir
    retired: list = []
    if prev_manifest is not None and reuse_files:
        prev_parts = prev_manifest.get("partitions", {})
        prev_bases = prev_manifest.get("bases", {})
        prev_cols = _schema_of(prev_manifest).fieldNames()
        retired = sorted(
            set(prev_manifest.get("retired_physical") or [])
            | {c for c in prev_cols if c not in df.columns}
        )  # narrowed-out columns leave their bytes in reused files too
        hijack = sorted(c for c in df.columns if c in retired)
        if hijack:  # same refusal as snapshot_write (table is unmapped
            # here, so logical == physical for every df column)
            raise ValueError(
                f"columns {hijack} match the physical (on-disk) name of a "
                "retired column still present in reused files — reads "
                "would resolve stale bytes as the new column.  Rename the "
                "new column or full-rewrite first"
            )
        for f in reuse_files:
            partitions.setdefault(f, prev_parts.get(f, {}))
            if f in prev_bases:
                bases[f] = prev_bases[f]
    manifest = {
        "files": list(reuse_files or []) + files,
        "schema": df.schema.json(),
        "stats": {},
        "stats_col": None,
        "partitions": partitions,
        "bases": bases,
    }
    if transforms:
        manifest["partition_transforms"] = transforms
    if retired:  # reused files may still carry retired physical columns
        manifest["retired_physical"] = retired
    return _commit(table_dir, prev_version, manifest)


def snapshot_read_pruned(
    spark: SparkSession,
    table_dir: str,
    version: int,
    equals: "dict[str, str]",
) -> "tuple[DataFrame, int, int]":
    """Read a version, pruning files by per-file partition values.

    A file is kept when, for every (col, value) in `equals`, either its
    own spec recorded that column with a matching value, or its spec
    never had the column (written before the spec evolved -> cannot be
    pruned on it; the caller's residual filter handles those rows).
    Returns (df, n_files_selected, n_files_total).

    Files read together are grouped by their write dir and loaded with
    that dir as basePath, so Spark reconstructs each group's OWN
    partition columns from the paths; groups union by name (specs agree
    on the logical schema, they differ only in what is path vs payload).
    """
    manifest = _read_manifest(table_dir, version)
    parts = manifest.get("partitions", {})
    selected = [
        f
        for f in manifest["files"]
        if all(parts.get(f, {}).get(k, v) == v for k, v in equals.items())
    ]
    if selected:
        df = _read_manifest_subset(spark, manifest, selected)
    else:
        # nothing survived pruning: empty frame under the MANIFEST's
        # recorded schema — a footer read of files[0] would MISS the
        # partition columns (they live in the path, not the payload) and
        # crash on an empty file list
        df = spark.createDataFrame([], _schema_of(manifest))
    return df, len(selected), len(manifest["files"])


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key_col: str,
) -> "DataFrame":
    """Row-level diff between two committed versions — Delta's
    `table_changes` for arbitrary version pairs: one full-outer join on
    the key classifies every row as insert (key only in `v_to`), delete
    (only in `v_from`), update (both sides, any value column differs),
    or unchanged.

    Value comparison is a null-safe struct equality over every non-key
    column, so a NULL field on one side reads as a difference rather
    than silently matching.  At 100 TB this is ONE key-partitioned
    shuffle of both versions (and when both versions share untouched
    files by reference, a smarter plan would diff only the file-set
    delta — the manifest has that information; this operator is the
    always-correct baseline).  Returns (key, change, old struct, new
    struct).
    """
    from pyspark.sql import functions as F

    # the diff speaks the TO version's vocabulary: the from side reads
    # under the TO logical schema resolved through the TO mapping
    # (physical names are the stable identity across renames — same
    # treatment as snapshot_changes), so a diff spanning a RENAME
    # compares real values instead of failing on the old name.  Columns
    # dropped by v_to leave the comparison; columns added NULL-fill on
    # the old side and surface as updates.
    from_manifest = _read_manifest(table_dir, v_from)
    to_manifest = _read_manifest(table_dir, v_to)
    to_schema = _schema_of(to_manifest)
    a = _read_manifest_subset(
        spark,
        _from_read_under_to_mapping(from_manifest, to_manifest),
        from_manifest["files"],
        to_schema,
    )
    b = snapshot_read(spark, table_dir, v_to)
    value_cols = [c for c in b.columns if c != key_col]
    af = a.select(
        F.col(key_col).alias("__k"), F.struct(*value_cols).alias("old")
    )
    bf = b.select(
        F.col(key_col).alias("__k"), F.struct(*value_cols).alias("new")
    )
    j = af.join(bf, "__k", "full_outer")
    return j.select(
        F.col("__k").alias(key_col),
        F.when(F.col("old").isNull(), F.lit("insert"))
        .when(F.col("new").isNull(), F.lit("delete"))
        .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        "old",
        "new",
    )


def snapshot_clone(source_dir: str, target_dir: str) -> int:
    """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): commit
    version 1 of ``target_dir`` referencing the source's CURRENT files
    by path — zero bytes copied, one manifest write, however large the
    source.  The full read surface carries over: stats, col_stats,
    bloom index, column mapping, partition bases, and deletion vectors
    (the clone sees the post-delete view).

    Divergence is free in both directions: writes to the clone land in
    the clone's own data directory and copy-on-write rewrites detach
    borrowed files naturally; the source never sees clone commits.
    Vacuum safety: a table's vacuum only reclaims files under its OWN
    directory, so the clone can never collect the source's files — but
    (exactly Delta's documented caveat) a vacuum on the SOURCE may
    reclaim files a clone still references; keep source retention
    longer than clone lifetimes, or deep-copy instead.

    The target must not exist as a table yet.  Returns 1.
    """
    if current_version(target_dir) >= 1:
        raise FileExistsError(f"{target_dir} already has committed versions")
    src_v, manifest = _head(source_dir)
    manifest["cloned_from"] = {"table": source_dir, "version": src_v}
    _commit(target_dir, 0, manifest)
    # back-reference so the SOURCE knows its borrowers: an erasure on
    # the source must reach every copy, and without this record the
    # source has no way to even name them (best-effort local registry;
    # a dropped clone leaves a stale entry that readers tolerate)
    reg = os.path.join(source_dir, "_clones.json")
    try:
        with open(reg) as fh:
            clones = json.load(fh)
    except FileNotFoundError:
        clones = []
    if target_dir not in clones:
        clones.append(target_dir)
        tmp = f"{reg}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(clones, fh)
        os.replace(tmp, reg)
    return 1


def snapshot_clones(source_dir: str) -> "list[str]":
    """Known shallow clones of ``source_dir`` (registered at clone
    time), filtered to those that still exist as tables."""
    reg = os.path.join(source_dir, "_clones.json")
    try:
        with open(reg) as fh:
            clones = json.load(fh)
    except FileNotFoundError:
        return []
    return [c for c in clones if current_version(c) >= 1]


def _rename_meta_commit(table_dir: str, mutate) -> int:
    """Commit a METADATA-ONLY schema-evolution version: same files, same
    stats values, new logical schema / column mapping.  ``mutate`` edits
    the manifest dict in place."""
    v, manifest = _head(table_dir)
    mutate(manifest)
    return _commit(table_dir, v, manifest)


def _constraints_referencing(manifest: dict, col: str) -> "list[str]":
    """Persistent constraints whose expression references ``col`` as an
    identifier (bare or backticked).  Conservative word-boundary match —
    a false positive refuses a rename that would have worked, a false
    negative would WEDGE the table (every later write fails evaluating
    the stale expression), so erring toward refusal is the safe side;
    Delta refuses renames/drops of constrained columns the same way."""
    import re

    pat = re.compile(
        rf"(?<![\w`]){re.escape(col)}(?!\w)|`{re.escape(col)}`"
    )
    return [c for c in (manifest.get("constraints") or []) if pat.search(c)]


def snapshot_rename_column(table_dir: str, old: str, new: str) -> int:
    """RENAME COLUMN without touching a single data file — Delta/Iceberg
    column mapping: the files keep the original (physical) name forever;
    the manifest's logical schema renames, and ``column_mapping``
    (logical -> physical) lets every read resolve old files.  Later
    writes (MERGE survivors, compaction) write PHYSICAL names, so one
    table-wide map stays valid across rewrites (``snapshot_write``).

    Pruning metadata follows the LOGICAL name: ``stats_col``,
    ``col_stats`` and a bloom index built on the renamed column keep
    working under the new name (their per-file values are
    name-independent).  Time travel to a pre-rename version sees the
    old name — schema history is versioned like data.

    Pure driver-side manifest arithmetic; returns the new version.
    """
    from pyspark.sql.types import StructType

    def mutate(manifest: dict) -> None:
        schema = _schema_of(manifest)
        names = schema.fieldNames()
        if old not in names:
            raise ValueError(f"rename: no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"rename: column {new!r} already exists")
        refs = _constraints_referencing(manifest, old)
        if refs:
            raise ValueError(
                f"rename: column {old!r} is referenced by persistent "
                f"constraints {refs}; drop them first "
                "(snapshot_drop_constraints) or the table would wedge — "
                "every later write fails evaluating the stale expression"
            )
        mapping = dict(manifest.get("column_mapping") or {})
        # the new logical name must not collide with any OTHER column's
        # PHYSICAL name either: {bal: cents, cents: seg} is a CHAINED
        # map, and withColumnsRenamed applies entries sequentially —
        # verified live, a chain cascades into duplicate columns on the
        # next write.  Refusing here keeps logical and physical
        # vocabularies disjoint, which makes every dict-rename in the
        # engine cascade-free.
        other_phys = {
            mapping.get(l, l) for l in names if l != old
        }
        if new in other_phys:
            raise ValueError(
                f"rename: {new!r} is another column's physical (on-disk) "
                f"name; pick a different name or full-rewrite first "
                f"(snapshot_optimize_zorder)"
            )
        phys = mapping.pop(old, old)
        if new != phys:
            mapping[new] = phys
        # (renaming BACK to the physical name just drops the entry)
        manifest["column_mapping"] = mapping
        from pyspark.sql.types import StructField

        manifest["schema"] = StructType(
            [
                StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        ).json()
        if manifest.get("stats_col") == old:
            manifest["stats_col"] = new
        if old in (manifest.get("col_stats") or {}):
            cs = dict(manifest["col_stats"])
            cs[new] = cs.pop(old)
            manifest["col_stats"] = cs
        if (manifest.get("bloom") or {}).get("col") == old:
            manifest["bloom"] = dict(manifest["bloom"], col=new)
        # ADD COLUMN initial defaults are keyed by LOGICAL name: follow
        if old in (manifest.get("initial_defaults") or {}):
            d = dict(manifest["initial_defaults"])
            d[new] = d.pop(old)
            manifest["initial_defaults"] = d

    return _rename_meta_commit(table_dir, mutate)


def snapshot_drop_column(table_dir: str, col: str) -> int:
    """DROP COLUMN without rewriting data — the files keep the bytes,
    the logical schema loses the field, and because every manifest read
    scans with an EXPLICIT schema the dropped column is never even
    decoded (parquet column pruning makes the drop free at read time
    too).  Stats or bloom metadata keyed on the dropped column are
    discarded; the physical mapping entry goes with it.  Time travel to
    an earlier version still sees the column.  Returns the new version.
    """
    from pyspark.sql.types import StructType

    def mutate(manifest: dict) -> None:
        schema = _schema_of(manifest)
        names = schema.fieldNames()
        if col not in names:
            raise ValueError(f"drop: no column {col!r} in {names}")
        if len(names) == 1:
            raise ValueError("drop: cannot drop the only column")
        refs = _constraints_referencing(manifest, col)
        if refs:
            raise ValueError(
                f"drop: column {col!r} is referenced by persistent "
                f"constraints {refs}; drop them first "
                "(snapshot_drop_constraints)"
            )
        manifest["schema"] = StructType(
            [f for f in schema.fields if f.name != col]
        ).json()
        mapping = dict(manifest.get("column_mapping") or {})
        phys = mapping.pop(col, col)
        if mapping:
            manifest["column_mapping"] = mapping
        else:
            manifest.pop("column_mapping", None)
        # the files still physically carry the dropped column's bytes —
        # retire its physical name so a later write can't introduce a
        # new logical column that resolves those stale bytes
        # (snapshot_write refuses; a full overwrite clears the set)
        if manifest.get("files"):
            manifest["retired_physical"] = sorted(
                set(manifest.get("retired_physical") or []) | {phys}
            )
        if manifest.get("stats_col") == col:
            manifest["stats_col"] = None
            manifest["stats"] = {}
        if col in (manifest.get("col_stats") or {}):
            cs = dict(manifest["col_stats"])
            cs.pop(col)
            manifest["col_stats"] = cs
        if (manifest.get("bloom") or {}).get("col") == col:
            manifest.pop("bloom", None)
        if col in (manifest.get("initial_defaults") or {}):
            d = dict(manifest["initial_defaults"])
            d.pop(col)
            # keep the (possibly empty) key PRESENT: _commit_manifest
            # inherits a missing initial_defaults from the parent, which
            # would resurrect the dropped column's fill entry
            manifest["initial_defaults"] = d

    return _rename_meta_commit(table_dir, mutate)


def snapshot_add_column(
    table_dir: str,
    name: str,
    dtype,
    default=None,
) -> int:
    """ADD COLUMN without rewriting data — with an INITIAL DEFAULT
    (Iceberg v3 initial-default / Delta ALTER TABLE ADD COLUMN): one
    manifest write adds the field to the logical schema and records
    ``{default, current files}``; every read fills the default for
    exactly those pre-existing files (they are scanned WITHOUT the
    column, so stale bytes of a previously-dropped same-name physical
    column can never resurface either — though adding a retired name is
    refused outright for consistency with the write-side guard).  Rows
    written AFTER the add carry the column physically, including real
    NULLs — the default never touches them; rewrites (compaction,
    MERGE survivors) physicalize the default naturally because they
    read through the manifest.  Time travel to a pre-add version sees
    the old schema.

    ``dtype``: a ``pyspark.sql.types.DataType`` or one of the common
    DDL names (string/int/bigint/double/float/boolean/date/timestamp).
    Returns the new version.
    """
    from pyspark.sql import types as T

    ddl = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "long": T.LongType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }
    dt = ddl[dtype.lower()] if isinstance(dtype, str) else dtype

    def mutate(manifest: dict) -> None:
        schema = _schema_of(manifest)
        names = schema.fieldNames()
        if name in names:
            raise ValueError(f"add: column {name!r} already exists")
        if name in (manifest.get("retired_physical") or []):
            raise ValueError(
                f"add: {name!r} is a RETIRED physical name — reused files "
                "still carry its stale bytes; pick a different name or "
                "full-rewrite first (snapshot_optimize_zorder)"
            )
        mapping = manifest.get("column_mapping") or {}
        other_phys = {mapping.get(l, l) for l in names}
        if name in other_phys:
            raise ValueError(
                f"add: {name!r} is another column's physical (on-disk) "
                "name; pick a different name"
            )
        manifest["schema"] = T.StructType(
            list(schema.fields) + [T.StructField(name, dt, True)]
        ).json()
        d = dict(manifest.get("initial_defaults") or {})
        d[name] = {"value": default, "files": list(manifest.get("files") or [])}
        manifest["initial_defaults"] = d

    return _rename_meta_commit(table_dir, mutate)


def _dv_touched_files(spark: SparkSession, dv_dirs: "list[str]") -> "set[str]":
    """Manifest-style raw paths of every file the vectors reference."""
    return {
        r[0].removeprefix("file:")
        for r in spark.read.parquet(*dv_dirs).select("__fp").distinct().collect()
    }


def _bloom_admits(bitmap: bytes, probes: "list[int]") -> bool:
    """True when every probe bit is set — 'maybe present'."""
    return all(bitmap[p // 8] & (1 << (p % 8)) for p in probes)


# ---- file-level bloom-filter index -----------------------------------------
#
# [min, max] stats prune files only for columns the data is CLUSTERED on;
# a point lookup on a scattered column (customer id in an orderkey-
# clustered table) matches every file's range.  Lakehouse formats answer
# with per-file bloom filters (Parquet bloom filters, Delta bloom index):
# k hash probes against a per-file bit array decide "definitely absent"
# (skip the file) vs "maybe present" (scan it) — false positives only
# cost an extra scan, never correctness.  The hash family is the
# portable md5 mix (functions/hashing.py + mh_coeffs), so the DuckDB
# oracle can replay every bit and the probe is computable driver-side
# without a Spark job.


_BLOOM_POW2 = [1 << e for e in range(6, 31)]

#: per-file distinct-hash collection cap (16 MB of hashes) — files past
#: it fall back to the executor-side positions aggregation (O(bits))
_BLOOM_H_CAP = 2_000_000


def _auto_bloom_bits(max_ndv: int) -> int:
    """Smallest power of two >= 10 x the largest per-file distinct-HASH
    count (the quantity that determines filter fill; the oracle counts
    the same md5 hashes) — ~10 bits/key at k=3 gives ~1.7%
    false-positive rate, the standard 1%-class sizing.  Floor 64, cap
    2^30 (a 128 MB bitmap is past the point where a filter belongs in
    a manifest)."""
    need = max_ndv * 10
    for p in _BLOOM_POW2:
        if p >= need:
            return p
    return _BLOOM_POW2[-1]


def snapshot_build_bloom(
    spark: SparkSession,
    table_dir: str,
    col: str,
    bits: "int | str" = "auto",
    k: int = 3,
    version: "int | None" = None,
) -> int:
    """Build per-file bloom filters over ``col`` and commit them as the
    next version (same data files — an index build, not a rewrite).

    Bit positions of a value v: ``((a_i * h + b_i) % P) % bits`` for
    i in 0..k-1, with ``h = portable_hash64(cast(v as string)) % P``
    and (a_i, b_i) from :func:`flow_spark.operators.dedup.mh_coeffs`.
    One aggregate scan computes every file's set-bit list (grouped by
    ``_metadata.file_path``, distinct positions collected map-side); the
    driver packs each into a base64 bitmap stored in the manifest
    (bits/8 bytes per file — 1 KB at the 8192 default).

    The index belongs to THIS version's file list: a later
    ``snapshot_write`` commits a manifest without the ``bloom`` key, so
    stale filters can never prune files they were not built from
    (standard index invalidation; rebuild after data commits).

    The rebuild is INCREMENTAL: data files are immutable, so filters
    recorded by any earlier version under the same (col, bits, k) stay
    valid for the files both versions share — they are inherited, and
    only files never indexed before are scanned.  After a MERGE that
    rewrote one file out of a thousand, re-indexing scans one file.

    ``bits="auto"`` (the default) sizes the array from the data: one
    exact per-file distinct-count scan, then the smallest power of two
    >= 10 x the largest per-file count (:func:`_auto_bloom_bits`,
    ~1.7% FPP at k=3).  A fixed default can silently saturate — 4k
    keys against 8192 bits sets ~78% of them and prunes nothing — so
    an EXPLICIT ``bits`` is checked after packing: any NEWLY BUILT
    filter more than half full triggers a rebuild of the whole index
    at the auto size (auto-sized filters stay under ~26% full by
    construction, terminating the recursion).  Inherited filters are
    trusted verbatim — every filter this code commits passed the gate
    at its own build, so a saturated inherited filter can only come
    from a pre-gate index generation (rebuild with ``bits="auto"`` to
    replace one).  The manifest always records the RESOLVED integer,
    so probes and inheritance never see "auto".
    """
    import base64

    from pyspark.sql import functions as F

    from flow_spark.functions.hashing import portable_hash64
    from flow_spark.operators.dedup import MH_P, mh_coeffs

    v, manifest = _head(table_dir, version)
    all_files = manifest["files"]
    # the driver-side probe hashes Python str(value) and MUST render
    # identically to the executor-side CAST(col AS STRING): true for
    # integral and string types, false for doubles ('1.0E16' vs
    # '1e+16'), booleans ('true' vs 'True'), timestamps... — a silent
    # divergence would PRUNE FILES THAT CONTAIN THE KEY, so refuse to
    # index anything else
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

    schema = _schema_of(manifest)
    if col in schema.fieldNames():
        dt = schema[col].dataType
        if not isinstance(
            dt, (ByteType, ShortType, IntegerType, LongType, StringType)
        ):
            raise ValueError(
                f"bloom index on {col}: only integral/string columns render "
                f"identically in the driver probe and the executor hash; "
                f"got {dt.simpleString()}"
            )
    auto = bits == "auto"
    # the most recent earlier index on the same (col, k): its per-file
    # ndv map is geometry-independent (reused for sizing without a
    # scan) and its filters inherit verbatim when the resolved bit
    # width matches (per-file bitmaps of immutable files never go
    # stale; only membership of the FILE LIST changes)
    prev_bloom: "dict | None" = None
    for pv in range(v - 1, 0, -1):
        try:
            pb = _read_manifest(table_dir, pv).get("bloom")
        except FileNotFoundError:  # vacuumed away
            break
        if pb and pb.get("col") == col and pb.get("k") == k:
            prev_bloom = pb
            break
    allf = set(all_files)
    known_ndv = {
        f: n
        for f, n in ((prev_bloom or {}).get("ndv") or {}).items()
        if f in allf
    }
    h = portable_hash64(F.col(col).cast("string")) % MH_P

    _H_CAP = _BLOOM_H_CAP

    def h_scan(scan_files: "list[str]") -> "dict[str, list]":
        """{file: sorted distinct 31-bit hashes}: ONE map-side-
        combinable agg yields both the sizing input and the values the
        driver packs into whatever width gets resolved.  Sizing counts
        distinct HASHES — the quantity that actually determines filter
        fill — and the ORACLE counts the same md5 hashes, so the two
        sides always resolve the same bit width (an exact per-KEY count
        would need a second (file, key)-distinct shuffle for no filter-
        quality gain).  A file past _H_CAP returns a truncated list —
        the caller falls back to an executor-side positions scan for
        it, whose aggregation state is O(bits), not O(ndv)."""
        if not scan_files:
            return {}
        rows = (
            _read_manifest_subset(spark, manifest, scan_files, with_meta=True)
            .select("__fp", h.alias("h"))
            .groupBy("__fp")
            .agg(
                F.slice(
                    F.sort_array(F.collect_set("h")), 1, _H_CAP + 1
                ).alias("hs")
            )
            .collect()
        )
        return {r["__fp"].removeprefix("file:"): list(r["hs"]) for r in rows}

    hsets = h_scan([f for f in all_files if f not in known_ndv])
    ndv = dict(known_ndv)
    ndv.update({f: len(hs) for f, hs in hsets.items()})
    if auto and any(n > _H_CAP for n in ndv.values()):
        # an over-cap file's hash list is truncated, so its true
        # distinct-hash count — which the auto size must cover — needs
        # one exact count pass over just those files (rare path)
        big = sorted(f for f, n in ndv.items() if n > _H_CAP and f in allf)
        for r in (
            _read_manifest_subset(spark, manifest, big, with_meta=True)
            .select("__fp", h.alias("h"))
            .groupBy("__fp")
            .agg(F.countDistinct("h").alias("n"))
            .collect()
        ):
            ndv[r["__fp"].removeprefix("file:")] = r["n"]
    if auto:
        bits = _auto_bloom_bits(max(ndv.values(), default=0))
    inherited: dict[str, str] = {}
    if prev_bloom and prev_bloom.get("bits") == bits:
        inherited = {
            f: b64 for f, b64 in prev_bloom["filters"].items() if f in allf
        }
    files = [f for f in all_files if f not in inherited]
    # files the previous index knew (ndv inherited, so not in the first
    # scan) that still need filters because the bit width changed
    hsets.update(h_scan([f for f in files if f not in hsets]))
    # hash lists truncated at the cap can't be packed driver-side; fall
    # back to the executor-side positions aggregation for exactly those
    # files (state bounded by bits, the pre-fused design)
    oversized = sorted(
        f for f in files if len(hsets.get(f) or ()) > _H_CAP
    )
    oversized_filters: dict[str, str] = {}
    if oversized:
        from functools import reduce

        pos_cols = []
        for i in range(k):
            a, b = mh_coeffs(i)
            pos_cols.append(
                ((F.lit(a) * h + F.lit(b)) % MH_P % bits).alias(f"p{i}")
            )
        union_of_sets = reduce(
            F.array_union,
            [F.collect_set(f"p{i}") for i in range(1, k)],
            F.collect_set("p0"),
        )
        for r in (
            _read_manifest_subset(spark, manifest, oversized, with_meta=True)
            .select("__fp", *pos_cols)
            .groupBy("__fp")
            .agg(F.array_sort(union_of_sets).alias("positions"))
            .collect()
        ):
            fpath = r["__fp"].removeprefix("file:")
            hsets[fpath] = None  # skip in the driver-side packing loop
            bm0 = bytearray(bits // 8)
            for p_ in r["positions"]:
                bm0[p_ // 8] |= 1 << (p_ % 8)
            oversized_filters[fpath] = base64.b64encode(bytes(bm0)).decode(
                "ascii"
            )

    import numpy as np

    coeffs = [mh_coeffs(i) for i in range(k)]
    filters: dict[str, str] = dict(inherited)
    filters.update(oversized_filters)
    for f in files:
        hs = hsets.get(f)
        if not hs:
            continue  # empty file: no rows, no filter — always scanned
        hv = np.asarray(hs, dtype=np.int64)  # a*h+b < 2^62: no overflow
        bm = np.zeros(bits // 8, dtype=np.uint8)
        for a, b in coeffs:
            pos = (a * hv + b) % MH_P % bits
            np.bitwise_or.at(bm, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        filters[f] = base64.b64encode(bm.tobytes()).decode("ascii")
    if not auto and any(
        int.from_bytes(base64.b64decode(filters[f]), "big").bit_count() * 2
        > bits
        for f in files
        if f in filters
    ):
        # a saturated filter admits (almost) everything — it prunes
        # nothing while looking like an index.  Rebuild at the data-
        # derived size instead of committing a silently useless one.
        # Only NEWLY scanned files are checked: inherited filters
        # passed this gate at their own build (inherit = trust the
        # immutable artifact verbatim).
        return snapshot_build_bloom(
            spark, table_dir, col, bits="auto", k=k, version=version
        )
    manifest["bloom"] = {
        "col": col,
        "bits": bits,
        "k": k,
        "filters": filters,
        "ndv": ndv,  # geometry-independent: future rebuilds size without a scan
    }
    return _commit(table_dir, v, manifest)


def bloom_probe_positions(value, bits: int, k: int) -> "list[int]":
    """The k bit positions of ``value`` — pure Python, bit-identical to
    the executor-side expression (md5 is md5 everywhere)."""
    import hashlib

    from flow_spark.operators.dedup import MH_P, mh_coeffs

    h = (
        int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16) % MH_P
    )
    out = []
    for i in range(k):
        a, b = mh_coeffs(i)
        out.append((a * h + b) % MH_P % bits)
    return out


def snapshot_bloom_candidates(
    table_dir: str, value, version: "int | None" = None
) -> "tuple[list[str], int]":
    """(files that may contain ``value`` in the indexed column, total
    file count) — decided from the manifest alone, zero data read.

    A file is skipped ONLY when its filter proves absence (some probe
    bit unset); files without a recorded filter are always candidates.
    Raises if the version has no bloom index (callers must not silently
    fall back to a full scan they believe is pruned).
    """
    import base64

    v, manifest = _head(table_dir, version)
    bloom = manifest.get("bloom")
    if not bloom:
        raise ValueError(f"version {v} of {table_dir} has no bloom index")
    probes = bloom_probe_positions(value, bloom["bits"], bloom["k"])
    out = []
    for f in manifest["files"]:
        b64 = bloom["filters"].get(f)
        if b64 is None:
            out.append(f)
            continue
        bm = base64.b64decode(b64)
        if _bloom_admits(bm, probes):
            out.append(f)
    return out, len(manifest["files"])


def snapshot_read_point(
    spark: SparkSession,
    table_dir: str,
    value,
    version: "int | None" = None,
) -> DataFrame:
    """Point lookup through the bloom index: scan ONLY candidate files,
    with the row filter on the indexed column applied (false positives
    are eliminated here — the index can only over-scan, never miss)."""
    from pyspark.sql import functions as F

    v, manifest = _head(table_dir, version)
    col = manifest["bloom"]["col"]  # KeyError if unindexed: same contract
    files, _total = snapshot_bloom_candidates(table_dir, value, v)
    schema = _schema_of(manifest)
    if not files:
        return spark.createDataFrame([], schema)
    df = _read_manifest_subset(spark, manifest, files, schema)
    return df.filter(F.col(col) == F.lit(value))


# ---- deletion vectors (merge-on-read DELETE) -------------------------------


def snapshot_delete(
    spark: SparkSession,
    table_dir: str,
    predicate,
) -> int:
    """DELETE WHERE ``predicate`` without rewriting a single data file —
    deletion vectors, the merge-on-read strategy of modern Delta/Iceberg.

    One scan finds the matching rows' (file, row_index) pairs — the
    scan's own ``_metadata``, stable for parquet regardless of task
    scheduling — and writes them as a parquet DV sidecar under
    ``table_dir/_dv/``; the commit is a manifest that lists the SAME
    data files plus the sidecar path.  Every manifest-reading API
    anti-joins the vectors out centrally (``_read_manifest_subset``),
    so reads, MERGEs, changefeeds and index builds all see the
    post-delete table; rewriting paths (compaction, MERGE survivors)
    physically drop the rows and their new files carry no vectors.

    Deletes accumulate: each call appends a sidecar, read-side
    ``distinct`` makes re-deleting a row idempotent.  At 100 TB a
    point delete costs one pushdown-pruned scan plus a sidecar of the
    deleted row count — not a copy-on-write of every touched file; run
    compaction when accumulated vectors make the anti-join material.

    ``predicate``: a Column or SQL string evaluated against the current
    version.  Returns the new version (identical to the old one when
    nothing matched — the DV is empty but harmless).
    """
    from pyspark.sql import functions as F

    cur_v, manifest = _head(table_dir)
    schema = _schema_of(manifest)
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    dv_dir = os.path.join(table_dir, "_dv", uuid.uuid4().hex[:12])
    (
        _read_manifest_subset(
            spark, manifest, manifest["files"], schema, with_meta=True
        )
        .filter(cond)
        .select("__fp", "__ri")
        .write.mode("error")
        .parquet(dv_dir)
    )
    # a bloom index keyed on data files stays VALID under merge-on-read
    # deletes for pruning (it can only over-approximate membership), so
    # it carries forward with the files it was built from.
    return _commit(
        table_dir,
        cur_v,
        {**manifest, "dv_dirs": list(manifest.get("dv_dirs") or []) + [dv_dir]},
    )


def snapshot_purge_key(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    values: "list",
    acknowledge_clones: bool = False,
) -> dict:
    """Right-to-be-forgotten purge ACROSS HISTORY: physically remove every
    row whose ``key_col`` is in ``values`` from EVERY committed version.

    Neither Delta nor Iceberg has this as one operation — DELETE only
    affects the new head, and old versions keep serving the subject's
    rows until retention expires.  GDPR/CCPA erasure needs the rows gone
    from time travel too, so this rewrites history in place:

    1. **Detect** — one column-pruned scan over the union of every
       version's data files (each file read once even when shared by many
       versions) finds the files that physically contain a hit.  Files
       whose schema never had the column NULL-fill and can't match.
    2. **Rewrite** — each affected file is rewritten once (content
       shared across versions stays shared): purged rows drop, every
       OTHER physical row survives in its original order, and the full
       PHYSICAL footer schema is preserved — so versions that declared
       more columns than the head (later drops/narrowings are
       metadata-only) still resolve every column they need.  Rows a
       deletion vector hides in SOME versions are kept in the file (the
       DV owns that visibility, per version).
    3. **Remap** — per-version deletion vectors referencing a rewritten
       file are re-pointed at the new (file, row_index) pairs; DV
       entries for purged rows vanish (the row no longer exists
       anywhere).  Row indexes shift by the number of purged rows before
       them, computed from the rewrite's own ordering.
    4. **Republish** — every manifest whose file list or DVs changed is
       atomically replaced IN PLACE (same version numbers, so tags,
       clones and history stay addressable).  Data-skipping metadata for
       rewritten files is recomputed for ``stats_col`` and dropped
       elsewhere (col_stats / bloom / partition entries — every consumer
       treats a missing entry as "must scan", so pruning only weakens,
       never lies).  A ``purged`` audit note is appended to each
       rewritten manifest.

    The old file bytes stay on disk until :func:`snapshot_vacuum` — run
    one after the purge to complete physical erasure.  Shallow clones
    hold their own manifests referencing the shared files, so a source
    purge alone would leave them serving the subjects: the purge
    REFUSES while registered clones exist (naming them), until each is
    purged and the caller passes ``acknowledge_clones=True``.

    Single-admin operation: refuses to run with unpublished WAP branches
    staged, and raises :class:`SnapshotConflict` if any writer commits
    while the purge is running (re-run after quiescing).  Returns a
    summary dict: files_rewritten, rows_purged, versions_rewritten —
    ``rows_purged`` counts PHYSICAL row occurrences (a subject row
    compacted/re-clustered into several generations of files counts
    once per file that held it).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.window import Window

    if not values:
        raise ValueError("values must be non-empty")
    head, _ = _head(table_dir)
    staged_dir = os.path.join(table_dir, STAGED_DIR)
    if os.path.isdir(staged_dir) and any(
        f.endswith(".json") for f in os.listdir(staged_dir)
    ):
        raise ValueError(
            "unpublished WAP branches staged: publish or abort them "
            "before purging (staged files would keep the subject's rows)"
        )
    # erasure must reach every copy: shallow clones borrow this table's
    # files and would keep serving the subjects after a source purge.
    # Refuse by default, NAMING the borrowers (registered at clone
    # time), so the operator purges each clone too — then acknowledge.
    if not acknowledge_clones:
        live_clones = snapshot_clones(table_dir)
        if live_clones:
            raise ValueError(
                "shallow clones reference this table's files and retain "
                f"the subjects: {live_clones}; purge each clone, then "
                "re-run with acknowledge_clones=True"
            )

    manifests: "dict[int, dict]" = {}
    for v in range(1, head + 1):
        if os.path.exists(_manifest_path(table_dir, v)):  # else vacuumed away
            manifests[v] = _read_manifest(table_dir, v)

    # resolve the key's declared type and its PHYSICAL name(s): physical
    # names are the stable column identity across renames (rename/drop
    # are metadata-only), so only manifests whose SCHEMA declares the
    # logical name can name the physical column — and that name then
    # applies to every file of the table, including files referenced
    # solely by manifests that predate the rename
    key_type = None
    phys_names: "set[str]" = set()
    base_by_file: "dict[str, str]" = {}
    all_files: "set[str]" = set()
    for v in sorted(manifests, reverse=True):
        m = manifests[v]
        sch = _schema_of(m)
        for fld in sch.fields:
            if fld.name == key_col:
                if key_type is None:
                    key_type = fld.dataType
                phys_names.add(
                    (m.get("column_mapping") or {}).get(key_col, key_col)
                )
                break
        all_files.update(m["files"])
        for f, b in (m.get("bases") or {}).items():
            base_by_file.setdefault(f, b)
    if key_type is None:
        raise ValueError(
            f"column {key_col!r} not found in any version's schema of {table_dir}"
        )

    # ---- 1. detect: one single-column scan per physical name ----------
    # (files whose footer lacks the column NULL-fill and cannot match)
    pnames_of: "dict[str, list[str]]" = {}
    for pname in sorted(phys_names):
        hits = (
            spark.read.schema(StructType([StructField(pname, key_type, True)]))
            .parquet(*sorted(all_files))
            .select(
                F.col("_metadata.file_path").alias("__fp"),
                F.col(pname).alias("__k"),
            )
            .filter(F.col("__k").isin(values))
            .select("__fp")
            .distinct()
            .collect()
        )
        for r in hits:
            pnames_of.setdefault(r[0].removeprefix("file:"), []).append(pname)
    # a table hive-partitioned ON the key stores it in the PATH, not the
    # payload — the scan above cannot see it.  Those files are detected
    # driver-side from the manifests' recorded partition values, and
    # since every row of such a file shares the key value, the file
    # DROPS ENTIRELY (no rewrite; its DV entries vanish with it).  The
    # match uses str(value) — the exact path-string contract of
    # snapshot_read_pruned.
    str_values = {str(v) for v in values}
    dropped_whole: "set[str]" = set()
    for v in sorted(manifests):
        parts_map = manifests[v].get("partitions") or {}
        for f, pv in parts_map.items():
            for pname in phys_names | {key_col}:
                if pv.get(pname) in str_values and f not in pnames_of:
                    dropped_whole.add(f)
    affected = sorted(pnames_of)
    if not affected and not dropped_whole:
        return {
            "files_rewritten": 0,
            "files_dropped": 0,
            "rows_purged": 0,
            "versions_rewritten": [],
        }

    # ---- 2. rewrite the affected files: ONE job per (footer schema,
    # basePath) group, not one per file — at 100 TB a subject can touch
    # hundreds of files, and a driver loop of per-file jobs would
    # serialize them.  partitionBy on a per-source-file id writes each
    # input file's survivors to its own output file in the same task
    # (the repartition hashes on __fp, so a file's rows never split),
    # preserving original row order via the in-partition sort.
    import hashlib

    import pyarrow.parquet as pq

    # declared type of every physical column across versions: a
    # path-derived partition column must be CAST to it before the
    # rewrite, because basePath reads type-INFER partition values
    # (string year '1996' would land in the payload as INT32 and
    # every later declared-schema read of the file would fail)
    declared_phys_types: "dict[str, object]" = {}
    for v in sorted(manifests, reverse=True):
        m = manifests[v]
        mapping = m.get("column_mapping") or {}
        for fld in _schema_of(m).fields:
            declared_phys_types.setdefault(
                mapping.get(fld.name, fld.name), fld.dataType
            )

    def _group_read(base: "str | None", files: "list[str]", footer_names):
        rd = spark.read
        if base is not None:
            # partition values live in the PATH: basePath materializes
            # them as columns, and the rewritten file carries them in
            # the payload instead (its manifest entries lose the base,
            # so readers take the payload route)
            rd = rd.option("basePath", base)
        full = rd.parquet(*sorted(files))
        path_cols = [c for c in full.columns if c not in footer_names]
        casts = {
            c: F.col(c).cast(declared_phys_types[c])
            for c in path_cols
            if c in declared_phys_types
        }
        if casts:
            full = full.withColumns(casts)
        full = full.withColumns(
            {
                "__fp": F.col("_metadata.file_path"),
                "__ri": F.col("_metadata.row_index"),
            }
        )
        cond = F.lit(False)
        # groups share a footer schema, so every file's physical key
        # name(s) resolve in every group member
        for pname in sorted({p for f in files for p in pnames_of[f]}):
            cond = cond | F.coalesce(F.col(pname).isin(values), F.lit(False))
        return full.filter(~cond)

    groups: "dict[tuple, list[str]]" = {}
    footer_names_of: "dict[tuple, set]" = {}
    rows_before = 0
    for f in affected:
        schema_arrow = pq.read_schema(f)
        gkey = (base_by_file.get(f), str(schema_arrow))
        groups.setdefault(gkey, []).append(f)
        footer_names_of[gkey] = set(schema_arrow.names)
        rows_before += pq.ParquetFile(f).metadata.num_rows
    group_items = sorted(groups.items(), key=lambda kv: (kv[0][0] or "", kv[0][1]))
    out_dir = os.path.join(table_dir, DATA_DIR, "purge-" + uuid.uuid4().hex[:12])
    for gkey, files in group_items:
        (
            _group_read(gkey[0], files, footer_names_of[gkey])
            .withColumn("__pf", F.md5(F.col("__fp")))
            .repartition(F.col("__fp"))
            # sort ON the partition id (not __fp): the dynamic-partition
            # writer requires ordering by __pf and would otherwise
            # insert its OWN sort, whose tie order within a file is not
            # guaranteed — scrambling physical row order and breaking
            # the DV remap.  (__pf, __ri) satisfies the requirement, so
            # no extra sort lands and file order stays = __ri order.
            .sortWithinPartitions("__pf", "__ri")
            .drop("__fp", "__ri")
            .write.mode("append")
            .partitionBy("__pf")
            .parquet(out_dir)
        )
    # map each source file to its rewritten output (absent = every row
    # of the file was purged: the file drops out of the manifests)
    new_path_of: "dict[str, str]" = {}
    rows_after = 0
    for f in affected:
        pf_dir = os.path.join(
            out_dir,
            "__pf=" + hashlib.md5(("file:" + f).encode()).hexdigest(),
        )
        if not os.path.isdir(pf_dir):
            continue
        parts = [x for x in os.listdir(pf_dir) if x.endswith(".parquet")]
        if len(parts) != 1:  # pragma: no cover - one task per __fp contract
            raise RuntimeError(f"expected one rewritten file in {pf_dir}")
        new_path_of[f] = os.path.join(pf_dir, parts[0])
        rows_after += pq.ParquetFile(new_path_of[f]).metadata.num_rows
    for f in dropped_whole:  # whole-file drops: every row is a subject
        rows_before += pq.ParquetFile(f).metadata.num_rows
    rows_purged = rows_before - rows_after
    affected_uris = ["file:" + f for f in sorted(set(affected) | dropped_whole)]

    # ---- 3. remap per-version deletion vectors -------------------------
    # the remap table (old (file, row_index) -> new) is built lazily,
    # only when some version's vectors actually reference an affected
    # file: one distributed window over a second pass of the survivors
    remap = None

    def _remap():
        nonlocal remap
        if remap is None:
            if not group_items:  # only whole-file drops: nothing remaps
                remap = spark.createDataFrame(
                    [], "__fp string, __ri bigint, __new_ri bigint, __new_fp string"
                )
                return remap
            parts = []
            for gkey, files in group_items:
                parts.append(
                    _group_read(gkey[0], files, footer_names_of[gkey]).select(
                        "__fp",
                        "__ri",
                        (
                            F.row_number().over(
                                Window.partitionBy("__fp").orderBy("__ri")
                            )
                            - 1
                        ).alias("__new_ri"),
                    )
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            uri_map = spark.createDataFrame(
                [("file:" + f, "file:" + nf) for f, nf in new_path_of.items()],
                ["__fp", "__new_fp"],
            )
            remap = df.join(F.broadcast(uri_map), "__fp", "inner")
        return remap

    new_dv_of: "dict[int, list[str]]" = {}
    for v in sorted(manifests):
        dv_dirs = manifests[v].get("dv_dirs") or []
        if not dv_dirs:
            continue
        dv = spark.read.parquet(*dv_dirs).select("__fp", "__ri").distinct()
        touched = dv.filter(F.col("__fp").isin(affected_uris))
        if touched.limit(1).count() == 0:
            continue
        untouched_dv = dv.filter(~F.col("__fp").isin(affected_uris))
        moved = touched.join(_remap(), ["__fp", "__ri"], "inner").select(
            F.col("__new_fp").alias("__fp"), F.col("__new_ri").alias("__ri")
        )
        new_dv_dir = os.path.join(
            table_dir, "_dv", "purge-" + uuid.uuid4().hex[:12]
        )
        untouched_dv.unionByName(moved).write.mode("error").parquet(new_dv_dir)
        new_dv_of[v] = [new_dv_dir]

    # ---- 4. republish manifests in place -------------------------------
    affected_set = set(affected) | dropped_whole

    # data-skipping stats for the rewritten files: ONE batched per-file
    # min/max scan per needed physical column (explicit single-column
    # schema, so heterogeneous footers can share the scan)
    stats_needs: "dict[tuple[str, str], set[str]]" = {}
    stats_types: "dict[tuple[str, str], object]" = {}
    for v in sorted(manifests):
        m = manifests[v]
        stats_col = m.get("stats_col")
        if stats_col is None or not (set(m["files"]) & affected_set):
            continue
        phys_col = (m.get("column_mapping") or {}).get(stats_col, stats_col)
        sch = _schema_of(m)
        ftype = next(
            (fl.dataType for fl in sch.fields if fl.name == stats_col), None
        )
        if ftype is None:
            continue
        for f in affected_set & set(m.get("stats") or {}):
            if f in new_path_of:
                gkey = (phys_col, ftype.json())
                stats_needs.setdefault(gkey, set()).add(new_path_of[f])
                stats_types[gkey] = ftype
    stats_cache: "dict[tuple[str, str], list | None]" = {}
    for gkey, paths in sorted(stats_needs.items()):
        phys_col = gkey[0]
        one_col = StructType([StructField(phys_col, stats_types[gkey], True)])
        for r in (
            spark.read.schema(one_col)
            .parquet(*sorted(paths))
            .groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(F.min(phys_col).alias("mn"), F.max(phys_col).alias("mx"))
            .collect()
        ):
            p = r["__fp"].removeprefix("file:")
            ok = all(isinstance(x, (int, float, str)) for x in (r["mn"], r["mx"]))
            stats_cache[(p, phys_col)] = [r["mn"], r["mx"]] if ok else None

    versions_rewritten = []
    for v in sorted(manifests):
        m = manifests[v]
        file_hit = bool(set(m["files"]) & affected_set)
        if not file_hit and v not in new_dv_of:
            continue
        if file_hit:
            # replaced 1:1 where survivors exist; a fully-purged file
            # simply drops out of the version
            m["files"] = [
                new_path_of[f] if f in new_path_of else f
                for f in m["files"]
                if f not in affected_set or f in new_path_of
            ]
            stats = m.get("stats") or {}
            stats_col = m.get("stats_col")
            for f in affected_set & set(stats):
                stats.pop(f)
                if stats_col is not None and f in new_path_of:
                    phys_col = (m.get("column_mapping") or {}).get(
                        stats_col, stats_col
                    )
                    st = stats_cache.get((new_path_of[f], phys_col))
                    if st is not None:
                        stats[new_path_of[f]] = st
            # conservative drops: every consumer treats a missing entry
            # as "must scan", so pruning only weakens
            for key in ("partitions", "bases"):
                d = m.get(key)
                if d:
                    for f in affected_set & set(d):
                        d.pop(f)
            cs = m.get("col_stats")
            if cs:
                for col, per in cs.items():
                    for f in affected_set & set(per):
                        per.pop(f)
            bloom = m.get("bloom")
            if bloom:
                for f in affected_set & set(bloom.get("filters", {})):
                    bloom["filters"].pop(f)
            cl = m.get("clustered")
            if cl and cl.get("files"):
                cl["files"] = [f for f in cl["files"] if f not in affected_set]
            # ADD COLUMN pre-file sets follow the rewrite: the purge
            # copies the FOOTER schema, so a file that lacked an added
            # column still lacks it — its new path must stay in the
            # fill set or the default silently turns NULL
            for ent in (m.get("initial_defaults") or {}).values():
                ent["files"] = [
                    new_path_of[f] if f in new_path_of else f
                    for f in ent["files"]
                    if f not in affected_set or f in new_path_of
                ]
        if v in new_dv_of:
            m["dv_dirs"] = new_dv_of[v]
        m["purged"] = (m.get("purged") or []) + [
            {"key_col": key_col, "n_values": len(values), "at": time.time()}
        ]
        final = _manifest_path(table_dir, v)
        tmp = f"{final}.{uuid.uuid4().hex[:12]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, final)  # in-place history rewrite, intentional
        versions_rewritten.append(v)

    if current_version(table_dir) != head:
        raise SnapshotConflict(
            f"writer committed past v{head} during the purge of {table_dir}; "
            "quiesce writers and re-run (completed rewrites are consistent)"
        )
    return {
        "files_rewritten": len(affected),
        "files_dropped": len(dropped_whole) + (len(affected) - len(new_path_of)),
        "rows_purged": rows_purged,
        "versions_rewritten": versions_rewritten,
    }


# ---- optimistic transactions: append rebase ----------------------------------
#
# _commit_manifest is a compare-and-swap (os.link fails if the version
# exists), which gives LOST-UPDATE safety but makes every loser replay
# its whole write.  Delta/Iceberg layer a transaction protocol on top:
# a commit that lost the race re-reads the log, checks that the
# intervening commits do not CONFLICT with what it did, and re-commits
# at the next version without redoing the data work.  snapshot_append is
# that protocol for blind appends: they commute with each other and with
# any commit that keeps the table's metadata stable, so a losing appender
# can always rebase — the data files written once stay valid, only the
# manifest is rebuilt against the new head (reference: delta-io/delta
# PROTOCOL.md "Transaction Identifiers" / Iceberg's fast-append
# commit.retry).


class SnapshotConflict(Exception):
    """A concurrent commit invalidated this transaction's plan — the
    table's metadata changed (schema / column mapping / retired names)
    or a file this transaction rewrote was removed by another writer.
    The exception message names the offending versions; replay the
    operation from the current head."""


def snapshot_append(
    df: DataFrame,
    table_dir: str,
    stats_col: "str | None" = None,
    constraints: "list[str] | None" = None,
    max_retries: int = 10,
    txn_app: "str | None" = None,
    txn_version: "int | None" = None,
) -> int:
    """Append `df`'s rows as the next version, auto-rebasing on races.

    The data files are written ONCE; if another writer commits first,
    only the manifest is rebuilt against the new head and the commit is
    retried (appends commute).  The rebase is refused with
    :class:`SnapshotConflict` when an intervening commit changed what
    the written files depend on — the schema (field names/types), the
    column mapping (files already carry this plan's physical names), or
    the retired-physical tombstones (a new tombstone could make these
    columns hijack stale bytes).  Constraints and per-file stats are
    computed once, against this append's files only.

    N concurrent appenders therefore produce exactly N new versions in
    some serial order, every row exactly once — the Iceberg fast-append
    guarantee — at the cost of one manifest re-read per lost race
    instead of one table rewrite.

    ``txn_app``/``txn_version``: idempotent writes (Delta's transaction
    identifiers).  The manifest records, per application id, the highest
    committed transaction version; an append whose ``txn_version`` is
    <= the recorded one is a REPLAY and returns the current version
    without writing anything.  Because the marker commits in the SAME
    atomic manifest link as the data, there is no marker-vs-data crash
    window — a streaming foreachBatch that passes its batchId here is
    exactly-once end to end (:func:`flow_spark.streaming.sinks
    .append_sink_batch`).  The check re-runs on every commit attempt, so a
    race between two replays of the same batch admits exactly one.
    """
    from pyspark.sql import functions as F

    if (txn_app is None) != (txn_version is None):
        raise ValueError("txn_app and txn_version must be set together")

    def _is_replay(head: "dict | None") -> bool:
        if txn_app is None or head is None:
            return False
        last = (head.get("txns") or {}).get(txn_app)
        return last is not None and int(last) >= int(txn_version)

    base_version, base = _head(table_dir, empty_ok=True)
    if _is_replay(base):
        return base_version
    if stats_col is None:
        # inherit the table's pruning index by default: a streaming
        # ingest that never passes stats_col must not silently strip
        # the per-file [min,max] entries MERGE pruning depends on
        stats_col = (base or {}).get("stats_col")
    mapping = (base or {}).get("column_mapping") or {}
    mapping = {l: p for l, p in mapping.items() if l in df.columns}
    retired = set((base or {}).get("retired_physical") or [])

    def _schema_sig(schema_json: str) -> "list[tuple[str, str]]":
        from pyspark.sql.types import StructType as _ST

        st = _ST.fromJson(json.loads(schema_json))
        return [(f.name, f.dataType.simpleString()) for f in st.fields]

    if base is not None and _schema_sig(base["schema"]) != _schema_sig(
        df.schema.json()
    ):
        raise ValueError(
            "snapshot_append requires the exact table schema "
            f"(table: {_schema_sig(base['schema'])}, "
            f"append: {_schema_sig(df.schema.json())}); evolve the "
            "schema with snapshot_write instead"
        )
    hijack = sorted(c for c in df.columns if mapping.get(c, c) in retired)
    if hijack:
        raise ValueError(
            f"columns {hijack} match the physical (on-disk) name of a "
            "retired column still present in table files — rename or "
            "full-rewrite first"
        )

    # -- the write happens exactly once ----------------------------------
    phys_df = df.withColumnsRenamed(dict(mapping)) if mapping else df
    write_dir = os.path.join(table_dir, DATA_DIR, uuid.uuid4().hex[:12])
    phys_df.write.mode("error").parquet(write_dir)
    files = sorted(
        os.path.join(write_dir, f)
        for f in os.listdir(write_dir)
        if f.endswith(".parquet")
    )
    # persistent table constraints enforce on appends too
    constraints = list(
        dict.fromkeys(
            [*((base or {}).get("constraints") or []), *(constraints or [])]
        )
    )
    if constraints and files:
        spark = df.sparkSession
        chk = spark.read.parquet(*files)
        if mapping:
            chk = chk.withColumnsRenamed(
                {phys: logical for logical, phys in mapping.items()}
            )
        counts = chk.agg(
            *[
                F.sum(
                    F.when(F.expr(c).eqNullSafe(F.lit(True)), 0).otherwise(1)
                ).alias(f"c{i}")
                for i, c in enumerate(constraints)
            ]
        ).collect()[0]
        violated = {
            constraints[i]: int(counts[i])
            for i in range(len(constraints))
            if counts[i]
        }
        if violated:
            raise ConstraintViolation(
                f"append rejected, violating rows per constraint: {violated}"
            )
    own_stats: "dict[str, list]" = {}
    phys_stats_col = mapping.get(stats_col, stats_col)
    if stats_col is not None and files:
        footer = _footer_stats(files, phys_stats_col, phys_df.schema)
        if footer is not None:
            own_stats = footer
        else:
            spark = df.sparkSession
            for r in (
                spark.read.parquet(*files)
                .groupBy(F.col("_metadata.file_path").alias("__fp"))
                .agg(
                    F.min(phys_stats_col).alias("mn"),
                    F.max(phys_stats_col).alias("mx"),
                )
                .collect()
            ):
                if all(isinstance(v, (int, float, str)) for v in (r[1], r[2])):
                    own_stats[r[0].removeprefix("file:")] = [r[1], r[2]]

    # -- commit loop: rebuild the manifest against the current head ------
    for _ in range(max(1, max_retries)):
        head_version, head = _head(table_dir, empty_ok=True)
        if _is_replay(head):
            # another writer committed this same transaction while we
            # were writing: our files are unreferenced orphans (vacuum
            # sweeps them), the table already has the rows exactly once
            return head_version
        if head is not None:
            if _schema_sig(head["schema"]) != _schema_sig(df.schema.json()):
                raise SnapshotConflict(
                    f"concurrent commit v{head_version} changed the table "
                    "schema under this append — replay from the new head"
                )
            if (head.get("column_mapping") or {}) != (
                (base or {}).get("column_mapping") or {}
            ):
                raise SnapshotConflict(
                    f"concurrent commit v{head_version} changed the column "
                    "mapping; this append's files carry the old physical "
                    "names — replay from the new head"
                )
            head_retired = set(head.get("retired_physical") or [])
            hijack = sorted(
                c for c in df.columns if mapping.get(c, c) in head_retired
            )
            if hijack:
                raise SnapshotConflict(
                    f"concurrent commit v{head_version} retired physical "
                    f"names {hijack} that this append's columns would "
                    "hijack — replay from the new head"
                )
            unchecked = [
                c
                for c in (head.get("constraints") or [])
                if c not in constraints
            ]
            if unchecked:
                raise SnapshotConflict(
                    f"concurrent commit v{head_version} declared "
                    f"constraints {unchecked} this append's rows were "
                    "never validated against — replay from the new head"
                )
        head_files = list((head or {}).get("files") or [])
        stats: "dict[str, list]" = {}
        head_stats_col = (head or {}).get("stats_col")
        if stats_col is not None and head_stats_col == stats_col:
            # same index column: head files keep their pruning entries
            stats.update((head or {}).get("stats") or {})
        stats.update(own_stats)
        partitions, bases = _inherited_layout(head, head_files)
        manifest = {
            "files": head_files + files,
            "schema": df.schema.json(),
            "stats": stats,
            "stats_col": stats_col,
            "partitions": partitions,
            "bases": bases,
        }
        if txn_app is not None:
            manifest["txns"] = {txn_app: int(txn_version)}
        if head and head.get("col_stats"):
            # secondary per-column indexes survive for head files only —
            # this append's files have no entries and stay candidates
            manifest["col_stats"] = head["col_stats"]
        if mapping:
            manifest["column_mapping"] = mapping
        try:
            return _commit(table_dir, head_version, manifest)
        except ConcurrentSnapshotWrite:
            continue
    raise ConcurrentSnapshotWrite(
        f"append to {table_dir} lost {max_retries} commit races — raise "
        "max_retries or reduce writer contention"
    )


def snapshot_stats_agg(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: "int | None" = None,
) -> DataFrame:
    """COUNT(*)/MIN/MAX of ``col`` answered from file METADATA alone.

    The lakehouse shortcut Delta/Iceberg expose as metadata-only query
    answering: a manifest lists the version's files, each parquet
    footer carries exact row counts and (for integer columns) exact
    min/max — so the three aggregates over 100 TB are a driver-side
    walk of footers, zero data bytes read, no Spark job.

    Falls back to the real scan (``snapshot_read`` + aggregate, still
    one job with full pushdown) whenever metadata cannot PROVE the
    answer: deletion vectors in force (footer counts ignore deletes),
    a non-integer column (string footer stats may be truncated, float
    stats lie under NaN), or any file with missing statistics.  The
    fast path and the fallback return identical values by construction;
    ``tests/test_snapshots.py`` asserts both the equality and that the
    fast path runs zero Spark jobs.

    Returns a 1-row DataFrame ``(n_rows BIGINT, mn BIGINT, mx BIGINT)``.
    """
    from pyspark.sql import functions as F

    version, manifest = _head(table_dir, version)
    files = manifest.get("files") or []
    mapping = manifest.get("column_mapping") or {}
    phys_col = mapping.get(col, col)

    def _fallback() -> DataFrame:
        df = snapshot_read(spark, table_dir, version)
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(col).cast("long").alias("mn"),
            F.max(col).cast("long").alias("mx"),
        )

    schema = _schema_of(manifest)
    logical_type = next(
        (f.dataType.typeName() for f in schema.fields if f.name == col), None
    )
    if manifest.get("dv_dirs") or logical_type not in (
        "byte",
        "short",
        "integer",
        "long",
    ):
        return _fallback()

    import pyarrow.parquet as pq

    n_rows = 0
    mn = mx = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        if phys_col not in md.schema.names:
            return _fallback()  # physical layout drifted: let Spark prove it
        idx = md.schema.names.index(phys_col)
        for rg in range(md.num_row_groups):
            rg_md = md.row_group(rg)
            if rg_md.num_rows == 0:
                continue
            st = rg_md.column(idx).statistics
            if st is None or st.null_count is None:
                return _fallback()
            if st.null_count == rg_md.num_rows:
                continue  # all-null group: contributes rows, no min/max
            if not st.has_min_max:
                return _fallback()
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
    return spark.createDataFrame(
        [(n_rows, mn, mx)], "n_rows long, mn long, mx long"
    )


def snapshot_set_constraints(
    spark: SparkSession,
    table_dir: str,
    constraints: "list[str]",
) -> int:
    """Declare persistent CHECK constraints on the table (Delta's
    ``ALTER TABLE ADD CONSTRAINT``).

    The EXISTING rows are validated first — one multi-constraint
    aggregate scan of the current version, NULL results counting as
    violations like every other constraint check here — so a declared
    constraint is an invariant of the whole table, not just of future
    writes.  On success a metadata-only commit (same files, new
    manifest) records the constraint list; :func:`_commit_manifest`
    inherits it into every later commit and ``snapshot_write`` /
    ``snapshot_append`` enforce it on all new rows.  Raises
    :class:`ConstraintViolation` (no commit) if current rows violate.
    """
    from pyspark.sql import functions as F

    if not constraints:
        raise ValueError("constraints must be a non-empty list")
    version, manifest = _head(table_dir, empty_ok=True)
    if manifest is None:
        raise ValueError("cannot declare constraints on an empty table")
    merged = list(
        dict.fromkeys([*(manifest.get("constraints") or []), *constraints])
    )
    cur = snapshot_read(spark, table_dir, version)
    counts = cur.agg(
        *[
            F.sum(
                F.when(F.expr(c).eqNullSafe(F.lit(True)), 0).otherwise(1)
            ).alias(f"c{i}")
            for i, c in enumerate(merged)
        ]
    ).collect()[0]
    violated = {
        merged[i]: int(counts[i]) for i in range(len(merged)) if counts[i]
    }
    if violated:
        raise ConstraintViolation(
            f"constraint declaration rejected, violating rows: {violated}"
        )
    return _commit(table_dir, version, {**manifest, "constraints": merged})


def snapshot_drop_constraints(
    table_dir: str,
    constraints: "list[str] | None" = None,
) -> int:
    """Remove persistent constraints (all of them, or just the listed
    ones) via a metadata-only commit.  The explicit empty list in the
    new manifest overrides the inheritance in :func:`_commit_manifest`,
    so later commits stop enforcing."""
    version, manifest = _head(table_dir, empty_ok=True)
    if manifest is None:
        raise ValueError("empty table")
    have = manifest.get("constraints") or []
    keep = (
        [] if constraints is None else [c for c in have if c not in constraints]
    )
    return _commit(table_dir, version, {**manifest, "constraints": keep})


# ---- named refs (Iceberg tags) ----------------------------------------------

TAGS_DIR = "_tags"


def snapshot_tag(table_dir: str, name: str, version: "int | None" = None) -> int:
    """Pin a named, immutable ref to a version (Iceberg's tags).

    ``snapshot_read(..., version="train-2026-08")`` resolves the tag,
    and :func:`snapshot_vacuum` never collects a tagged version — the
    durable form of "the model was trained on dataset v3".  Creation is
    an atomic create-if-absent (the manifest-commit trick), so two
    racers cannot silently repoint a ref; re-tagging requires an
    explicit :func:`snapshot_drop_tag` first.  Returns the pinned
    version.
    """
    if "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name: {name!r}")
    if version is None:
        version = current_version(table_dir)
    if version < 1 or not os.path.exists(_manifest_path(table_dir, version)):
        raise ValueError(f"no committed version {version} to tag")
    tdir = os.path.join(table_dir, TAGS_DIR)
    os.makedirs(tdir, exist_ok=True)
    final = os.path.join(tdir, f"{name}.json")
    tmp = f"{final}.{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "created_at": time.time()}, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.unlink(tmp)
        with open(final) as fh:
            held = json.load(fh)["version"]
        raise ValueError(
            f"tag {name!r} already pins v{held}; drop it first "
            "(snapshot_drop_tag)"
        ) from None
    os.unlink(tmp)
    return version


def snapshot_tags(table_dir: str) -> "dict[str, int]":
    """All tags as {name: version}."""
    tdir = os.path.join(table_dir, TAGS_DIR)
    if not os.path.isdir(tdir):
        return {}
    out: "dict[str, int]" = {}
    for f in os.listdir(tdir):
        if f.endswith(".json"):
            with open(os.path.join(tdir, f)) as fh:
                out[f[:-5]] = int(json.load(fh)["version"])
    return out


def snapshot_drop_tag(table_dir: str, name: str) -> int:
    """Remove a tag; the version it pinned becomes collectible by the
    next vacuum (if outside the retention window).  Returns the version
    the tag held."""
    final = os.path.join(table_dir, TAGS_DIR, f"{name}.json")
    try:
        with open(final) as fh:
            held = int(json.load(fh)["version"])
    except FileNotFoundError:
        raise ValueError(f"no tag {name!r}") from None
    os.unlink(final)
    return held


def snapshot_resolve(table_dir: str, version: "int | str | None") -> "int | None":
    """Resolve a version spec: int passes through, a string resolves as
    a tag name, None stays None (latest)."""
    if isinstance(version, str):
        tags = snapshot_tags(table_dir)
        if version not in tags:
            raise ValueError(
                f"no tag {version!r} on {table_dir} (tags: {sorted(tags)})"
            )
        return tags[version]
    return version


def snapshot_read_hidden(
    spark: SparkSession,
    table_dir: str,
    equals: "dict[str, object]",
    version: "int | str | None" = None,
) -> "tuple[DataFrame, int, int]":
    """Point-read with HIDDEN-partition pruning: predicates on SOURCE
    columns, pruning on the transform-derived partition values.

    For each ``(source_col, value)``, every transform the manifest
    records over that source contributes a partition predicate
    (``o_orderdate = '1996-05-14'`` prunes on ``o_orderdate_year =
    '1996'``; ``o_custkey = 371`` prunes on ``o_custkey_bucket =
    pmod(hash('371'), N)`` — the driver-side hash twin is bit-identical
    to the write-side column).  Raw-column spec entries prune directly.
    Files written under a spec that lacks the column stay candidates
    (partition evolution semantics, as in :func:`snapshot_read_pruned`),
    and the exact row filter ALWAYS applies afterwards — pruning only
    shrinks the input split set, it never decides membership.

    Raw-column (untransformed) spec entries prune by the EXACT
    path-string form of the value — ``str(value)`` must equal the hive
    dir value, the same contract as :func:`snapshot_read_pruned`; pass
    ints/strings, not timestamps, for raw entries.

    Returns (df, n_files_selected, n_files_total).
    """
    from pyspark.sql import functions as F

    _, manifest = _head(table_dir, snapshot_resolve(table_dir, version))
    transforms = manifest.get("partition_transforms") or {}
    parts = manifest.get("partitions", {})
    # source predicate -> derived partition predicates
    derived_equals: "dict[str, str]" = {}
    for src, value in equals.items():
        for name, tdef in transforms.items():
            if tdef["source"] == src:
                ent = {"kind": tdef["kind"], "n": tdef["n"], "source": src}
                derived_equals[name] = _transform_value(ent, value)
        # a raw spec entry prunes on the source column itself
        derived_equals.setdefault(src, str(value))
    selected = [
        f
        for f in manifest["files"]
        if all(
            parts.get(f, {}).get(k, v) == v for k, v in derived_equals.items()
        )
    ]
    schema = _schema_of(manifest)
    if selected:
        df = _read_manifest_subset(spark, manifest, selected, schema)
    else:
        df = spark.createDataFrame([], schema)
    for src, value in equals.items():
        df = df.filter(F.col(src) == F.lit(value))
    return df, len(selected), len(manifest["files"])

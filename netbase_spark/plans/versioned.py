"""Snapshot-versioned parquet tables: the sandbox-faithful analog of
Iceberg snapshot checkpoints (the north star's resume primitive), built
from exactly the machinery a 100-TB table needs and nothing more.

Layout under one table directory:

    <table>/data/<uuid>-part-*.parquet   immutable data files
    <table>/_versions/v00000042.json     manifest: file list + stats
    <table>/_versions/CURRENT            atomic pointer (rename commit)

Semantics (each the small-scale twin of the Iceberg feature named):

- **fast append** — a new version's manifest lists the old files plus
  the new batch's files; no data file is ever rewritten or copied
  (snapshot commit is O(manifest), not O(table)).  The staged
  pipeline's hardlink publish (plans/table_io.link_partition_files)
  proved the same idea file-system-side; here the manifest carries it.
- **time travel** — ``read(spark, table, version=N)`` reads the exact
  file set of version N; old versions stay readable until expired.
- **rollback** — repoint CURRENT at an older manifest (O(1)).
- **idempotent commits** — ``append(..., batch_id=...)`` is a no-op if
  any manifest already recorded that batch_id: a Structured Streaming
  ``foreachBatch`` replay after a mid-commit crash cannot double-append
  (the engine replays with the same batch_id — the Iceberg
  write.wap/branch-commit equivalent for this loop).
- **expire** — drop manifests older than N versions and delete data
  files no surviving manifest references.

Writer discipline: ONE writer at a time (Structured Streaming's
foreachBatch guarantees this for the construction loop; a cluster
deployment gets multi-writer safety from a real catalog's atomic swap
— that, not the data path, is what the Iceberg runtime adds).  Readers
never lock: they resolve CURRENT once and read an immutable file list.
Commit order within append: data files first, manifest second, CURRENT
pointer last (os.replace, atomic on POSIX) — a crash between any two
steps leaves the previous version intact and at worst orphans data
files, which ``expire_versions`` reclaims.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _vdir(table: str) -> str:
    return os.path.join(table, "_versions")


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_vdir(table), f"v{version:08d}.json")


def current_version(table: str) -> int | None:
    """Committed version number, or None for a nonexistent table."""
    cur = os.path.join(_vdir(table), "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as fh:
        return int(fh.read().strip())


def read_manifest(table: str, version: int | None = None) -> dict:
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {table}")
    with open(_manifest_path(table, v)) as fh:
        return json.load(fh)


def _schema_json(df: DataFrame) -> str:
    return df.schema.json()


def _write_batch_files(df: DataFrame, table: str) -> list[str]:
    """Materialize a batch as immutable uniquely-named files under
    data/ via a staging write + hardlink publish; returns the new
    relative file names."""
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir, exist_ok=True)
    prefix = uuid.uuid4().hex[:8]
    names = []
    for f in sorted(os.listdir(staging)):
        if not (f.startswith("part-") and f.endswith(".parquet")):
            continue
        name = f"{prefix}-{f}"
        os.link(os.path.join(staging, f), os.path.join(data_dir, name))
        names.append(name)
    shutil.rmtree(staging)
    return names


def _commit(table: str, manifest: dict) -> int:
    """Write the manifest then atomically advance CURRENT."""
    os.makedirs(_vdir(table), exist_ok=True)
    v = manifest["version"]
    with open(_manifest_path(table, v), "w") as fh:
        json.dump(manifest, fh)
    tmp = os.path.join(_vdir(table), f".CURRENT.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, os.path.join(_vdir(table), "CURRENT"))
    return v


def create(df: DataFrame, table: str) -> int:
    """Initialize a versioned table at ``table`` as version 0."""
    if current_version(table) is not None:
        raise FileExistsError(f"versioned table already exists at {table}")
    files = _write_batch_files(df, table)
    return _commit(
        table,
        {
            "version": 0,
            "files": files,
            "batch_ids": [],
            "parent": None,
            "schema": _schema_json(df),
        },
    )


def append(df: DataFrame, table: str, batch_id: str | int | None = None) -> int:
    """Fast-append ``df`` as a new version; returns the committed
    version (or the current one unchanged when ``batch_id`` was already
    committed — replay idempotence)."""
    man = read_manifest(table)
    committed = set(man.get("batch_ids") or [])
    if batch_id is not None and str(batch_id) in committed:
        return man["version"]
    files = _write_batch_files(df, table)
    new = {
        "version": _next_version(table),
        "files": man["files"] + files,
        "batch_ids": sorted(committed | ({str(batch_id)} if batch_id is not None else set())),
        "parent": man["version"],
        "schema": man.get("schema") or _schema_json(df),
    }
    return _commit(table, new)


def _next_version(table: str) -> int:
    """Next version number: must exceed EVERY existing manifest, not
    just the parent — after a rollback, parent+1 would overwrite the
    rolled-back-over manifest and clobber its lineage."""
    existing = [
        int(f[1:9]) for f in os.listdir(_vdir(table))
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(existing) + 1


def replace(df: DataFrame, table: str, batch_id: str | int | None = None) -> int:
    """Commit ``df`` as a new version whose file list is ONLY the new
    files — a full-table rewrite commit (the Iceberg
    overwrite/rewrite-snapshot analog).  Used when a late merge
    re-canonicalizes existing rows (streaming/construct.apply_merges):
    the old version's files are untouched and stay time-travel readable
    until ``expire_versions``.  Same ``batch_id`` replay idempotence as
    :func:`append`."""
    man = read_manifest(table)
    committed = set(man.get("batch_ids") or [])
    if batch_id is not None and str(batch_id) in committed:
        return man["version"]
    files = _write_batch_files(df, table)
    new = {
        "version": _next_version(table),
        "files": files,
        "batch_ids": sorted(committed | ({str(batch_id)} if batch_id is not None else set())),
        "parent": man["version"],
        "schema": _schema_json(df),
    }
    return _commit(table, new)


def replace_files(
    df: DataFrame,
    table: str,
    keep_files: list[str],
    batch_id: str | int | None = None,
) -> int:
    """Surgical rewrite commit: the new version's file list is
    ``keep_files`` (untouched data files, carried over by NAME — never
    copied or rewritten) plus ``df``'s freshly-written files — the
    Iceberg overwrite-files/rewrite-files analog.  This is what makes a
    delta maintenance pass cheap at scale: a full :func:`replace`
    re-WRITES the whole table even when only a few rows changed, while
    this commits O(touched files) new bytes and an O(manifest) swap.
    Same ``batch_id`` replay idempotence as :func:`append`."""
    man = read_manifest(table)
    committed = set(man.get("batch_ids") or [])
    if batch_id is not None and str(batch_id) in committed:
        return man["version"]
    unknown = set(keep_files) - set(man["files"])
    if unknown:
        raise ValueError(
            f"keep_files not in the current version: {sorted(unknown)[:5]}"
        )
    files = _write_batch_files(df, table)
    new = {
        "version": _next_version(table),
        "files": sorted(keep_files) + files,
        "batch_ids": sorted(committed | ({str(batch_id)} if batch_id is not None else set())),
        "parent": man["version"],
        "schema": man.get("schema") or _schema_json(df),
    }
    return _commit(table, new)


def rewrite_data_files(
    spark: SparkSession,
    table: str,
    cluster_by: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
    batch_id: str | int | None = None,
) -> int:
    """Layout maintenance — the Iceberg ``rewrite_data_files`` analog:
    rewrite the CURRENT version's rows into a fresh, bin-packed,
    key-clustered file set and commit it as a :func:`replace` snapshot.
    The row multiset is unchanged (pure maintenance; time travel still
    reads the old layout); what changes is the LAYOUT:

    - ``cluster_by`` columns drive a ``repartitionByRange`` + in-file
      sort, so each key's rows land in O(1) files with tight parquet
      min/max stats — this is what keeps the surgical merge path
      (streaming/construct._surgical_recanonicalize) touching O(touched)
      files: its isin predicate prunes on exactly those stats, and
      streamed appends decay that property over time (every appended
      batch scatters new rows for old keys into new files);
    - ``target_file_bytes`` bin-packs: the output file count is
      ceil(current data bytes / target), so a thousand small appended
      files compact into a few right-sized ones (small-file compaction,
      the other half of the Iceberg action).

    Runs as ONE writer (same discipline as every commit here); readers
    of older versions are unaffected, and ``expire_versions`` later
    reclaims the scattered layout's files.  Returns the new version."""
    man = read_manifest(table)
    committed = set(man.get("batch_ids") or [])
    if batch_id is not None and str(batch_id) in committed:
        return man["version"]
    df = read(spark, table)
    data_dir = os.path.join(table, "data")
    total_bytes = sum(
        os.path.getsize(os.path.join(data_dir, f)) for f in man["files"]
    )
    n_files = max(min_files, -(-total_bytes // max(1, target_file_bytes)))
    if cluster_by:
        packed = df.repartitionByRange(n_files, *cluster_by)
        packed = packed.sortWithinPartitions(*cluster_by)
    else:
        packed = df.coalesce(n_files) if df.rdd.getNumPartitions() > n_files \
            else df.repartition(n_files)
    return replace(packed, table, batch_id=batch_id)


def read(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """DataFrame over the exact file set of ``version`` (default
    CURRENT).  An empty file list (a version committed from a DataFrame
    whose write produced zero part files) yields an empty DataFrame with
    the manifest's recorded schema — every commit path records one, so
    no version is ever unreadable."""
    from pyspark.sql.types import StructType

    man = read_manifest(table, version)
    paths = [os.path.join(table, "data", f) for f in man["files"]]
    if not paths:
        schema = man.get("schema")
        if schema is None:
            raise ValueError(
                f"version {man['version']} of {table} lists no files and "
                "predates schema-bearing manifests"
            )
        return spark.createDataFrame([], StructType.fromJson(json.loads(schema)))
    return spark.read.parquet(*paths)


def rollback(table: str, version: int) -> int:
    """Repoint CURRENT at an existing older version (O(1)); later
    versions remain on disk until ``expire_versions``."""
    if not os.path.exists(_manifest_path(table, version)):
        raise FileNotFoundError(f"no manifest for version {version} at {table}")
    man = read_manifest(table, version)
    _commit(table, man)
    return version


def expire_versions(
    table: str,
    keep: int = 2,
    keep_future: bool = True,
    staging_grace_secs: float = 3600.0,
) -> list[str]:
    """Drop all but the newest ``keep`` manifests at or below CURRENT
    and delete data files no surviving manifest references (orphans from
    crashed appends included).  Versions ABOVE current — the branch left
    behind by a :func:`rollback` — survive by default (``keep_future``;
    a user may intend to roll FORWARD to them); pass
    ``keep_future=False`` to reclaim that branch's disk.  A leftover
    ``_staging-*`` directory is removed only once its mtime is older
    than ``staging_grace_secs``: a fresh one is the normal state of an
    IN-FLIGHT append/replace commit by a concurrent caller (e.g. a
    streaming micro-batch committing while expiry runs), and the grace
    period keeps expiry from deleting it mid-write, which would crash or
    truncate that commit.  Returns the deleted data file names."""
    import time
    cur = current_version(table)
    if cur is None:
        return []
    versions = sorted(
        int(f[1:9]) for f in os.listdir(_vdir(table))
        if f.startswith("v") and f.endswith(".json")
    )
    survivors = [v for v in versions if v <= cur][-keep:]
    if keep_future:
        survivors += [v for v in versions if v > cur]
    live: set[str] = set()
    for v in survivors:
        live |= set(read_manifest(table, v)["files"])
    deleted = []
    data_dir = os.path.join(table, "data")
    for f in os.listdir(data_dir):
        if f not in live:
            os.remove(os.path.join(data_dir, f))
            deleted.append(f)
    for v in versions:
        if v not in survivors:
            os.remove(_manifest_path(table, v))
    now = time.time()
    for f in os.listdir(table):
        if f.startswith("_staging-"):
            path = os.path.join(table, f)
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue
            if age >= staging_grace_secs:
                shutil.rmtree(path, ignore_errors=True)
    return sorted(deleted)

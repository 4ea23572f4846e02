"""Snapshot-versioned parquet tables: the Iceberg commit protocol in
stdlib + parquet (the Iceberg jars are not shipped in this sandbox; the
LAYOUT and the atomicity argument are the published spec's, re-expressed).

Layout::

    table/
      data/<commit-uuid>/part-*.parquet   immutable data files
      _snapshots/v00001.json              manifest: full file list + meta

The COMMIT is the publication of the version manifest via ``os.link`` of
a fully-written, fsynced temp file — one atomic syscall that both CLAIMS
the version number (link fails with EEXIST if another writer got there
first) and PUBLISHES the complete manifest (a published manifest can
never be half-written).  Everything before it — the data files — is
invisible to readers, so a crash at any earlier point leaves the table
exactly at its previous snapshot; orphan data dirs are garbage, not
corruption (``vacuum`` removes them).  A writer that loses the claim
re-reads the new latest manifest and retries on the next version
(optimistic concurrency, Iceberg's commit loop).  Readers resolve
latest-manifest → explicit file list, so a concurrent commit can never
give them a torn view: snapshot isolation.

Why this matters: every table the engine publishes is one of these.
The extraction job (``run.py``) commits each run as ONE snapshot, and
that commit is the resume marker — a resumed run reads the last
committed snapshot (never a half-written append) while time travel keeps
every prior corpus state addressable for reproducing a training-data
cut.  Each curation/index table (``snapshot_cache.materialize``) is
served only once its first version is published, and a crashed build
leaves only an unreferenced ``data/<uuid>`` directory for ``vacuum``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

_MANIFEST_RE = re.compile(r"^v(\d{5})\.json$")

# legal widening promotions when an append's column type differs from the
# table's (Iceberg spec §Schemas: int→long, float→double); anything else
# is a schema conflict and raises
_WIDENINGS = {("integer", "long"), ("float", "double")}


class CommitConflict(RuntimeError):
    """Another writer claimed the version and retries were exhausted."""


def _nullable(dt):
    """Recursively drop NOT-NULL flags: parquet storage erases
    nullability, so manifests record (and reads reconcile against) the
    fully-nullable form — casting a round-tripped nullable struct to a
    NOT-NULL struct type is an AnalysisException."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType),
                                       True, f.metadata)
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType),
                       True)
    return dt


def _union_fields(a: StructType, b: StructType) -> StructType:
    """Union-by-name of two schemas (``a``'s order first); same name with
    different types resolves to the wider of a legal widening pair, else
    raises CommitConflict (the committer must re-run against the new
    snapshot)."""
    out = list(a.fields)
    by_name = {f.name: i for i, f in enumerate(out)}
    for g in b.fields:
        i = by_name.get(g.name)
        if i is None:
            by_name[g.name] = len(out)
            out.append(g)
        elif out[i].dataType != g.dataType:
            ta, tb = out[i].dataType.typeName(), g.dataType.typeName()
            if (ta, tb) in _WIDENINGS:
                out[i] = g
            elif (tb, ta) not in _WIDENINGS:
                raise CommitConflict(
                    f"schema conflict on column {g.name!r}: "
                    f"{out[i].dataType.simpleString()} vs "
                    f"{g.dataType.simpleString()}")
    return StructType(out)


def local_path(path: str) -> str:
    """``path``, refused (ValueError) if it is a URI: the commit is
    local-filesystem calls (``os.link``), so an ``s3://`` or ``hdfs://``
    table must fail before anything is written."""
    if urlparse(path).scheme:
        raise ValueError(f"{path}: URIs are not supported; snapshot tables "
                         f"need a local or shared POSIX path")
    return path


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = local_path(path).rstrip("/")
        self._snap_dir = os.path.join(self.path, "_snapshots")

    # ------------------------------------------------------------ reads
    def current_version(self) -> int:
        """Largest published manifest.  Publication is atomic (hard link
        of a complete file), so the max over a directory listing is a
        consistent commit point — no separate pointer file to get stuck
        between 'claimed' and 'current'.  0 for a table never committed
        to (its directory need not exist)."""
        try:
            names = os.listdir(self._snap_dir)
        except FileNotFoundError:
            return 0
        return max((int(m.group(1)) for m in map(_MANIFEST_RE.match, names)
                    if m), default=0)

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "files": [], "ts": 0.0, "op": "empty",
                    "parent": None, "n_files": 0}
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def read(self, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        if not m["files"]:
            raise ValueError(f"{self.path}: empty table at version "
                             f"{m['version']}")
        return self._read_files(m["files"], m["schema"])

    def versions(self) -> list[dict]:
        out = []
        for v in range(1, self.current_version() + 1):
            m = self.manifest(v)
            out.append({k: m[k] for k in ("version", "ts", "op", "parent",
                                          "n_files")})
        return out

    def as_of(self, ts: float) -> int:
        """Latest version committed at or before ``ts`` (time travel)."""
        best = 0
        for v in range(1, self.current_version() + 1):
            if self.manifest(v)["ts"] <= ts:
                best = v
        return best

    # ----------------------------------------------------------- writes
    def commit_append(self, df: DataFrame, retries: int = 10,
                      discard_if: Callable[[], bool] | None = None) -> int:
        """Append ``df`` as one atomic snapshot; returns the new version.

        Schema evolution (Iceberg add-column / null-fill semantics):
          * columns the table has but ``df`` lacks → written as typed
            NULLs (so every data file stays individually well-formed);
          * columns ``df`` adds → appended to the table schema; READS of
            older files surface them as NULLs via the manifest schema;
          * ``df`` column NARROWER than the table's (int vs long, float
            vs double) → cast up at write time;
          * ``df`` column WIDER than the table's → raises ValueError
            (in-place widening would leave old files un-mergeable by the
            parquet reader; do an explicit ``commit_overwrite`` of the
            re-cast table instead — one rewrite, as Iceberg's migration
            tooling does without its per-file schema resolution layer).

        ``discard_if``, when given, is called once ``df`` is written and
        before the commit; if it returns True the written files are
        deleted and nothing is published: the current version is
        returned.  It lets a caller decide from what the write itself
        observed (an ``Observation`` on ``df``) without a job before it.
        """
        aligned, merged = self._align(df, self._table_schema())
        files = self._write_data(aligned, discard_if)
        if files is None:
            return self.current_version()
        return self._rewrite(None, None, "append", retries, files, merged)

    def commit_overwrite(self, df: DataFrame, retries: int = 10) -> int:
        files = self._write_data(df)
        return self._commit(
            lambda parent: {"files": files,
                            "schema": _nullable(df.schema).jsonValue()},
            "overwrite", retries)

    def commit_delete(self, predicate, retries: int = 10) -> int:
        """Row-level DELETE WHERE ``predicate`` (str or Column) as one
        atomic snapshot — Iceberg's copy-on-write shape: only the data
        files that actually CONTAIN matching rows are rewritten (their
        surviving rows re-written to fresh files); untouched files are
        carried into the new manifest by reference.  At 100 TB a
        url-purge touches a vanishing fraction of files and the rewrite
        cost is proportional to those files, not the table.

        Semantics: rows where the predicate is NULL are KEPT (SQL DELETE
        three-valued logic).  Isolation: snapshot — the matching-file
        scan runs against the version current at call time; if a
        concurrent compact/overwrite/delete unpins any affected file
        before our commit lands, the commit raises ``CommitConflict``
        rather than resurrecting or double-deleting rows (re-run the
        delete against the new snapshot).  Concurrent APPENDs compose
        fine: their files are disjoint from ours and survive untouched
        (their rows were not visible to this delete's snapshot).

        Returns the new version — or the CURRENT version unchanged when
        no file contains a matching row (a no-op delete publishes no
        commit, like Iceberg)."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred, F.lit(False))
        return self._rewrite(lambda d: d.filter(hit),
                             lambda d: d.filter(~hit), "delete", retries)

    def commit_upsert(self, df: DataFrame, key: str,
                      retries: int = 10,
                      discard_if: Callable[[], bool] | None = None) -> int:
        """Replace the rows whose ``key`` occurs in ``df`` by ``df``'s rows,
        as ONE atomic snapshot: ``df`` is aligned (and ``discard_if``
        applied) as in ``commit_append``, and evaluated once — its keys
        are read back from its files; the replaced rows get
        ``commit_delete``'s copy-on-write and isolation."""
        aligned, merged = self._align(df, self._table_schema())
        files = self._write_data(aligned, discard_if)
        if files is None:
            return self.current_version()
        keys = self._read_files(files, merged.jsonValue()).select(key)
        return self._rewrite(lambda d: d.join(keys, key, "left_semi"),
                             lambda d: d.join(keys, key, "left_anti"),
                             "upsert", retries, files, merged)

    def _rewrite(self, match, keep, op: str, retries: int,
                 add_files: list[str] = (),
                 merged: StructType | None = None) -> int:
        """Copy-on-write: files holding a ``match`` row (if ``match`` is
        given) are rewritten to their ``keep`` rows, the rest carried by
        reference, and ``add_files`` (table schema ``merged``) join the
        snapshot."""
        m = self.manifest()
        schema_json = m.get("schema")    # None only for the empty table
        affected = set()
        if match is not None and m["files"]:
            full = self._read_files(m["files"], schema_json)
            hit = (match(full.withColumn("_sg_file", F.input_file_name()))
                   .select("_sg_file").distinct().collect())
            affected = {self._local_path(r["_sg_file"]) for r in hit}
        if not affected and merged is None:
            return m["version"]
        new_files = list(add_files)
        if affected:
            new_files += self._write_data(keep(self._read_files(
                sorted(affected), schema_json)))
        return self._replace(affected, new_files, op, retries, merged)

    def _replace(self, affected: set, new_files: list[str], op: str,
                 retries: int, merged: StructType | None = None) -> int:
        """The one commit core: the parent's files minus ``affected``
        plus ``new_files``, under the PARENT's schema (unioned with
        ``merged`` when the commit adds columns).  Every ``affected``
        file must still be pinned by the parent, else a concurrent
        compact/delete/overwrite unpinned it and publishing would
        duplicate or resurrect rows: CommitConflict."""
        def build(parent: dict) -> dict:
            if not affected <= set(parent["files"]):
                raise CommitConflict(
                    f"{self.path}: files rewritten by {op} were unpinned "
                    f"by a concurrent commit — re-run the {op}")
            schema = parent.get("schema")
            if merged is not None:
                # a rival append may have evolved the schema since our
                # read — union against the PARENT's recorded schema so
                # rival columns are never dropped
                schema = (merged if schema is None else _union_fields(
                    StructType.fromJson(schema), merged)).jsonValue()
            return {"files": [f for f in parent["files"]
                              if f not in affected] + new_files,
                    "schema": schema, "rewrote_files": len(affected) or None}
        return self._commit(build, op, retries)

    def compact(self, target_mb: float | None = None,
                retries: int = 10) -> int:
        """Rewrite data files into fewer, larger ones; prior snapshots
        stay readable because their manifests still pin the old
        (immutable) files.  Also homogenizes schema-evolved tables:
        every rewritten file carries the full current schema.

        With ``target_mb`` (Iceberg binPack shape): only files SMALLER
        than the target participate — they rewrite into
        ceil(total/target) outputs while already-large files carry by
        reference, so the rewrite cost is proportional to the
        small-file debt, not the table (at 100 TB a coalesce-everything
        compact is itself a full-table job; streaming micro-batch
        sinks create exactly this debt).  Without it, the whole
        current set coalesces to one file (small-table maintenance).

        Isolation: like ``commit_delete`` — only the files this call
        actually rewrote must still be pinned at commit time (else
        CommitConflict); a concurrent APPEND composes, its files and
        rows survive untouched.  File sizes come from the filesystem at
        call time; a real deployment records them in the manifest at
        write time to avoid the object-store listing, as Iceberg does.
        Returns the current version unchanged when there is nothing
        worth rewriting."""
        cur = self.manifest()
        if not cur["files"]:
            return cur["version"]
        if target_mb is None:
            candidates = list(cur["files"])
            n_out = 1
        else:
            tgt = int(target_mb * 1024 * 1024)
            sized = [(f, os.path.getsize(f)) for f in cur["files"]]
            candidates = [f for f, s in sized if s < tgt]
            if len(candidates) < 2:
                return cur["version"]
            total = sum(s for f, s in sized if s < tgt)
            n_out = max(1, -(-total // tgt))
            n_out = int(n_out)
        rows = self._read_files(candidates, cur["schema"])
        return self._replace(set(candidates),
                             self._write_data(rows.coalesce(n_out)),
                             "compact", retries)

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files unreachable from the kept trailing versions;
        returns the removed paths.  Manifests are never deleted, so
        history metadata stays auditable after data expiry."""
        cur = self.current_version()
        keep: set[str] = set()
        for v in range(max(1, cur - keep_versions + 1), cur + 1):
            keep.update(self.manifest(v)["files"])
        removed = []
        data_root = os.path.join(self.path, "data")
        commit_dirs = (os.listdir(data_root)
                       if os.path.isdir(data_root) else [])
        for commit_dir in commit_dirs:
            d = os.path.join(data_root, commit_dir)
            for name in os.listdir(d):
                p = os.path.join(d, name)
                if p.endswith(".parquet") and p not in keep:
                    os.remove(p)
                    removed.append(p)
            if not any(n.endswith(".parquet") for n in os.listdir(d)):
                for name in os.listdir(d):       # _SUCCESS, .crc leftovers
                    os.remove(os.path.join(d, name))
                os.rmdir(d)
        return removed

    # --------------------------------------------------------- internals
    def _read_files(self, files: list[str], schema_json: dict) -> DataFrame:
        # the manifest schema IS the table schema (Iceberg reads from
        # metadata, never from data-file footers), so read with it
        # explicitly — the parquet reader null-fills columns absent from
        # older files, and no mergeSchema footer scan over O(files) is
        # ever needed.  Types in every file match the manifest exactly
        # because appends cast up BEFORE writing, so no per-file type
        # resolution arises.  A column absent from every listed file
        # (possible after delete rewrites) comes back as typed NULLs the
        # same way.
        want = StructType.fromJson(schema_json)
        return self.spark.read.schema(want).parquet(*files)

    def _table_schema(self) -> StructType | None:
        """Current table schema, or None for a never-committed table."""
        schema = self.manifest().get("schema")
        return None if schema is None else StructType.fromJson(schema)

    def _align(self, df: DataFrame,
               table: StructType | None) -> tuple[DataFrame, StructType]:
        """(df aligned for writing, table schema after the append)."""
        if table is None:
            return df, _nullable(df.schema)
        by_name = {f.name: f for f in _nullable(df.schema).fields}
        cols = []
        for f in table.fields:
            g = by_name.pop(f.name, None)
            if g is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif g.dataType == f.dataType:
                cols.append(F.col(f.name))
            elif ((g.dataType.typeName(), f.dataType.typeName())
                  in _WIDENINGS):
                cols.append(F.col(f.name).cast(f.dataType))
            elif ((f.dataType.typeName(), g.dataType.typeName())
                  in _WIDENINGS):
                raise ValueError(
                    f"{self.path}: append would widen column {f.name!r} "
                    f"({f.dataType.simpleString()} → "
                    f"{g.dataType.simpleString()}); widen the table with "
                    f"an explicit commit_overwrite first")
            else:
                raise ValueError(
                    f"{self.path}: incompatible type for column "
                    f"{f.name!r}: table {f.dataType.simpleString()}, "
                    f"append {g.dataType.simpleString()}")
        # new columns append AFTER the table's, in df order
        new_fields = [g for g in df.schema.fields if g.name in by_name]
        cols += [F.col(g.name) for g in new_fields]
        aligned = df.select(*cols)
        merged = StructType(list(table.fields) + new_fields)
        return aligned, merged

    @staticmethod
    def _local_path(uri: str) -> str:
        """input_file_name() URI → the plain local path the manifest
        stores (file:/x, file:///x, percent-encoded)."""
        if uri.startswith("file:"):
            return unquote(urlparse(uri).path)
        return unquote(uri)

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self._snap_dir, f"v{v:05d}.json")

    def _write_data(self, df: DataFrame, discard_if=None) -> list[str] | None:
        """``df`` written to a new ``data/<uuid>`` directory: its parquet
        files, or None (the directory deleted) if ``discard_if()`` holds
        once the write returned."""
        d = os.path.join(self.path, "data", uuid.uuid4().hex)
        df.write.parquet(d)
        if discard_if is not None and discard_if():
            shutil.rmtree(d)
            return None
        return sorted(os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith(".parquet"))

    def _commit(self, build_fn, op: str, retries: int) -> int:
        """``build_fn(parent_manifest) -> dict`` supplies at least
        ``files`` (it may raise CommitConflict to abort); fields valued
        None (an append's ``rewrote_files``) are dropped."""
        os.makedirs(self._snap_dir, exist_ok=True)
        for _ in range(retries):
            parent_v = self.current_version()
            parent = self.manifest(parent_v)
            v = parent_v + 1
            built = {k: x for k, x in build_fn(parent).items()
                     if x is not None}
            manifest = {"version": v, "parent": parent_v or None,
                        "op": op, "ts": time.time(),
                        "n_files": len(built["files"]), **built}
            tmp = os.path.join(self._snap_dir,
                               f".tmp.{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, self._manifest_path(v))   # atomic claim+publish
                return v
            except FileExistsError:
                continue  # lost the race — recompute against new parent
            finally:
                os.unlink(tmp)
        raise CommitConflict(f"{self.path}: lost {retries} commit races")

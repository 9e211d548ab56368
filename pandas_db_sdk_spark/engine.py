"""DataFrameEngine — the reference's storage semantics, Spark-native.

Reference surface being re-expressed (``/root/reference/src/pandas_db_sdk/client.py``):

* ``load_dataframe(df, name, columns_keys, external_key, keep_last)``
  (``client.py:66-137``)  →  :meth:`DataFrameEngine.save`
* ``get_dataframe(name, external_key, use_last)`` (``client.py:139-183``)
  →  :meth:`DataFrameEngine.load`
* ``list_dataframes(prefix)`` (``client.py:185-215``)
  →  :meth:`DataFrameEngine.list_datasets`

Documented service semantics re-expressed (reference ``README.md``):

* Date partition keys → Hive-style ``<col>=<date>/`` dirs (``README.md:191-198``);
  Catalyst partition-prunes reads for free.
* ID range buckets ``from_X_to_Y`` → derived bucket partition column
  (``README.md:200-207``).
* ``external_key='NOW'`` timestamp versioning + ``last_key.txt`` latest
  pointer (``README.md:209-218``) → a ``__version`` partition column + the
  manifest's ``latest`` field (atomic JSON rename — the pointer-file analogue).
* ``keep_last=True`` retention (``README.md:85-88``) → stale version dirs
  removed after a successful commit.
* 100K-row chunking + gzip CSV (``README.md:20-21``) → parquet+snappy with
  ``maxRecordsPerFile`` (columnar, splittable — strictly better at scale).

Scale posture: Spark DataFrames are written and read only by Spark tasks;
the manifest holds *metadata only* (names, versions, schemas), so it stays
KB-sized even when the data is 100 TB. Reads list only the selected
versions' directories and filter on the version partition column, so a
``load`` of one version touches only that version's files.

Version dirs (``__version=<v>/``) exist only at the dataset root, and one
listing rule decides what counts as a version's data: Spark's hidden-file
rule (``_version_files``). Every reader (Spark or Arrow) and every
maintenance op (stats sidecars, describe, branch diff/merge) lists by it,
so a crashed writer's ``_temporary/`` tree or a sidecar is never data.

Pandas frames take a driver-local Arrow path (``_arrowio``): a frame that
already sits in driver memory is written by ``save`` straight to the
version's parquet files with ``pyarrow``, and ``read_pandas`` (behind
``DataFrameClient.get_dataframe``) reads the selected versions' files back
the same way — no Spark job, and no file created through Hadoop's local
filesystem (without libhadoop, each create or mkdir forks a ``chmod``).
Values, dtypes and the partition-directory names are Spark's: the path
runs pyspark's own Arrow conversions. Spark still runs for such a save
when the dataset has constraints or the call has expectations (one
aggregate over the frame, before any file is written), when a Date key is
not a date/timestamp or an ID key not an integer, when Arrow cannot
represent the schema, and when Arrow is disabled in the session. The
manifest, its lock and the version directories are local-filesystem
already (``os.*``, ``fcntl``), so the warehouse is a local (or mounted)
path either way.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
import uuid
from typing import Any, Dict, Optional

try:
    import fcntl
except ImportError:  # non-POSIX: degrade to unlocked (single-writer) mode
    fcntl = None

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._localrel import local_rows_df

VERSION_COL = "__version"
# version labels a Hadoop glob alternation can carry verbatim
_GLOB_SAFE = re.compile(r"[A-Za-z0-9._-]+")
KEY_TYPES = ("Date", "ID")
DEFAULT_ID_BUCKET_WIDTH = 1000


def id_bucket_label(lo: int, width: int) -> str:
    """The dir value of the ID bucket ``[lo, lo + width)`` (README.md:200-207)."""
    return f"from_{lo}_to_{lo + width}"


def _hidden(name: str) -> bool:
    """Spark's file-index filter: ``_x`` (unless a ``k=v`` partition dir)
    and ``.x`` names are not data."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


class DatasetNotFound(KeyError):
    pass


class DataQualityError(ValueError):
    """save(expectations=...) found violating rows; nothing was committed."""


class DataFrameEngine:
    """Named-DataFrame warehouse over parquet + a JSON manifest catalog."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        id_bucket_width: int = DEFAULT_ID_BUCKET_WIDTH,
        clock=None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.id_bucket_width = id_bucket_width
        # Injectable clock so 'NOW' versioning is testable (reference stamps
        # server-side per README.md:81-83).
        self._clock = clock or (lambda: int(time.time() * 1000))
        os.makedirs(warehouse, exist_ok=True)

    # ---------------------------------------------------------------- manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.warehouse, "_manifest.json")

    @staticmethod
    def _versions_on_disk(path: str) -> set:
        """Version labels present as ``__version=`` dirs under ``path`` —
        shared by save's freshness bump and fsck so the two scans can
        never diverge."""
        if not os.path.isdir(path):
            return set()
        return {
            n.split("=", 1)[1]
            for n in os.listdir(path)
            if n.startswith(f"{VERSION_COL}=")
        }

    def _read_manifest(self) -> Dict[str, Any]:
        if not os.path.exists(self._manifest_path):
            return {"datasets": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: Dict[str, Any]) -> None:
        # Atomic replace = the engine's `last_key.txt` (README.md:217): readers
        # always see a complete catalog, never a torn write.
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    @contextlib.contextmanager
    def _manifest_lock(self):
        """Exclusive advisory lock serializing manifest read-modify-write.

        The reference is a multi-user service (README.md:23-26, DynamoDB
        metadata README.md:234), so concurrent ``save()`` calls are part of
        the contract: without this, two writers read the same manifest and
        the second replace silently drops the first one's version entry.
        Data writes happen OUTSIDE the lock (a commit is ms; a 100 TB write
        is hours) — only the catalog update serializes. On an object-store
        deployment the analogue is a conditional put / DynamoDB CAS.
        """
        if fcntl is None:
            yield
            return
        lock_path = os.path.join(self.warehouse, "_manifest.lock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def _derive_partition_cols(self, df: DataFrame, columns_keys: Dict[str, str]):
        """Append the derived ``__p_*`` partition columns for a key layout
        (Date → yyyy-MM-dd dirs, ID → range buckets, README.md:191-207) —
        shared by save() and repartition_dataset() so the two derivations
        can never diverge."""
        out = df
        partition_cols = []
        for col, key_type in columns_keys.items():
            pcol = f"__p_{col}"
            if key_type == "Date":
                out = out.withColumn(
                    pcol, F.date_format(F.col(col).cast("timestamp"), "yyyy-MM-dd")
                )
            else:  # ID → range buckets: id_bucket_label as a Spark expression
                w = self.id_bucket_width
                lo = (F.floor(F.col(col).cast("long") / w) * w).cast("long")
                out = out.withColumn(
                    pcol, F.concat(F.lit("from_"), lo, F.lit("_to_"), lo + w)
                )
            partition_cols.append(pcol)
        return out, partition_cols

    # ---------------------------------------------------------------- save

    def save(
        self,
        df: DataFrame,
        dataframe_name: str,
        columns_keys: Optional[Dict[str, str]] = None,
        external_key: str = "NOW",
        keep_last: bool = False,
        overwrite_version: bool = False,
        expectations: Optional[Dict[str, Any]] = None,
    ) -> Dict[str, Any]:
        """Store a DataFrame as a named, partitioned, versioned dataset.

        Mirrors ``load_dataframe`` validation (``client.py:99-110``): input
        must be a DataFrame, name non-empty, key types in {Date, ID}, key
        columns present in the schema.

        ``overwrite_version=True`` makes a save under an already-present
        version label REPLACE that version instead of appending to it —
        the idempotent-replay contract streaming epochs need (a foreachBatch
        retry after a crash re-lands the same epoch label; append semantics
        would duplicate every row of the partial first attempt).

        ``expectations`` (Delta-constraints analogue): name → boolean
        Column or SQL string that must hold for EVERY row. The counters
        ride the write job itself (``DataFrame.observe`` — zero extra
        scans at any size); on violation the staged version directory is
        deleted and ``DataQualityError`` raises BEFORE the manifest
        commit, so a failed save is invisible to readers (same
        crash-consistency story as an aborted write). NULL counts as a
        violation — an unevaluable expectation is not a pass. A pandas
        frame written by the driver-local Arrow path has no write job to
        ride: its rules run as one Spark aggregate before any file is
        written.
        """
        # The reference's contract takes a pandas frame directly
        # (client.py:99). One already in driver memory is written by the
        # driver itself through Arrow (_arrowio: no Spark job, no Hadoop-FS
        # file creation); one that path cannot store exactly as Spark would
        # is ingested with createDataFrame — the distributed upgrade of the
        # reference's JSON-records wire (client.py:114).
        local = None
        if isinstance(df, pd.DataFrame):
            # imported on first use: Python UDF workers import this package
            # too, and loading pyarrow.dataset/parquet slowed every fresh one
            from ._arrowio import LocalFrame

            local = LocalFrame.from_pandas(self.spark, df)
            if local is None:
                df = self.spark.createDataFrame(df)
        if local is None and not isinstance(df, DataFrame):
            raise TypeError("df must be a pyspark.sql.DataFrame or pandas.DataFrame")
        if not dataframe_name or not isinstance(dataframe_name, str):
            raise ValueError("dataframe_name must be a non-empty string")
        schema = local.schema if local is not None else df.schema
        columns_keys = dict(columns_keys or {})
        # A dataset's physical layout is fixed at creation (the reference's
        # storage dirs imply the same, README.md:189-218): appends inherit the
        # stored keys; a conflicting layout is an error, not a corrupt mix of
        # partition trees.
        existing = self._read_manifest()["datasets"].get(dataframe_name)
        if existing is not None:
            if not columns_keys:
                columns_keys = dict(existing["columns_keys"])
            elif columns_keys != existing["columns_keys"]:
                raise ValueError(
                    f"dataset {dataframe_name!r} was created with partition keys "
                    f"{existing['columns_keys']}; cannot append with {columns_keys}"
                )
        for col, key_type in columns_keys.items():
            if key_type not in KEY_TYPES:
                raise ValueError(f"key type for {col!r} must be one of {KEY_TYPES}")
            if col not in schema.names:
                raise ValueError(f"partition column {col!r} not in DataFrame")
        partitions = None
        if local is not None:
            partitions = local.partitions(columns_keys, self.id_bucket_width)
            if partitions is None:  # a key type only Spark derives dirs for
                df, local = self.spark.createDataFrame(local.pdf), None
                schema = df.schema

        # Appends follow the manifest's path (compact() relocates datasets);
        # only a brand-new dataset gets a freshly derived directory.
        path = existing["path"] if existing is not None else self._dataset_path(dataframe_name)
        if external_key == "NOW":
            # The millisecond clock can tick the same value twice (two
            # merge() calls in one ms): reusing a version label would make
            # the second save APPEND into the first's version dir —
            # keep_last never prunes the live version, so the duplication
            # would persist. Bump past manifest AND on-disk labels (a
            # crashed save may have left an uncommitted orphan), then
            # RESERVE the label by creating the version dir atomically:
            # two truly concurrent NOW-saves that both picked the same
            # fresh tick race on the mkdir, and the loser bumps — the
            # manifest check alone can't see a writer that hasn't
            # committed yet.
            tick = self._clock()
            taken = {str(v) for v in existing["versions"]} if existing else set()
            if existing is not None:
                taken |= self._versions_on_disk(existing["path"])
            os.makedirs(path, exist_ok=True)
            while True:
                while str(tick) in taken:
                    tick += 1
                try:
                    os.mkdir(os.path.join(path, f"{VERSION_COL}={tick}"))
                    break
                except FileExistsError:
                    tick += 1
            version = str(tick)
        else:
            version = external_key

        partition_cols = [f"__p_{col}" for col in columns_keys]
        # Each version writes into its OWN `__version=<v>/` directory
        # (version is the OUTERMOST partition level). This is what makes
        # concurrent save() calls safe: the Hadoop committer stages under
        # `<output root>/_temporary/0`, so two jobs sharing one root race on
        # cleanup and lose each other's files — distinct per-version roots
        # mean distinct staging dirs. It also turns version retention and
        # pruned reads into single top-level directory ops. The __version
        # column itself is never stored in files; partition discovery
        # derives it from the dir name (schema pinned by _full_schema).
        version_dir = os.path.join(path, f"{VERSION_COL}={version}")
        write_dir = version_dir
        if overwrite_version:
            committed_label = existing is not None and version in {
                str(v) for v in existing["versions"]
            }
            if committed_label:
                # The label is ALREADY COMMITTED — readers can see its
                # files right now. Deleting them before the rewrite (and
                # before the expectations gate) would mean a failed save
                # destroys committed data while the manifest still lists
                # the version. Stage the rewrite into a dot-prefixed
                # sibling (hidden from Spark partition discovery and from
                # _versions_on_disk) and swap in only after the write AND
                # the expectations gate succeed; on abort the staged tree
                # is dropped and the committed tree is untouched.
                write_dir = os.path.join(
                    path, f".__stage-{VERSION_COL}={version}-{uuid.uuid4().hex[:12]}"
                )
            else:
                # Uncommitted label (a crashed prior attempt's orphan, or
                # the NOW-path's freshly reserved empty dir): readers never
                # saw it, so clearing in place is safe and keeps the
                # replay-idempotent contract.
                shutil.rmtree(version_dir, ignore_errors=True)
        # persistent dataset constraints (set_constraints) gate every
        # append; per-call expectations add to them (same name: the call's
        # rule wins for this save only)
        if existing is not None and existing.get("constraints"):
            expectations = {**existing["constraints"], **(expectations or {})}
        rules = {
            name: (F.expr(cond) if isinstance(cond, str) else cond)
            for name, cond in (expectations or {}).items()
        }
        footers = None
        if local is not None:
            failing = {}
            if rules:
                # one aggregate over the frame, before any file is written
                from .checks import violation_counts

                checked, _ = self._derive_partition_cols(
                    self.spark.createDataFrame(local.pdf, schema), columns_keys
                )
                failing = {k: v for k, v in violation_counts(checked, rules).items() if v}
            if not failing:
                footers = local.write(write_dir, partitions)
        else:
            out, _ = self._derive_partition_cols(df, columns_keys)
            results = None
            if rules:
                from .checks import attach_checks

                out, results = attach_checks(out, rules)
            (
                out.write.mode("append")
                .option("maxRecordsPerFile", 100_000)  # chunking analogue, README.md:21
                .partitionBy(*partition_cols)
                .parquet(write_dir)
            )
            failing = {k: v for k, v in results().items() if v} if results else {}
        if failing:
            # abort BEFORE the manifest commit: readers never saw the
            # staged files (an uncommitted version dir, or the hidden
            # stage dir of a committed-label overwrite — whose old tree
            # stays intact), so deleting them is the same cleanup fsck
            # would do for any crashed write
            shutil.rmtree(write_dir, ignore_errors=True)
            raise DataQualityError(
                "save aborted, expectations violated: "
                + ", ".join(f"{k} ({v} rows)" for k, v in sorted(failing.items()))
            )
        if write_dir is not version_dir:
            # Committed-label overwrite passed all gates: swap the staged
            # tree in. os.rename cannot replace a non-empty dir, so the
            # old tree steps aside first — the not-found window between
            # the two renames is microseconds (vs. the full rewrite
            # duration the old rmtree-first path exposed), and a crash
            # inside it leaves the old tree recoverable under a hidden
            # name that fsck-class cleanup can reap.
            if os.path.isdir(version_dir):
                retired = os.path.join(
                    path, f".__retired-{VERSION_COL}={version}-{uuid.uuid4().hex[:12]}"
                )
                os.rename(version_dir, retired)
                os.rename(write_dir, version_dir)
                shutil.rmtree(retired, ignore_errors=True)
            else:
                # the fsck "missing_versions" state: the committed label's
                # dir vanished from disk — rename the stage straight in
                # rather than abandoning the write on a FileNotFoundError
                os.rename(write_dir, version_dir)

        # Data-skipping sidecar (Delta-stats analogue): per-file column
        # min/max from the freshly written parquet footers. Metadata-only —
        # a failure here must never fail the save (same policy as
        # provenance); load_pruned treats missing stats as "read the file".
        try:
            self._collect_file_stats(version_dir, footers)
        except Exception:
            pass

        # Provenance (bounded): where this version came from — the source
        # files feeding the plan (metadata-only; empty for synthesized
        # frames) and the canonicalized-plan fingerprint. Capped at 20
        # sample paths so a 100k-file input can't bloat the manifest.
        in_files, plan_hash = [], None  # a driver-local frame has no plan
        if local is None:
            try:
                # both calls need the JVM DataFrame handle — absent under
                # Spark Connect; a metadata-only feature must never fail
                # the save, so the whole capture degrades to nulls together
                in_files = df.inputFiles()
                plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
            except Exception:
                in_files, plan_hash = [], None
        provenance = {
            "n_input_files": len(in_files),
            "input_sample": sorted(in_files)[:20],
            "plan_hash": plan_hash,
            "schema_cols": sorted(schema.names),
        }

        with self._manifest_lock():
            manifest = self._read_manifest()
            ds = manifest["datasets"].setdefault(
                dataframe_name,
                {
                    "path": path,
                    "columns_keys": columns_keys,
                    "versions": [],
                    "schema": schema.json(),
                },
            )
            if ds["columns_keys"] != columns_keys and ds["versions"]:
                # A concurrent writer created the dataset with a different
                # layout between our optimistic check and this commit.
                raise ValueError(
                    f"dataset {dataframe_name!r} was concurrently created with "
                    f"partition keys {ds['columns_keys']}; cannot commit {columns_keys}"
                )
            ds["columns_keys"] = columns_keys
            ds["schema"] = self._merge_schema(ds["schema"], schema).json()
            if version not in ds["versions"]:
                ds["versions"].append(version)
            ds.setdefault("provenance", {})[str(version)] = provenance
            ds["latest"] = version

            if keep_last:
                # Retention pruning (README.md:85-88): drop superseded version dirs.
                stale = [v for v in ds["versions"] if v != version]
                for v in stale:
                    self._delete_version_dirs(path, v)
                ds["versions"] = [version]
                # provenance follows retention — dead-version entries would
                # otherwise accumulate in the manifest forever
                ds["provenance"] = {
                    k: v
                    for k, v in ds.get("provenance", {}).items()
                    if k == str(version)
                }

            self._write_manifest(manifest)
        return {
            "dataframe_name": dataframe_name,
            "version": version,
            "partition_columns": partition_cols,
            "path": path,
            "rows": None,  # no driver-side count: counting 100 TB to report a number is waste
        }

    # ---------------------------------------------------------------- sql

    def sql(
        self,
        query: str,
        datasets: Optional[Dict[str, str]] = None,
        use_last: bool = False,
        versions: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        """Run Spark SQL over named datasets — the declarative face of the
        engine: the reference's model ships rows to client-side pandas for
        ALL querying; here the query text executes next to the data with
        full Catalyst planning (pushdown, pruning, AQE).

        ``datasets`` maps view name → dataset name (``{"li": "tpch/li"}``);
        ``None`` registers EVERY catalog dataset under its name with ``/``
        → ``_`` (``tpch/li`` → table ``tpch_li``). Views are temp (session-
        scoped, lazily planned — registration reads no data) and re-created
        per call, so each call sees the current catalog state.
        ``use_last=True`` pins every view to its dataset's latest version;
        the default exposes all versions (time travel via a WHERE on the
        version column after ``load``'s own semantics).
        ``versions`` pins individual views to a version label (the
        ``VERSION AS OF`` analogue): ``{"li": "epoch-7"}`` — the pinned
        load partition-prunes to that version's files, and other views
        keep the ``use_last`` behavior.
        """
        versions = dict(versions or {})
        if datasets is None:
            names = self._read_manifest()["datasets"].keys()
            datasets = {}
            for n in names:
                view = n.replace("/", "_")
                if view in datasets:
                    # 'a/b' and 'a_b' sanitize to the same view name;
                    # silently keeping whichever registered last would let
                    # a query read the WRONG dataset.
                    raise ValueError(
                        f"datasets {datasets[view]!r} and {n!r} both map to "
                        f"view name {view!r}; pass an explicit datasets= "
                        f"mapping to disambiguate"
                    )
                datasets[view] = n
        unknown = set(versions) - set(datasets)
        if unknown:
            raise ValueError(f"versions= names unregistered views: {sorted(unknown)}")
        for view, ds_name in datasets.items():
            if view in versions:
                pinned = self.load(ds_name, external_key=versions[view])
            else:
                pinned = self.load(ds_name, use_last=use_last)
            pinned.createOrReplaceTempView(view)
        # saved views layer on top of the dataset views, in definition
        # order (a later view may reference an earlier one; stored as an
        # ordered pair list because the manifest serializes sort_keys)
        for vname, vsql in self._read_manifest().get("views", []):
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {vname} AS {vsql}"
            )
        return self.spark.sql(query)

    def define_view(self, view_name: str, view_sql: str) -> None:
        """Persist a named SQL view in the catalog — the virtual-dataset
        layer: every subsequent ``sql()`` call (this engine or a fresh one
        on the same warehouse) resolves it against the then-current
        catalog state. Views store TEXT in the manifest (zero data, zero
        maintenance cost — contrast ``define_rollup`` for the materialized
        form); a view may reference dataset views and previously defined
        views. The name must be a valid SQL identifier and not collide
        with a dataset's view name."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", view_name or ""):
            raise ValueError("view_name must be a SQL identifier")
        if not view_sql or not isinstance(view_sql, str):
            raise ValueError("view_sql must be a non-empty SQL string")
        with self._manifest_lock():
            manifest = self._read_manifest()
            ds_views = {n.replace("/", "_") for n in manifest["datasets"]}
            if view_name in ds_views:
                raise ValueError(
                    f"{view_name!r} collides with a dataset view name"
                )
            views = [v for v in manifest.get("views", []) if v[0] != view_name]
            views.append([view_name, view_sql])
            manifest["views"] = views
            self._write_manifest(manifest)

    def drop_view(self, view_name: str) -> None:
        with self._manifest_lock():
            manifest = self._read_manifest()
            views = manifest.get("views", [])
            if view_name not in {v[0] for v in views}:
                raise DatasetNotFound(f"view {view_name!r} is not defined")
            manifest["views"] = [v for v in views if v[0] != view_name]
            self._write_manifest(manifest)

    def list_views(self) -> Dict[str, str]:
        return {name: sql for name, sql in self._read_manifest().get("views", [])}

    # ---------------------------------------------------------------- merge

    def merge(
        self,
        source: DataFrame,
        dataframe_name: str,
        keys: list,
        when_matched: str = "update",
        external_key: str = "NOW",
        keep_last: bool = False,
    ) -> Dict[str, Any]:
        """MERGE/upsert into a dataset — the CDC primitive the reference SDK
        lacks entirely (SURVEY §2.5: "no delete/update of rows"): apply a
        batch of changes keyed by ``keys`` to the latest version and commit
        the result as a NEW version (history stays time-travelable; pass
        ``keep_last=True`` for overwrite-in-place retention).

        ``when_matched``:

        * ``"update"`` — source rows replace matched rows; unmatched source
          rows insert (classic upsert).
        * ``"ignore"``  — matched rows keep their stored values; only
          new-key source rows insert (idempotent backfill).
        * ``"delete"``  — matched rows are removed; source carries keys
          only (CDC tombstones).

        Scale shape: copy-on-write — one anti/semi join on the key columns
        (hashed, AQE-planned: the change batch is typically small and
        broadcasts) plus a full rewrite of the new version. That is the
        honest non-table-format contract; with Delta/Iceberg jars present
        the same call maps onto a metadata-level MERGE INTO rewriting only
        matched files (COVERAGE.md "Environment-forced omissions"). Keys
        that include the dataset's partition column keep the join AND the
        rewrite partition-pruned.
        """
        if when_matched not in ("update", "ignore", "delete"):
            raise ValueError("when_matched must be 'update', 'ignore', or 'delete'")
        if not keys:
            raise ValueError("merge requires at least one key column")
        current = self.load(dataframe_name, use_last=True)
        for k in keys:
            if k not in source.columns:
                raise ValueError(f"merge key {k!r} not in source DataFrame")
            if k not in current.columns:
                raise ValueError(f"merge key {k!r} not in dataset {dataframe_name!r}")
        if when_matched == "delete":
            result = current.join(source.select(*keys), keys, "left_anti")
        elif when_matched == "update":
            result = current.join(source, keys, "left_anti").unionByName(
                source, allowMissingColumns=True
            )
        else:  # ignore
            result = current.unionByName(
                source.join(current, keys, "left_anti"), allowMissingColumns=True
            )
        out = self.save(
            result,
            dataframe_name,
            external_key=external_key,
            keep_last=keep_last,
        )
        out["when_matched"] = when_matched
        return out

    def delete_where(
        self,
        dataframe_name: str,
        condition,
        external_key: str = "NOW",
        keep_last: bool = False,
    ) -> Dict[str, Any]:
        """Predicate DELETE (``DELETE FROM t WHERE cond``) — the row-level
        twin of :meth:`merge`'s key-tombstone mode, for conditions that
        aren't key lists. ``condition`` is a Column or SQL string.

        Copy-on-write: rows NOT matching the predicate rewrite into a new
        version (history stays time-travelable unless ``keep_last``).
        The negated predicate pushes into the scan of the current
        version, so the rewrite reads only surviving rows' columns.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        current = self.load(dataframe_name, use_last=True)
        out = self.save(
            current.filter(~cond),
            dataframe_name,
            external_key=external_key,
            keep_last=keep_last,
        )
        out["deleted_where"] = str(condition)
        return out

    def update_where(
        self,
        dataframe_name: str,
        condition,
        assignments: Dict[str, Any],
        external_key: str = "NOW",
        keep_last: bool = False,
    ) -> Dict[str, Any]:
        """Predicate UPDATE (``UPDATE t SET c = expr WHERE cond``).
        ``assignments`` maps column → Column / SQL-expression string;
        non-matching rows pass through unchanged. With delete_where,
        merge, and append-mode save this completes the DML quartet the
        reference SDK lacks entirely (SURVEY §2.5: "no delete/update of
        rows").

        Copy-on-write single pass: one projection with ``CASE WHEN cond
        THEN expr ELSE col END`` per assigned column — no join, no second
        read, fully codegen'd.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        current = self.load(dataframe_name, use_last=True)
        for col, expr in assignments.items():
            if col not in current.columns:
                raise ValueError(f"update column {col!r} not in dataset {dataframe_name!r}")
        updated = current
        for col, expr in assignments.items():
            val = F.expr(expr) if isinstance(expr, str) else expr
            updated = updated.withColumn(
                col, F.when(cond, val).otherwise(F.col(col))
            )
        out = self.save(
            updated, dataframe_name, external_key=external_key, keep_last=keep_last
        )
        out["updated_where"] = str(condition)
        return out

    # ---------------------------------------------------------------- bucketed

    def save_bucketed(
        self,
        df: DataFrame,
        dataframe_name: str,
        bucket_by: str,
        n_buckets: int = 32,
        sort_by: Optional[str] = None,
        mode: str = "overwrite",
    ) -> Dict[str, Any]:
        """Store a dataset hash-bucketed on a join key.

        Two datasets bucketed on the same key with the same bucket count
        join WITHOUT a shuffle (Spark reads bucket i of both sides into the
        same task) — the engine's co-located-join path for repeated big-big
        joins where neither side broadcasts. Bucket metadata lives in the
        session catalog; on a cluster that's the metastore, so the layout
        outlives sessions (the local in-memory catalog forgets it, the
        parquet files remain).
        """
        table = self._bucket_table_name(dataframe_name)
        path = os.path.join(os.path.dirname(self._dataset_path(dataframe_name)), "__bucketed")
        writer = (
            df.write.mode(mode)
            .format("parquet")
            .option("path", path)
            .bucketBy(n_buckets, bucket_by)
        )
        if sort_by:
            writer = writer.sortBy(sort_by)
        writer.saveAsTable(table)

        with self._manifest_lock():
            manifest = self._read_manifest()
            manifest["datasets"][dataframe_name + "__bucketed"] = {
                "path": path,
                "columns_keys": {},
                "versions": [],
                "schema": df.schema.json(),
                "bucket_by": bucket_by,
                "n_buckets": n_buckets,
                "table": table,
            }
            self._write_manifest(manifest)
        return {"dataframe_name": dataframe_name, "table": table, "path": path,
                "bucket_by": bucket_by, "n_buckets": n_buckets}

    def load_bucketed(self, dataframe_name: str) -> DataFrame:
        """Load a bucketed dataset through the catalog (keeps the bucket
        spec visible to the planner, which is what elides the shuffle)."""
        return self.spark.table(self._bucket_table_name(dataframe_name))

    def _bucket_table_name(self, name: str) -> str:
        return "bkt_" + name.strip("/").replace("/", "_")

    # ---------------------------------------------------------------- load

    def load(
        self,
        dataframe_name: str,
        external_key: Optional[str] = None,
        use_last: bool = False,
        drop_internal: bool = True,
        as_of: Optional[int] = None,
    ) -> DataFrame:
        """Retrieve a dataset, optionally pinned to one version.

        Version selection mirrors ``get_dataframe`` params
        (``client.py:160-165``): only the selected versions' directories
        are listed, and the version filter on the partition column keeps
        reads read-committed.

        ``as_of=<epoch millis>``: time travel over 'NOW'-stamped versions —
        loads the newest version whose stamp is <= the given instant (the
        engine's analogue of table-format time travel; version labels are
        the reference's server-side timestamps, ``README.md:81-83``).
        """
        ds = self._dataset_entry(dataframe_name)
        versions = self._select_versions(ds, dataframe_name, external_key, use_last, as_of)
        df = self._read_versions(ds, versions)
        return self._drop_internal(df) if drop_internal else df

    def _collect_file_stats(
        self, version_dir: str, footers: Optional[Dict[str, Any]] = None, max_files: int = 4096
    ) -> None:
        """Write one version directory's data-skipping sidecar
        (``.stats.json``, dot-prefixed so Spark partition discovery and
        ``_versions_on_disk`` never see it): per data file, each leaf
        column's [min, max] folded over the parquet footer's row-group
        statistics. Driver-side footer reads are ~KBs per file — the Delta
        checkpoint-stats economics — and are capped at ``max_files``
        (beyond that a version is left sidecar-less and ``load_pruned``
        degrades to reading it fully; at that file count the answer is
        ``compact()``, which re-collects). Columns missing stats in ANY
        row group (or with non-orderable/JSON-unsafe types) are omitted
        for that file, which load_pruned treats as "must read".
        ``footers`` (relative path → footer) are the ones a driver-local
        write already holds; without them every footer is read back."""
        import pyarrow.parquet as pq

        if footers is None:
            footers = {
                os.path.relpath(f, version_dir): f for f in self._version_files(version_dir)
            }
        if not footers or len(footers) > max_files:
            return
        out: Dict[str, Any] = {}
        for rel, md in footers.items():
            if isinstance(md, str):
                md = pq.ParquetFile(md).metadata
            per: Dict[str, Any] = {}
            bad = set()
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    if name in bad:
                        continue
                    st = col.statistics
                    mn = st.min if st is not None and st.has_min_max else None
                    mx = st.max if st is not None and st.has_min_max else None
                    ok = (
                        mn is not None
                        and mx is not None
                        and isinstance(mn, (int, float, str))
                        and not isinstance(mn, bool)
                    )
                    if not ok:
                        bad.add(name)
                        per.pop(name, None)
                        continue
                    if name in per:
                        per[name] = [min(per[name][0], mn), max(per[name][1], mx)]
                    else:
                        per[name] = [mn, mx]
            out[rel] = per
        tmp = os.path.join(version_dir, f".stats.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"files": out}, fh)
        os.replace(tmp, os.path.join(version_dir, ".stats.json"))

    def load_pruned(
        self,
        dataframe_name: str,
        col: str,
        lo=None,
        hi=None,
        external_key: Optional[str] = None,
        use_last: bool = False,
        drop_internal: bool = True,
    ) -> DataFrame:
        """Data-skipping load: semantically ``load().filter(lo <= col <= hi)``,
        but files whose sidecar [min, max] range for ``col`` cannot
        intersect the bound are never even OPENED — scan planning from
        save-time footer stats (the table-format data-skipping pattern;
        pair with ``compact(zorder_by=[col, …])`` so file ranges are tight
        on the skipped columns). Files or versions without recorded stats
        are always read (stale or missing sidecars only cost bytes, never
        rows — file names are write-unique, so a rewritten version's new
        files simply don't appear in an old sidecar), and the exact
        predicate is re-applied to the surviving rows."""
        ds = self._dataset_entry(dataframe_name)
        versions = self._select_versions(ds, dataframe_name, external_key, use_last)
        keep: list = []
        for vdir in self._version_dirs(ds, versions):
            stats = {}
            try:
                with open(os.path.join(vdir, ".stats.json")) as fh:
                    stats = json.load(fh).get("files", {})
            except (OSError, ValueError):
                pass
            for f in self._version_files(vdir):
                rng = stats.get(os.path.relpath(f, vdir), {}).get(col)
                if rng is not None:
                    if lo is not None and rng[1] < lo:
                        continue
                    if hi is not None and rng[0] > hi:
                        continue
                keep.append(f)
        df = self._read_versions(ds, versions, files=keep)
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return self._drop_internal(df) if drop_internal else df

    def read_pandas(
        self,
        dataframe_name: str,
        external_key: Optional[str] = None,
        use_last: bool = False,
        as_of: Optional[int] = None,
    ) -> pd.DataFrame:
        """``load(...).toPandas()`` without a Spark job: the selected
        versions' files are read on the driver with ``pyarrow.dataset`` and
        converted to pandas by pyspark's own ``toPandas`` converters, so
        values and dtypes are Spark's. Where that read cannot stand in for
        Spark's (Arrow disabled in the session, a schema Arrow cannot
        represent) the Spark load runs instead."""
        from ._arrowio import read_files

        ds = self._dataset_entry(dataframe_name)
        versions = self._select_versions(ds, dataframe_name, external_key, use_last, as_of)
        files = [f for d in self._version_dirs(ds, versions) for f in self._version_files(d)]
        out = read_files(self.spark, files, T.StructType.fromJson(json.loads(ds["schema"])))
        if out is None:
            out = self.load(dataframe_name, external_key, use_last, as_of=as_of).toPandas()
        return out

    def load_pandas(
        self,
        dataframe_name: str,
        external_key: Optional[str] = None,
        use_last: bool = False,
    ):
        """Retrieve a dataset as a pandas-on-Spark frame
        (``pyspark.pandas.DataFrame``) — the distributed drop-in for the
        reference's contract of handing the user a pandas object to query
        client-side (``client.py:176``, "Pandas-Native" ``README.md:11``).
        Same pandas idioms (boolean masks, ``groupby().agg``, ``merge``,
        ``sort_values``), but every operation compiles to the same Catalyst
        plans as the DataFrame API — nothing is collected to one machine.
        """
        return self.load(dataframe_name, external_key, use_last).pandas_api()

    # ---------------------------------------------------------------- list

    def list_datasets(
        self,
        prefix: Optional[str] = None,
        limit: Optional[int] = None,
        offset: int = 0,
    ) -> Dict[str, Any]:
        """Catalog listing with prefix filter (``client.py:185-215``) and
        pagination (``limit``/``offset`` over the name-sorted listing —
        the reference SDK has none, SURVEY §2.5; a warehouse with 10⁵
        datasets needs it). ``count`` is always the TOTAL match count so
        callers can page without a second call; ``offset`` in the reply
        echoes the requested position."""
        manifest = self._read_manifest()
        names = sorted(manifest["datasets"])
        if prefix:
            names = [n for n in names if n.startswith(prefix)]
        total = len(names)
        if offset:
            names = names[offset:]
        if limit is not None:
            names = names[:limit]
        return {
            "dataframes": {
                n: {
                    "versions": manifest["datasets"][n]["versions"],
                    "latest": manifest["datasets"][n].get("latest"),
                    "columns_keys": manifest["datasets"][n]["columns_keys"],
                }
                for n in names
            },
            "count": total,
            "offset": offset,
            "returned": len(names),
        }

    def set_constraints(
        self, dataframe_name: str, rules: Optional[Dict[str, str]]
    ) -> Dict[str, Any]:
        """Attach persistent row constraints to a dataset (the Delta
        ``ADD CONSTRAINT`` analogue): ``rules`` maps name → SQL boolean
        expression that must hold for every row. Stored in the manifest
        and enforced on EVERY subsequent ``save``/``merge`` append via the
        zero-extra-scan ``observe`` gate (see ``save(expectations=...)``);
        a violating append aborts before its manifest commit. ``None`` or
        ``{}`` clears them.

        Like Delta, adding a constraint validates the EXISTING data first
        (one aggregate scan) — a constraint the current rows already break
        would make every future append's failure ambiguous.
        """
        from .checks import assert_valid

        ds = self._dataset_entry(dataframe_name)  # raises if unknown
        rules = dict(rules or {})
        if rules:
            cols = {f.name for f in self.load(dataframe_name).schema.fields}
            parsed = {}
            for name, cond in rules.items():
                if not isinstance(cond, str):
                    raise TypeError(
                        f"constraint {name!r} must be a SQL string (it is "
                        "persisted in the manifest); pass Column rules per-save "
                        "via save(expectations=...)"
                    )
                parsed[name] = F.expr(cond)
            del cols  # schema probe only forces a manifest/schema resolution
            assert_valid(self.load(dataframe_name), parsed)
        with self._manifest_lock():
            manifest = self._read_manifest()
            entry = manifest["datasets"].get(dataframe_name)
            if entry is None:
                raise DatasetNotFound(dataframe_name)
            if rules:
                entry["constraints"] = rules
            else:
                entry.pop("constraints", None)
            self._write_manifest(manifest)
        return dict(rules)

    def describe_dataset(self, dataframe_name: str) -> Dict[str, Any]:
        """Catalog introspection — the DESCRIBE the reference SDK lacks
        (SURVEY §2.5 lists no metadata beyond names): schema, partition
        keys, and per-version physical stats (file count, bytes, rows).

        Costs: manifest read + a filesystem listing + ONE Spark aggregate
        (count grouped by the version partition column). The row count
        compiles to parquet footer statistics — row groups are counted,
        data pages are never decoded — so DESCRIBE on a 100 TB dataset is
        a metadata pass, not a table scan."""
        ds = self._dataset_entry(dataframe_name)
        labels = [str(v) for v in ds["versions"]]
        counts = dict(self._read_versions(ds, labels).groupBy(VERSION_COL).count().collect())
        versions = []
        for v in labels:
            files = self._inventory(ds["path"], v)
            versions.append(
                {
                    "version": v,
                    "n_files": len(files),
                    "n_bytes": sum(files.values()),
                    "n_rows": int(counts.get(v, 0)),
                    "provenance": ds.get("provenance", {}).get(v),
                }
            )
        return {
            "name": dataframe_name,
            "schema": json.loads(ds["schema"]),
            "columns_keys": ds["columns_keys"],
            "constraints": dict(ds.get("constraints") or {}),
            "latest": ds.get("latest"),
            "versions": versions,
            "total_rows": sum(v["n_rows"] for v in versions),
            "total_bytes": sum(v["n_bytes"] for v in versions),
            "branched_from": ds.get("branched_from"),
        }

    # ---------------------------------------------------------------- compact

    def compact(
        self,
        dataframe_name: str,
        target_rows_per_file: int = 1_000_000,
        zorder_by: Optional[list] = None,
    ) -> Dict[str, Any]:
        """Rewrite a dataset's many small files into few large ones —
        the maintenance op every streaming-ingested table needs (each
        micro-batch version lands its own files; a day of 1-minute batches
        is 1440× too many files, and at 100 TB file listing alone starts to
        dominate planning).

        Rewrites ALL versions in one pass, preserving the partition/version
        dirs (reads with internal columns, writes partitioned by them into a
        fresh directory, then atomically swaps the manifest path). The old
        directory is removed only after the manifest points at the new one,
        so a crash leaves a readable dataset at every step.

        ``zorder_by=[cols…]`` additionally clusters rows WITHIN each
        partition dir by Morton z-value (``scale.with_zvalue``) during the
        same rewrite — successive output files and row groups take compact
        ranges of every clustered column, so min/max skipping prunes
        multi-dimensional predicates. The OPTIMIZE … ZORDER BY maintenance
        pattern, for free inside the compaction pass.
        """
        ds = self._dataset_entry(dataframe_name)
        df = self.load(dataframe_name, drop_internal=False)
        cluster_col = None
        if zorder_by:
            from .scale import with_zvalue

            df, cluster_col = with_zvalue(df, zorder_by, z_col="__zv"), "__zv"
        new_path = self._rewrite_dataset(
            dataframe_name,
            df,
            [f"__p_{c}" for c in ds["columns_keys"]],
            "compact",
            target_rows_per_file,
            cluster_col=cluster_col,
        )
        return {
            "dataframe_name": dataframe_name,
            "path": new_path,
            "target_rows_per_file": target_rows_per_file,
        }

    def scd2_history(self, dataframe_name, keys):
        """Flatten the version history into an SCD-2 (slowly-changing-
        dimension) view: one row per (key, unchanged-state run) with
        ``valid_from``/``valid_to`` version labels (``valid_to`` NULL =
        state current in the latest version). Rows re-inserted after an
        absence start a NEW run — deletions close intervals.

        All windows re-key on the dimension KEYS (per-task state is one
        run counter); versions map to dense indexes through a tiny
        broadcast table, so the pass costs one shuffle however long the
        history is."""
        ds = self._dataset_entry(dataframe_name)
        # manifest order IS commit order — labelled versions ('epoch-10')
        # don't sort lexicographically, so never re-sort them
        versions = [str(v) for v in ds["versions"]]
        if not versions:
            raise DatasetNotFound(f"{dataframe_name!r} has no committed versions")
        vindex = local_rows_df(self.spark,
            [(v, i) for i, v in enumerate(versions)], f"{VERSION_COL} string, __vi int"
        )
        df = self.load(dataframe_name, drop_internal=False)
        value_cols = [c for c in self._drop_internal(df).columns if c not in keys]
        # Change detection hashes to_json(struct(values)) — canonicalize
        # the representation-unstable types first, else semantically equal
        # states open spurious runs: map values serialize in PHYSICAL key
        # order (sort the entry list), and -0.0 == 0.0 but their JSON
        # differs (normalize by + 0.0; NaN stays NaN). Top-level columns
        # only — states with maps/floats NESTED inside structs/arrays are
        # compared representation-exact (documented contract).
        dtypes = dict(df.dtypes)

        def canon(c):
            t = dtypes[c]
            if t.startswith("map<"):
                return F.array_sort(F.map_entries(F.col(c))).alias(c)
            if t in ("double", "float"):
                return (F.col(c) + F.lit(0.0)).alias(c)
            return F.col(c)

        h = F.sha2(F.to_json(F.struct(*[canon(c) for c in sorted(value_cols)])), 256)
        base = (
            df.join(F.broadcast(vindex), VERSION_COL)
            .select(*keys, F.col("__vi"), h.alias("__h"), *value_cols)
        )
        dup = (
            base.groupBy(*keys, "__vi")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"scd2_history needs one row per (key, version); "
                f"{dict((k, dup[0][k]) for k in keys)} has {dup[0]['count']} rows "
                f"in version index {dup[0]['__vi']} — deduplicate or widen the key"
            )
        w = Window.partitionBy(*keys).orderBy("__vi")
        runs = (
            base.withColumn("__prev_h", F.lag("__h").over(w))
            .withColumn("__prev_vi", F.lag("__vi").over(w))
            .withColumn(
                "__new_run",
                (
                    F.col("__prev_h").isNull()
                    | (F.col("__prev_h") != F.col("__h"))
                    | (F.col("__prev_vi") != F.col("__vi") - 1)
                ).cast("int"),
            )
            .withColumn(
                "__run",
                F.sum("__new_run").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
        )
        grouped = runs.groupBy(*keys, "__run").agg(
            F.min("__vi").alias("__from_vi"),
            F.max("__vi").alias("__to_vi"),
            *[F.first(c).alias(c) for c in value_cols],
        )
        last_vi = len(versions) - 1
        # JVM-side label lookup: element_at over a literal array (no Python
        # UDF in the engine path; history length = array length, tiny)
        varr = F.array(*[F.lit(v) for v in versions])
        return grouped.select(
            *keys,
            *value_cols,
            F.element_at(varr, F.col("__from_vi") + 1).alias("valid_from"),
            F.when(
                F.col("__to_vi") < last_vi,
                F.element_at(varr, F.col("__to_vi") + 2),
            ).alias("valid_to"),
        )

    def diff_versions(self, dataframe_name, version_a, version_b):
        """What changed between two committed versions: row/byte/file
        deltas (footer-statistics pass, same cost model as DESCRIBE) plus
        the schema columns added/removed between the versions' recorded
        write schemas (provenance plan hashes shown when captured). The
        upgrade/rollback decision read."""
        desc = self.describe_dataset(dataframe_name)
        by_v = {v["version"]: v for v in desc["versions"]}
        a, b = str(version_a), str(version_b)
        missing = [v for v in (a, b) if v not in by_v]
        if missing:
            raise ValueError(
                f"version(s) {missing} not committed for {dataframe_name!r}; "
                f"have {sorted(by_v)}"
            )
        def _schema_cols(v):
            prov = by_v[v].get("provenance") or {}
            got = prov.get("schema_cols")
            return None if got is None else set(got)

        ca, cb = _schema_cols(a), _schema_cols(b)
        schema_known = ca is not None and cb is not None
        return {
            "dataset": dataframe_name,
            "from_version": a,
            "to_version": b,
            "row_delta": by_v[b]["n_rows"] - by_v[a]["n_rows"],
            "byte_delta": by_v[b]["n_bytes"] - by_v[a]["n_bytes"],
            "file_delta": by_v[b]["n_files"] - by_v[a]["n_files"],
            # None = unknown (version predates schema provenance) — never
            # report a false 'no change'
            "columns_added": sorted(cb - ca) if schema_known else None,
            "columns_removed": sorted(ca - cb) if schema_known else None,
            "plan_hash_changed": (
                (by_v[a].get("provenance") or {}).get("plan_hash")
                != (by_v[b].get("provenance") or {}).get("plan_hash")
            ),
        }

    def diff_branches(self, branch_name: str, other_name: str):
        """What diverged between two datasets sharing history (the
        branch-review read before :func:`merge_branch`): versions only
        on each side, shared labels whose CONTENT differs (the
        merge-blocking conflicts, detected by the same file-inventory
        compare merge_branch uses), and the fork point recorded at
        branch time.  Metadata-only — directory listings, no data
        read."""
        a = self._dataset_entry(branch_name)
        b = self._dataset_entry(other_name)
        va = {str(v) for v in a["versions"]}
        vb = {str(v) for v in b["versions"]}
        conflicts = [
            v
            for v in sorted(va & vb)
            if self._inventory(a["path"], v) != self._inventory(b["path"], v)
        ]
        return {
            "branch": branch_name,
            "other": other_name,
            "only_on_branch": [str(v) for v in a["versions"] if str(v) not in vb],
            "only_on_other": [str(v) for v in b["versions"] if str(v) not in va],
            "conflicting_labels": conflicts,
            "branched_from": a.get("branched_from"),
        }

    def branch_card(self, dataframe_name: str) -> DataFrame:
        """Branch-aware DATA CARD (r12, VERDICT r11 #8) — the queryable
        face of the branching trio (:func:`branch_dataset` /
        :func:`merge_branch` / :func:`diff_branches`): one row per
        committed version with its row count and its lineage position —
        ``branched_from`` (the fork source recorded at branch time),
        ``at_fork`` = 1 for versions shared with the fork point,
        ``post_fork`` = 1 for versions this dataset grew AFTER forking
        (both 0 for a dataset that is not a branch).  This is what a
        release review reads: which versions are inherited history and
        which are the branch's own work, sized.

        Row counts come from per-version parquet metadata counts (count
        aggregates push to footers — no data columns read); versions
        are retention-bounded, so the loop is small by construction."""
        ds = self._dataset_entry(dataframe_name)
        bf = ds.get("branched_from") or {}
        fork = {str(v) for v in bf.get("at_versions", [])}
        is_branch = bool(bf)
        rows = []
        for v in ds["versions"]:
            n = self.load(dataframe_name, external_key=v).count()
            rows.append(
                (
                    dataframe_name,
                    str(v),
                    int(n),
                    bf.get("source"),
                    int(is_branch and str(v) in fork),
                    int(is_branch and str(v) not in fork),
                )
            )
        return local_rows_df(self.spark,
            rows,
            "dataset string, version string, n_rows long, "
            "branched_from string, at_fork int, post_fork int",
        )

    def schema_history(self, dataframe_name: str) -> DataFrame:
        """SCHEMA-EVOLUTION CARD (r12) — the audit view of how a
        dataset's shape changed version over version (the companion of
        :func:`branch_card`'s row-count lineage): per committed
        version, the column count plus the columns ADDED and REMOVED
        relative to the previous version (comma-joined, sorted;
        empty-string when unchanged).  The per-version schema is read
        from each version directory's parquet FOOTERS only — no data
        pages — and internal columns (``__p_*``, the version label)
        are excluded, so the card shows the user-facing shape.

        This is what append-time schema merge makes queryable: a
        reviewer sees WHERE a column entered the history, not just the
        merged end state the manifest stores."""
        ds = self._dataset_entry(dataframe_name)
        rows = []
        prev: Optional[set] = None
        for v in ds["versions"]:
            vdir = os.path.join(ds["path"], f"{VERSION_COL}={v}")
            cols = set(self._drop_internal(self.spark.read.parquet(vdir)).columns)
            added = sorted(cols - prev) if prev is not None else sorted(cols)
            removed = sorted(prev - cols) if prev is not None else []
            rows.append(
                (
                    dataframe_name,
                    str(v),
                    len(cols),
                    ",".join(added),
                    ",".join(removed),
                )
            )
            prev = cols
        return local_rows_df(self.spark,
            rows,
            "dataset string, version string, n_columns int, "
            "added string, removed string",
        )

    def stream_changes(
        self,
        dataframe_name: str,
        drop_internal: bool = True,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame:
        """Change-data feed OUT of the engine: a streaming DataFrame that
        delivers every row appended to ``dataframe_name``, tagged with its
        ``__version`` label — the consumer-side twin of
        ``streaming.stream_into_engine``. Downstream incremental jobs
        (rollups, index maintenance, replication) read this instead of
        rescanning the corpus; with a checkpoint, a restarted consumer
        resumes exactly after the files it already processed.

        Semantics: the feed is the COMMITTED APPEND LOG. ``save`` stages
        each version in a dot-prefixed directory (hidden from Spark's file
        listing) and publishes it with one atomic rename, so partially
        written versions can never appear; rows surface exactly once per
        file (Spark's file-source seen-files log). One documented gap vs
        batch read-committed: a save that crashed AFTER its rename but
        BEFORE its manifest commit is invisible to ``load`` yet WILL
        surface here — consumers needing strict manifest semantics join
        against ``list_versions``. Retention (``keep_last`` /
        ``retain_last``) retires old dirs by rename; rows already
        delivered are unaffected.

        Scale: the file source lists only NEW files per trigger (no
        corpus rescan); ``max_files_per_trigger`` bounds a catching-up
        consumer's batch size. ``drop_internal`` removes bucketing
        internals but always keeps ``__version`` — that label IS the
        change metadata.
        """
        ds = self._dataset_entry(dataframe_name)
        reader = self.spark.readStream.schema(self._full_schema(ds))
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        df = reader.parquet(ds["path"])
        return self._drop_internal(df, keep_version=True) if drop_internal else df

    def load_incremental(
        self,
        dataframe_name: str,
        cursor=None,
        drop_internal: bool = True,
    ):
        """Batch change-data capture — the non-streaming twin of
        ``stream_changes`` for consumers that run on a schedule instead
        of holding a query open: returns ``(df, new_cursor)`` where
        ``df`` holds exactly the rows of committed versions NOT covered
        by ``cursor`` (a collection of already-processed version labels,
        e.g. the previous call's ``new_cursor``; None = everything) and
        ``new_cursor`` covers all versions visible now. Feeding
        ``new_cursor`` back makes repeated calls append-proportional —
        the same partition-pruned economics ``refresh_rollup`` uses
        internally, exposed for ANY downstream job.

        Strictly manifest read-committed (unlike the streaming feed's
        documented crash-window gap): only manifest-listed versions are
        ever visible or recorded in the cursor, so a version committed
        mid-stride is simply picked up by the next call. The version
        filter is a partition-column predicate — Catalyst prunes to the
        unprocessed dirs, never a corpus rescan. ``df`` keeps the
        ``__version`` label (the change metadata); ``drop_internal``
        removes only bucketing internals.
        """
        ds = self._dataset_entry(dataframe_name)
        done = {str(v) for v in (cursor or [])}
        visible = [str(v) for v in ds["versions"]]
        new = [v for v in visible if v not in done]
        df = self._read_versions(ds, new)
        if drop_internal:
            df = self._drop_internal(df, keep_version=True)
        return df, sorted(done | set(new))

    def fsck(self, dataframe_name=None, repair=False, min_age_seconds=3600.0):
        """Manifest ↔ disk consistency check (and optional repair) — the
        maintenance pass behind the crash-durability contract: a save that
        dies between the parquet write and the manifest commit leaves an
        ORPHAN ``__version=`` dir (invisible to reads, but paying storage).

        Reports, per dataset: ``orphan_versions`` (on disk, not committed),
        ``missing_versions`` (committed, no dir — data loss, NOT repairable
        here), and ``stale_provenance`` (manifest entries for dead
        versions). With ``repair=True`` orphan dirs and stale provenance
        are removed under the manifest lock.

        CONCURRENCY: an uncommitted dir is indistinguishable from a LIVE
        concurrent save() still writing (data lands outside the lock; the
        commit comes later) — so repair only deletes orphans whose dir
        mtime is older than ``min_age_seconds`` (default 1 h, far above
        any commit latency). Younger candidates are reported but kept."""
        with self._manifest_lock():
            manifest = self._read_manifest()
            names = (
                [dataframe_name] if dataframe_name else list(manifest["datasets"])
            )
            now = time.time()
            report = {}
            for name in names:
                ds = manifest["datasets"].get(name)
                if ds is None:
                    raise DatasetNotFound(name)
                committed = {str(v) for v in ds["versions"]}
                on_disk = self._versions_on_disk(ds["path"])
                orphans = sorted(on_disk - committed)
                # Hidden scratch trees from crashed committed-label
                # overwrites (save stages into `.__stage-*`, swaps via
                # `.__retired-*`): invisible to readers, reaped with the
                # same age guard as orphan versions.
                try:
                    stage_dirs = sorted(
                        n
                        for n in os.listdir(ds["path"])
                        if n.startswith((".__stage-", ".__retired-"))
                    )
                except OSError:
                    stage_dirs = []
                missing = sorted(committed - on_disk)
                stale_prov = sorted(
                    k for k in ds.get("provenance", {}) if k not in committed
                )
                repaired_versions = []
                if repair:
                    for v, d in [
                        (v, os.path.join(ds["path"], f"{VERSION_COL}={v}"))
                        for v in orphans
                    ] + [(n, os.path.join(ds["path"], n)) for n in stage_dirs]:
                        try:
                            # max mtime across the TREE, not the top dir:
                            # a live save writing into nested __p_*
                            # partition subdirs doesn't refresh the top
                            # dir's mtime, so a long-running write could
                            # look old enough to delete
                            newest = os.path.getmtime(d)
                            for root_, _dirs, files in os.walk(d):
                                newest = max(
                                    newest,
                                    os.path.getmtime(root_),
                                    *(
                                        os.path.getmtime(os.path.join(root_, f))
                                        for f in files
                                    ),
                                )
                            age = now - newest
                        except OSError:
                            continue
                        if age >= min_age_seconds:
                            shutil.rmtree(d, ignore_errors=True)
                            repaired_versions.append(v)
                    for k in stale_prov:
                        ds["provenance"].pop(k, None)
                report[name] = {
                    "orphan_versions": orphans,
                    "missing_versions": missing,
                    "stale_provenance": stale_prov,
                    "stale_staging": stage_dirs,
                    "repaired": repaired_versions if repair else False,
                }
            if repair:
                self._write_manifest(manifest)
        return report

    def repartition_dataset(
        self, dataframe_name: str, new_columns_keys: Dict[str, str]
    ) -> Dict[str, Any]:
        """Partition-layout EVOLUTION: rewrite the dataset under a new
        Date/ID key layout. ``save`` refuses a conflicting layout on
        append (a mixed tree would corrupt pruning); this is the explicit
        migration path — every version's rows re-derive their ``__p_*``
        columns under the new keys in one rewrite, version labels and
        history intact, and the manifest swaps atomically (compact()'s
        crash contract: the old tree is removed only after the manifest
        points at the new one)."""
        for col, key_type in new_columns_keys.items():
            if key_type not in KEY_TYPES:
                raise ValueError(f"key type for {col!r} must be one of {KEY_TYPES}")
        df = self.load(dataframe_name, drop_internal=False)
        missing = [c for c in new_columns_keys if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns {missing} not in dataset schema")
        out, new_pcols = self._derive_partition_cols(
            self._drop_internal(df, keep_version=True), new_columns_keys
        )
        new_path = self._rewrite_dataset(
            dataframe_name, out, new_pcols, "repart", 100_000, columns_keys=new_columns_keys
        )
        return {
            "dataframe_name": dataframe_name,
            "path": new_path,
            "columns_keys": dict(new_columns_keys),
        }

    def restore(
        self, dataframe_name: str, external_key: str, new_key: str = "NOW"
    ) -> Dict[str, Any]:
        """Roll a dataset back to a past version by COMMITTING that
        version's rows as a NEW version (the Delta ``RESTORE`` shape:
        history stays intact and auditable — nothing is deleted, the
        latest pointer simply moves forward onto old data). The restored
        copy re-partitions under the dataset's own keys and carries
        provenance like any save, so ``diff_versions`` shows exactly what
        the rollback changed.
        """
        ds = self._dataset_entry(dataframe_name)
        if str(external_key) not in {str(v) for v in ds["versions"]}:
            raise DatasetNotFound(
                f"{dataframe_name!r} has no version {external_key!r}"
            )
        snapshot = self.load(dataframe_name, external_key=external_key)
        return self.save(snapshot, dataframe_name, external_key=new_key)

    def retain_last(self, dataframe_name: str, n: int) -> Dict[str, Any]:
        """Retention maintenance: keep only the newest ``n`` committed
        versions (manifest order = commit order), delete the rest — the
        between-saves form of ``save(keep_last=True)`` (which keeps 1) /
        the VACUUM-with-retention analogue. Manifest updates under the
        lock AFTER the directories are gone, so a crash mid-prune leaves
        extra-but-listed versions (fsck-visible), never dangling catalog
        entries."""
        if n < 1:
            raise ValueError("retain_last needs n >= 1")
        ds = self._dataset_entry(dataframe_name)
        doomed = [str(v) for v in ds["versions"][:-n]]
        for v in doomed:
            self._delete_version_dirs(ds["path"], v)
        with self._manifest_lock():
            manifest = self._read_manifest()
            entry = manifest["datasets"].get(dataframe_name)
            if entry is None:
                raise DatasetNotFound(dataframe_name)
            entry["versions"] = [v for v in entry["versions"] if str(v) not in set(doomed)]
            entry["provenance"] = {
                k: p
                for k, p in entry.get("provenance", {}).items()
                if k not in set(doomed)
            }
            if entry["versions"]:
                entry["latest"] = entry["versions"][-1]
            self._write_manifest(manifest)
        return {"deleted_versions": doomed, "kept": len(ds["versions"]) - len(doomed)}

    def branch_dataset(
        self, source_name: str, branch_name: str
    ) -> Dict[str, Any]:
        """Fork a dataset into an independent BRANCH (the lakehouse
        branching shape — Iceberg refs / Nessie — at warehouse level):
        the branch starts with every committed version of the source and
        then evolves independently — saves, retention, restore, and
        deletion on either side never affect the other.

        Zero-copy on a local/posix warehouse: version files HARDLINK
        into the branch's own directory tree (same inodes, no data
        bytes moved), which is what makes the isolation real — source
        retention can delete its directory entries while the branch's
        links keep the shared inodes alive (pinned in tests).  A
        cross-device or object-store warehouse falls back to file copy
        per file (the manifest-reference design an Iceberg-style
        catalog would use instead is noted in the docstring body —
        this engine keeps load()'s one-root contract).  The branch
        entry records ``branched_from`` (source + fork point) so data
        cards can show lineage.
        """
        src = self._dataset_entry(source_name)
        existing = self._read_manifest()["datasets"].get(branch_name)
        if existing is not None:
            raise ValueError(f"dataset {branch_name!r} already exists")
        dst_path = self._dataset_path(branch_name)
        os.makedirs(dst_path, exist_ok=True)
        for v in src["versions"]:
            self._link_version(src["path"], dst_path, v)
        with self._manifest_lock():
            manifest = self._read_manifest()
            if branch_name in manifest["datasets"]:
                raise ValueError(f"dataset {branch_name!r} already exists")
            manifest["datasets"][branch_name] = {
                "path": dst_path,
                "columns_keys": src["columns_keys"],
                "versions": list(src["versions"]),
                "schema": src["schema"],
                "provenance": dict(src.get("provenance", {})),
                "latest": src.get("latest"),
                "branched_from": {
                    "source": source_name,
                    "at_versions": [str(v) for v in src["versions"]],
                },
            }
            if "constraints" in src:
                manifest["datasets"][branch_name]["constraints"] = list(
                    src["constraints"]
                )
            self._write_manifest(manifest)
        return {
            "dataframe_name": branch_name,
            "branched_from": source_name,
            "versions": [str(v) for v in src["versions"]],
        }

    def merge_branch(
        self, branch_name: str, into_name: str
    ) -> Dict[str, Any]:
        """FAST-FORWARD a branch back into another dataset (the
        complement of :func:`branch_dataset`): every version the branch
        has that the target lacks is appended to the target, in the
        branch's commit order — files hardlink across (zero-copy, same
        contract as branching), the target's latest pointer moves to
        the newest merged version, and provenance travels.

        A version LABEL present on both sides is only skipped when it
        is the SAME commit (identical file inventory — the shared
        fork-point versions); a label collision with different content
        raises listing the conflicts, because silently preferring
        either side would rewrite committed history (resolve by
        restoring one side under a new key first).  Schema merges
        through the same evolution rule as append."""
        src = self._dataset_entry(branch_name)
        dst = self._dataset_entry(into_name)
        dst_versions = {str(v) for v in dst["versions"]}
        to_merge, conflicts = [], []
        for v in src["versions"]:
            if str(v) not in dst_versions:
                to_merge.append(str(v))
            elif self._inventory(src["path"], v) != self._inventory(dst["path"], v):
                conflicts.append(str(v))
        if conflicts:
            raise ValueError(
                f"merge_branch: version label(s) {conflicts} exist on both "
                f"{branch_name!r} and {into_name!r} with DIFFERENT content — "
                "restore one side under a new key, then merge"
            )
        for v in to_merge:
            self._link_version(src["path"], dst["path"], v)
        with self._manifest_lock():
            manifest = self._read_manifest()
            entry = manifest["datasets"].get(into_name)
            if entry is None:
                raise DatasetNotFound(into_name)
            src_entry = manifest["datasets"].get(branch_name) or src
            entry["schema"] = self._merge_schema(
                entry["schema"], T.StructType.fromJson(json.loads(src_entry["schema"]))
            ).json()
            for v in to_merge:
                if v not in {str(x) for x in entry["versions"]}:
                    entry["versions"].append(v)
                prov = src_entry.get("provenance", {}).get(v)
                if prov is not None:
                    entry.setdefault("provenance", {})[v] = prov
            if to_merge:
                entry["latest"] = to_merge[-1]
            self._write_manifest(manifest)
        return {
            "merged_versions": to_merge,
            "into": into_name,
            "from": branch_name,
        }

    def delete_dataset(self, dataframe_name: str) -> Dict[str, Any]:
        """Drop a dataset: remove its data directory and catalog entry.

        An extension beyond the reference (its SDK has no deletion method,
        SURVEY §2.5) — without it a versioned warehouse can only grow.
        Manifest is updated AFTER the data is gone, so a crash mid-delete
        leaves a listed-but-shrinking dataset, never a dangling catalog
        entry pointing at nothing.
        """
        ds = self._dataset_entry(dataframe_name)
        shutil.rmtree(ds["path"], ignore_errors=True)
        # Prune now-empty name directories up to (never including) the
        # warehouse root; a nested sibling like 'a/b' keeps 'a/' alive.
        parent = os.path.dirname(ds["path"])
        root = os.path.realpath(self.warehouse)
        while os.path.realpath(parent) != root:
            try:
                os.rmdir(parent)
            except OSError:
                break
            parent = os.path.dirname(parent)
        with self._manifest_lock():
            manifest = self._read_manifest()
            manifest["datasets"].pop(dataframe_name, None)
            self._write_manifest(manifest)
        return {"dataframe_name": dataframe_name, "deleted": True}

    # ---------------------------------------------------------------- scoping

    def scoped(self, principal: str) -> "DataFrameEngine":
        """Per-user isolation (reference B9: the service keeps each user's
        datasets in their own bucket prefix, README.md:23-26): returns an
        engine rooted at ``<warehouse>/__users/<principal>/`` with its own
        manifest — names, versions, and data of different principals can
        never collide, and ``list_datasets`` only sees the caller's scope.
        """
        if not principal or not isinstance(principal, str):
            raise ValueError("principal must be a non-empty string")
        safe = re.sub(r"[^A-Za-z0-9._-]", "_", principal)
        return DataFrameEngine(
            self.spark,
            os.path.join(self.warehouse, "__users", safe),
            self.id_bucket_width,
            self._clock,
        )

    # ------------------------------------------------ incremental rollups

    _ROLLUP_FNS = ("count", "sum", "min", "max", "avg", "approx_distinct")

    # Bumped whenever the MEANING of a stored state column changes (e.g.
    # format 2: avg's denominator moved from count(*) to count(col)).
    # refresh_rollup compares the spec's stamp against this and forces a
    # FULL recompute on mismatch — merging old-format counts with
    # new-format increments would silently mix denominators on
    # null-bearing columns after an upgrade.
    _ROLLUP_STATE_FORMAT = 2

    def define_rollup(
        self,
        rollup_name: str,
        source_name: str,
        keys,
        aggs: Dict[str, Any],
    ) -> Dict[str, Any]:
        """Register an incrementally-maintained aggregate over a dataset —
        the engine's materialized-view primitive. ``aggs`` maps output
        column → ``(fn, source_col)`` with fn in count/sum/min/max/avg
        (the algebraic aggregates whose partial states merge associatively:
        count/sum merge by +, min/max by least/greatest, avg as a
        (sum, count) pair).

        WHY: at 100 TB, recomputing a dashboard rollup on every append
        rescans the corpus; because the engine's appends are immutable
        version directories, ``refresh_rollup`` aggregates ONLY the
        versions that arrived since the last refresh (a partition-pruned
        scan of just the new files) and merges the partial states into the
        stored rollup — append-proportional work, corpus-independent.
        """
        if not rollup_name or not isinstance(rollup_name, str):
            raise ValueError("rollup_name must be a non-empty string")
        src = self._dataset_entry(source_name)  # raises if missing
        src_cols = {f["name"] for f in json.loads(src["schema"])["fields"]}
        keys = list(keys)
        for k in keys:
            if k not in src_cols:
                raise ValueError(f"rollup key {k!r} not in {source_name!r}")
        aggs = {out: (fn, col) for out, (fn, col) in dict(aggs).items()}
        for out, (fn, col) in aggs.items():
            if fn not in self._ROLLUP_FNS:
                raise ValueError(
                    f"agg {out!r}: fn must be one of {self._ROLLUP_FNS}"
                )
            if fn != "count" and col not in src_cols:
                raise ValueError(f"agg {out!r}: column {col!r} not in source")
        with self._manifest_lock():
            manifest = self._read_manifest()
            rollups = manifest.setdefault("rollups", {})
            if rollup_name in rollups or rollup_name in manifest["datasets"]:
                raise ValueError(f"{rollup_name!r} already exists")
            rollups[rollup_name] = {
                "source": source_name,
                "keys": keys,
                "aggs": {out: list(fc) for out, fc in aggs.items()},
                "processed": [],
                "state_version": None,
                "state_format": self._ROLLUP_STATE_FORMAT,
            }
            self._write_manifest(manifest)
        return dict(rollups[rollup_name])

    def _rollup_spec(self, rollup_name: str) -> Dict[str, Any]:
        spec = self._read_manifest().get("rollups", {}).get(rollup_name)
        if spec is None:
            raise DatasetNotFound(f"rollup {rollup_name!r} is not defined")
        return spec

    @staticmethod
    def _rollup_state_cols(aggs):
        """State columns per output: avg keeps a (sum, count) pair; sums
        accumulate in DECIMAL(28,6) (exact, associative — the corpus-wide
        dsum discipline); counts in long; min/max in the source type.

        avg's count state is ``countcol`` — count(col), nulls skipped — so
        read_rollup's sum/count reproduces SQL AVG on null-bearing columns;
        only the user-facing ``count`` aggregate is count(*).

        approx_distinct keeps a datasketches HLL sketch (binary): the
        MERGEABLE distinct-count state — refresh N unions the new
        versions' sketches into the stored one, so incremental distinct
        dashboards never rescan history (an exact distinct is the one
        aggregate a partial-state rollup cannot maintain incrementally
        without keeping the full key domain)."""
        cols = []
        for out, (fn, col) in aggs.items():
            if fn == "avg":
                cols.append((f"__s_{out}_sum", "sum", col))
                cols.append((f"__s_{out}_cnt", "countcol", col))
            else:
                cols.append((f"__s_{out}", fn, col))
        return cols

    def refresh_rollup(self, rollup_name: str) -> Dict[str, Any]:
        """Fold versions appended since the last refresh into the rollup.

        Incremental contract: the new-version rows are scanned ONCE
        (partition-pruned to exactly the unprocessed ``__version`` dirs),
        pre-aggregated map-side, and merged with the stored state by the
        aggregates' own merge functions — the same partial/final split
        Spark uses inside one job, lifted across jobs.

        Crash consistency: the merged state lands as a NEW version of the
        rollup dataset first; the spec's (processed, state_version) pair
        updates second, atomically. A crash between the two leaves an
        orphan state version that no reader sees (``read_rollup`` pins the
        spec's state_version) and the next refresh redoes the same merge
        from the old base — idempotent, never double-counted.

        State versions accumulate like any dataset's (each refresh is a
        new version — the rollup's own time travel); prune history with
        ``retain_last(rollup_name, n)`` when the audit trail isn't needed.
        """
        spec = self._rollup_spec(rollup_name)
        src = self._dataset_entry(spec["source"])
        # State-format migration: a spec stamped with an older (or, for
        # pre-stamp manifests, missing) format holds state whose columns
        # mean something different from what this code increments — e.g.
        # format 1 avg counts were count(*), format 2 are count(col).
        # Merging would mix denominators, so recompute from scratch: drop
        # the processed ledger and ignore the stored state base.
        migrate = spec.get("state_format") != self._ROLLUP_STATE_FORMAT
        done = set() if migrate else set(spec["processed"])
        new = [str(v) for v in src["versions"] if str(v) not in done]
        if not new:
            if migrate and spec["state_version"] is not None:
                # nothing to recompute (e.g. every source version retired
                # by retention), but the stored state is in the OLD format
                # — discard it and stamp the spec, else read_rollup keeps
                # serving stale-format state indefinitely
                with self._manifest_lock():
                    manifest = self._read_manifest()
                    live = manifest["rollups"][rollup_name]
                    live["processed"] = []
                    live["state_version"] = None
                    live["state_format"] = self._ROLLUP_STATE_FORMAT
                    self._write_manifest(manifest)
                return {"refreshed_versions": [], "state_version": None}
            return {"refreshed_versions": [], "state_version": spec["state_version"]}
        aggs = {out: tuple(fc) for out, fc in spec["aggs"].items()}
        keys = spec["keys"]
        df = self._read_versions(src, new)
        first_exprs, merge_exprs = [], []
        for state, fn, col in self._rollup_state_cols(aggs):
            if fn == "count":
                first_exprs.append(F.count(F.lit(1)).cast("long").alias(state))
                merge_exprs.append(F.sum(state).cast("long").alias(state))
            elif fn == "countcol":
                # avg's denominator: nulls skipped, matching SQL AVG
                first_exprs.append(F.count(F.col(col)).cast("long").alias(state))
                merge_exprs.append(F.sum(state).cast("long").alias(state))
            elif fn == "approx_distinct":
                first_exprs.append(F.hll_sketch_agg(F.col(col)).alias(state))
                merge_exprs.append(F.hll_union_agg(F.col(state)).alias(state))
            elif fn == "sum":
                # sum(decimal(28,6)) widens to (38,6); pin the stored state
                # type so refresh N's schema equals refresh 1's
                first_exprs.append(
                    F.sum(F.col(col).cast("decimal(28,6)"))
                    .cast("decimal(28,6)")
                    .alias(state)
                )
                merge_exprs.append(
                    F.sum(F.col(state)).cast("decimal(28,6)").alias(state)
                )
            elif fn == "min":
                first_exprs.append(F.min(col).alias(state))
                merge_exprs.append(F.min(state).alias(state))
            elif fn == "max":
                first_exprs.append(F.max(col).alias(state))
                merge_exprs.append(F.max(state).alias(state))
        partial = df.groupBy(*keys).agg(*first_exprs)
        if spec["state_version"] is not None and not migrate:
            old = self.load(rollup_name, external_key=spec["state_version"])
            partial = old.select(partial.columns).unionByName(partial)
            partial = partial.groupBy(*keys).agg(*merge_exprs)
        info = self.save(partial, rollup_name)
        state_version = info["version"]
        with self._manifest_lock():
            manifest = self._read_manifest()
            live = manifest["rollups"][rollup_name]
            if migrate:
                live["processed"] = sorted(set(new))
            else:
                live["processed"] = sorted(set(live["processed"]) | set(new))
            live["state_version"] = str(state_version)
            live["state_format"] = self._ROLLUP_STATE_FORMAT
            self._write_manifest(manifest)
        return {"refreshed_versions": new, "state_version": str(state_version)}

    def read_rollup(self, rollup_name: str) -> DataFrame:
        """The rollup as user-facing columns: counts long, sums double,
        min/max native, avg = exact-decimal sum / count."""
        spec = self._rollup_spec(rollup_name)
        if spec["state_version"] is None:
            raise ValueError(f"rollup {rollup_name!r} has never been refreshed")
        df = self.load(rollup_name, external_key=spec["state_version"])
        aggs = {out: tuple(fc) for out, fc in spec["aggs"].items()}
        out_cols = [F.col(k) for k in spec["keys"]]
        for out, (fn, col) in aggs.items():
            if fn == "avg":
                # all-null group: count state is 0 -> NULL, exactly SQL AVG
                out_cols.append(
                    F.when(
                        F.col(f"__s_{out}_cnt") > 0,
                        F.col(f"__s_{out}_sum").cast("double")
                        / F.col(f"__s_{out}_cnt"),
                    ).alias(out)
                )
            elif fn == "sum":
                out_cols.append(F.col(f"__s_{out}").cast("double").alias(out))
            elif fn == "approx_distinct":
                out_cols.append(
                    F.hll_sketch_estimate(F.col(f"__s_{out}"))
                    .cast("long")
                    .alias(out)
                )
            else:
                out_cols.append(F.col(f"__s_{out}").alias(out))
        return df.select(*out_cols)

    # ---------------------------------------------------------------- helpers

    def _merge_schema(self, stored_json: str, new_schema) -> "T.StructType":
        """Schema evolution on append: union of fields by name. A re-typed
        column is a hard error (silent coercion corrupts data at scale);
        a new column is fine — old files simply lack it and read as NULL.
        """
        merged = T.StructType.fromJson(json.loads(stored_json))
        have = {f.name: f for f in merged.fields}
        for f in new_schema.fields:
            old = have.get(f.name)
            if old is None:
                merged = merged.add(f.name, f.dataType, True)
            elif old.dataType != f.dataType:
                raise ValueError(
                    f"schema conflict on column {f.name!r}: stored "
                    f"{old.dataType.simpleString()}, appended {f.dataType.simpleString()}"
                )
        return merged

    def _full_schema(self, ds: Dict[str, Any]) -> "T.StructType":
        """Manifest schema + typed partition columns. Passing this explicit
        schema to the reader (instead of mergeSchema=true) means NO parquet
        footer sweep at plan time — at 100 TB that's millions of files —
        and appended columns surface as NULL for pre-evolution versions.
        Partition columns are pinned to string so numeric-looking version
        labels or date dirs never get re-inferred as longs.
        """
        full = T.StructType.fromJson(json.loads(ds["schema"]))
        for col in ds["columns_keys"]:
            full = full.add(f"__p_{col}", T.StringType(), True)
        full = full.add(VERSION_COL, T.StringType(), True)
        return full

    @staticmethod
    def _select_versions(
        ds: Dict[str, Any],
        dataframe_name: str,
        external_key: Optional[str] = None,
        use_last: bool = False,
        as_of: Optional[int] = None,
    ) -> list:
        """The version labels a read selects: the newest 'NOW' stamp at or
        before ``as_of``, else the latest (``use_last``), else the pinned
        ``external_key``, else every committed version."""
        if as_of is not None:
            stamped = [v for v in ds["versions"] if str(v).isdigit() and int(v) <= as_of]
            if not stamped:
                raise DatasetNotFound(
                    f"{dataframe_name!r} has no 'NOW'-stamped version at or before {as_of}"
                )
            external_key = max(stamped, key=int)
        elif use_last:
            external_key = ds.get("latest")
        if external_key is not None:
            return [str(external_key)]
        return [str(v) for v in ds["versions"]]

    @staticmethod
    def _version_dirs(ds: Dict[str, Any], versions) -> list:
        return [os.path.join(ds["path"], f"{VERSION_COL}={v}") for v in versions]

    @classmethod
    def _version_paths(cls, ds: Dict[str, Any], versions) -> list:
        """Reader paths for ``versions``' dirs: one ``{a,b,…}`` glob when
        every label is glob-safe. Spark checks each explicit path on its
        own thread, so N paths plan slower than one glob (or the whole
        root) — measured 57 vs 47 ms at 8 versions, 175 vs 124 ms at 24;
        the glob lists only the selected dirs at the root's cost."""
        if len(versions) > 1 and all(_GLOB_SAFE.fullmatch(v) for v in versions):
            return [os.path.join(ds["path"], f"{VERSION_COL}={{{','.join(versions)}}}")]
        return cls._version_dirs(ds, versions)

    def _dataset_entry(self, name: str) -> Dict[str, Any]:
        manifest = self._read_manifest()
        try:
            return manifest["datasets"][name]
        except KeyError:
            raise DatasetNotFound(name) from None

    def _dataset_path(self, name: str) -> str:
        """'a/b/c' hierarchical names (README.md:66-72) map to nested dirs,
        with the data itself under a ``__data`` leaf.

        The leaf matters twice: (1) a dataset named ``a`` and a dataset
        named ``a/b`` coexist — ``a``'s scan reads ``a/__data`` and never
        sweeps ``a/b``'s files into its partition discovery; (2) traversal
        names cannot escape the warehouse — ``.``/``..`` segments are
        rejected outright and the resolved path is verified to stay under
        the warehouse root (``delete_dataset`` rmtree's this path, so an
        unchecked ``../../etc`` would be an arbitrary-delete primitive).
        """
        segments = [s for s in name.strip("/").split("/") if s]
        if not segments:
            raise ValueError(f"invalid dataset name {name!r}: empty")
        if any(s in (".", "..") for s in segments):
            raise ValueError(f"invalid dataset name {name!r}: '.'/'..' segments")
        path = os.path.join(self.warehouse, *segments, "__data")
        root = os.path.realpath(self.warehouse)
        resolved = os.path.realpath(path)
        if os.path.commonpath([root, resolved]) != root:
            raise ValueError(f"dataset name {name!r} escapes the warehouse root")
        return path

    @staticmethod
    def _delete_version_dirs(root: str, version: str) -> None:
        shutil.rmtree(os.path.join(root, f"{VERSION_COL}={version}"), ignore_errors=True)

    # ------------------------------------------------------- version files

    @staticmethod
    def _version_files(version_dir: str) -> list:
        """The files a Spark scan of ``version_dir`` reads, sorted — the
        one listing every reader and maintenance op takes a version's data
        from (sidecars, ``_SUCCESS`` and crash leftovers such as
        ``_temporary/`` are hidden by Spark's rule, so they are not data)."""
        out = []
        for dp, dirs, files in os.walk(version_dir):
            dirs[:] = sorted(d for d in dirs if not _hidden(d))
            out += [os.path.join(dp, f) for f in sorted(files) if not _hidden(f)]
        return out

    def _inventory(self, path: str, version) -> Dict[str, int]:
        """A version's data files (relative path → size): what describe
        reports and what branch diff/merge compare to tell one commit from
        another."""
        vdir = os.path.join(path, f"{VERSION_COL}={version}")
        return {os.path.relpath(f, vdir): os.path.getsize(f) for f in self._version_files(vdir)}

    def _read_versions(self, ds: Dict[str, Any], versions, files=None) -> DataFrame:
        """The one versioned Spark read: ``versions``' rows under the
        manifest schema, internal columns included. Only the selected
        version dirs are listed (not the dataset root), so planning cost
        follows the versions read, not the versions kept; nothing to read
        gives an empty frame. Read-committed: the version filter (a
        partition predicate) keeps files of a save that crashed before its
        manifest commit, or of a version pruned but not yet deleted, out of
        reads. ``files``, taken from the selected version dirs, narrows the
        scan to them and needs no filter: each ``filter`` is one more
        analysis round trip to the JVM (a 15-label ``isin`` measured ~25 ms
        on a 4-core box)."""
        paths = files
        if files is None:
            present = [
                v for v, d in zip(versions, self._version_dirs(ds, versions)) if os.path.isdir(d)
            ]
            paths = self._version_paths(ds, present) if present else []
        schema = self._full_schema(ds)
        if not paths:
            return local_rows_df(self.spark, [], schema)
        df = self.spark.read.schema(schema).option("basePath", ds["path"]).parquet(*paths)
        return df if files is not None else df.filter(F.col(VERSION_COL).isin(versions))

    @staticmethod
    def _drop_internal(df: DataFrame, keep_version: bool = False) -> DataFrame:
        """``df`` without the derived ``__p_*`` partition columns and, unless
        ``keep_version``, the version label."""
        return df.drop(
            *[
                c
                for c in df.columns
                if c.startswith("__p_") or (c == VERSION_COL and not keep_version)
            ]
        )

    @staticmethod
    def _link_version(src_path: str, dst_path: str, version) -> None:
        """Hardlink version ``version``'s tree from one dataset root into
        another (zero-copy; a file copy where linking fails, e.g. across
        devices). Idempotent on retry after a crash — but a prior attempt's
        copy may have died mid-file, leaving a truncated dst. A dst is kept
        only when it is the same inode (a completed link) or byte-complete
        (a completed copy — safe as an equality proxy only because version
        files are immutable); otherwise it is redone. dst may vanish
        between the failed link and the stat (a concurrent retry's unlink)
        — a plain copy then."""
        src_dir = os.path.join(src_path, f"{VERSION_COL}={version}")
        for root, _dirs, files in os.walk(src_dir):
            rel = os.path.relpath(root, src_path)
            os.makedirs(os.path.join(dst_path, rel), exist_ok=True)
            for fn in files:
                s, d = os.path.join(root, fn), os.path.join(dst_path, rel, fn)
                try:
                    os.link(s, d)
                except FileExistsError:
                    try:
                        st_s, st_d = os.stat(s), os.stat(d)
                        if not (os.path.samestat(st_s, st_d) or st_s.st_size == st_d.st_size):
                            os.unlink(d)
                            try:
                                os.link(s, d)
                            except OSError:
                                shutil.copy2(s, d)
                    except FileNotFoundError:
                        shutil.copy2(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def _rewrite_dataset(
        self,
        dataframe_name: str,
        df: DataFrame,
        partition_cols: list,
        tag: str,
        rows_per_file: int,
        cluster_col: Optional[str] = None,
        columns_keys: Optional[Dict[str, str]] = None,
    ) -> str:
        """Rewrite every version of a dataset into a fresh directory and
        swap it in (compact() and repartition_dataset()): ``df`` (internal
        columns included) is written partitioned by the version, then
        ``partition_cols``; each version dir gets a fresh stats sidecar;
        the manifest path (and ``columns_keys``, when given) swaps under
        the lock; the old tree is removed only after the manifest points
        at the new one, so a crash leaves a readable dataset at every step.
        ``cluster_col`` orders rows within each dir and is not written.
        Returns the new path."""
        old_path = self._dataset_entry(dataframe_name)["path"]
        new_path = old_path.rstrip("/") + f".{tag}.{uuid.uuid4().hex[:8]}"
        # version OUTERMOST, as save() writes it, so later appends keep one
        # consistent partition ordering
        partition_cols = [VERSION_COL] + list(partition_cols)
        cluster = [cluster_col] if cluster_col else []
        (
            # repartition on the partition columns: all rows of one partition
            # dir land in one task → one output file (maxRecordsPerFile still
            # splits genuinely large partitions). Without this, the write
            # inherits one task per small input file and compacts nothing.
            df.repartition(*[F.col(c) for c in partition_cols])
            .sortWithinPartitions(*partition_cols, *cluster)
            .drop(*cluster)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*partition_cols)
            .parquet(new_path)
        )
        # fresh files → fresh data-skipping sidecars (metadata-only: a
        # failure leaves that version to be read in full)
        for v in self._versions_on_disk(new_path):
            try:
                self._collect_file_stats(os.path.join(new_path, f"{VERSION_COL}={v}"))
            except Exception:
                pass
        with self._manifest_lock():
            manifest = self._read_manifest()
            entry = manifest["datasets"].get(dataframe_name)
            if entry is None:
                raise DatasetNotFound(dataframe_name)
            entry["path"] = new_path
            if columns_keys is not None:
                entry["columns_keys"] = dict(columns_keys)
            self._write_manifest(manifest)
        shutil.rmtree(old_path, ignore_errors=True)
        return new_path


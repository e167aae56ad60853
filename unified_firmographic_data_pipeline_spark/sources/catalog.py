"""Parquet table catalog + materializers (SURVEY.md §2.A A5/A6, §3.2).

The medallion layers (raw/staging/core/analytics) are directories of parquet
tables. Three materialization strategies, mirroring dbt's
(``dbt_project.yml:35-56``):

- ``table``: full overwrite (dims/fact).
- ``incremental``: watermark delta + keyed upsert (staging/core/fact).
- ``snapshot``: SCD2 fold (snapshots).

Writes are atomic via write-temp-then-swap (Spark's parquet overwrite is not
atomic on plain filesystems; with Delta/Iceberg this class would delegate to
MERGE/REPLACE and inherit ACID)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType, StructType, TimestampNTZType, TimestampType


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence check through the Hadoop FileSystem
    API — resolves the scheme (``file:``, ``hdfs:``, ``s3a:``, ...) from
    the path against the session's Hadoop conf, so state-holding sinks
    (``streaming/ingest.py``) never mistake a REMOTE table for absent the
    way a driver-local ``os.path.exists`` does (round-8 verdict: that
    mistake silently truncates landed state to one batch). Falls back to
    ``os.path.exists`` only when no JVM gateway is reachable (Spark
    Connect), where only local paths are supported anyway."""
    try:
        jvm = spark._jvm
        jconf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        return bool(p.getFileSystem(jconf).exists(p))
    except AttributeError:
        return os.path.exists(path)


def _save(writer: DataFrameWriter, fmt: str, path: str) -> None:
    """Finish ``writer`` in one of the CATALOG_FORMATS."""
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "xml":
        writer.format("xml").option("rootTag", "rows").option("rowTag", "row").save(path)
    else:
        getattr(writer, fmt)(path)


def atomic_swap_write(
    df: DataFrame,
    final: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> str:
    """Write ``df`` to ``final`` atomically: write to a sibling temp dir,
    ``os.replace`` the old dir aside, ``os.replace`` the temp in, then remove
    the old dir. The original data is never deleted before the replacement is
    fully in place, so a crash at any point leaves either the old or the new
    table readable (never a missing/partial directory). Also required by the
    self-referencing incremental pattern: ``df`` may lazily read ``final``
    while the temp dir is being written. Returns the temp dir it wrote
    (already swapped into ``final``) for callers that want its file listing.

    CALLER CONTRACT: ``final`` must be a DRIVER-LOCAL POSIX path — the
    atomicity comes from ``os.replace`` rename semantics, which do not
    exist on object stores. A scheme-qualified remote path fails loudly
    here (``os.replace`` ENOENT) rather than corrupting anything; remote
    deployments should delegate this tier to Delta/Iceberg
    MERGE/REPLACE as the module docstring describes. Existence PROBES of
    possibly-remote tables must use :func:`fs_exists`, never
    ``os.path.exists`` (a remote table probed with the latter reads as
    absent → state-holding callers would silently truncate)."""
    tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _save(writer, fmt, tmp)
    old = final + ".old-" + uuid.uuid4().hex[:8]
    if os.path.exists(final):
        os.replace(final, old)
    os.replace(tmp, final)
    shutil.rmtree(old, ignore_errors=True)
    return final


#: Formats the catalog can serve. Parquet is the default/perf tier (column
#: pruning + predicate pushdown + page stats); ORC is the columnar
#: alternative with the same pushdown story; JSON/CSV are interchange
#: tiers whose types round-trip only through the schema record (the
#: formats carry none (CSV) or lossy (JSON: everything widens) types).
#: XML (native in Spark 4) is the same record-restored interchange tier,
#: for feeds that land as XML (SEC filings, sitemap dumps, RSS).
CATALOG_FORMATS = ("parquet", "orc", "json", "csv", "xml")


def _as_read(st: StructType) -> StructType:
    """``st`` as a file source reads it back: every field, array element and
    map value nullable."""

    def loosen(node):
        if isinstance(node, dict):
            out = {k: loosen(v) for k, v in node.items()}
            for flag in ("nullable", "containsNull", "valueContainsNull"):
                if flag in out:
                    out[flag] = True
            return out
        if isinstance(node, list):
            return [loosen(v) for v in node]
        return node

    return StructType.fromJson(loosen(st.jsonValue()))


def _listing(path: str) -> str:
    """Digest of the (relative path, size) of every visible file under
    ``path``: any file landed, removed or rewritten there changes it."""
    entries = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for f in files:
            if not f.startswith("."):
                full = os.path.join(d, f)
                entries.append((os.path.relpath(full, path), os.path.getsize(full)))
    return hashlib.sha256(json.dumps(sorted(entries)).encode()).hexdigest()


def _sidecar(path: str) -> str:
    return path + "._schema.json"


def _load_record(path: str) -> dict | None:
    """The record beside the table directory ``path``, or None when there
    is none or the directory changed since it was made."""
    try:
        with open(_sidecar(path), encoding="utf-8") as fh:
            rec = json.load(fh)
    except FileNotFoundError:
        return None
    return rec if rec.get("listing") == _listing(path) else None


#: Column types whose min and max a record keeps, as the integers Spark
#: holds them as (epoch microseconds; epoch days for dates), so a value
#: survives JSON exactly and decodes to what a scan would return.
_RANGE_TYPES: dict[str, tuple[DataType, Callable[[Column], Column]]] = {
    "timestamp": (TimestampType(), F.unix_micros),
    "timestamp_ntz": (
        TimestampNTZType(),
        lambda c: F.timestamp_diff("MICROSECOND", F.lit("1970-01-01").cast("timestamp_ntz"), c),
    ),
    "date": (DateType(), F.unix_date),
}


def table_stats(st: StructType) -> list[Column]:
    """Aggregates a frame of schema ``st`` carries to ``Catalog.overwrite``
    in its ``observation``: the row count (``rows``) and the min and max of
    every timestamp and date column, encoded as in ``_RANGE_TYPES``."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    for f in st.fields:
        if f.dataType.typeName() in _RANGE_TYPES:
            encode = _RANGE_TYPES[f.dataType.typeName()][1]
            c = F.col("`" + f.name.replace("`", "``") + "`")
            aggs += [encode(F.min(c)).alias(f"min {f.name}"), encode(F.max(c)).alias(f"max {f.name}")]
    return aggs


def _stats_record(st: StructType, got: dict, partition_by: list[str] | None) -> dict:
    """The record's ``rows`` and ``ranges`` from the observed ``got``.
    Partition columns are left out: their values live in directory names,
    which Spark writes and parses in the session time zone."""
    return {
        "rows": got["rows"],
        "ranges": {
            f.name: {"type": f.dataType.typeName(), "min": got[f"min {f.name}"], "max": got[f"max {f.name}"]}
            for f in st.fields
            if f.dataType.typeName() in _RANGE_TYPES and f.name not in (partition_by or ())
        },
    }


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _kind(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _recorded_range(df: DataFrame, col: str) -> dict | None:
    """The recorded range of ``col`` when ``df``'s analyzed plan is nothing
    but projections that pass ``col`` through from one catalog table whose
    listing still matches its record; None otherwise."""
    try:
        node = df._jdf.queryExecution().analyzed()
    except AttributeError:  # Spark Connect: no plan to walk
        return None
    out = _seq(node.output())
    attrs = [a for a in out if a.name() == col] or [a for a in out if a.name().lower() == col.lower()]
    if len(attrs) != 1:
        return None
    expr_id = attrs[0].exprId()
    while _kind(node) == "Project":
        e = next(e for e in _seq(node.projectList()) if e.exprId().equals(expr_id))
        if _kind(e) == "Alias":
            e = e.child()
        if _kind(e) != "AttributeReference":
            return None  # computed: not the table's own values
        expr_id = e.exprId()
        node = node.child()
    if _kind(node) != "LogicalRelation" or _kind(node.relation()) != "HadoopFsRelation":
        return None
    roots = _seq(node.relation().location().rootPaths())
    if len(roots) != 1 or roots[0].toUri().getScheme() not in (None, "file"):
        return None
    rec = _load_record(roots[0].toUri().getPath().rstrip("/"))
    attr = next(a for a in _seq(node.output()) if a.exprId().equals(expr_id))
    rng = (rec or {}).get("ranges", {}).get(attr.name())
    if rng is None or rng["type"] != attr.dataType().typeName():
        return None
    return rng


def _decode(rng: dict, end: str) -> Any:
    v = rng[end]
    return None if v is None else _RANGE_TYPES[rng["type"]][0].fromInternal(v)


def column_max(df: DataFrame, col: str) -> Any:
    """``max(col)`` over ``df``, as ``df.agg(max(col)).first()[0]`` returns
    it. Read from the catalog's record of the table when ``df`` only
    projects ``col`` through from one catalog table that has not changed
    since it was written (no Spark job); scanned otherwise (two jobs: a
    filter, join or union, a table changed outside the catalog, a frame
    built in memory)."""
    rng = _recorded_range(df, col)
    return df.agg(F.max(col)).first()[0] if rng is None else _decode(rng, "max")


class Catalog:
    """Path-addressed table catalog rooted at ``root``; schema/table
    naming mirrors the reference's RAW/STAGING/CORE/ANALYTICS layout
    (reference README.md:520-527). ``fmt`` selects the storage format
    (default parquet; see CATALOG_FORMATS).

    Every write records the schema it wrote in a ``<table>._schema.json``
    sidecar, together with a digest of the table directory's file listing.
    ``read`` hands a record that still matches the directory to the reader,
    so Spark runs no schema-inference job (one per read on parquet) and the
    interchange formats keep their exact types. A table changed outside
    the catalog (a RAW file copied in, a compaction) no longer matches its
    record and is read with inference.

    A full parquet or ORC ``overwrite`` given the write's ``observation``
    also records ``rows``, the row count, and ``ranges``: for every
    timestamp, ``timestamp_ntz`` and date column that is not a partition
    column, its ``type`` and its ``min`` and ``max`` as epoch microseconds
    (epoch days for a date), NULL for an empty or all-NULL column. ``column_max`` answers from them, so a
    watermark over a table the catalog wrote costs no Spark job. ``append``
    and ``overwrite_partitions`` see only the rows they add, so their
    record keeps the schema and no statistics.

    Writers may run concurrently (the model runner writes sibling models
    from separate threads) on one condition: one writer per table at a
    time. Everything a write touches belongs to its table alone: the
    table directory, its ``.tmp-*`` and ``.old-*`` siblings (named with a
    fresh random suffix per write) and its ``._schema.json`` sidecar (and
    that sidecar's ``.tmp``). Two writers of the same table, or a reader
    of a table being swapped, get no such guarantee."""

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        if fmt not in CATALOG_FORMATS:
            raise ValueError(f"unsupported catalog format {fmt!r}")
        self.spark = spark
        self.root = root
        self.fmt = fmt

    def path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema.lower(), table.lower())

    def exists(self, schema: str, table: str) -> bool:
        """A data file, a ``_SUCCESS`` marker or a ``k=v`` partition
        directory at the table's top level (a table written only by
        ``overwrite_partitions`` has nothing else there). One listing, no
        walk: every ``read_or_none`` calls this."""
        try:
            with os.scandir(self.path(schema, table)) as entries:
                return any(
                    e.name == "_SUCCESS"
                    or e.name.endswith((".parquet", ".orc", ".json", ".csv", ".xml"))
                    or ("=" in e.name and not e.name.startswith((".", "_")) and e.is_dir())
                    for e in entries
                )
        except FileNotFoundError:
            return False

    def recorded_schema(self, schema: str, table: str) -> StructType | None:
        """The schema the catalog last wrote to this table, or None when
        there is no record or the directory changed since it was made."""
        rec = _load_record(self.path(schema, table))
        return None if rec is None else StructType.fromJson(rec["schema"])

    def recorded_stats(self, schema: str, table: str) -> dict | None:
        """``{"rows": n, "ranges": {col: (min, max)}}`` as recorded with the
        table's last full write, values as a scan returns them; None when
        there are none or the directory changed since."""
        rec = _load_record(self.path(schema, table))
        if rec is None or "rows" not in rec:
            return None
        ranges = {c: (_decode(r, "min"), _decode(r, "max")) for c, r in rec["ranges"].items()}
        return {"rows": rec["rows"], "ranges": ranges}

    def _record(self, schema: str, table: str, st: StructType | None, stats: dict | None = None) -> None:
        """Record ``st`` (and ``stats``) as the table's as of its current
        listing; ``st=None`` drops the record, so readers infer."""
        side = _sidecar(self.path(schema, table))
        if st is None:
            if os.path.exists(side):
                os.remove(side)
            return
        rec = {"schema": _as_read(st).jsonValue(), "listing": _listing(self.path(schema, table)), **(stats or {})}
        tmp = side + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(rec, fh)
        os.replace(tmp, side)

    def _record_after_merge(self, schema: str, table: str, st: StructType, write) -> None:
        """Run ``write``, which adds rows of schema ``st`` to the table, and
        keep a record only when the table is new or was recorded with ``st``."""
        keep = (
            not os.path.isdir(self.path(schema, table))
            or self.recorded_schema(schema, table) == _as_read(st)
        )
        write()
        self._record(schema, table, st if keep else None)

    def read(self, schema: str, table: str) -> DataFrame:
        reader = self.spark.read
        st = self.recorded_schema(schema, table)
        if st is not None:
            reader = reader.schema(st)
        p = self.path(schema, table)
        if self.fmt == "csv":
            return reader.option("header", "true").csv(p)
        if self.fmt == "xml":
            return reader.format("xml").option("rowTag", "row").load(p)
        return getattr(reader, self.fmt)(p)

    def read_or_none(self, schema: str, table: str) -> DataFrame | None:
        return self.read(schema, table) if self.exists(schema, table) else None

    def overwrite(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        partition_by: list[str] | None = None,
        observation: Observation | None = None,
    ) -> None:
        """Atomic full-refresh write: write to a temp dir, then swap. The
        self-referencing incremental pattern (read prior output while
        computing the new one) requires this — a direct overwrite would
        truncate its own input before reading it. ``observation``, when
        given, is attached to ``df`` with (at least) the ``table_stats``
        aggregates of ``df.schema``; the write counts them and, on the
        columnar formats, they join the table's record (the text formats
        write timestamps to the millisecond, so a scan could not match)."""
        atomic_swap_write(df, self.path(schema, table), partition_by, fmt=self.fmt)
        st, stats = df.schema, None
        if observation is not None and self.fmt in ("parquet", "orc"):
            stats = _stats_record(st, observation.get, partition_by)
        self._record(schema, table, st, stats)

    def append(self, df: DataFrame, schema: str, table: str) -> None:
        self._record_after_merge(
            schema, table, df.schema,
            lambda: _save(df.write.mode("append"), self.fmt, self.path(schema, table)),
        )

    def overwrite_partitions(
        self, df: DataFrame, schema: str, table: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: ONLY the partitions present in
        ``df`` are replaced; untouched partitions stay as-is. The
        incremental materializer for date-partitioned facts — a backfill of
        3 days rewrites 3 directories, not the table. (Per-partition
        replacement is not atomic on a plain filesystem — a crash
        mid-write can leave the touched partitions partial. Delta/Iceberg
        `replaceWhere`/`overwritePartitions` close that hole; the
        full-table `overwrite` path here stays swap-atomic.)"""
        w = (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
        )
        self._record_after_merge(
            schema, table, df.schema, lambda: _save(w, self.fmt, self.path(schema, table))
        )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Materialize a bucketed (and optionally sorted) managed table.

    Bucketing is the co-located-join device: two tables bucketed on the
    same key with the same bucket count join WITHOUT a shuffle — at 100 TB
    the difference between moving terabytes per join and moving nothing.
    Sorted buckets additionally drop the sort from sort-merge joins.
    (Spark bucketed tables require saveAsTable; path-only parquet writes
    can't record bucket metadata.)
    """
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table, format="parquet")


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files.

    Streaming sinks and incremental appends accumulate small files; at scale
    the resulting scan-task explosion (one task per tiny file) and NameNode/
    listing pressure dominate query time. Sizing uses the on-disk bytes of
    the existing directory (no data pass), and the rewrite is staged through
    ``atomic_swap_write`` (the old directory is moved aside, never deleted,
    until the replacement is in place). ``sort_within_by`` sorts within each
    output file (better column compression + min/max pruning). Returns the
    output file count.
    """
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    n_files = max(1, round(total / (target_mb * 1024 * 1024)))
    out = spark.read.parquet(path).repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    atomic_swap_write(out, path.rstrip("/"))
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


class VersionedCatalog(Catalog):
    """Catalog with snapshot versioning (poor-man's time travel for plain
    parquet — with Delta/Iceberg this delegates to native ``VERSION AS OF``).

    Layout: ``<root>/<schema>/<table>/v=N`` directories plus a ``_latest``
    pointer file written atomically AFTER the version directory is complete
    (readers following the pointer never see a partial snapshot — same
    crash-safety contract as ``atomic_swap_write``). ``retain`` bounds disk:
    old versions beyond it are pruned on write, oldest first.

    What it buys an incremental pipeline: ``read(version=...)`` replays any
    retained state (debugging a bad backfill, diffing against yesterday via
    ``table_diff``), and every write is an append of a new directory — no
    swap window at all for versioned tables.

    Concurrency contract: SINGLE WRITER. ``write_version``'s read-modify-
    write of the version counter is not atomic across processes — concurrent
    writers need an external lock or a real table format (Delta/Iceberg
    optimistic commit). Readers are safe at all times: they follow the
    ``_latest`` pointer (written atomically after the data), and the
    no-pointer fallback only admits version directories bearing Spark's
    ``_SUCCESS`` commit marker, so a crashed first write is never surfaced.
    """

    def __init__(self, spark: SparkSession, root: str, retain: int = 3):
        super().__init__(spark, root)
        self.retain = retain

    def _versions(self, schema: str, table: str, committed_only: bool = False) -> list[int]:
        base = self.path(schema, table)
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("v=")
            and d.split("=", 1)[1].isdigit()
            and (
                not committed_only
                or os.path.exists(os.path.join(base, d, "_SUCCESS"))
            )
        )

    def latest_version(self, schema: str, table: str) -> int | None:
        ptr = os.path.join(self.path(schema, table), "_latest")
        if os.path.exists(ptr):
            with open(ptr) as f:
                return int(f.read().strip())
        # pointer missing (e.g. crash during the very first write): only
        # trust fully-committed snapshots, else a reader could pick a
        # partially written v=N directory
        vs = self._versions(schema, table, committed_only=True)
        return vs[-1] if vs else None

    def write_version(self, df: DataFrame, schema: str, table: str) -> int:
        prior = self.latest_version(schema, table)
        version = 0 if prior is None else prior + 1
        base = self.path(schema, table)
        df.write.mode("overwrite").parquet(os.path.join(base, f"v={version}"))
        ptr_tmp = os.path.join(base, "_latest.tmp")
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, os.path.join(base, "_latest"))
        for v in self._versions(schema, table)[: -self.retain or None]:
            if v != version:
                shutil.rmtree(os.path.join(base, f"v={v}"), ignore_errors=True)
        return version

    def read(self, schema: str, table: str, version: int | None = None) -> DataFrame:
        v = self.latest_version(schema, table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no versions of {schema}.{table}")
        return self.spark.read.parquet(os.path.join(self.path(schema, table), f"v={v}"))

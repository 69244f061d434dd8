"""Bucket (data source/sink) abstraction.

The reference's Bucket is a named, typed connection to a TSDB with a
uniform read/aggregate/write interface
(/root/reference/loudml/bucket.py:29-294) and a registry that loads
one by name from config (bucket.py:297-306).  Here a bucket wraps a
Spark reader/writer: reading returns a DataFrame (the *whole*
relation — aggregation is the engine's job, Catalyst pushes filters
into the scan), writing appends a DataFrame.

Unlike the reference there is no write buffering layer
(bucket.py:110-146): ``df.write`` batches natively, and streaming
sinks go through ``foreachBatch``.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession

from loudml_spark import errors, session_cache


class Bucket(ABC):
    """Named data source/sink."""

    def __init__(self, name: str, **settings):
        self.name = name
        self.settings = settings
        # reference: Optional('max_series_per_request', default=2000)
        # with Range(min=1) (loudml/bucket.py:41-44) — a per-bucket
        # cap on how many series one read request may return
        msr = settings.get("max_series_per_request", 2000)
        if not isinstance(msr, int) or isinstance(msr, bool) or msr < 1:
            raise errors.Invalid(
                "max_series_per_request must be an int >= 1")
        self.max_series_per_request = msr

    @abstractmethod
    def read(self, spark: SparkSession) -> DataFrame:
        """Return the relation as a DataFrame (lazy; no scan yet)."""

    def write(self, df: DataFrame, mode: str = "append") -> None:
        raise errors.Invalid(f"bucket {self.name} is read-only")

    def drop(self) -> None:
        """Delete the bucket's data — the `_clear` endpoint / drop ops
        (loudml/influx.py:430-439, server.py:1144-1150)."""
        raise errors.Invalid(f"bucket {self.name} cannot be dropped")

    def adopt_state(self, old: "Bucket") -> None:
        """Carry mutable runtime state across a PATCH rebuild.  The
        reference's buckets front external TSDBs, so its PATCH cannot
        lose data (server.py:1105-1114); any bucket type here that
        holds data in-process must override this or a PATCH would
        silently discard everything written so far."""

    def get_times_data(self, spark, features, from_date, to_date,
                       bucket_interval, ts_col="ts", **kw):
        """Bucketized aggregation — the reference's core read API
        (loudml/bucket.py:157-194) as a DataFrame plan."""
        from loudml_spark.operators.bucketize import bucketize

        return bucketize(
            self.read(spark), features, from_date, to_date,
            bucket_interval, ts_col=ts_col, **kw,
        )


# Session confs that parquet schema inference reads when the relation
# is built; a cached relation keeps the schema they produced.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _spark_lists(name: str) -> bool:
    """Whether Spark's file index lists a file or directory of this
    name (InMemoryFileIndex.shouldFilterOutPathName): names starting
    with ``_`` (other than partition dirs and summary files) or ``.``,
    and ``._COPYING_`` files, are skipped."""
    if name.startswith(("_common_metadata", "_metadata")):
        return True
    return not ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))


def _visible_files(path):
    """``(relative path, size, st_mtime_ns)`` of every file Spark lists
    under a local parquet path, sorted; None when the path is not a
    plain local path that exists (a URI, a glob, a missing path)."""
    if (not isinstance(path, str) or ":" in path
            or any(c in path for c in "*?[]{}")):
        return None
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if _spark_lists(d)]
        for name in names:
            if _spark_lists(name):
                full = os.path.join(root, name)
                try:
                    st = os.stat(full)
                except FileNotFoundError:
                    continue  # deleted mid-walk: Spark would not list it
                files.append((os.path.relpath(full, path), st.st_size,
                              st.st_mtime_ns))
    return tuple(sorted(files))


class ParquetBucket(Bucket):
    """Parquet directory/file bucket — the natural Spark store.

    ``options`` passes reader options straight through — e.g.
    ``{"mergeSchema": "true"}`` for schema-evolved datasets (files
    written before a column existed read back as NULLs).

    ``read`` returns the lazy relation from the session cache, like
    ``load_table``: ``spark.read.parquet`` lists the directory and runs
    a footer-schema job on every call.  The cache tag holds the
    bucket's settings, the parquet schema confs and the exact listing
    of the files Spark reads (relative path, size, ``st_mtime_ns``), so
    any append, overwrite, delete or out-of-band file change misses,
    and listings a write supersedes age out of the LRU.  A URI, a glob
    or a missing path is read uncached."""

    def read(self, spark):
        path = self.settings["path"]
        files = _visible_files(path)
        if files is None:
            return self._read(spark)
        tag = ("parquet_bucket", os.path.abspath(path),
               repr(sorted(self.settings.items())),
               tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS),
               files)
        return session_cache.memo(spark, tag, lambda: self._read(spark))

    def _read(self, spark):
        reader = spark.read.options(**self.settings.get("options", {}))
        if "schema" in self.settings:
            reader = reader.schema(self.settings["schema"])
        return reader.parquet(self.settings["path"])

    def write(self, df, mode="append"):
        df.write.mode(mode).parquet(self.settings["path"])

    def drop(self):
        import shutil

        shutil.rmtree(self.settings["path"], ignore_errors=True)


class CSVBucket(Bucket):
    """CSV bucket — replaces the reference MemBucket's CSV/CSV.gz
    loader (loudml/membucket.py:90-112); Spark reads .gz natively."""

    def read(self, spark):
        opts = {"header": "true", "inferSchema": "true"}
        opts.update(self.settings.get("options", {}))
        reader = spark.read.options(**opts)
        if "schema" in self.settings:
            reader = reader.schema(self.settings["schema"])
        return reader.csv(self.settings["path"])

    def write(self, df, mode="append"):
        df.write.mode(mode).options(header="true").csv(self.settings["path"])


class MemBucket(Bucket):
    """In-memory bucket (reference: loudml/membucket.py) — rows held
    on the driver, materialized with createDataFrame.  Test/dev only;
    real data belongs in parquet."""

    def __init__(self, name, **settings):
        super().__init__(name, **settings)
        self.rows: list = []
        self.schema = settings.get("schema")

    def insert_times_data(self, point: dict):
        self.rows.append(point)

    def adopt_state(self, old: "Bucket") -> None:
        # PATCH rebuilds the bucket from merged settings; unlike the
        # reference (whose buckets front external TSDBs) our rows live
        # on the instance — carry them into the rebuilt bucket, and
        # keep the old inferred schema unless the patch set a new one
        self.rows = list(getattr(old, "rows", []))
        if self.schema is None:
            self.schema = getattr(old, "schema", None)

    def read(self, spark):
        if not self.rows:
            raise errors.Invalid(f"mem bucket {self.name} is empty")
        return spark.createDataFrame(self.rows, schema=self.schema)

    def write(self, df, mode="append"):
        rows = [r.asDict() for r in df.collect()]
        if mode == "overwrite":
            self.rows = rows
        else:
            self.rows.extend(rows)

    def drop(self):
        self.rows = []


class JSONBucket(Bucket):
    """JSON-lines bucket (Spark reads .gz/.bz2 natively)."""

    def read(self, spark):
        reader = spark.read.options(**self.settings.get("options", {}))
        if "schema" in self.settings:
            reader = reader.schema(self.settings["schema"])
        return reader.json(self.settings["path"])

    def write(self, df, mode="append"):
        df.write.mode(mode).json(self.settings["path"])

    def drop(self):
        import shutil

        shutil.rmtree(self.settings["path"], ignore_errors=True)


class ORCBucket(Bucket):
    """ORC bucket — same columnar pushdown story as parquet."""

    def read(self, spark):
        reader = spark.read.options(**self.settings.get("options", {}))
        if "schema" in self.settings:
            reader = reader.schema(self.settings["schema"])
        return reader.orc(self.settings["path"])

    def write(self, df, mode="append"):
        df.write.mode(mode).orc(self.settings["path"])

    def drop(self):
        import shutil

        shutil.rmtree(self.settings["path"], ignore_errors=True)


class BinaryFileBucket(Bucket):
    """Raw-file bucket over Spark's built-in `binaryFile` source —
    the ingestion front door for multimodal corpora (images / audio /
    video land as one row per file: path, modificationTime, length,
    content binary).  Feeds pipeline/multimodal.py, whose operators
    expect exactly this (id-able path + opaque binary + typed
    metadata).

    Settings: ``path`` (dir/glob), optional ``pattern`` (mapped to
    `pathGlobFilter`, e.g. ``*.png``), optional ``recursive``
    (recursiveFileLookup).  Scale notes: the source parallelizes per
    file and prunes by glob at listing time; `content` is only
    materialized for rows that survive column pruning, so
    metadata-only queries (count, size histograms) never read the
    bytes.  Read-only by design — writing files is the job of the
    thing that produced them, not the analytics engine."""

    def read(self, spark):
        reader = spark.read.format("binaryFile")
        if "pattern" in self.settings:
            reader = reader.option(
                "pathGlobFilter", self.settings["pattern"])
        if self.settings.get("recursive"):
            reader = reader.option("recursiveFileLookup", "true")
        return reader.load(self.settings["path"])


class TextBucket(Bucket):
    """Line-oriented text bucket (`spark.read.text`) — raw-corpus
    ingestion (one row per line, column ``value``; Spark decompresses
    .gz/.bz2/.zst natively).  ``wholetext: true`` flips to one row
    per FILE — the document-per-file shape a crawl dump drops.
    Writes require a single string column (Spark's text sink rule)."""

    def read(self, spark):
        return spark.read.text(
            self.settings["path"],
            wholetext=bool(self.settings.get("wholetext")),
            lineSep=self.settings.get("line_sep"),
        )

    def write(self, df, mode="append"):
        df.write.mode(mode).text(self.settings["path"])

    def drop(self):
        import shutil

        shutil.rmtree(self.settings["path"], ignore_errors=True)


class JDBCBucket(Bucket):
    """JDBC bucket — covers the reference's SQL-ish stores. Catalyst
    pushes filters down (DSv2); partitioned reads via
    partitionColumn/lowerBound/upperBound/numPartitions settings."""

    def read(self, spark):
        return spark.read.format("jdbc").options(**self.settings).load()

    def write(self, df, mode="append"):
        df.write.format("jdbc").options(**self.settings).mode(mode).save()


_BUCKET_TYPES = {
    "parquet": ParquetBucket,
    "csv": CSVBucket,
    "json": JSONBucket,
    "orc": ORCBucket,
    "mem": MemBucket,
    "jdbc": JDBCBucket,
    "binaryfile": BinaryFileBucket,
    "text": TextBucket,
}


class BucketRegistry:
    """name → Bucket, built from a list of settings dicts — the
    equivalent of the reference's config-file bucket list
    (loudml/config.py + bucket.py:297-306)."""

    def __init__(self):
        self._buckets: dict[str, Bucket] = {}
        self._settings: dict[str, dict] = {}

    def register(self, bucket: Bucket) -> Bucket:
        self._buckets[bucket.name] = bucket
        return bucket

    @staticmethod
    def _build(settings: dict) -> Bucket:
        settings = dict(settings)
        name = settings.pop("name")
        btype = settings.pop("type")
        cls = _BUCKET_TYPES.get(btype)
        if cls is None:
            raise errors.Invalid(f"unknown bucket type: {btype}")
        return cls(name, **settings)

    def add(self, settings: dict) -> Bucket:
        bucket = self._build(settings)
        self._settings[bucket.name] = dict(settings)
        return self.register(bucket)

    def patch(self, name: str, data: dict) -> Bucket:
        """Merge partial settings into the stored ones and rebuild —
        PATCH /buckets/<n> parity (reference server.py:1105-1114).
        The new bucket is built BEFORE the old one is replaced, so an
        invalid patch leaves the bucket untouched."""
        if name not in self._buckets:
            raise errors.BucketNotFound(name)
        old = self._settings.get(name)
        if old is None:
            raise errors.Invalid(
                f"bucket {name!r} was registered directly and has no "
                "stored settings to patch")
        merged = {**old, **dict(data), "name": name}
        bucket = self._build(merged)
        bucket.adopt_state(self._buckets[name])
        self._settings[name] = merged
        return self.register(bucket)

    def settings_of(self, name: str) -> dict:
        if name not in self._buckets:
            raise errors.BucketNotFound(name)
        return dict(self._settings.get(name) or {})

    def get(self, name: str) -> Bucket:
        bucket = self._buckets.get(name)
        if bucket is None:
            raise errors.BucketNotFound(name)
        return bucket

    def remove(self, name: str) -> None:
        if name not in self._buckets:
            raise errors.BucketNotFound(name)
        del self._buckets[name]
        self._settings.pop(name, None)

    def names(self):
        return sorted(self._buckets)


def load_bucket(settings: dict) -> Bucket:
    """One-off bucket from a settings dict."""
    reg = BucketRegistry()
    return reg.add(settings)

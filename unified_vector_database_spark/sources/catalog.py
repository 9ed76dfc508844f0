"""Collection catalog (SURVEY §2.1, §2.10 S3): the durable form of a
reference 'collection' (create/list/describe/drop; add/upsert/delete;
snapshot/restore) as versioned parquet + a JSON manifest.

Layout:  <base>/<name>/manifest.json
         <base>/<name>/data_v<N>/part-*.parquet

The manifest names the current version, its row count and its schema,
all recorded by the commit's write job: `count()` needs no scan and
`read()` passes the schema to the reader, so opening a collection
fires no Spark job (a manifest without a schema, written before the
schema was recorded, is read with schema inference).

File layout: every commit writes its version hash-partitioned on the
collection's id column into `tables.spread_files` files — one per
core (the session's default parallelism), or the smallest multiple of
the core count that keeps files within
`spark.sql.files.maxPartitionBytes` of the optimizer's size estimate,
so scan tasks run in full waves. A scan of the version then has one split with rows
per core, so a search scores the collection on every core, where one
file with one row group is read by a single task however many byte
ranges it is cut into (the reference backends' segments/shards).
Every commit rewrites the version, so the count stays the same from
commit to commit: no tail of small files grows. A `partition_by`
collection has at most that many files in each hive directory.
`compact()` alone writes the file count it is asked for.

Every vector column `<vec>` (array<float|double>) has a double column
`_norm_<vec>` beside it: `D.norm(<vec>)`, computed in the
commit's write job for the rows the commit brings in (an upsert batch,
every row when an update assigns the vector, rows of a version written
before the column existed). It is the same expression, so the stored
value is bit-identical to the inline norm, and cosine search
(api.search) reads it instead of folding each row's norm again.

Writes are copy-on-write: a new data_v<N+1> directory (N the highest
version ever published, so a commit after `restore` never overwrites a
version a snapshot may pin) is fully written, then the manifest
pointer flips — readers of v<N> are never disturbed, which is exactly
how object-store tables (and the reference's MinIO-backed snapshots)
stay consistent without locks.

`base` may be a bare posix path OR any URI Spark's Hadoop stack can
reach (`file://`, `s3a://` MinIO/S3, `hdfs://`, ...): all metadata
I/O routes through sources/fsio.py, which uses the standard library
for posix paths and Hadoop's FileSystem for URIs — see fsio's
docstring for the atomicity/committer story on object stores.
Round-tripped through a URI store in tests/test_catalog.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, StructType

from .. import tables
from ..functions import distance as D
from . import fsio

NORM_PREFIX = "_norm_"


@dataclass
class Manifest:
    name: str
    id_col: str
    dim: int | None
    metric: str
    version: int
    # hot metadata columns the data layout partitions on (hive-style
    # dirs): filtered scans on these prune at the FILE LISTING — the
    # metadata analog of the IVF cid layout (operators/index.py).
    # None = unpartitioned, also in manifests written before the field.
    partition_by: list[str] | None = None
    # Row count of the CURRENT version, recorded at commit time from
    # the write job's observed metrics: count()/stats()/compact() read
    # it instead of re-scanning parquet footers. None (manifests
    # written before the field) -> callers fall back to a Spark count.
    rows: int | None = None
    # Schema of the CURRENT version as a read returns it (StructType
    # JSON), recorded at commit time so read() infers nothing. None
    # (older manifests, or a restored version that had none) ->
    # schema inference.
    schema: dict | None = None
    # Highest version ever published. A commit after restore() writes
    # the version above it, never over a directory a snapshot may pin.
    # None (older manifests) -> the highest data_v<N> directory.
    published: int | None = None

    def to_json(self) -> dict:
        return self.__dict__.copy()


class Collection:
    def __init__(self, spark: SparkSession, base: str, name: str):
        self.spark = spark
        self.base = base
        self.name = name
        self.path = fsio.join(base, name)

    # -------------------------------------------------------- lifecycle
    @classmethod
    def create(cls, spark: SparkSession, base: str, name: str,
               id_col: str = "id", dim: int | None = None,
               metric: str = "cosine",
               partition_by: list[str] | None = None) -> "Collection":
        """`partition_by`: low-cardinality hot metadata columns (the
        reference backends' payload-index analog). Every commit writes
        hive-partitioned on them, so metadata-filtered scans
        (filtered_scan / knn_filtered class) prune unread partitions
        at file listing instead of scanning the full collection —
        plan-asserted in tests/test_catalog.py."""
        col = cls(spark, base, name)
        if fsio.exists(col.path):
            raise ValueError(f"collection {name!r} already exists")
        fsio.makedirs(col.path)
        col._write_manifest(Manifest(name, id_col, dim, metric, version=0,
                                     partition_by=partition_by))
        return col

    @classmethod
    def open(cls, spark: SparkSession, base: str, name: str) -> "Collection":
        col = cls(spark, base, name)
        if not fsio.exists(col._manifest_path):
            raise ValueError(f"collection {name!r} does not exist")
        return col

    @staticmethod
    def list_collections(base: str) -> list[str]:
        if not fsio.isdir(base):
            return []
        return sorted(n for n in fsio.listdir(base)
                      if fsio.exists(fsio.join(base, n, "manifest.json")))

    # ---------------------------------------------------------- aliases
    # The blue-green reindex primitive every reference backend exposes
    # (Qdrant update_aliases, Milvus alter_alias, ES index aliases):
    # readers resolve a stable alias while a new collection builds
    # behind it; the swap is one atomic pointer write.
    @staticmethod
    def _aliases_path(base: str) -> str:
        return fsio.join(base, "_aliases.json")

    @staticmethod
    def _read_aliases(base: str) -> dict:
        p = Collection._aliases_path(base)
        if not fsio.exists(p):
            return {}
        return fsio.read_json(p)

    @staticmethod
    def set_alias(base: str, alias: str, name: str,
                  filter_sql: str | None = None) -> None:
        """Point `alias` at collection `name` (create or atomic swap).

        `filter_sql` makes it a FILTERED alias (the ES filtered-alias
        surface: reads through the alias auto-inject the predicate —
        the standard multi-tenant / scoped-view pattern). Stored as a
        dict entry; plain string entries stay valid for unfiltered
        aliases, so existing alias files keep working."""
        if not fsio.exists(fsio.join(base, name, "manifest.json")):
            raise ValueError(f"collection {name!r} does not exist")
        aliases = Collection._read_aliases(base)
        aliases[alias] = (name if filter_sql is None
                          else {"name": name, "filter": filter_sql})
        fsio.write_json(Collection._aliases_path(base), aliases)

    @staticmethod
    def _resolve_alias(base: str, alias: str) -> tuple[str, str | None]:
        aliases = Collection._read_aliases(base)
        if alias not in aliases:
            raise ValueError(f"no alias {alias!r}")
        tgt = aliases[alias]
        if isinstance(tgt, str):
            return tgt, None
        return tgt["name"], tgt.get("filter")

    @staticmethod
    def drop_alias(base: str, alias: str) -> None:
        aliases = Collection._read_aliases(base)
        aliases.pop(alias, None)
        fsio.write_json(Collection._aliases_path(base), aliases)

    @staticmethod
    def list_aliases(base: str) -> dict:
        return dict(Collection._read_aliases(base))

    @classmethod
    def open_alias(cls, spark: SparkSession, base: str,
                   alias: str) -> "Collection":
        """Resolve an alias to its current target collection (any
        alias filter is ignored here — use read_alias for the
        filter-injecting read path)."""
        name, _ = cls._resolve_alias(base, alias)
        return cls.open(spark, base, name)

    @classmethod
    def read_alias(cls, spark: SparkSession, base: str,
                   alias: str) -> DataFrame:
        """Read THROUGH an alias: resolves the target and auto-injects
        the alias filter (no-op for unfiltered aliases) — the ES
        filtered-alias read contract. The injected predicate is a
        plain Catalyst filter, so it pushes into the parquet scan
        like any user filter."""
        from pyspark.sql import functions as F

        name, flt = cls._resolve_alias(base, alias)
        df = cls.open(spark, base, name).read()
        return df.where(F.expr(flt)) if flt else df

    def drop(self) -> None:
        fsio.rmtree(self.path)

    def describe(self) -> Manifest:
        return Manifest(**fsio.read_json(self._manifest_path))

    # ---------------------------------------------------------- ingest
    def upsert(self, df: DataFrame) -> int:
        """Keep-latest upsert: existing rows whose id appears in the
        batch are replaced (anti-join), then the batch is appended.
        One shuffle on the id column; at scale the anti-join broadcasts
        when the batch is small. A batch vector of the wrong dim fails
        the commit (ValueError) with the collection unchanged."""
        m = self.describe()
        if m.id_col not in df.columns:
            raise ValueError(
                f"batch is missing the id column {m.id_col!r}")
        batch = _with_norms(df.drop(*[
            NORM_PREFIX + v for v in _vector_columns(df.schema)]))
        current = self.read()
        if current is not None:
            kept = _with_norms(current).join(
                df.select(m.id_col), m.id_col, "left_anti")
            out = kept.unionByName(batch)
        else:
            out = batch
        return self._commit(out, m)

    def delete(self, predicate) -> int:
        """Delete by predicate (Column) — rewrite keeping the negation."""
        m = self.describe()
        current = self.read()
        if current is None:
            return 0
        return self._commit(current.where(~predicate), m)

    def delete_ids(self, ids: list) -> int:
        m = self.describe()
        return self.delete(F.col(m.id_col).isin(ids))

    def update(self, predicate, **assignments) -> int:
        """Metadata update (reference: payload/metadata set on matching
        records): rewrite matching rows with the new column values —
        one conditional projection, no join. The predicate and every
        assigned value read the row as it was before the update."""
        m = self.describe()
        current = self.read()
        if current is None:
            return 0
        unknown = set(assignments) - set(current.columns)
        if unknown:
            raise ValueError(
                f"update assigns unknown columns {sorted(unknown)}")
        hit = F.col("_update_hit")

        def assigned(c: str) -> Column:
            v = assignments[c]
            v = v if isinstance(v, Column) else F.lit(v)
            return F.when(hit, v).otherwise(F.col(c)).alias(c)
        out = current.withColumn("_update_hit", predicate).select(*[
            assigned(c) if c in assignments else F.col(c)
            for c in current.columns])
        # an assigned vector gets its norm recomputed by the commit
        out = out.drop(*[NORM_PREFIX + v for v in _vector_columns(
            current.schema) if v in assignments])
        return self._commit(out, m)

    # ----------------------------------------------------------- reads
    def read(self, *, version: int | None = None,
             tag: str | None = None) -> DataFrame | None:
        """Read the current version, or time-travel to an explicit
        `version` / pinned snapshot `tag` WITHOUT moving the manifest
        pointer (restore() moves it; this never mutates). Data dirs
        are immutable, so a historical read is just a different scan
        path — concurrent writers are unaffected."""
        m = self.describe()
        schema = m.schema
        if tag is not None:
            pin = self._pin(tag)
            version, schema = pin["version"], pin.get("schema")
        elif version is not None and version != m.version:
            schema = None
        v = m.version if version is None else version
        if v == 0:
            return None
        path = self._data_path(v)
        if not fsio.isdir(path):
            raise ValueError(f"version {v} does not exist (vacuumed?)")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    def count(self) -> int:
        m = self.describe()
        if m.rows is not None:
            return m.rows  # recorded at commit time — no scan
        df = self.read()
        return 0 if df is None else df.count()

    def stats(self) -> dict:
        """Collection telemetry (reference backends' describe surface:
        Qdrant collection info, Milvus get_collection_stats, ES
        _stats): row count, current-version file count and bytes,
        retained versions, snapshots. File-level numbers come from the
        directory listing — the same metadata a SHOW TABLE EXTENDED
        reports — and the row count from the manifest, so the call is
        O(files), not O(rows), and fires no Spark job (a manifest
        without a recorded count falls back to a Spark count)."""
        m = self.describe()
        files, nbytes = 0, 0
        if m.version:
            for _, sz in fsio.parquet_files(self._data_path(m.version)):
                files += 1
                nbytes += sz
        versions = len([d for d in fsio.listdir(self.path)
                        if d.startswith("data_v")
                        and fsio.isdir(fsio.join(self.path, d))])
        return {
            "name": self.name,
            "rows": self.count(),
            "version": m.version,
            "files": files,
            "bytes": nbytes,
            "versions_retained": versions,
            "snapshots": len(self._read_snapshots()),
        }

    # ----------------------------------------------------- maintenance
    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """OPTIMIZE: rewrite the current version into ceil(n / target)
        files. Scans pay one task + one object-store request per file.
        Every commit writes `tables.spread_files` files (module
        docstring), so trickle upserts no longer leave a long tail of
        small files; one remains where files are many and small anyway:
        a `partition_by` collection (up to that many files in each hive
        directory) or a version written before the layout rule. For a
        small collection the rewrite holds fewer files than cores,
        trading scan parallelism for fewer tasks, and the next ordinary
        commit writes the default layout again. Copy-on-write like
        every commit, so concurrent readers of the old version are
        undisturbed. (On a real deployment size by bytes via
        maxPartitionBytes; rows are the deterministic local proxy.)"""
        m = self.describe()
        current = self.read()
        if current is None:
            return 0
        n = m.rows if m.rows is not None else current.count()
        files = max(1, -(-n // target_rows_per_file))
        return self._commit(current, m, files=files)

    def vacuum(self) -> list[int]:
        """Drop data versions no longer reachable from the manifest or
        any snapshot tag — the GC half of copy-on-write. Returns the
        versions removed."""
        m = self.describe()
        keep = {m.version} | {p["version"] for p in self._pins().values()}
        removed = []
        for entry in fsio.listdir(self.path):
            if not entry.startswith("data_v"):
                continue
            v = int(entry.removeprefix("data_v"))
            if v not in keep:
                fsio.rmtree(fsio.join(self.path, entry))
                removed.append(v)
        return sorted(removed)

    # ------------------------------------------------------- snapshots
    def snapshot(self, tag: str) -> str:
        """Pin the current version under a tag (pointer copy, O(1) —
        data directories are immutable). The pin carries the row count
        and schema the version's commit recorded, so restore() and a
        read by tag need no scan and no schema inference."""
        m = self.describe()
        pins = self._read_snapshots()
        pins[tag] = {"version": m.version, "rows": m.rows,
                     "schema": m.schema}
        fsio.write_json(self._snapshots_path, pins)
        return tag

    def restore(self, tag: str) -> None:
        pin = self._pin(tag)
        m = self.describe()
        m.version = pin["version"]
        m.rows, m.schema = pin.get("rows"), pin.get("schema")
        self._write_manifest(m)

    # --------------------------------------------------------- private
    @property
    def _manifest_path(self) -> str:
        return fsio.join(self.path, "manifest.json")

    @property
    def _snapshots_path(self) -> str:
        return fsio.join(self.path, "snapshots.json")

    def _read_snapshots(self) -> dict:
        if not fsio.exists(self._snapshots_path):
            return {}
        return fsio.read_json(self._snapshots_path)

    def _pins(self) -> dict[str, dict]:
        """tag -> {"version", "rows", "schema"}. A pin written as a
        bare version number, before pins carried the version's record,
        has no rows or schema (None -> scan and schema inference)."""
        return {t: p if isinstance(p, dict) else {"version": p}
                for t, p in self._read_snapshots().items()}

    def _pin(self, tag: str) -> dict:
        pins = self._pins()
        if tag not in pins:
            raise ValueError(f"no snapshot {tag!r}")
        return pins[tag]

    def _data_path(self, version: int) -> str:
        return fsio.join(self.path, f"data_v{version}")

    def _published(self, m: Manifest) -> int:
        if m.published is not None:
            return m.published
        return max([m.version] + [
            int(d.removeprefix("data_v")) for d in fsio.listdir(self.path)
            if d.startswith("data_v") and d[6:].isdigit()])

    def _write_manifest(self, m: Manifest) -> None:
        fsio.write_json(self._manifest_path, m.to_json())

    def _commit(self, df: DataFrame, m: Manifest,
                files: int | None = None) -> int:
        """Write `df` as the next version and move the manifest to it:
        hash-partitioned on the id column into `tables.spread_files`
        files (module docstring), or round-robin into `files` files
        when the caller sizes the version itself (compact)."""
        from pyspark.sql import Observation

        new_version = self._published(m) + 1
        # row count observed INSIDE the write job (CollectMetrics node)
        # — the previous read-back count was a second full job per
        # commit (file listing + footer scan), paid by every
        # upsert/delete/update/compact across the lifecycle operators.
        # The dim check is observed by the same job: a mismatch removes
        # the unpublished directory, and the manifest never moves.
        df = _with_norms(df)
        vecs = _vector_columns(df.schema)
        bad = (F.size(vecs[0]) != m.dim if m.dim is not None and vecs
               else F.lit(False))
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("n"),
                         F.count(F.when(bad, 1)).alias("bad"))
        out = (out.repartition(files) if files else
               out.repartition(tables.spread_files(df), m.id_col))
        writer = out.write.mode("overwrite")
        if m.partition_by:
            writer = writer.partitionBy(*m.partition_by)
        path = self._data_path(new_version)
        writer.parquet(path)
        seen = obs.get
        if seen["bad"]:
            fsio.rmtree(path)
            raise ValueError(
                f"vector dim mismatch: collection expects {m.dim}")
        m.version = m.published = new_version
        m.rows = int(seen["n"])
        m.schema = _read_schema(df.schema, m.partition_by)
        self._write_manifest(m)
        return m.rows


def _vector_columns(schema: StructType) -> list[str]:
    return [f.name for f in schema.fields
            if isinstance(f.dataType, ArrayType)
            and isinstance(f.dataType.elementType, (FloatType, DoubleType))]


def _with_norms(df: DataFrame) -> DataFrame:
    """`df` with `_norm_<vec>` for each vector column that lacks one."""
    for v in _vector_columns(df.schema):
        if NORM_PREFIX + v not in df.columns:
            quoted = "`" + v.replace("`", "``") + "`"
            df = df.withColumn(NORM_PREFIX + v, D.norm(quoted))
    return df


def _read_schema(schema: StructType, partition_by) -> dict:
    """The schema a parquet read of the written files infers, as JSON:
    partition columns last, every field and element nullable."""
    parts = partition_by or []
    fields = ([f.jsonValue() for f in schema.fields if f.name not in parts]
              + [{**schema[p].jsonValue(), "metadata": {}} for p in parts])
    return _nullable({"type": "struct", "fields": fields})


def _nullable(t):
    if isinstance(t, list):
        return [_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    t = {k: _nullable(x) for k, x in t.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in t:
            t[k] = True
    return t

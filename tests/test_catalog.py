"""Collection lifecycle (SURVEY §2.1 C1-C3, §2.3 I6): create / upsert
/ delete / snapshot / restore over versioned parquet."""

from __future__ import annotations

import pytest

from pyspark.sql import Row, functions as F

from unified_vector_database_spark.sources.catalog import Collection


def _rows(i0, n, tag):
    return [Row(id=i, embedding=[float(i), 1.0], tag=tag)
            for i in range(i0, i0 + n)]


def test_lifecycle(spark, tmp_path):
    base = str(tmp_path)
    col = Collection.create(spark, base, "c1", id_col="id", dim=2)
    assert Collection.list_collections(base) == ["c1"]
    assert col.describe().version == 0
    assert col.read() is None

    n = col.upsert(spark.createDataFrame(_rows(0, 10, "a")))
    assert n == 10 and col.count() == 10

    # upsert replaces overlapping ids, appends new
    n = col.upsert(spark.createDataFrame(_rows(5, 10, "b")))
    assert n == 15
    tags = dict(col.read().groupBy("tag").count().collect()
                and [(r.tag, r["count"]) for r in
                     col.read().groupBy("tag").count().collect()])
    assert tags == {"a": 5, "b": 10}

    col.snapshot("before-delete")
    assert col.delete(F.col("id") < 3) == 12
    assert col.count() == 12

    col.restore("before-delete")
    assert col.count() == 15

    with pytest.raises(ValueError):
        Collection.create(spark, base, "c1")

    col.drop()
    assert Collection.list_collections(base) == []


def test_update_metadata(spark, tmp_path):
    from pyspark.sql import functions as F
    base = str(tmp_path)
    col = Collection.create(spark, base, "c3")
    col.upsert(spark.createDataFrame(_rows(0, 6, "old")))
    col.update(F.col("id") >= 3, tag="new")
    tags = {r.id: r.tag for r in col.read().collect()}
    assert tags == {0: "old", 1: "old", 2: "old",
                    3: "new", 4: "new", 5: "new"}


def test_update_predicate_reads_the_row_before_the_update(spark, tmp_path):
    """An assignment to a column the predicate reads does not hide the
    row from the assignments after it."""
    col = Collection.create(spark, str(tmp_path), "c3b")
    col.upsert(spark.createDataFrame(
        [Row(id=i, embedding=[float(i), 1.0], label=i % 2, tag="a")
         for i in range(4)]))
    assert col.update(F.col("label") == 1, label=2, tag="x") == 4
    got = {r.id: (r.label, r.tag) for r in col.read().collect()}
    assert got == {0: (0, "a"), 1: (2, "x"), 2: (0, "a"), 3: (2, "x")}
    assert "_update_hit" not in col.read().columns
    with pytest.raises(ValueError, match="unknown columns"):
        col.update(F.col("label") == 2, colour="red")


def test_commit_after_restore_keeps_pinned_versions(spark, tmp_path):
    """A commit after restore writes above every published version, so a
    snapshot of a later version still reads what it pinned."""
    col = Collection.create(spark, str(tmp_path), "c3c", id_col="id",
                            dim=2)
    col.upsert(spark.createDataFrame(_rows(0, 3, "a")))
    col.snapshot("one")
    col.upsert(spark.createDataFrame(_rows(3, 3, "b")))
    col.snapshot("two")
    col.restore("one")
    col.upsert(spark.createDataFrame(_rows(9, 1, "c")))
    assert col.describe().version == 3
    assert sorted(r.id for r in col.read(tag="two").collect()) == \
        list(range(6))
    assert sorted(r.id for r in col.read(tag="one").collect()) == [0, 1, 2]
    assert sorted(r.id for r in col.read().collect()) == [0, 1, 2, 9]


def test_delete_ids_and_open(spark, tmp_path):
    base = str(tmp_path)
    col = Collection.create(spark, base, "c2")
    col.upsert(spark.createDataFrame(_rows(0, 5, "x")))
    col2 = Collection.open(spark, base, "c2")
    col2.delete_ids([0, 4])
    assert sorted(r.id for r in col2.read().collect()) == [1, 2, 3]
    with pytest.raises(ValueError):
        Collection.open(spark, base, "nope")


def test_compact_rewrites_small_files(spark, tmp_path):
    import glob
    import os
    base = str(tmp_path)
    col = Collection.create(spark, base, "c4")
    # trickle ingest: 4 upserts -> 4 versions, current one written by
    # a many-partition plan = many small files
    for i in range(4):
        col.upsert(spark.createDataFrame(_rows(i * 10, 10, "t"))
                   .repartition(8))
    m = col.describe()
    before = glob.glob(os.path.join(base, "c4", f"data_v{m.version}", "*.parquet"))
    assert len(before) > 1
    n = col.compact(target_rows_per_file=1000)
    assert n == 40 and col.count() == 40
    m2 = col.describe()
    after = glob.glob(os.path.join(base, "c4", f"data_v{m2.version}", "*.parquet"))
    assert len(after) == 1          # 40 rows < target -> one file
    assert m2.version == m.version + 1   # copy-on-write, old intact


def test_vacuum_keeps_manifest_and_snapshot_versions(spark, tmp_path):
    import os
    base = str(tmp_path)
    col = Collection.create(spark, base, "c5")
    col.upsert(spark.createDataFrame(_rows(0, 5, "a")))    # v1
    col.snapshot("pin")                                     # pins v1
    col.upsert(spark.createDataFrame(_rows(5, 10, "b")))    # v2
    col.upsert(spark.createDataFrame(_rows(10, 15, "c")))   # v3
    removed = col.vacuum()
    assert removed == [2]           # v1 pinned, v3 current
    assert os.path.isdir(os.path.join(base, "c5", "data_v1"))
    assert not os.path.isdir(os.path.join(base, "c5", "data_v2"))
    col.restore("pin")
    assert col.count() == 5         # pinned version still readable


def test_time_travel_reads(spark, tmp_path):
    base = str(tmp_path)
    col = Collection.create(spark, base, "c6")
    col.upsert(spark.createDataFrame(_rows(0, 5, "a")))     # v1
    col.snapshot("five")
    col.upsert(spark.createDataFrame(_rows(5, 7, "b")))     # v2
    assert col.read().count() == 12                          # current
    assert col.read(version=1).count() == 5                  # explicit
    assert col.read(tag="five").count() == 5                 # by tag
    assert col.describe().version == 2                       # no mutation
    with pytest.raises(ValueError, match="no snapshot"):
        col.read(tag="nope")
    with pytest.raises(ValueError, match="does not exist"):
        col.read(version=9)


def test_partitioned_collection_prunes_metadata_scans(spark, sf_dir, tmp_path):
    # hot-metadata layout: every commit hive-partitions on `lang`, so
    # a lang-filtered scan prunes unread partitions at file listing —
    # the payload-index analog of the reference backends
    import os

    from unified_vector_database_spark import tables
    from unified_vector_database_spark.plans.asserts import (
        assert_partition_pruned, plan_text,
    )

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    col = Collection.create(spark, str(tmp_path), "docs_by_lang",
                            id_col="doc_id", partition_by=["lang"])
    col.upsert(docs)

    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    data_dir = col._data_path(col.describe().version)
    assert sorted(e for e in os.listdir(data_dir)
                  if e.startswith("lang=")) == sorted(
        f"lang={v}" for v in langs)
    # each hive directory holds at most one file per core
    cores = spark.sparkContext.defaultParallelism
    assert all(len([f for f in os.listdir(os.path.join(data_dir, d))
                    if f.endswith(".parquet")]) <= cores
               for d in os.listdir(data_dir) if d.startswith("lang="))

    scan = col.read().where(F.col("lang") == "en")
    assert_partition_pruned(scan, "lang")
    # correctness: the pruned scan returns exactly the en rows
    want = docs.where(F.col("lang") == "en").count()
    assert scan.count() == want

    # filters on a NON-partition column still push to parquet
    other = col.read().where(F.col("n_chars") > 300)
    assert "PushedFilters" in plan_text(other)
    col.drop()


def test_aliases_blue_green_swap(spark, tmp_path):
    from pyspark.sql import Row as R
    base = str(tmp_path)
    blue = Collection.create(spark, base, "docs_v1", id_col="id")
    blue.upsert(spark.createDataFrame([R(id=1, tag="blue")]))
    Collection.set_alias(base, "docs", "docs_v1")
    assert Collection.open_alias(spark, base, "docs").read().first().tag == "blue"

    # rebuild behind the alias, then swap atomically
    green = Collection.create(spark, base, "docs_v2", id_col="id")
    green.upsert(spark.createDataFrame([R(id=1, tag="green")]))
    Collection.set_alias(base, "docs", "docs_v2")
    assert Collection.open_alias(spark, base, "docs").read().first().tag == "green"
    assert Collection.list_aliases(base) == {"docs": "docs_v2"}

    with pytest.raises(ValueError):
        Collection.set_alias(base, "bad", "missing_collection")
    Collection.drop_alias(base, "docs")
    with pytest.raises(ValueError):
        Collection.open_alias(spark, base, "docs")


def test_collection_stats(spark, sf_dir, tmp_path):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.sources.catalog import Collection

    base = str(tmp_path / "cat")
    c = Collection.create(spark, base, "statcoll", id_col="vec_id",
                          dim=64)
    emb = tables.load(spark, sf_dir, "embeddings").limit(100)
    c.upsert(emb)
    c.snapshot("s1")
    c.upsert(emb.limit(10))  # second version
    st = c.stats()
    assert st["name"] == "statcoll"
    assert st["rows"] == 100
    assert st["version"] == 2
    assert st["files"] >= 1 and st["bytes"] > 0
    assert st["versions_retained"] >= 2
    assert st["snapshots"] == 1


def test_uri_catalog_roundtrip(spark, tmp_path):
    """Object-storage readiness (r4): the catalog must work through a
    URI-addressed store, not just bare posix paths. file:// exercises
    the full Hadoop FileSystem code path in sources/fsio.py — the
    SAME calls an s3a:// or hdfs:// base would take (only the
    FileSystem impl behind Path.getFileSystem differs), which is how
    the reference's MinIO-backed persistence maps onto Spark."""
    base = "file://" + str(tmp_path)
    col = Collection.create(spark, base, "c_uri", id_col="id", dim=2)
    assert Collection.list_collections(base) == ["c_uri"]

    col.upsert(spark.createDataFrame(_rows(0, 8, "a")))
    col.upsert(spark.createDataFrame(_rows(4, 8, "b")))  # 0-3 a, 4-11 b
    assert col.count() == 12
    assert col.describe().version == 2

    # snapshot + time-travel through the URI store
    col.snapshot("v2")
    col.delete(F.col("id") >= 10)
    assert col.count() == 10
    assert col.read(tag="v2").count() == 12

    # alias pointer swap lives in URI metadata too
    Collection.set_alias(base, "live", "c_uri")
    assert Collection.open_alias(spark, base, "live").count() == 10

    # stats walks the URI file listing; vacuum GCs URI dirs
    st = col.stats()
    assert st["rows"] == 10 and st["files"] > 0 and st["bytes"] > 0
    removed = col.vacuum()
    assert removed == [1]  # v2 pinned by snapshot, v3 current
    assert col.read(tag="v2").count() == 12  # pinned version survives

    # the posix view of the same tmp_path sees the identical layout:
    # fsio wrote real files, not a parallel namespace
    assert (tmp_path / "c_uri" / "manifest.json").exists()

    col.drop()
    assert Collection.list_collections(base) == []


# ------------------------------------------------ stored norms, schema

VDIM = 4


def _vec_rows(spark, ids, seed):
    import random
    rnd = random.Random(seed)
    return spark.createDataFrame(
        [(i, i % 3, [rnd.uniform(-3, 3) for _ in range(VDIM)]) for i in ids],
        "id bigint, label int, embedding array<float>")


def _assert_norms_exact(col):
    from unified_vector_database_spark.functions import distance as D
    rows = col.read().select(
        "_norm_embedding",
        D.norm(D.vec_double("embedding")).alias("inline")).collect()
    assert rows
    assert all(r["_norm_embedding"].hex() == r.inline.hex() for r in rows)


def test_stored_norms_follow_every_commit(spark, tmp_path):
    col = Collection.create(spark, str(tmp_path), "n", id_col="id",
                            dim=VDIM)
    col.upsert(_vec_rows(spark, range(20), 1))
    _assert_norms_exact(col)
    col.upsert(_vec_rows(spark, range(10, 30), 2))     # overwrite + new
    _assert_norms_exact(col)
    col.delete(F.col("label") == 0)
    _assert_norms_exact(col)
    col.update(F.col("id") < 15, embedding=[3.0, 4.0, 0.0, 0.0])
    _assert_norms_exact(col)
    assert {r["_norm_embedding"] for r in col.read().collect()
            if r.id < 15} == {5.0}
    col.compact()
    _assert_norms_exact(col)
    assert col.count() == 20


def test_restore_to_version_without_norms(spark, tmp_path):
    """A version written before norms were stored reads without the
    column, and the next commit computes it for the rows it carries."""
    from unified_vector_database_spark import api

    col = Collection.create(spark, str(tmp_path), "old", id_col="id",
                            dim=VDIM)
    _vec_rows(spark, range(12), 3).write.parquet(col._data_path(1))
    m = col.describe()
    m.version = 1
    col._write_manifest(m)
    col.snapshot("legacy")
    col.upsert(_vec_rows(spark, range(8, 16), 4))
    _assert_norms_exact(col)
    col.restore("legacy")
    legacy = col.read()
    assert "_norm_embedding" not in legacy.columns
    rows = api.search(legacy, {"vector": [1.0, -2.0, 0.5, 0.0],
                               "limit": 5}, id_col="id").collect()
    assert len(rows) == 5 and None not in [r.score for r in rows]
    col.delete(F.col("id") == 0)
    _assert_norms_exact(col)
    assert col.count() == 11


def _job_ids(spark, fn):
    """(fn(), ids of the Spark jobs it ran), by job group."""
    import time
    import uuid
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(0.5)  # job-start events reach the status store async
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    out, ids = _job_ids(spark, fn)
    return out, len(ids)


def test_read_fires_no_job_and_infers_the_same_schema(spark, tmp_path):
    col = Collection.create(spark, str(tmp_path), "s", id_col="id",
                            dim=VDIM)
    col.upsert(_vec_rows(spark, range(10), 5))
    df, jobs = _jobs(spark, col.read)
    assert jobs == 0
    path = col._data_path(col.describe().version)
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == 10
    # an older manifest without the schema is read with inference
    m = col.describe()
    m.schema = None
    col._write_manifest(m)
    df2, jobs2 = _jobs(spark, col.read)
    assert jobs2 >= 1 and df2.schema == df.schema

    part = Collection.create(spark, str(tmp_path), "p", id_col="doc_id",
                             partition_by=["lang"])
    part.upsert(spark.createDataFrame(
        [(1, "en", 10), (2, "de", 20), (3, "en", 30)],
        "doc_id bigint, lang string, n_chars int"))
    pdf, pjobs = _jobs(spark, part.read)
    ppath = part._data_path(1)
    assert pjobs == 0 and pdf.schema == spark.read.parquet(ppath).schema
    assert sorted(r.doc_id for r in pdf.where(F.col("lang") == "en")
                  .collect()) == [1, 3]


def test_wrong_dim_upsert_changes_nothing(spark, tmp_path):
    import os

    col = Collection.create(spark, str(tmp_path), "d", id_col="id",
                            dim=VDIM)
    col.upsert(_vec_rows(spark, range(10), 6))

    def files():
        return sorted(os.path.relpath(os.path.join(r, f), col.path)
                      for r, _, fs in os.walk(col.path) for f in fs)
    before, m = files(), col.describe()
    bad = spark.createDataFrame([(99, 0, [1.0, 2.0])],
                                "id bigint, label int, embedding array<float>")
    with pytest.raises(ValueError, match="vector dim mismatch"):
        col.upsert(_vec_rows(spark, range(5), 7).unionByName(bad))
    assert files() == before and col.describe() == m
    assert col.count() == 10 and col.read().count() == 10


def _data_files(col) -> tuple[list[int], int]:
    """(row count of each parquet file holding rows, number of parquet
    files) of the current version, hive directories included."""
    import glob
    import os

    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(col._data_path(col.describe().version),
                                   "**", "*.parquet"), recursive=True)
    rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
    return [n for n in rows if n], len(files)


def _max_tasks(spark, fn):
    """(fn(), the largest task count of a stage its Spark jobs ran)."""
    out, ids = _job_ids(spark, fn)
    tracker = spark.sparkContext.statusTracker()
    return out, max(tracker.getStageInfo(s).numTasks for j in ids
                    for s in tracker.getJobInfo(j).stageIds)


def test_commit_spreads_one_file_over_the_cores(spark, tmp_path):
    """A one-file, one-row-group upsert is written as one file with rows
    per core, and a cosine search scans them with one task each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_vector_database_spark import api

    cores = spark.sparkContext.defaultParallelism
    n = 2000
    x = np.random.default_rng(1).standard_normal((n, VDIM)).astype(np.float32)
    src = str(tmp_path / "batch.parquet")
    pq.write_table(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32()))}),
        src, row_group_size=n)
    assert pq.ParquetFile(src).metadata.num_row_groups == 1
    col = Collection.create(spark, str(tmp_path), "spread", id_col="id",
                            dim=VDIM)
    assert col.upsert(spark.read.parquet(src)) == n
    full, files = _data_files(col)
    assert len(full) == files == min(n, cores) and sum(full) == n
    rows, tasks = _max_tasks(spark, lambda: api.search(
        col.read(), {"vector": x[7].tolist(), "limit": 3},
        id_col="id").collect())
    assert tasks == min(n, cores)
    assert rows[0].id == 7


def test_commit_file_count_is_constant_over_cycles(spark, tmp_path):
    """Upserts, deletes and updates each rewrite the version into the
    same number of files: no tail of small files grows."""
    cores = spark.sparkContext.defaultParallelism
    col = Collection.create(spark, str(tmp_path), "cycles", id_col="id",
                            dim=VDIM)
    col.upsert(_vec_rows(spark, range(400), 0))
    counts = [_data_files(col)[1]]
    for cycle in range(10):
        lo = 400 + 40 * cycle
        col.upsert(_vec_rows(spark, range(lo - 20, lo + 20), cycle))
        col.delete(F.col("id") < lo - 380)
        col.update(F.col("id") % 7 == cycle % 7, label=cycle)
        counts.append(_data_files(col)[1])
    assert counts == [cores] * 11
    assert col.count() == 400 == col.read().count()


def test_fewer_rows_than_cores(spark, tmp_path):
    from unified_vector_database_spark import api

    col = Collection.create(spark, str(tmp_path), "tiny", id_col="id",
                            dim=VDIM)
    assert col.upsert(_vec_rows(spark, range(3), 8)) == 3
    full, _ = _data_files(col)
    assert 1 <= len(full) <= 3 and sum(full) == 3
    got = api.search(col.read(), {"vector": [1.0, 0.0, 0.0, 0.0],
                                  "limit": 10}, id_col="id").collect()
    assert sorted(r.id for r in got) == [0, 1, 2]


def test_every_row_deleted(spark, tmp_path):
    """A version with no rows reads, counts and searches as empty."""
    from unified_vector_database_spark import api

    col = Collection.create(spark, str(tmp_path), "empty", id_col="id",
                            dim=VDIM)
    col.upsert(_vec_rows(spark, range(20), 9))
    assert col.delete(F.lit(True)) == 0
    full, files = _data_files(col)
    assert full == [] and files >= 1
    assert col.count() == 0 and col.read().count() == 0
    assert col.stats()["rows"] == 0
    specs = [{"vector": [1.0, 0.0, 0.0, 0.0], "limit": 5},
             {"filter": {"must": [{"key": "id", "match": 3}]}},
             {"filter": {"must_not": [{"key": "label", "match": 1}]},
              "limit": 5}]
    for spec in specs:
        assert api.search(col.read(), spec, id_col="id").collect() == []
    # the next upsert brings the collection back
    assert col.upsert(_vec_rows(spark, range(5), 10)) == 5


def test_restore_reinstates_count_and_schema(spark, tmp_path):
    """restore() and a read by tag take the pinned version's recorded
    row count and schema: no count job, no schema inference. A pin
    stored as a bare version number still restores."""
    col = Collection.create(spark, str(tmp_path), "r", id_col="id",
                            dim=VDIM)
    col.upsert(_vec_rows(spark, range(12), 11))
    col.snapshot("twelve")
    schema = col.read().schema
    col.upsert(_vec_rows(spark, range(12, 20), 12))
    assert col.count() == 20
    col.restore("twelve")
    n, jobs = _jobs(spark, col.count)
    assert (n, jobs) == (12, 0)
    df, jobs = _jobs(spark, col.read)
    assert jobs == 0 and df.schema == schema
    tagged, jobs = _jobs(spark, lambda: col.read(tag="twelve"))
    assert jobs == 0 and tagged.schema == schema
    assert df.count() == 12

    from unified_vector_database_spark.sources import fsio
    fsio.write_json(col._snapshots_path, {"old": 1})
    col.restore("old")
    assert col.describe().rows is None
    assert col.count() == 12 and col.read().schema == schema

"""The one artifact cache: rebuild on a changed input file or session,
one entry per (kind, path), on disk as in memory, and no private cache
dicts elsewhere."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import pytest

from unified_vector_database_spark import artifacts, registry

PKG = pathlib.Path(artifacts.__file__).parent


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def counted(tmp_path, monkeypatch):
    """(path, get): get() looks up a toy kind over a one-file input and
    returns (value, number of builds so far)."""
    monkeypatch.setattr(artifacts, "_CACHE", {})
    path = tmp_path / "t.parquet"
    path.write_bytes(b"a")
    builds = []

    def build():
        builds.append(path.read_bytes())
        return builds[-1]

    def get(spark=None):
        return artifacts.get("toy", str(path), build, spark), len(builds)
    return path, get


def test_repeat_call_builds_once(counted):
    _, get = counted
    assert get() == (b"a", 1)
    assert get() == (b"a", 1)


def test_touched_file_rebuilds(counted):
    path, get = counted
    get()
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert get() == (b"a", 2)


def test_other_app_id_rebuilds(counted):
    _, get = counted
    assert get(_session("app-1")) == (b"a", 1)
    assert get(_session("app-1")) == (b"a", 1)
    assert get(_session("app-2")) == (b"a", 2)


def test_overwrite_replaces_entry(counted):
    path, get = counted
    get()
    path.write_bytes(b"bb")
    assert get() == (b"bb", 2)
    assert len(artifacts._CACHE) == 1


def test_directory_fingerprint_sees_each_file(tmp_path):
    (tmp_path / "part-0.parquet").write_bytes(b"a")
    before = artifacts.fingerprint(str(tmp_path))
    (tmp_path / "part-1.parquet").write_bytes(b"b")
    assert artifacts.fingerprint(str(tmp_path)) != before
    assert artifacts.fingerprint(str(tmp_path / "missing")) is None


KIND = ("replay", "toy", 4)


@pytest.fixture
def disk(tmp_path, monkeypatch):
    """(src, tmp, persist): persist(build=copy) -> (dir, builds so far)
    for artifacts.persisted over the one-file input `src`, with the
    temp dir moved to `tmp`."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    src = tmp_path / "t.parquet"
    src.write_bytes(b"a")
    builds = []

    def copy(d):
        os.makedirs(d)
        (pathlib.Path(d) / "out").write_bytes(src.read_bytes())
        builds.append(d)

    def persist(build=copy):
        return artifacts.persisted(KIND, str(src), build), len(builds)
    return src, tmp, persist


def test_persisted_builds_once(disk):
    _, tmp, persist = disk
    out, n = persist()
    assert persist() == (out, 1) and n == 1
    assert (pathlib.Path(out) / "out").read_bytes() == b"a"
    assert os.listdir(tmp) == [os.path.basename(out)]


def test_persisted_touched_input_rebuilds_and_drops_old(disk):
    src, tmp, persist = disk
    old, _ = persist()
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    new, n = persist()
    assert new != old and n == 2
    assert os.listdir(tmp) == [os.path.basename(new)]


def test_persisted_raising_build_leaves_nothing(disk):
    _, tmp, persist = disk

    def dies(d):
        os.makedirs(d)
        (pathlib.Path(d) / "half").write_bytes(b"x")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError, match="killed mid-build"):
        persist(dies)
    assert os.listdir(tmp) == []
    out, n = persist()
    assert n == 1 and (pathlib.Path(out) / "out").read_bytes() == b"a"


def test_persisted_keeps_race_winner(disk):
    _, tmp, persist = disk

    def loses(d):
        winner = pathlib.Path(d.rsplit(".build.", 1)[0])
        winner.mkdir()
        (winner / "out").write_bytes(b"winner")
        os.makedirs(d)
        (pathlib.Path(d) / "out").write_bytes(b"loser")

    out, _ = persist(loses)
    assert (pathlib.Path(out) / "out").read_bytes() == b"winner"
    assert os.listdir(tmp) == [os.path.basename(out)]


def test_persisted_name_is_stable_across_hash_seeds(disk):
    """The name must not depend on str hash salting: a process with
    another PYTHONHASHSEED finds the directory already published."""
    src, tmp, persist = disk
    out, _ = persist()
    code = ("import sys, tempfile\n"
            "from unified_vector_database_spark import artifacts\n"
            "tempfile.tempdir = sys.argv[1]\n"
            "def build(d): raise SystemExit('rebuilt')\n"
            f"print(artifacts.persisted({KIND!r}, sys.argv[2], build))\n")
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed,
                   PYTHONPATH=str(PKG.parent))
        got = subprocess.run(
            [sys.executable, "-c", code, str(tmp), str(src)], env=env,
            capture_output=True, text=True, check=True).stdout.strip()
        assert got == out


def test_scratch_is_per_process_and_removed_at_exit(tmp_path):
    """Two processes take scratch on one input at once: each keeps its
    own directory while the other empties its own, and neither leaves
    it behind at exit."""
    sig = tmp_path / "sig"
    sig.mkdir()
    code = ("import os, sys, tempfile, time\n"
            "from unified_vector_database_spark import artifacts\n"
            "tempfile.tempdir, src, sig, me, other = sys.argv[1:]\n"
            "def wait(name):\n"
            "    end = time.time() + 60\n"
            "    while not os.path.exists(os.path.join(sig, name)):\n"
            "        assert time.time() < end, name\n"
            "        time.sleep(0.02)\n"
            "if me == 'b':\n"
            "    wait('a')\n"
            "d = artifacts.scratch('toy', src)\n"
            "os.makedirs(d)\n"
            "open(os.path.join(d, me), 'w').close()\n"
            "open(os.path.join(sig, me), 'w').close()\n"
            "wait(other)\n"
            "print(d, sorted(os.listdir(d)))\n")
    env = dict(os.environ, PYTHONPATH=str(PKG.parent))
    procs = [subprocess.Popen(
        [sys.executable, "-c", code, str(tmp_path), str(tmp_path / "in"),
         str(sig), me, other], env=env, stdout=subprocess.PIPE, text=True)
        for me, other in (("a", "b"), ("b", "a"))]
    outs = [p.communicate(timeout=120)[0].split(" ", 1) for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    assert [o[1].strip() for o in outs] == ["['a']", "['b']"]
    assert outs[0][0] != outs[1][0]
    assert not any(os.path.exists(o[0]) for o in outs)


def test_interrupted_collection_build_is_rebuilt(spark, duck, sf_dir,
                                                 tmp_path, monkeypatch):
    """A reindex whose upsert dies after the destination collection was
    created publishes nothing, so the next call rebuilds it and returns
    the oracle's rows."""
    from unified_vector_database_spark.operators.lifecycle import (
        reindex_transform,
    )
    from unified_vector_database_spark.sources.catalog import Collection

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    upsert = Collection.upsert

    def dies_once(self, df):
        monkeypatch.setattr(Collection, "upsert", upsert)
        raise RuntimeError("killed mid-build")

    monkeypatch.setattr(Collection, "upsert", dies_once)
    with pytest.raises(RuntimeError, match="killed mid-build"):
        reindex_transform(spark, sf_dir)
    got = sorted(tuple(r) for r in reindex_transform(spark, sf_dir).collect())
    oracle = registry.ORACLES["reindex_transform"]
    assert got == sorted(duck.execute(oracle).fetchall())


def _empty_container_bindings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.List) and not value.elts) or (
            isinstance(value, ast.Call) and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "set", "list")
            and not value.args and not value.keywords)
        if empty:
            yield from (ast.unparse(t) for t in targets)


def test_no_private_cache_dicts():
    """A module-level name bound to an empty dict, set or list is a
    cache in all but name; artifacts.get and artifacts.persisted are
    the one place for those."""
    allowed = {("registry.py", "QUERIES"), ("registry.py", "ORACLES")}
    found = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if rel == "artifacts.py":
            continue
        for name in _empty_container_bindings(ast.parse(p.read_text())):
            if (rel, name) not in allowed:
                found.append(f"{rel}: {name}")
    assert not found, found


def test_broken_lazy_oracle_raises_named_error(monkeypatch):
    def broken():
        raise FileNotFoundError("embeddings.parquet")

    monkeypatch.setitem(registry.ORACLES, "broken_probe", broken)
    with pytest.raises(registry.OracleBuildError, match="broken_probe") as e:
        registry.resolved_oracles()
    assert isinstance(e.value.__cause__, FileNotFoundError)


def test_package_zip_named_by_sources(tmp_path):
    """Processes on one source tree ship one zip; a copy of the tree
    with one edited file gets another zip, which holds the edit."""
    code = ("import sys, tempfile\n"
            "tempfile.tempdir = sys.argv[1]\n"
            "from unified_vector_database_spark.session import package_zip\n"
            "print(package_zip())\n")

    def zip_for(root):
        env = dict(os.environ, PYTHONPATH=str(root))
        return subprocess.run(
            [sys.executable, "-c", code, str(tmp_path)], env=env,
            cwd=tmp_path, capture_output=True, text=True,
            check=True).stdout.strip()

    first = zip_for(PKG.parent)
    assert zip_for(PKG.parent) == first
    copy = tmp_path / "copy" / PKG.name
    shutil.copytree(PKG, copy, ignore=shutil.ignore_patterns("__pycache__"))
    with open(copy / "registry.py", "a") as f:
        f.write("# edited\n")
    edited = zip_for(copy.parent)
    assert edited != first
    with zipfile.ZipFile(edited) as zf:
        assert zf.read(f"{PKG.name}/registry.py").endswith(b"# edited\n")


def _stages(spark, fn) -> int:
    """Number of stages of the Spark jobs fn() ran, by job group."""
    import time
    import uuid
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(0.5)  # job-start events reach the status store async
    tracker = sc.statusTracker()
    return sum(len(tracker.getJobInfo(j).stageIds)
               for j in tracker.getJobIdsForGroup(group))


def test_load_parallel_shuffles_once_per_table(spark, write_embeddings):
    """The repartition runs when the table is first loaded; every later
    action over the frame is one stage per job: no shuffle-map stage."""
    from unified_vector_database_spark import tables

    sf, x = write_embeddings(1)
    first = tables.load_parallel(spark, sf, "embeddings", "vec_id")
    assert first.rdd.getNumPartitions() >= 2
    for _ in range(2):
        df = tables.load_parallel(spark, sf, "embeddings", "vec_id")
        assert df is first
        assert _stages(spark, lambda: df.select("vec_id").collect()) == 1
    assert sorted(r.vec_id for r in first.collect()) == list(range(len(x)))


def _partitions_with_rows(df) -> int:
    from pyspark.sql import functions as F
    return df.select(F.spark_partition_id().alias("p")).distinct().count()


def test_load_parallel_spreads_a_one_row_group_file(spark, tmp_path):
    """A file past the 4 MB open cost is cut into several byte-range
    splits, but its one row group is read by one of them: the table
    still runs on one core. load_parallel counts files, not splits."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_vector_database_spark import tables

    cores = spark.sparkContext.defaultParallelism
    n = (max(2, cores // 2) * (4 << 20) + (1 << 20)) // 256
    x = np.random.default_rng(0).standard_normal((n, 64)).astype(np.float32)
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32()))}),
        path, row_group_size=n, compression="none")
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    raw = spark.read.parquet(path)
    # the split count passes a "one split per two cores" check ...
    assert raw.rdd.getNumPartitions() >= max(2, cores // 2)
    # ... while one split holds every row
    assert _partitions_with_rows(raw) == 1
    df = tables.load_parallel(spark, str(tmp_path), "embeddings", "vec_id")
    assert _partitions_with_rows(df) == cores
    assert df.count() == n


def test_load_parallel_rebuilds_on_overwrite(spark, write_embeddings,
                                             tmp_path, monkeypatch):
    """An overwritten table gets a new copy; the old copy is removed and
    nothing stays cached in the session."""
    from unified_vector_database_spark import tables

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
    sf, _ = write_embeddings(1)
    old = tables.load_parallel(spark, sf, "embeddings", "vec_id")
    copies = os.listdir(tempfile.tempdir)
    assert len(copies) == 1
    sf, x = write_embeddings(2)
    new = tables.load_parallel(spark, sf, "embeddings", "vec_id")
    assert new is not old
    assert len(os.listdir(tempfile.tempdir)) == 1
    assert os.listdir(tempfile.tempdir) != copies
    got = {r.vec_id: r.embedding for r in new.collect()}
    assert [got[i] for i in range(len(x))] == x.tolist()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent


def test_load_parallel_after_session_restart(tmp_path):
    """A stopped session's frame is never served: the restarted session
    gets a frame of its own over the same copy, and no second one."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    x = np.arange(40 * 4, dtype=np.float32).reshape(40, 4)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(40), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32()))}),
        str(tmp_path / "embeddings.parquet"))
    code = ("import os, sys, tempfile\n"
            "from unified_vector_database_spark import tables\n"
            "from unified_vector_database_spark.session import get_spark\n"
            "tempfile.tempdir, sf = sys.argv[1:]\n"
            "out = []\n"
            "for app in ('one', 'two'):\n"
            "    spark = get_spark(app, cpus=4, shuffle_partitions=4)\n"
            "    df = tables.load_parallel(spark, sf, 'embeddings', 'vec_id')\n"
            "    assert df.sparkSession._jsparkSession.equals(\n"
            "        spark._jsparkSession)\n"
            "    out.append((id(df), df.count(), [f for f in os.listdir(\n"
            "        tempfile.tempdir) if not f.endswith('.zip')]))\n"
            "    spark.stop()\n"
            "(a, n1, d1), (b, n2, d2) = out\n"
            "print(a != b, n1, n2, len(d1), d1 == d2)\n")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, PYTHONPATH=str(PKG.parent),
               SPARK_GRAFT_DRIVER_MEM="1g")
    got = subprocess.run(
        [sys.executable, "-c", code, str(tmp), str(tmp_path)], env=env,
        capture_output=True, text=True, timeout=300)
    assert got.returncode == 0, got.stderr[-2000:]
    assert got.stdout.split()[-5:] == ["True", "40", "40", "1", "True"]

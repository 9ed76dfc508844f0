"""The one artifact cache: rebuild on a changed input file or session,
one entry per (kind, path), and no private cache dicts elsewhere."""

from __future__ import annotations

import ast
import os
import pathlib
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


def _empty_dict_bindings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call) and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
            and not value.args and not value.keywords)
        if empty:
            yield from (ast.unparse(t) for t in targets)


def test_no_private_cache_dicts():
    """A module-level name bound to an empty dict is a cache in all but
    name; artifacts.get is the one place for those."""
    allowed = {("registry.py", "QUERIES"), ("registry.py", "ORACLES")}
    found = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if rel == "artifacts.py":
            continue
        for name in _empty_dict_bindings(ast.parse(p.read_text())):
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

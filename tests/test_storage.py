"""Metadata-plane storage facade: object-storage-capable dataset paths.

Reference: storage providers accept s3:// gs:// azure:// URI paths
(python/deeplake/storage.pyi:26-121). Our split: the DATA plane
(parquet) always goes through Spark's Hadoop FileSystem layer; the
METADATA plane (refs.json, commit log, index sidecars) routes through
deeplake_spark.storage.metadata_store_for — POSIX fast path, mem://
dict store, register_metadata_store() custom backends, and a JVM
HadoopMetadataStore for any scheme the Spark runtime has a connector
for (covered here via file://, the connector every runtime ships)."""

from __future__ import annotations

import tempfile

import pytest

from deeplake_spark import dataset as dl
from deeplake_spark import types as dt
from deeplake_spark.storage import (
    MemoryMetadataStore,
    metadata_store_for,
    register_metadata_store,
)


def test_memory_store_blob_ops():
    st = MemoryMetadataStore()
    assert st.list("mem://root") == []
    assert not st.exists("mem://root/a.json")
    st.put_bytes("mem://root/a.json", b"{}")
    st.put_bytes("mem://root/sub/b.json", b"[]")
    assert st.get_bytes("mem://root/a.json") == b"{}"
    assert st.list("mem://root") == ["a.json", "sub"]
    assert st.exists("mem://root/sub")  # prefix-existence (directory)
    st.copy_tree("mem://root/sub", "mem://other/sub")
    assert st.get_bytes("mem://other/sub/b.json") == b"[]"
    st.delete("mem://root")
    assert st.list("mem://root") == [] and st.exists("mem://other/sub/b.json")


def test_scheme_dispatch_and_registration():
    posix = metadata_store_for("/tmp/anywhere")
    assert type(posix).__name__ == "PosixMetadataStore"
    assert isinstance(metadata_store_for("mem://x/y"), MemoryMetadataStore)
    mine = MemoryMetadataStore()
    register_metadata_store("unittest-mock", mine)
    assert metadata_store_for("unittest-mock://bucket/ds") is mine


def test_dataset_metadata_roundtrip_on_mock_backend(spark):
    """Version-control surface (create/exists/open/branch/tag/history/
    delete) runs entirely on a non-POSIX mock backend — nothing touches
    the local filesystem for these paths."""
    path = "mem://unit/datasets/alpha"
    dl.delete(path) if dl.exists(path) else None
    ds = dl.create(path, spark, schema={"text": dt.Text()})
    assert dl.exists(path)
    with pytest.raises(dl.DatasetError):
        dl.create(path, spark)  # already exists — seen through the facade
    ds.tag("v0")
    ds.branch("feature")
    again = dl.open(path, spark)
    assert again.version == ds.version
    assert "feature" in again.branches()
    assert "v0" in again.tags()
    assert [h.message for h in again.history()] == ["create"]
    dl.delete(path)
    assert not dl.exists(path)
    with pytest.raises(dl.DatasetError):
        dl.open(path, spark)


def test_dataset_full_roundtrip_over_hadoop_uri(spark):
    """Full create→append→commit→index→reopen→query round-trip with a
    URI dataset path: metadata goes through HadoopMetadataStore (JVM
    FileSystem — same resolution s3a://gs://abfss:// would take on a
    real cluster), data+index parquet through Spark itself."""
    with tempfile.TemporaryDirectory() as d:
        path = f"file://{d}/ds"
        ds = dl.create(path, spark, schema={
            "text": dt.Text(), "score": dt.Generic("float64"),
        })
        ds.append([{"text": f"row {i}", "score": float(i)} for i in range(8)])
        v1 = ds.commit("batch")
        ds.create_index("text", "inverted")

        fresh = dl.open(path, spark)
        assert fresh.version == int(v1) and len(fresh) == 8
        assert "text" in fresh._load_indexes()
        rows = fresh.query(
            "SELECT text, score WHERE score >= 6 ORDER BY score").collect()
        assert [r.text for r in rows] == ["row 6", "row 7"]

        fresh.delete(0)
        fresh.commit("trim")
        assert len(dl.open(path, spark)) == 7
        assert dl.exists(path)
        dl.delete(path)
        assert not dl.exists(path)


def test_replicate_refuses_cross_backend(spark):
    """Data files can't be copied between different metadata backends —
    _replicate must refuse instead of writing a half-replica."""
    with tempfile.TemporaryDirectory() as d:
        ds = dl.create(d + "/src", spark, schema={"text": dt.Text()})
        ds.append([{"text": "a"}])
        ds.commit("one")
        with pytest.raises(dl.DatasetError, match="storage backends"):
            ds.push("mem://unit/datasets/push-dst")


def test_copy_tree_uniform_dst_exists_contract(spark):
    """r15 storage.py review: copy_tree's dst-exists behavior was
    THREE different things per backend (POSIX raised, Hadoop nested
    src UNDER the existing dst dir, Memory merged in place). The
    pinned contract: dst must not exist — FileExistsError uniformly,
    copy lands AT dst otherwise."""
    from deeplake_spark.storage import (
        HadoopMetadataStore, MemoryMetadataStore, PosixMetadataStore)

    import os

    with tempfile.TemporaryDirectory() as d:
        posix = PosixMetadataStore()
        os.makedirs(d + "/src")
        with open(d + "/src/a.txt", "w") as f:
            f.write("x")
        posix.copy_tree(d + "/src", d + "/dst")
        assert posix.get_bytes(d + "/dst/a.txt") == b"x"
        with pytest.raises(FileExistsError):
            posix.copy_tree(d + "/src", d + "/dst")

        mem = MemoryMetadataStore()
        mem.put_bytes("mem://t/src/a.txt", b"x")
        mem.copy_tree("mem://t/src", "mem://t/dst")
        assert mem.get_bytes("mem://t/dst/a.txt") == b"x"
        with pytest.raises(FileExistsError):
            mem.copy_tree("mem://t/src", "mem://t/dst")

        hd = HadoopMetadataStore(spark)
        src_u = "file://" + d + "/hsrc"
        hd.put_bytes(src_u + "/a.txt", b"y")
        hd.copy_tree(src_u, "file://" + d + "/hdst")
        assert hd.get_bytes("file://" + d + "/hdst/a.txt") == b"y"
        with pytest.raises(FileExistsError):
            # pre-fix this NESTED hsrc under hdst instead of erroring
            hd.copy_tree(src_u, "file://" + d + "/hdst")
        assert not hd.exists("file://" + d + "/hdst/hsrc")


def test_resolve_scheme_reference_aliases():
    """r15 storage.py review: the reference-API spellings gcs:// and
    azure:// must resolve to their providers (gs/abfss), not fall
    through to a LOCAL path — and the rewrite must reach the DISPATCH
    path: dataset entry points normalize the URL so Hadoop sees the
    provider scheme, not the alias (r15 diff review: resolve_scheme
    alone had no caller on that path)."""
    from deeplake_spark.storage import normalize_url, resolve_scheme

    assert resolve_scheme("gcs://bucket/ds") == "gs"
    assert resolve_scheme("azure://container/ds") == "abfss"
    assert resolve_scheme("az://container/ds") == "abfss"
    assert resolve_scheme("gs://bucket/ds") == "gs"
    assert resolve_scheme("/plain/path") == "file"
    assert resolve_scheme("weird://x") == "file"

    assert normalize_url("gcs://bucket/ds") == "gs://bucket/ds"
    assert normalize_url("azure://c/ds") == "abfss://c/ds"
    assert normalize_url("az://c/ds") == "abfss://c/ds"
    assert normalize_url("s3a://b/ds") == "s3a://b/ds"
    assert normalize_url("/plain/path") == "/plain/path"

    # the dataset entry points apply it: an alias-scheme path reaches
    # the store layer (and so Hadoop/Spark) with the provider scheme
    import deeplake_spark.dataset as dlmod

    p, ro = dlmod._resolve_alias("gcs://bucket/ds")
    assert p == "gs://bucket/ds" and ro is False


def test_set_concurrency_without_session_raises(monkeypatch):
    """r15 storage.py review: no active session used to die with a
    bare AttributeError; now a clear RuntimeError."""
    from pyspark.sql import SparkSession

    from deeplake_spark.storage import set_concurrency

    monkeypatch.setattr(SparkSession, "getActiveSession",
                        staticmethod(lambda: None))
    with pytest.raises(RuntimeError, match="active SparkSession"):
        set_concurrency(32)


def test_posix_put_bytes_keeps_old_bytes_when_the_write_fails(
        tmp_path, monkeypatch):
    """A metadata put is atomic: a write that fails midway (a kill, a
    full disk) leaves the old bytes of refs.json in place, not a
    truncated file that loses the whole dataset, and leaves nothing a
    `.json` listing or Spark's discovery would pick up."""
    import builtins

    from deeplake_spark.storage import PosixMetadataStore

    store = PosixMetadataStore()
    path = str(tmp_path / "refs.json")
    store.put_bytes(path, b'{"branches": {"main": 1}}')
    real_open = builtins.open

    class HalfWrite:
        def __init__(self, f):
            self.f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, data):
            self.f.write(data[: len(data) // 2])
            raise OSError("simulated failure mid-write")

        def __getattr__(self, name):
            return getattr(self.f, name)

    def failing_open(file, mode="r", *args, **kwargs):
        f = real_open(file, mode, *args, **kwargs)
        return HalfWrite(f) if "w" in mode else f

    monkeypatch.setattr(builtins, "open", failing_open)
    with pytest.raises(OSError, match="mid-write"):
        store.put_bytes(path, b'{"branches": {"main": 2, "dev": 3}}')
    monkeypatch.undo()
    assert store.get_bytes(path) == b'{"branches": {"main": 1}}'
    assert store.list(str(tmp_path)) == ["refs.json"]

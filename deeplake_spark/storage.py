"""Storage configuration surface — API parity with the reference's
`deeplake.storage` module (`python/deeplake/storage.pyi:26-121`:
provider registry, global concurrency knob, range-read readers).

On Spark, providers are Hadoop FileSystem schemes and concurrency maps
to connection-pool/readahead confs; the functions below set the
equivalent session configuration so reference code ports 1:1.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

_DEFAULT_CONCURRENCY = 64


def concurrency(spark: SparkSession | None = None) -> int:
    """storage.concurrency (storage.pyi:90)."""
    spark = spark or SparkSession.getActiveSession()
    try:
        return int(spark.conf.get("spark.hadoop.fs.s3a.connection.maximum"))
    except Exception:
        return _DEFAULT_CONCURRENCY


def set_concurrency(n: int, spark: SparkSession | None = None) -> None:
    """storage.set_concurrency (storage.pyi:104): object-store
    connection parallelism (S3A pool + per-scheme equivalents).
    Requires an active SparkSession — raises a clear error instead of
    the bare AttributeError the None session used to produce (r15
    storage.py review; the sibling ``concurrency()`` keeps its
    documented degrade-to-default read behavior)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "set_concurrency needs an active SparkSession — create one "
            "first (deeplake_spark.get_spark()) or pass spark=")
    spark.conf.set("spark.hadoop.fs.s3a.connection.maximum", str(n))
    spark.conf.set("spark.hadoop.fs.s3a.threads.max", str(n))


SUPPORTED_SCHEMES = ("file", "s3a", "s3", "gs", "abfss", "wasbs", "hdfs", "mem")

#: reference-API spellings that map onto a supported provider scheme
#: (create/open accept "gcs://" and "azure://", __init__.pyi:4123 —
#: they are the gs/abfss providers; r15 storage.py review: they used
#: to fall through to "file" and be treated as a LOCAL path)
_SCHEME_ALIASES = {"gcs": "gs", "azure": "abfss", "az": "abfss"}


def resolve_scheme(url: str) -> str:
    """Provider resolution (create/open accept s3:// gcs:// azure://
    file mem:// — __init__.pyi:4123). Unknown scheme → local path."""
    for alias, real in _SCHEME_ALIASES.items():
        if url.startswith(alias + "://"):
            return real
    for s in SUPPORTED_SCHEMES:
        if url.startswith(s + "://"):
            return s
    return "file"


def normalize_url(url: str) -> str:
    """Rewrite reference-API scheme spellings onto the provider scheme
    the Hadoop/Spark layer actually resolves (gcs:// → gs://,
    azure://, az:// → abfss://). Applied at the dataset entry points
    so BOTH planes see the provider scheme — resolve_scheme alone had
    no in-repo caller on the dispatch path, so gcs:// URLs reached
    Hadoop verbatim and failed with 'No FileSystem for scheme gcs'
    (r15 diff review)."""
    for alias, real in _SCHEME_ALIASES.items():
        if url.startswith(alias + "://"):
            return real + "://" + url.split("://", 1)[1]
    return url


# ------------------------------------------------------- metadata store
#
# The dataset's METADATA plane (refs.json, commit-log entries, index
# sidecars) is tiny JSON blobs; the DATA plane (parquet) always goes
# through Spark's own Hadoop FileSystem layer. Reference storage
# providers accept s3:// gs:// azure:// paths (storage.pyi:26-121) —
# this facade gives the metadata plane the same reach: POSIX paths use
# os/open directly (fast path), URI paths route through the scheme's
# registered store or the JVM Hadoop FileSystem (which resolves
# whatever connectors the cluster ships: s3a, gs, abfss, hdfs).


class MetadataStore:
    """get/put/list for small metadata blobs, keyed by full path/URL."""

    def get_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def put_bytes(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def list(self, path: str) -> list[str]:
        """Names (not full paths) directly under a directory/prefix;
        empty when absent."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Recursive; no-op when absent."""
        raise NotImplementedError

    def files(self, path: str) -> list[str]:
        """Paths, relative to `path`, of every file under it whose own
        name and every directory above it (below `path`) start with
        neither `_` nor `.` — the files Spark's discovery would read;
        empty when absent."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move one file, creating `dst`'s parent directories."""
        raise NotImplementedError

    def copy_tree(self, src: str, dst: str) -> None:
        """Recursive copy within this store (replication of data files
        between two datasets on the same backend). CONTRACT, uniform
        across stores (r15 storage.py review — the three backends used
        to diverge: POSIX raised, Hadoop nested src UNDER an existing
        dst dir, Memory merged in place): ``dst`` must NOT already
        exist; the copy lands AT ``dst``; an existing ``dst`` raises
        FileExistsError. Callers replicating into a live tree check
        exists() and choose explicitly (dataset.push does)."""
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        """Last-modified POSIX seconds; 0.0 when the backend cannot
        say — age guards then degrade to reachability-only behavior
        for that file (never retain-forever)."""
        return 0.0


class PosixMetadataStore(MetadataStore):
    def mtime(self, path: str) -> float:
        import os

        try:
            return os.path.getmtime(path)
        except OSError:
            return 0.0

    def get_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def put_bytes(self, path: str, data: bytes) -> None:
        """Atomic: the bytes go to a hidden sibling (a `.`-prefixed name
        no `.json` listing and no Spark discovery picks up), are synced,
        and replace `path` in one rename — a kill mid-write leaves the
        old bytes."""
        import os
        import uuid

        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def list(self, path: str) -> list[str]:
        import os

        return sorted(os.listdir(path)) if os.path.isdir(path) else []

    def exists(self, path: str) -> bool:
        import os

        return os.path.exists(path)

    def delete(self, path: str) -> None:
        import os
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def files(self, path: str) -> list[str]:
        import os

        out = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            out += [os.path.relpath(os.path.join(root, n), path)
                    for n in names if not n.startswith(("_", "."))]
        return sorted(out)

    def rename(self, src: str, dst: str) -> None:
        import os

        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)

    def copy_tree(self, src: str, dst: str) -> None:
        import os
        import shutil

        if os.path.exists(dst):
            raise FileExistsError(f"copy_tree destination exists: {dst}")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)


class MemoryMetadataStore(MetadataStore):
    """Dict-backed store (mem:// scheme): the non-POSIX mock/test
    backend, also usable for ephemeral datasets."""

    def __init__(self) -> None:
        self.blobs: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}

    def _norm(self, path: str) -> str:
        return path.rstrip("/")

    def get_bytes(self, path: str) -> bytes:
        return self.blobs[self._norm(path)]

    def put_bytes(self, path: str, data: bytes) -> None:
        import time

        self.blobs[self._norm(path)] = bytes(data)
        self._mtimes[self._norm(path)] = time.time()

    def mtime(self, path: str) -> float:
        return self._mtimes.get(self._norm(path), 0.0)

    def list(self, path: str) -> list[str]:
        prefix = self._norm(path) + "/"
        names = {k[len(prefix):].split("/", 1)[0]
                 for k in self.blobs if k.startswith(prefix)}
        return sorted(names)

    def exists(self, path: str) -> bool:
        p = self._norm(path)
        return p in self.blobs or any(k.startswith(p + "/") for k in self.blobs)

    def delete(self, path: str) -> None:
        p = self._norm(path)
        for k in [k for k in self.blobs if k == p or k.startswith(p + "/")]:
            del self.blobs[k]

    def copy_tree(self, src: str, dst: str) -> None:
        s, d = self._norm(src), self._norm(dst)
        if self.exists(d):
            raise FileExistsError(f"copy_tree destination exists: {dst}")
        if s in self.blobs:
            self.blobs[d] = self.blobs[s]
        for k in [k for k in self.blobs if k.startswith(s + "/")]:
            self.blobs[d + k[len(s):]] = self.blobs[k]


class HadoopMetadataStore(MetadataStore):
    """JVM Hadoop FileSystem-backed store: resolves any scheme the
    Spark runtime has a connector for (s3a://, gs://, abfss://,
    hdfs://, file://) — the production object-storage path; metadata
    round-trips through the same credentials/endpoints Spark already
    uses for the data plane."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _fs(self, path: str):
        uri = self._jvm.java.net.URI.create(path)
        return self._jvm.org.apache.hadoop.fs.FileSystem.get(uri, self._conf)

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def get_bytes(self, path: str) -> bytes:
        stream = self._fs(path).open(self._path(path))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def put_bytes(self, path: str, data: bytes) -> None:
        out = self._fs(path).create(self._path(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def list(self, path: str) -> list[str]:
        fs = self._fs(path)
        p = self._path(path)
        if not fs.exists(p):
            return []
        return sorted(s.getPath().getName() for s in fs.listStatus(p))

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._path(path)))

    def delete(self, path: str) -> None:
        fs = self._fs(path)
        p = self._path(path)
        if fs.exists(p):
            fs.delete(p, True)

    def files(self, path: str) -> list[str]:
        fs, root = self._fs(path), self._path(path)
        if not fs.exists(root):
            return []
        base = root.toUri().getPath().rstrip("/") + "/"
        out, it = [], fs.listFiles(root, True)
        while it.hasNext():
            rel = it.next().getPath().toUri().getPath()[len(base):]
            if not any(p.startswith(("_", ".")) for p in rel.split("/")):
                out.append(rel)
        return sorted(out)

    def rename(self, src: str, dst: str) -> None:
        fs, d = self._fs(dst), self._path(dst)
        fs.mkdirs(d.getParent())
        if not fs.rename(self._path(src), d):
            raise OSError(f"rename {src} -> {dst} failed")

    def copy_tree(self, src: str, dst: str) -> None:
        fs = self._fs(src)
        dfs, dp = self._fs(dst), self._path(dst)
        if dfs.exists(dp):
            # without this, FileUtil.copy NESTS src under an existing
            # dst dir (checkDest appends src.getName()) — a silently
            # mis-placed tree, not the contract's copy-at-dst
            raise FileExistsError(f"copy_tree destination exists: {dst}")
        self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, self._path(src), dfs, dp,
            False, True, self._conf)

    def mtime(self, path: str) -> float:
        fs = self._fs(path)
        p = self._path(path)
        if not fs.exists(p):
            return 0.0
        return fs.getFileStatus(p).getModificationTime() / 1000.0


_POSIX_STORE = PosixMetadataStore()
_MEM_STORE = MemoryMetadataStore()
_REGISTERED_STORES: dict[str, MetadataStore] = {}


def register_metadata_store(scheme: str, store: MetadataStore) -> None:
    """Plug a custom backend for a URL scheme (the provider-registry
    surface, storage.pyi:26-60)."""
    _REGISTERED_STORES[scheme] = store


def put_json(path: str, obj) -> None:
    """Write a JSON sidecar through the metadata facade (works for
    POSIX and URI index/dataset paths alike)."""
    import json

    metadata_store_for(path).put_bytes(path, json.dumps(obj).encode())


def get_json(path: str):
    import json

    return json.loads(metadata_store_for(path).get_bytes(path))


def metadata_store_for(path: str, spark: SparkSession | None = None) -> MetadataStore:
    if "://" not in path:
        return _POSIX_STORE  # POSIX fast path — no JVM round-trips
    scheme = path.split("://", 1)[0]
    if scheme in _REGISTERED_STORES:
        return _REGISTERED_STORES[scheme]
    if scheme == "mem":
        return _MEM_STORE
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        from deeplake_spark.exceptions import StorageProviderMissingError

        raise StorageProviderMissingError(
            f"metadata store for {scheme}:// needs an active SparkSession "
            "(Hadoop FileSystem) or a register_metadata_store() backend")
    return HadoopMetadataStore(spark)

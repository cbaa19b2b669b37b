"""One bounded memo and one content-key rule for every Python-side cache.

Deep Lake datasets change in place: appends, commits and index
refreshes rewrite data under the same paths (PAPER.md §1). A result
memoized across queries is therefore sound only if its key changes
when the data does. Every module-level cache of the package is a
`Memo` instance below — one eviction policy (access-order LRU), one
set of hit/miss/eviction counters — and every cache keyed by a query
plan keys on `plan_key` (CLAUDE.md traps 19 and 29). Callers whose
result depends on more than the plan append it to the plan key.
Files key on `file_key` (mtime and size); index and sketch side
tables key on the `file_key` of their newest manifest, and are read
only through `side_table`.
"""

from __future__ import annotations

import hashlib
import os
import weakref
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import Any
from urllib.parse import unquote, urlparse

_MISSING = object()

#: directory of a side table's manifests (indexes.write_side_table)
MANIFEST_DIR = "_log"


class Memo:
    """Access-order LRU of at most `bound` entries. A hit moves its
    entry to the most-recently-used end; an insert past the bound
    evicts the single least-recently-used entry, never the whole memo,
    so a long session keeps its hot entries. A `None` key bypasses the
    memo: the value is built and nothing is stored (an unkeyable plan,
    see `plan_key`). Stored values may themselves be None."""

    def __init__(self, name: str, bound: int) -> None:
        self.name = name
        self.bound = bound
        self.hits = self.misses = self.evictions = 0
        self._entries: OrderedDict = OrderedDict()

    def get(self, key: Hashable | None,
            build: Callable[[], Any] | None = None) -> Any:
        """The value under `key`. On a miss, `build()` is stored and
        returned; with no `build`, a miss returns None and stores
        nothing (a plain lookup)."""
        if key is None:
            return build() if build is not None else None
        value = self._entries.get(key, _MISSING)
        if value is not _MISSING:
            self.hits += 1
            self._entries.move_to_end(key)
            return value
        self.misses += 1
        if build is None:
            return None
        value = build()
        while len(self._entries) >= self.bound:
            self._entries.popitem(last=False)
            self.evictions += 1
        self._entries[key] = value
        return value

    def clear(self) -> None:
        self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)


def session_key(spark) -> str:
    """Stable per-session cache key: the JVM sessionUUID (the JVM-side
    probe caches' convention, IndexRoutingRule.java). NOT ``id(spark)``
    — CPython reuses object addresses after GC, so an id-keyed memo
    could serve one session's entries to a LATER session at the same
    address (stale DataFrames/centroids with no error)."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:  # pragma: no cover - no JVM session (mocks)
        return f"pyid-{id(spark)}"


def _local_path(path: str) -> str:
    """The filesystem path of a `file:` URI; other paths unchanged."""
    if path.startswith("file:"):
        return unquote(urlparse(path).path)
    return path


def file_key(path: str) -> tuple[str, int, int] | None:
    """(absolute path, mtime_ns, size) of a local path or `file:` URI
    (the form `DataFrame.inputFiles()` returns), or None when it
    cannot be stat'ed. An in-place rewrite changes it."""
    path = _local_path(path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def manifest(path: str) -> tuple[tuple | None, dict] | None:
    """(cache key, parsed manifest) of the side table at `path`: the
    newest `_log/NNNNNNNN.json` its writer put (the snapshot protocol of
    `indexes.write_side_table`), or None when it has none. The key is
    the manifest's `file_key` (None off the local filesystem), not its
    number, so a table dropped and re-created keys apart although its
    numbering restarts. Parsed manifests are memoized under that key."""
    from deeplake_spark.storage import get_json, metadata_store_for

    log = os.path.join(path, MANIFEST_DIR)
    names = [n for n in metadata_store_for(log).list(log)
             if n.endswith(".json")]
    if not names:
        return None
    newest = os.path.join(log, max(names))
    key = file_key(newest)
    return key, SIDE_TABLE_MEMO.get(
        None if key is None else ("manifest", key),
        lambda: get_json(newest))


def side_table(spark, path: str, table: str):
    """Table `table` of the side table at `path`, exactly the files its
    newest manifest lists, memoized in SIDE_TABLE_MEMO under (session,
    manifest key, table): a query re-reading an unchanged index pays a
    `_log` listing instead of Spark's file listing and footer read
    (trap 13). Every frame read is recorded in SIDE_TABLES."""

    def read():
        spec = man["tables"][table]
        df = read_files(spark, os.path.join(path, table), spec["schema"],
                        spec["files"])
        SIDE_TABLES.add(df)
        return df

    key, man = _require_manifest(path)
    return SIDE_TABLE_MEMO.get(
        None if key is None else (session_key(spark), key, table), read)


def side_table_value(spark, path: str, name: str,
                     build: Callable[[], Any]) -> Any:
    """`build()` — a value derived from the side table at `path`, e.g.
    an aggregate collected from it — memoized in SIDE_TABLE_MEMO next to
    its tables under the same (session, manifest key) plus `name`, so a
    new manifest recomputes it."""
    key, _man = _require_manifest(path)
    return SIDE_TABLE_MEMO.get(
        None if key is None else (session_key(spark), key, "value", name),
        build)


def read_files(spark, base: str, schema: str, files: list[str]):
    """`files` (paths relative to the table directory `base`) read with
    the JSON `schema`, partition columns parsed below `base`. The file
    list reaches the JVM as one joined string — a constant number of
    Py4J round trips (Py4J's list conversion costs one per element)."""
    from pyspark.sql import DataFrame

    jvm = spark._jvm
    paths = jvm.org.apache.commons.lang3.StringUtils.split(
        "\x00".join(os.path.join(base, f) for f in files), "\x00")
    reader = spark._jsparkSession.read().schema(
        jvm.org.apache.spark.sql.types.DataType.fromJson(schema))
    if files:  # no files, no table directory for basePath to name
        reader = reader.option("basePath", base)
    return DataFrame(reader.parquet(paths), spark)


def _require_manifest(path: str) -> tuple[tuple | None, dict]:
    found = manifest(path)
    if found is None:
        raise FileNotFoundError(f"no side-table manifest under {path}")
    return found


def input_files(df) -> list[str]:
    """`df.inputFiles()` in a constant number of Py4J round trips.
    PySpark's own version walks the returned Java array one element
    per round trip; this joins it on the JVM side instead (Py4J cannot
    pass a String[] where Java's joins take Object[] or CharSequence[],
    so the array is wrapped as a Scala sequence first)."""
    jvm = df.sparkSession._jvm
    joined = jvm.scala.Predef.genericWrapArray(
        df._jdf.inputFiles()).mkString("\x00")
    return joined.split("\x00") if joined else []


def plan_key(df) -> tuple[str, str, int] | None:
    """Content key of `df`'s plan: (session, md5 of the canonicalized
    optimized plan plus each sorted input file with its `file_key`,
    `semanticHash()`). No single ingredient suffices (trap 19): the
    canonical string normalizes expression ids, so re-translations of
    one query share a key, but prints file relations without their
    paths; the input files pin which data is read and their
    fingerprints pin its content; `semanticHash()` is only 32 bits.

    None — do not cache — when the plan holds rows the canonical
    string does not print: `LocalRelation` (literal frames) and
    `LogicalRDD` (`createDataFrame` from pandas or an RDD, trap 29),
    alone or mixed with file scans; or when an input file cannot be
    fingerprinted."""
    canon = (df._jdf.queryExecution().optimizedPlan()
             .canonicalized().toString())
    if "LocalRelation" in canon or "LogicalRDD" in canon:
        return None
    files = []
    for path in sorted(input_files(df)):
        fp = file_key(path)
        if fp is None:
            return None
        files.append(f"{path}#{fp[1]}:{fp[2]}")
    digest = hashlib.md5(
        f"{canon}||{','.join(files)}".encode()).hexdigest()
    return (session_key(df.sparkSession), digest, df.semanticHash())


# ------------------------------------------------- the package's memos
#
# Bounds are per process. The (session, sf_dir)-keyed memos take 64,
# which one process never reaches.

#: source file_key -> directory of its ingest-time multi-file rewrite
#: (io.build_scan_cache fills it, io.load_table reads it).
SCAN_CACHE = Memo("scan", 64)

#: (session, resolved path, source file_key) -> DataFrame (io.load_table;
#: spark.read.parquet re-lists files and re-reads the footer on every
#: call, trap 13).
TABLE_MEMO = Memo("table", 64)

#: plan_key + shuffle-partition conf -> probed partition count
#: (io.ensure_parallelism; the probe forces physical planning).
PARTITION_PROBE_CACHE = Memo("partition_probe", 512)

#: plan_key of a probe's (lo, hi) granule rows -> row-id ranges
#: (indexes.routed_scan_ranges; the plan-time summary job must not
#: repeat per query). Same bound as the JVM twin,
#: IndexRoutingRule.RANGE_CACHE.
RANGE_CACHE = Memo("range", 256)

#: plan_key of the query side -> (query rows, scorer UDF, qmap) for
#: similarity._exact_batch_cosine_scores (the bounded driver-side
#: prefetch class, trap 8).
QSIDE_CACHE = Memo("qside", 64)

#: (session, manifest file_key, table) -> DataFrame of one index or
#: sketch side table (side_table; every side-table load reads through
#: it, so an unchanged index is read once per session, trap 13);
#: (session, manifest file_key, "value", name) -> a value collected
#: from it (side_table_value); ("manifest", file_key) -> the parsed
#: manifest (manifest).
SIDE_TABLE_MEMO = Memo("side_table", 256)

#: every DataFrame side_table has read, weakly held: an index that
#: holds one was read back from its side tables (indexes.require_saved).
SIDE_TABLES: weakref.WeakSet = weakref.WeakSet()

#: (session, sf_dir, name) -> saved side index (queries.saved_index).
INDEX_CACHE = Memo("index", 64)

#: (session, sf_dir) -> v24 seed centroids (vector_ops).
SEED_CACHE = Memo("seed", 64)

#: (session, sf_dir, vec_id | max_vec_id, source file_key) -> prefetched
#: query vector / matrix (vector_ops._query_vec/_query_mat; the DATA()
#: prefetch exception of trap 8).
QUERY_VEC_MEMO = Memo("query_vec", 64)
QUERY_MAT_MEMO = Memo("query_mat", 64)

#: (session, sf_dir) -> trained BPE merge list (text_ops t34).
BPE_MERGE_MEMO = Memo("bpe_merge", 64)

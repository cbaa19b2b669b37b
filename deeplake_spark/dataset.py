"""Dataset API: create/open, schema DDL, DML, TQL query, git-like
version control — the Spark re-expression of the reference's dataset
surface (`python/deeplake/__init__.pyi`: create :4123, open :4371,
open_read_only :4590, add_column :3282, append :3368, delete :3428,
commit :3436, branch/tag/history :2942-2985,:3505-3585).

Storage layout (parquet + JSON commit log — the same shape as the
reference's chunked datafiles + replay log, cpp/deeplake_api/
replay_log.hpp, without inventing a new binary format):

    <path>/_dl_log/<8-digit-version>.json   commit entries
    <path>/refs.json                        branch/tag → version map
    <path>/data/<uuid>.parquet              immutable data files

Every commit entry is a full snapshot spec: the list of live data
files, the schema, row tombstones, and lineage (parent version,
branch). Reads resolve a version → file list → one parquet scan, so
Catalyst sees a plain multi-file relation (pushdown/pruning intact).
Appends write new immutable files (never rewrite); deletes are
tombstones by `_row_id` (merge-on-read, compacted explicitly) — the
Delta/Iceberg recipe, self-contained.

Rows carry a dense `_row_id` assigned at append time: deeplake rows
are offset-addressable (SURVEY §1.1) and ROW_NUMBER() returns that
offset.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deeplake_spark.operators.indexes import INDEX_KINDS
from deeplake_spark.types import DLType

_LOG_DIR = "_dl_log"
_DATA_DIR = "data"


# The exception taxonomy lives in deeplake_spark.exceptions (reference
# names, __init__.pyi:3792-3990); DatasetError/MergeConflictError are
# re-exported here for backward compatibility.
from deeplake_spark.exceptions import (  # noqa: F401  (re-export)
    BranchExistsError,
    BranchNotFoundError,
    CannotDeleteMainBranchError,
    ColumnAlreadyExistsError,
    ColumnDoesNotExistError,
    ColumnMissingAppendValueError,
    DatasetError,
    DatasetExistsError,
    EmptyColumnNameError,
    IndexAlreadyExistsError,
    InvalidColumnValueError,
    InvalidIndexCreationError,
    LogExistsError,
    LogNotexistsError,
    PushError,
    MergeConflictError,
    NotFoundError,
    ReadOnlyDatasetModificationError,
    TagExistsError,
    TagNotFoundError,
    UnevenColumnsError,
    VersionNotFoundError,
)


def _store(path: str):
    """Metadata-plane store for a dataset path: POSIX directly, URI
    paths through the storage facade (object-storage support —
    reference storage providers, storage.pyi:26-121)."""
    from deeplake_spark.storage import metadata_store_for

    return metadata_store_for(path)


def _log_path(path: str, version: int) -> str:
    return os.path.join(path, _LOG_DIR, f"{version:08d}.json")


def _read_refs(path: str) -> dict:
    st = _store(path)
    p = os.path.join(path, "refs.json")
    if not st.exists(p):
        return {"branches": {"main": 0}, "tags": {}}
    return json.loads(st.get_bytes(p))


def _write_refs(path: str, refs: dict) -> None:
    _store(path).put_bytes(os.path.join(path, "refs.json"),
                           json.dumps(refs, indent=2).encode())


def _read_entry(path: str, version: int) -> dict:
    return json.loads(_store(path).get_bytes(_log_path(path, version)))


def _latest_version(path: str) -> int:
    names = _store(path).list(os.path.join(path, _LOG_DIR))
    entries = [int(f.split(".")[0]) for f in names if f.endswith(".json")]
    return max(entries) if entries else 0


class Version:
    """history() element (reference Version: __init__.pyi:3505-3585)."""

    def __init__(self, entry: dict):
        self.id = entry["version"]
        self.client_timestamp = entry["timestamp"]
        self.message = entry.get("message") or ""
        self.branch = entry.get("branch", "main")

    def __repr__(self) -> str:
        return f"Version(id={self.id}, branch={self.branch!r}, message={self.message!r})"


class Branch:
    """Branch handle (reference Branch, __init__.pyi:883-954): name/id/
    version accessors plus open/delete/rename bound to the dataset."""

    def __init__(self, ds: "Dataset", name: str):
        self._ds = ds
        self.name = name

    #: our branch ids ARE names (no separate uuid layer)
    @property
    def id(self) -> str:
        return self.name

    @property
    def version(self) -> int:
        refs = _read_refs(self._ds.path)
        if self.name not in refs["branches"]:
            raise BranchNotFoundError(f"unknown branch {self.name!r}")
        return refs["branches"][self.name]

    @property
    def timestamp(self) -> float | None:
        """Creation time ≈ the head entry's commit timestamp (we do not
        store a separate branch-creation instant)."""
        v = self.version
        return _read_entry(self._ds.path, v)["timestamp"] if v > 0 else None

    def open(self) -> "Dataset":
        return Dataset(self._ds.spark, self._ds.path, branch=self.name)

    def open_async(self):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.open)

    def delete(self) -> None:
        self._ds.delete_branch(self.name)

    def rename(self, new_name: str) -> None:
        self._ds.rename_branch(self.name, new_name)
        self.name = new_name

    def __eq__(self, other) -> bool:
        return isinstance(other, Branch) and (self._ds.path, self.name) == (
            other._ds.path, other.name)

    __hash__ = None

    def __str__(self) -> str:
        return f"Branch({self.name!r})"

    __repr__ = __str__


class Branches(dict):
    """ds.branches() result (reference Branches, __init__.pyi:1014-1060).

    dict payload is name → head version (the engine's historical return,
    tests compare against plain dicts); ``[name]`` upgrades to a
    :class:`Branch` handle, matching the reference access shape."""

    def __init__(self, ds: "Dataset", payload: dict):
        super().__init__(payload)
        self._ds = ds

    def __getitem__(self, name: str) -> Branch:
        if name not in self:
            raise BranchNotFoundError(f"unknown branch {name!r}")
        return Branch(self._ds, name)

    def names(self) -> list[str]:
        return list(self)

    def __str__(self) -> str:
        return f"Branches({self.names()})"


class Tag:
    """Tag handle (reference Tag, __init__.pyi:1062-1125)."""

    def __init__(self, ds: "Dataset", name: str, meta: dict):
        self._ds = ds
        self.name = name
        self.message = meta.get("message", "")
        self.version = meta["version"]
        self.timestamp = meta.get("timestamp")

    @property
    def id(self) -> str:
        return self.name

    def open(self) -> "Dataset":
        return self._ds.checkout(self.version)

    def open_async(self):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.open)

    def delete(self) -> None:
        self._ds.delete_tag(self.name)

    def rename(self, new_name: str) -> None:
        self._ds.rename_tag(self.name, new_name)
        self.name = new_name

    def __str__(self) -> str:
        return f"Tag({self.name!r}, version={self.version})"

    __repr__ = __str__


class Tags(dict):
    """ds.tags() result (reference Tags, __init__.pyi:1179-1204): dict
    payload name → {version, message, timestamp} (historical return);
    ``[name]`` upgrades to a :class:`Tag` handle."""

    def __init__(self, ds: "Dataset", payload: dict):
        super().__init__(payload)
        self._ds = ds

    def __getitem__(self, name: str) -> Tag:
        if name not in self:
            raise TagNotFoundError(f"unknown tag {name!r}")
        return Tag(self._ds, name, dict.__getitem__(self, name))

    def names(self) -> list[str]:
        return list(self)

    def __str__(self) -> str:
        return f"Tags({self.names()})"


class ColumnDefinition:
    """Schema entry (reference ColumnDefinition, __init__.pyi:1231-1262)
    with drop/rename bound to the dataset."""

    def __init__(self, ds: "Dataset | None", field: T.StructField):
        self._ds = ds
        self._field = field

    @property
    def name(self) -> str:
        return self._field.name

    @property
    def dtype(self):
        return self._field.dataType

    @property
    def metadata(self) -> dict:
        return dict(self._field.metadata or {})

    def drop(self) -> None:
        self._ds.remove_column(self.name)

    def rename(self, new_name: str) -> None:
        self._ds.rename_column(self.name, new_name)

    def __str__(self) -> str:
        return f"ColumnDefinition({self.name!r}, {self.dtype.simpleString()})"

    __repr__ = __str__


class Schema(T.StructType):
    """Reference Schema surface (__init__.pyi:4070+) over a Spark
    StructType: everything StructType offers (fields/names/[name] →
    StructField — the engine's historical behavior), plus ``.columns``
    returning bound :class:`ColumnDefinition` handles."""

    def __init__(self, fields, ds: "Dataset | None" = None):
        super().__init__(list(fields))
        self._ds = ds

    @property
    def columns(self) -> list[ColumnDefinition]:
        return [ColumnDefinition(self._ds, f) for f in self.fields]

    # equality/pickling ignore the dataset binding: a Schema IS its
    # fields (DataType.__eq__ compares __dict__, which would drag _ds
    # in; pickle would drag the SparkSession in)
    def __eq__(self, other) -> bool:
        return isinstance(other, T.StructType) and self.fields == other.fields

    __hash__ = T.StructType.__hash__

    def __reduce__(self):
        return (T.StructType, (list(self.fields),))

    def as_struct(self) -> T.StructType:
        """Plain StructType (createDataFrame's type-verifier keys on the
        exact DataType class and rejects subclasses)."""
        return T.StructType(list(self.fields))

    @classmethod
    def typeName(cls) -> str:
        # DataType.typeName derives from the class NAME — "schema" would
        # land in the serialized JSON and fail JVM-side parseDataType
        return "struct"


class RowView:
    """Read-only row handle (reference RowView, __init__.pyi:2154-2283):
    mapping + attribute access to one row's values, plus the async/bytes
    accessors. Also keeps the historical Spark-Row conveniences
    (attribute access, ``.asDict()``) so it is a drop-in for the rows
    ``ds[i]`` used to return."""

    __slots__ = ("_values",)

    def __init__(self, values: dict):
        object.__setattr__(self, "_values", dict(values))

    @property
    def row_id(self) -> int:
        """reference Row.row_id (__init__.pyi:2046-2049)."""
        return self._values.get("_row_id")

    def __getitem__(self, column: str):
        return self._values[column]

    def __getattr__(self, name: str):
        try:
            return object.__getattribute__(self, "_values")[name]
        except KeyError:
            raise AttributeError(name) from None

    def __contains__(self, column: str) -> bool:
        return column in self._values

    def get_async(self, column: str):
        """reference Row.get_async → Future (__init__.pyi:1962-1992)."""
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.__getitem__, column)

    def get_bytes(self, column: str):
        """reference Row.get_bytes (__init__.pyi:2033)."""
        v = self._values[column]
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return str(v).encode("utf-8")

    def get_bytes_async(self, column: str):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.get_bytes, column)

    def to_dict(self) -> dict:
        """reference Row.to_dict (__init__.pyi:2038-2041)."""
        return {k: v for k, v in self._values.items() if k != "_row_id"}

    def asDict(self) -> dict:
        """Legacy Spark-Row spelling (includes _row_id)."""
        return dict(self._values)

    def __eq__(self, other) -> bool:
        if isinstance(other, RowView):
            return self._values == other._values
        return NotImplemented

    __hash__ = None

    def __repr__(self) -> str:
        cols = ", ".join(f"{k}={v!r}" for k, v in self.to_dict().items())
        return f"{type(self).__name__}(row_id={self.row_id}, {cols})"


class Row(RowView):
    """Mutable row handle (reference Row, __init__.pyi:1951-2049):
    ``row[col] = value`` writes through as a copy-on-write cell update
    on the owning dataset (staged until commit, like ds.update)."""

    __slots__ = ("_ds",)

    def __init__(self, ds: "Dataset", values: dict):
        super().__init__(values)
        object.__setattr__(self, "_ds", ds)

    def __setitem__(self, column: str, value) -> None:
        self._ds.update(self.row_id, {column: value})
        self._values[column] = value

    def set_async(self, column: str, value):
        """reference Row.set_async → FutureVoid (__init__.pyi:1999)."""
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.__setitem__, column, value)


class History(list):
    """reference History (__init__.pyi:3843+): sequence of Version
    entries, oldest→newest indexable/iterable. A list subclass so the
    engine's historical `history() -> list[Version]` contract holds."""

    def __repr__(self) -> str:
        return f"History({list.__repr__(self)})"

    __str__ = __repr__


class ReadOnlyMetadata(dict):
    """reference ReadOnlyMetadata: mapping view over stored metadata."""

    def __readonly(self, *a, **k):
        raise TypeError("read-only metadata")

    __setitem__ = __delitem__ = pop = popitem = clear = __readonly  # type: ignore[assignment]
    update = setdefault = __readonly  # type: ignore[assignment]


class Metadata(dict):
    """reference Metadata: mapping whose ``[k] = v`` writes through to
    the dataset (a metadata-only commit entry) or a column's schema
    metadata, depending on what it is bound to."""

    def __init__(self, values: dict, writer=None):
        super().__init__(values)
        self._writer = writer

    def __setitem__(self, key, value) -> None:
        super().__setitem__(key, value)
        if self._writer is not None:
            self._writer(key, value)


class IndexingMode:
    """reference IndexingMode enum (__init__.pyi:2885-2926). Values
    carry their reference names; the engine compares by string too
    ('automatic' / 'off' / 'always')."""

    Always = "always"
    Automatic = "automatic"
    Off = "off"
    __members__ = {"Always": Always, "Automatic": Automatic, "Off": Off}


class RowRangeView:
    """reference RowRangeView (__init__.pyi:2151-2280): a row range of a
    view — iterable/indexable; unknown attributes delegate to the
    underlying ordered DataFrame so the historical slice return (a
    DataFrame) keeps working for .collect()/.count() callers."""

    _row_cls = RowView

    def __init__(self, df: DataFrame, ds: "Dataset | None" = None,
                 offset_col: str = "_row_id"):
        self._df = df
        self._ds = ds
        self._offset_col = offset_col

    def _wrap(self, values: dict):
        if self._row_cls is Row and self._ds is not None:
            return Row(self._ds, values)
        return RowView(values)

    def __iter__(self):
        order = (self._df.orderBy(self._offset_col)
                 if self._offset_col in self._df.columns else self._df)
        return (self._wrap(r.asDict())
                for r in order.toLocalIterator(prefetchPartitions=True))

    def __len__(self) -> int:
        return self._df.count()

    def __getitem__(self, i: int):
        if not isinstance(i, int):
            raise TypeError(type(i))
        if self._offset_col not in self._df.columns:
            raise KeyError(self._offset_col)
        row = self._df.filter(F.col(self._offset_col) == i).head()
        if row is None:
            raise IndexError(i)
        return self._wrap(row.asDict())

    def summary(self):
        """reference RowRange.summary()."""
        return self._df.summary()

    def __getattr__(self, name: str):
        return getattr(object.__getattribute__(self, "_df"), name)

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self._df.columns})"


class RowRange(RowRangeView):
    """Mutable row range (reference RowRange): rows come back as
    mutable Row handles bound to the owning dataset."""

    _row_cls = Row


class ColumnView:
    """Read-only column handle (reference ColumnView, __init__.pyi:
    1391-1590): offset addressing, async/bytes accessors, batch loads,
    metadata/statistics. Unknown attributes delegate to the underlying
    ordered DataFrame, so the historical ``ds["col"]`` DataFrame uses
    (.columns, .collect, ...) keep working unchanged."""

    def __init__(self, df: DataFrame, name: str, ds: "Dataset | None" = None,
                 offset_col: str = "_row_id"):
        self._df = df
        self._name = name
        self._ds = ds
        self._offset_col = offset_col

    @property
    def name(self) -> str:
        """reference ColumnView.name."""
        return self._name

    def __len__(self) -> int:
        return self._df.count()

    def _value_at(self, i: int):
        row = self._df.filter(F.col(self._offset_col) == i).head()
        if row is None:
            raise IndexError(i)
        return row[self._name]

    def __getitem__(self, i):
        """int → the value at that offset; slice / list → list of
        values (reference returns ndarray/list — python list here)."""
        if isinstance(i, int):
            return self._value_at(i)
        if isinstance(i, slice):
            start = i.start or 0
            stop = i.stop if i.stop is not None else 1 << 62
            out = self._df.filter(
                (F.col(self._offset_col) >= start) & (F.col(self._offset_col) < stop))
            if i.step and i.step != 1:
                out = out.filter((F.col(self._offset_col) - start) % i.step == 0)
            return [r[self._name] for r in out.orderBy(self._offset_col).collect()]
        if isinstance(i, (list, tuple)):
            rows = self._df.filter(F.col(self._offset_col).isin(list(i))).collect()
            by_id = {r[self._offset_col]: r[self._name] for r in rows}
            return [by_id[j] for j in i]
        raise TypeError(type(i))

    def get_async(self, i):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.__getitem__, i)

    def get_bytes(self, i):
        v = self[i]
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return str(v).encode("utf-8")

    def get_bytes_async(self, i):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.get_bytes, i)

    def load_batch(self, start: int = 0, count: int | None = None):
        """Batch value load (reference ColumnView.load_batch): the
        [start, start+count) values in offset order."""
        stop = None if count is None else start + count
        return self[start:stop]

    @property
    def metadata(self) -> dict:
        if self._ds is None:
            return {}
        return self._ds.get_column_metadata(self._name)

    @property
    def statistics(self):
        """Stored ColumnStatistics (None until ds.analyze has run)."""
        if self._ds is None:
            return None
        return self._ds.column_statistics(self._name)

    @property
    def indexes(self) -> list[str]:
        """Index kinds registered on this column (reference
        ColumnView.indexes → list[types.Index])."""
        if self._ds is None:
            return []
        refs = _read_refs(self._ds.path)
        meta = refs.get("indexes", {}).get(self._name)
        return [meta["kind"]] if meta else []

    def __getattr__(self, name: str):
        return getattr(object.__getattribute__(self, "_df"), name)

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self._name!r})"

    __str__ = __repr__


class Column(ColumnView):
    """Mutable column handle (reference Column, __init__.pyi:1606-1800):
    cell writes stage through ds.update; index management and codec
    encode are bound to the column."""

    def __setitem__(self, i, value) -> None:
        if isinstance(i, int):
            self._ds.update(i, {self._name: value})
            return
        if isinstance(i, slice):
            vals = list(value)
            start, stop, step = i.start or 0, i.stop, i.step or 1
            if step < 1:
                raise ValueError(
                    f"slice step must be >= 1, got {step}")
            if stop is None:
                stop = start + step * len(vals)
            idxs = range(start, stop, step)
            # r14 review: stop/step were silently ignored — a strided
            # or bounded assignment patched the WRONG rows
            if len(idxs) != len(vals):
                raise ValueError(
                    f"slice assigns {len(idxs)} rows but got "
                    f"{len(vals)} values")
            for off, v in zip(idxs, vals):
                self._ds.update(off, {self._name: v})
            return
        raise TypeError(type(i))

    def set_async(self, i, value):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.__setitem__, i, value)

    def update_batch(self, start: int, values) -> None:
        """Contiguous batch of cell updates (reference
        Column.update_batch / set_async(slice, batch))."""
        for off, v in enumerate(values, start=start):
            self._ds.update(off, {self._name: v})

    def create_index(self, kind: str = "inverted", **options) -> None:
        self._ds.create_index(self._name, kind=kind, **options)

    def drop_index(self) -> None:
        self._ds.drop_index(self._name)

    def encode(self, images) -> list[bytes]:
        """Encode numpy arrays into the column's sample codec
        (reference Column.encode; Image/Video htypes). Real here: ppm
        (stdlib P6), jpg/jpeg (operators/_jpeg.py baseline codec — the
        same pair the decode path round-trips), avi (MJPEG-in-AVI: a
        list/stack of frames becomes one clip payload the video decode
        path samples for real) and raw bytes passthrough; other codecs
        raise like the strict decode path."""
        md = self.metadata or {}
        dl_md = md.get("dl", md)  # DLType.field nests under "dl"
        codec = (dl_md.get("sample_compression")
                 or dl_md.get("compression") or "ppm")
        out = []
        for img in images:
            if isinstance(img, (bytes, bytearray)):
                out.append(bytes(img))
                continue
            import numpy as np

            if codec == "avi":
                from deeplake_spark.operators.multimodal import encode_mjpeg_avi

                out.append(encode_mjpeg_avi(list(img)))
                continue
            a = np.asarray(img, dtype="uint8")
            if codec in ("jpg", "jpeg"):
                from deeplake_spark.operators._jpeg import encode_baseline

                out.append(encode_baseline(a))
                continue
            if codec != "ppm":
                raise NotImplementedError(
                    f"encode for codec {codec!r} is not available here "
                    "(ppm, jpg/jpeg, and raw bytes are)")
            if a.ndim != 3 or a.shape[2] != 3:
                raise ValueError("ppm encode expects (h, w, 3) uint8")
            h, w = a.shape[:2]
            out.append(b"P6\n%d %d\n255\n" % (w, h) + a.tobytes())
        return out


class Dataset:
    """A versioned, ordered, columnar dataset over parquet files."""

    def __init__(self, spark: SparkSession, path: str, version: int | None = None,
                 branch: str = "main", read_only: bool = False):
        self.spark = spark
        self.path = path
        self._branch = branch
        self.read_only = read_only
        refs = _read_refs(path)
        if branch not in refs["branches"]:
            raise BranchNotFoundError(f"unknown branch {branch!r}")
        self.version = version if version is not None else refs["branches"][branch]
        self._staged_files: list[str] = []
        self._staged_deletes: list[int] = []
        self._staged_patches: list[str] = []
        self._staged_patch_rows: list[tuple[int, str]] = []  # (row_id, file)
        self._staged_file_max: dict[str, int] = {}  # file -> max _row_id
        #: time-based auto-commit (reference auto_commit_enabled,
        #: __init__.pyi:3036-3050): when on, a mutation whose staged
        #: changes are older than auto_commit_interval_s commits them
        #: (the reference's background timer, checked at write sites —
        #: no daemon thread to leak against the SparkSession)
        self.auto_commit_enabled: bool = True
        self.auto_commit_interval_s: float = 300.0
        self._staged_since: float | None = None
        self._entry = _read_entry(path, self.version) if self.version > 0 else {
            "version": 0, "files": [], "deletes": [], "schema": None,
            "timestamp": time.time(), "branch": branch, "parent": None,
            "message": "init", "metadata": {},
        }

    # ------------------------------------------------------------- reading

    @property
    def schema(self) -> "Schema | None":
        s = self._entry.get("schema")
        return Schema(T.StructType.fromJson(s).fields, ds=self) if s else None

    def as_sql_view(self, name: str, routed: bool = True) -> None:
        """Expose the dataset to plain ``spark.sql`` users: register the
        current snapshot as a temp view and (with `routed`, when the
        Catalyst extension is on the driver classpath) register every
        routable persisted index + flip the routing conf, so
        ``spark.sql(f"SELECT ... FROM {name} WHERE ...")`` gets the same
        posting/value/digest-probe semijoins ``ds.query`` emits
        (plans/sqlrouting.py; reference behavior: every entry point goes
        through index_holder, cpp/query_core/index_holder.hpp:18-43).

        Inverted-indexed columns additionally get their side tables
        registered as ``{name}__postings`` / ``__doclens`` /
        ``__stats`` views (jar-independent), so
        ``sqlrouting.bm25_topk_sql`` / ``hybrid_search_sql`` statements
        — the reference's BM25 top-k and hybrid softmax fusion
        (hybrid_query_merge.hpp:27-149) — run as plain SQL text."""
        from deeplake_spark.plans import sqlrouting

        self.to_df().createOrReplaceTempView(name)
        for _col, meta in _read_refs(self.path).get("indexes", {}).items():
            if meta["kind"] == "inverted":
                # one {name}__* view set per dataset view: with several
                # inverted columns, register the rest explicitly via
                # sqlrouting.register_index_views under distinct names
                sqlrouting.register_index_views(self.spark, name,
                                                meta["path"])
                break
        if routed and sqlrouting.is_available(self.spark):
            sqlrouting.register_dataset(self)
            sqlrouting.enable(self.spark)

    def to_df(self) -> DataFrame:
        """Current snapshot as a DataFrame: one multi-file parquet scan,
        minus update-superseded rows (patch precedence), plus the latest
        patch per row, minus tombstones — merge-on-read, compacted away
        by `compact()`."""
        files = self._entry["files"] + self._staged_files
        patches = self._entry.get("patches", []) + self._staged_patches
        patch_ids = set(self._entry.get("patch_ids", [])) | {
            i for i, _ in self._staged_patch_rows
        }
        # staged-only datasets (append before the first commit) carry
        # their schema in _pending_schema (r14 review: a schema-less
        # read passed None to spark.read.schema and crashed)
        schema = self.schema or getattr(self, "_pending_schema", None)
        if not files and not patches:
            if schema is not None:
                struct = (schema.as_struct()
                          if hasattr(schema, "as_struct") else schema)
                return self.spark.createDataFrame([], struct)
            raise DatasetError("empty dataset with no schema")
        if schema is None:
            raise DatasetError("dataset has data files but no schema")
        df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, _DATA_DIR, f) for f in files]
        )
        if patches:
            from pyspark.sql.window import Window

            if patch_ids:
                df = df.filter(~F.col("_row_id").isin(*[int(x) for x in patch_ids]))
            # ONE batched read of every patch file (perf trap 13:
            # spark.read.parquet costs ~120-145 ms of driver time PER
            # CALL — a per-patch read loop paid that per patch);
            # precedence = position in the patch list, rows map to
            # files via the parsed parent-directory of input_file_name
            # (the merge() convention — never substring containment)
            order_rel = self.spark.createDataFrame(
                [(p, i) for i, p in enumerate(patches)],
                "__file string, __pidx long")
            pat = (
                self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, _DATA_DIR, f)
                      for f in patches])
                .withColumn(
                    "__file",
                    F.element_at(F.split(F.input_file_name(), "/"), -2))
                .join(F.broadcast(order_rel), "__file")
            )
            w = Window.partitionBy("_row_id").orderBy(F.desc("__pidx"))
            latest = (
                pat.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__file", "__pidx", "__rn")
            )
            df = df.unionByName(latest)
        deletes = set(self._entry.get("deletes", [])) | set(self._staged_deletes)
        if deletes:
            df = df.filter(~F.col("_row_id").isin(*[int(x) for x in deletes]))
        if schema is not None:
            # add_column(default): files written before the column existed
            # surface null under the explicit schema — fill the stored
            # default at read time (reference add_column(default) backfill).
            for f in schema.fields:
                if f.metadata and "default" in f.metadata:
                    df = df.withColumn(
                        f.name,
                        F.coalesce(F.col(f.name), F.lit(f.metadata["default"]).cast(f.dataType)),
                    )
        return df

    def query(self, text: str, params: list | None = None, options=None):
        """TQL query bound to this dataset (ds.query, __init__.pyi:2438)
        — returns a chainable DatasetView (itself queryable/sliceable,
        __init__.pyi:2279; a DataFrame drop-in via delegation).
        Registered column indexes feed the translator's CONTAINS →
        posting-semijoin rewrite automatically (use_index behavior,
        cpp/tql/options.hpp) and stay live across chained view queries.
        `options` (tql.Options) gates features / forces the linear
        plan (`use_index=False`) / validates only (`parsing_only`).

        SNAPSHOT CONTRACT: a top-k routed through a saved index (BM25,
        COSINE, L2, MAXSIM) runs its search here and the view holds
        the ≤k hits as data — re-run the query after a commit to see
        the new snapshot's winners."""
        from deeplake_spark.tql import query as tql_query
        from deeplake_spark.views import DatasetView

        indexes = self._load_indexes()
        out = tql_query(
            text, spark=self.spark, default=self.to_df(), params=params,
            indexes=indexes, search_config=self.query_config, options=options,
            functions=getattr(self, "_tql_functions", None),
        )
        if out is None:  # parsing_only
            return None
        return DatasetView(out, indexes=indexes, dataset=self,
                           lineage=[(text, params)])

    def _function_registry(self) -> dict:
        """This dataset's own TQL UDF registry (tql::functions_registry,
        cpp/tql/functions_registry.hpp:17-35) — filled by
        `tql.register_function(..., dataset=ds)`, resolved at bind time
        before the process-global registry."""
        if not hasattr(self, "_tql_functions"):
            self._tql_functions = {}
        return self._tql_functions

    # --------------------------------------------------------------- indexes

    def create_index(self, column: str, kind: str = "inverted", **options) -> None:
        """Column.create_index (__init__.pyi:1678): batch-build the side
        table under <path>/_indexes/ and register it in refs metadata.

        Kinds (reference types.pyi:128-248): inverted | clustered |
        numeric | json | exact | pooled (PooledQuantized MAXSIM,
        types.pyi:604-615) | clustered_quantized (stored sign-bit
        quantization, types.pyi:625-632) | pq (product quantization,
        Jégou et al. 2011 — extends the stored quantized family with
        the memory-bound ADC scale path) | fingerprint (persisted bit
        signatures over a binary payload column — decode once at
        ingest, near-dup re-runs probe the side table; requires
        modality='image'|'audio'|'video' plus that modality's decode
        params). `json` takes `paths=[...]` (the JSON
        paths extracted at build time); options are persisted so
        auto-refresh on commit rebuilds identically."""
        self._check_writable()
        rebuild = options.pop("_rebuild", False)
        if not rebuild and column in _read_refs(self.path).get("indexes", {}):
            raise IndexAlreadyExistsError(
                f"column {column!r} already has an index; drop_index first")
        if column not in [f.name for f in (self.schema or T.StructType([])).fields]:
            raise ColumnDoesNotExistError(f"no column {column!r}")
        spec = INDEX_KINDS.get(kind)
        if spec is None:
            raise InvalidIndexCreationError(f"unsupported index kind {kind!r}")
        if spec.required and not options.get(spec.required):
            raise InvalidIndexCreationError(
                f"{kind} index requires {spec.required}=...")
        idx_path = os.path.join(self.path, "_indexes", f"{column}_{kind}")
        spec.save(spec.build(self.to_df(), column, "_row_id", options),
                  idx_path)
        refs = _read_refs(self.path)
        refs.setdefault("indexes", {})[column] = {
            "kind": kind, "path": idx_path, "options": options,
        }
        _write_refs(self.path, refs)

    def drop_index(self, column: str) -> None:
        """Column.drop_index (__init__.pyi:1762)."""
        self._check_writable()
        refs = _read_refs(self.path)
        meta = refs.get("indexes", {}).pop(column, None)
        if meta:
            _store(self.path).delete(meta["path"])
            _write_refs(self.path, refs)

    # ------------------------------------------------------ sketch lifecycle

    def create_sketch(self, column: str, kind: str = "kmv",
                      **options) -> None:
        """Register a PERSISTED set sketch over ``column`` (beyond
        reference — operators/sketches.py): the index protocol applied
        to the sketch family, so corpus-level statistics stay fresh
        under ingest without re-scanning the corpus.

        Kinds: ``kmv`` (distinct-cardinality/overlap; options k, seed),
        ``bloom`` (membership / ingest admission; options n_words,
        k_hashes, seed), ``sample`` (bottom-k row sample for quantile/
        distribution queries over a NUMERIC column; options k, salt),
        ``cm`` (Count-Min point frequencies; options d, w, seed —
        delta maintenance is EXACT, counts add).
        All take ``by=[...]`` for per-group sketches. The side table
        lives under <path>/_sketches/ and follows indexing_mode:
        append-only commits append a delta (== a fresh full rebuild,
        exactly — the merge laws pinned in the operator tests);
        update/delete commits rebuild (a removed row cannot leave a
        sketch)."""
        self._check_writable()
        rebuild = options.pop("_rebuild", False)
        key = f"{column}:{kind}"
        if not rebuild and key in _read_refs(self.path).get("sketches", {}):
            raise IndexAlreadyExistsError(
                f"{key!r} sketch already exists; drop_sketch first")
        if column not in [f.name for f in (self.schema or T.StructType([])).fields]:
            raise ColumnDoesNotExistError(f"no column {column!r}")
        sk_path = os.path.join(self.path, "_sketches", f"{column}_{kind}")
        self._build_sketch(self.to_df(), column, kind, sk_path, options)
        refs = _read_refs(self.path)
        refs.setdefault("sketches", {})[key] = {
            "kind": kind, "column": column, "path": sk_path,
            "options": options,
        }
        _write_refs(self.path, refs)

    def _build_sketch(self, df, column: str, kind: str, sk_path: str,
                      options: dict) -> None:
        from deeplake_spark.operators import sketches as sk

        by = options.get("by")
        if kind == "kmv":
            table = sk.kmv_sketch(df, column, by=by, k=options.get("k", 64),
                                  seed=options.get("seed", 0))
        elif kind == "bloom":
            table = sk.bloom_sketch(
                df, column, by=by, n_words=options.get("n_words", 256),
                k_hashes=options.get("k_hashes", 5),
                seed=options.get("seed", 0))
        elif kind == "sample":
            table = sk.sample_sketch(
                df, column, id_col="_row_id", by=by,
                k=options.get("k", 256), salt=options.get("salt", "q"))
        elif kind == "cm":
            table = sk.cm_sketch(
                df, column, by=by, d=options.get("d", 4),
                w=options.get("w", 1024), seed=options.get("seed", 0))
        else:
            raise InvalidIndexCreationError(
                f"unsupported sketch kind {kind!r} "
                "(kmv | bloom | sample | cm)")
        sk.save_sketch(table, sk_path)

    def drop_sketch(self, column: str, kind: str = "kmv") -> None:
        self._check_writable()
        refs = _read_refs(self.path)
        meta = refs.get("sketches", {}).pop(f"{column}:{kind}", None)
        if meta:
            _store(self.path).delete(meta["path"])
            _write_refs(self.path, refs)

    def load_sketch(self, column: str, kind: str = "kmv"):
        """The persisted sketch side table as a DataFrame (grouping
        columns + sketch payload + build params)."""
        from deeplake_spark.operators import sketches as sk

        meta = _read_refs(self.path).get("sketches", {}).get(
            f"{column}:{kind}")
        if meta is None:
            raise NotFoundError(
                f"no {kind!r} sketch on column {column!r}")
        return sk.load_sketch(self.spark, meta["path"])

    def _load_indexes(self) -> dict:
        """column → (kind, index, id_col) for every registered index —
        the translator's rewrite table (CONTAINS/EQUALS/BETWEEN/IN/JSON
        semijoins + ORDER BY cosine LIMIT k ANN routing). Rerank kinds
        bind the live snapshot; it is built only when one is present."""
        refs = {c: m for c, m in _read_refs(self.path).get("indexes", {}).items()
                if m["kind"] in INDEX_KINDS}
        source = (self.to_df() if any(INDEX_KINDS[m["kind"]].needs_source
                                      for m in refs.values()) else None)
        return {col: (m["kind"], INDEX_KINDS[m["kind"]].load(
                    self.spark, m["path"], source), "_row_id")
                for col, m in refs.items()}

    def search(self, column: str, query_vec, k: int = 10, config=None,
               predicate: str | None = None):
        """ANN search through the column's clustered index (builds the
        exact-scan plan when no index exists) — the reference's
        ds.query ORDER BY COSINE_SIMILARITY fast path with
        SearchConfig knobs.

        `predicate` is a TQL WHERE expression (e.g. "label == 3 AND
        CONTAINS(text, 'spark')") restricting the search to matching
        rows — the reference's filter+search combination
        (index_holder.hpp:30-36): the filtered row-id set (itself
        index-accelerated where possible) is handed to the probe as the
        candidate relation."""
        from deeplake_spark.operators.similarity import topk_cosine

        config = config or self.query_config
        candidates = None
        base = self.to_df()
        if predicate is not None:
            from deeplake_spark.tql import query as tql_query

            filtered = tql_query(f"SELECT * WHERE {predicate}", spark=self.spark,
                                 default=base, indexes=self._load_indexes())
            candidates = filtered.select("_row_id")
        meta = _read_refs(self.path).get("indexes", {}).get(column)
        spec = INDEX_KINDS.get(meta["kind"]) if meta else None
        if spec is not None and spec.search is not None:
            return spec.search(spec.load(self.spark, meta["path"], base),
                               query_vec, base, k=k, config=config,
                               candidates=candidates)
        if candidates is not None:
            base = base.join(candidates.distinct(), "_row_id", "left_semi")
        return topk_cosine(base, column, query_vec, k=k, id_col="_row_id")

    def hybrid_search(self, terms, query_vec, *, text_col: str | None = None,
                      vec_col: str | None = None, k: int = 10,
                      text_weight: float = 0.5, vec_weight: float = 0.5,
                      config=None):
        """Hybrid text+vector search over THIS dataset's indexes — the
        reference's two-list softmax fusion
        (cpp/query_core/hybrid_query_merge.hpp:27-149): BM25 top-N from
        the inverted index on `text_col`, cosine top-N on `vec_col`
        (ANN-routed through the clustered index when one exists, exact
        TakeOrderedAndProject otherwise), softmax-normalize each
        bounded list, weighted union, top-k (N = k * accuracy_factor).
        Returns (_row_id, fused). Column defaults resolve from the
        registered indexes when unambiguous."""
        from deeplake_spark.operators.indexes import bm25_via_index, softmax_fuse

        config = config or self.query_config
        refs = _read_refs(self.path).get("indexes", {})
        inverted = {c: m for c, m in refs.items() if m["kind"] == "inverted"}
        if text_col is None:
            if len(inverted) != 1:
                raise DatasetError(
                    "pass text_col= (no unique inverted index)")
            text_col = next(iter(inverted))
        if vec_col is None:
            cands = [c for c, m in refs.items()
                     if getattr(INDEX_KINDS.get(m["kind"]), "search", None)]
            vec_col = cands[0] if len(cands) == 1 else "embedding"
        meta = inverted.get(text_col)
        if not meta:
            raise DatasetError(f"no inverted index on {text_col!r}")
        n = k * config.accuracy_factor
        inv = INDEX_KINDS[meta["kind"]].load(self.spark, meta["path"])
        bl = bm25_via_index(inv, list(terms), k=n).withColumnRenamed(
            "row_id", "_row_id")
        vl = self.search(vec_col, query_vec, k=n, config=config)
        return softmax_fuse(
            [(bl, "bm25", text_weight), (vl, "score", vec_weight)],
            k=k, id_col="_row_id")

    def __len__(self) -> int:
        return self.to_df().count()

    def __iter__(self):
        """Row iteration (reference Dataset.__iter__ → Iterator[Row],
        __init__.pyi:3034): streams partitions to the driver
        (toLocalIterator — never a full collect) in _row_id order,
        yielding mutable Row handles."""
        it = (self.to_df().orderBy("_row_id")
              .toLocalIterator(prefetchPartitions=True))
        for r in it:
            yield Row(self, r.asDict())

    def __getitem__(self, i):
        """Offset / slice addressing (__init__.pyi:2286-2350): rows are
        ordered by `_row_id`."""
        df = self.to_df()
        if isinstance(i, int):
            row = df.filter(F.col("_row_id") == i).head()
            if row is None:
                raise IndexError(i)
            return Row(self, row.asDict())
        if isinstance(i, slice):
            start, stop = i.start or 0, i.stop if i.stop is not None else 1 << 62
            out = df.filter((F.col("_row_id") >= start) & (F.col("_row_id") < stop))
            if i.step and i.step != 1:
                out = out.filter((F.col("_row_id") - start) % i.step == 0)
            # reference RowRange handle; delegates to the ordered
            # DataFrame for the historical .collect()/.count() callers
            return RowRange(out.orderBy("_row_id"), ds=self)
        if isinstance(i, str):
            if self.schema is not None and i not in [f.name for f in self.schema.fields]:
                raise ColumnDoesNotExistError(i)
            return Column(df.select(i, "_row_id").orderBy("_row_id"), i, self)
        if isinstance(i, (list, tuple)):
            return RowRange(
                df.filter(F.col("_row_id").isin(list(i))).orderBy("_row_id"),
                ds=self)
        raise TypeError(type(i))

    def summary(self):
        """ds.summary() (__init__.pyi:2398)."""
        return self.to_df().summary()

    def analyze(self, columns: list[str] | None = None) -> dict:
        """Compute and persist ColumnStatistics into commit metadata
        (the reference injects ingest-time stats into the planner —
        column_statistics.cpp:4-9; Spark CBO reads the same numbers)."""
        from deeplake_spark.plans.stats import compute_column_statistics

        stats = compute_column_statistics(self.to_df(), columns)
        if not self.read_only:
            self._entry["metadata"]["column_statistics"] = {
                k: {kk: vv for kk, vv in v.to_dict().items() if kk != "column"}
                for k, v in stats.items()
            }
            self._commit_entry(message="analyze")
        return stats

    def column_statistics(self, column: str):
        """Stored stats for a column (ColumnStatistics surface,
        __init__.pyi:1283-1344); None until analyze() has run."""
        return self._entry.get("metadata", {}).get("column_statistics", {}).get(column)

    def batches(self, batch_size: int, drop_last: bool = False):
        """Iterate result batches (ds.batches, __init__.pyi:2594-2619):
        arrow-batched iterator, no full materialization."""
        df = self.to_df().orderBy("_row_id")
        buf = []
        for row in df.toLocalIterator(prefetchPartitions=True):
            buf.append(row)
            if len(buf) == batch_size:
                yield buf
                buf = []
        if buf and not drop_last:
            yield buf

    def to_csv(self, out_path: str) -> None:
        self.to_df().orderBy("_row_id").write.mode("overwrite").option("header", True).csv(out_path)

    def to_jsonl(self, out_path: str) -> None:
        """Export as newline-delimited JSON (the from_jsonl inverse) —
        one object per row, row order preserved via _row_id."""
        self.to_df().orderBy("_row_id").write.mode("overwrite").json(out_path)

    # ----------------------------------------------------------------- DDL

    def add_column(self, name: str, dtype: DLType | str, default_value=None) -> None:
        """ALTER TABLE ADD COLUMN (reference add_column,
        __init__.pyi:3282): schema-only commit; existing rows read the
        default via schema evolution (missing column → default/null)."""
        self._check_writable()
        from deeplake_spark.types import dtype_to_spark

        spark_type = dtype.spark_type if isinstance(dtype, DLType) else dtype_to_spark(dtype)
        md = {"dl": {"kind": dtype.kind, **dtype.metadata}} if isinstance(dtype, DLType) else {}
        if default_value is not None:
            md["default"] = default_value
        if not name:
            raise EmptyColumnNameError("column name must be non-empty")
        schema = self.schema or T.StructType([T.StructField("_row_id", T.LongType(), False)])
        if name in [f.name for f in schema.fields]:
            raise ColumnAlreadyExistsError(f"column {name!r} exists")
        new_schema = T.StructType(list(schema.fields) + [T.StructField(name, spark_type, True, metadata=md)])
        self._commit_entry(schema=new_schema, message=f"add_column {name}")

    def remove_column(self, name: str) -> None:
        self._check_writable()
        schema = self.schema
        if name not in [f.name for f in schema.fields]:
            raise ColumnDoesNotExistError(f"no column {name!r}")
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        self._commit_entry(schema=new_schema, message=f"remove_column {name}")
        # registrations die with the column (r14 review: a stale
        # registration crashed the next automatic-commit refresh)
        refs = _read_refs(self.path)
        if name in refs.get("indexes", {}):
            self.drop_index(name)
        for m in [m for m in refs.get("sketches", {}).values()
                  if m.get("column") == name]:
            self.drop_sketch(name, m["kind"])

    def rename_column(self, old: str, new: str) -> None:
        self._check_writable()
        schema = self.schema
        if old not in [f.name for f in schema.fields]:
            raise ColumnDoesNotExistError(f"no column {old!r}")
        if new in [f.name for f in schema.fields]:
            raise ColumnAlreadyExistsError(f"column {new!r} exists")
        fields = []
        for f in schema.fields:
            if f.name == old:
                fields.append(T.StructField(new, f.dataType, f.nullable, f.metadata))
            else:
                fields.append(f)
        # physical files keep the old name; lazily rename on read is
        # avoided by rewriting data files referencing the old column.
        # The rewritten file is the fully-merged snapshot (patches and
        # deletes already applied), so the entry must drop the old
        # patches/deletes exactly like compact() — otherwise stale patch
        # files (still carrying the old column name) re-apply on read.
        df = self.to_df().withColumnRenamed(old, new)
        fname = self._write_file(df)
        self._commit_entry(schema=T.StructType(fields), files=[fname], replace_files=True,
                           deletes=[], patches=[], patch_ids=[],
                           message=f"rename_column {old}->{new}")
        self._clear_staged()
        # registrations follow the column (r14 review: left keyed on
        # the OLD name they crashed the next automatic refresh and
        # went dead for queries on the new name). The corpus was just
        # rewritten anyway — drop + rebuild under the new name is the
        # maintenance that keeps probes sound.
        refs = _read_refs(self.path)
        imeta = refs.get("indexes", {}).get(old)
        smetas = [m for m in refs.get("sketches", {}).values()
                  if m.get("column") == old]
        if imeta:
            self.drop_index(old)
            self.create_index(new, imeta["kind"],
                              **imeta.get("options", {}))
        for m in smetas:
            self.drop_sketch(old, m["kind"])
            self.create_sketch(new, m["kind"], **m.get("options", {}))

    def get_column_metadata(self, column: str) -> dict:
        """Column free-form metadata (reference Column.metadata,
        __init__.pyi:1532,1893) — stored on the StructField."""
        if column not in [f.name for f in self.schema.fields]:
            raise ColumnDoesNotExistError(f"no column {column!r}")
        f = self.schema[column]
        return dict(f.metadata or {})

    def set_column_metadata(self, column: str, metadata: dict) -> None:
        """Merge metadata keys into a column (schema-only commit)."""
        self._check_writable()
        if column not in [f.name for f in self.schema.fields]:
            raise ColumnDoesNotExistError(f"no column {column!r}")
        fields = []
        for f in self.schema.fields:
            if f.name == column:
                md = dict(f.metadata or {})
                md.update(metadata)
                fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
            else:
                fields.append(f)
        self._commit_entry(schema=T.StructType(fields),
                           message=f"set_column_metadata {column}")

    # ----------------------------------------------------------------- DML

    def append(self, rows) -> None:
        """Insert rows (dict of columns / list of row dicts / DataFrame)
        — __init__.pyi:3368-3427. New rows get dense `_row_id`s starting
        at the current max+1; data lands in a new immutable file."""
        self._check_writable()
        base = self._next_row_id()
        if isinstance(rows, DataFrame):
            from deeplake_spark.io import with_row_id

            df = rows
            if "_row_id" not in df.columns:
                df = with_row_id(df, col_name="_row_id")
            df = df.withColumn("_row_id", (F.col("_row_id") + base).cast("long"))
        else:
            if isinstance(rows, dict):
                lens = {k: len(v) for k, v in rows.items()}
                if len(set(lens.values())) > 1:
                    raise UnevenColumnsError(f"column lengths differ: {lens}")
                n = len(next(iter(rows.values())))
                as_rows = [
                    {**{k: v[i] for k, v in rows.items()}, "_row_id": base + i} for i in range(n)
                ]
            else:
                as_rows = [{**r, "_row_id": base + i} for i, r in enumerate(rows)]
            schema = self.schema
            if schema is not None and as_rows:
                need = {f.name for f in schema.fields
                        if not f.nullable and f.name != "_row_id"}
                have = set(as_rows[0])
                if need - have:
                    raise ColumnMissingAppendValueError(
                        f"missing values for non-nullable columns {sorted(need - have)}")
            if schema is not None:
                df = self.spark.createDataFrame(as_rows, schema.as_struct())
            else:
                df = self.spark.createDataFrame(as_rows)
                fields = [df.schema["_row_id"]] + [f for f in df.schema.fields if f.name != "_row_id"]
                df = df.select(*[f.name for f in fields])
        self._validate_embeddings(df)
        fname = self._write_file(df)
        self._staged_files.append(fname)
        if not isinstance(rows, DataFrame):
            # row count known exactly — no footer read needed later
            self._staged_file_max[fname] = base + len(as_rows) - 1
        if self.schema is None:
            self._pending_schema = df.schema
        self._note_staged()

    def _last_stream_epoch(self, sid: str | None = None,
                           legacy_fallback: bool = False) -> int | None:
        """Newest stream-epoch id committed on this branch, or None.

        With ``sid`` (the per-checkpoint stream identity ingest_stream
        embeds as ``[stream-epoch:<sid>:<N>]``), only THAT stream's
        markers count — a different stream's epochs restarting at 0
        must not mask this one's (r14 review: the unscoped check
        silently dropped a new stream's first batches). Without
        ``sid``, the first marker of any format decides (the legacy
        behavior). The walk stops at the first MATCHING marker (epoch
        ids are monotone per checkpoint, so the newest is the maximum)
        — cost is O(commits since this stream's last epoch), NOT
        O(total epochs); a brand-new sid walks to genesis ONCE and the
        sink memoizes from there.

        With ``legacy_fallback``, a scoped walk that reaches genesis
        with no sid-scoped marker returns the newest LEGACY-format
        marker (``[stream-epoch:N]``, no sid — written before scoping
        existed) instead of None: a pre-upgrade checkpoint restarting
        under the scoped ledger must still see its own committed
        epochs, or it re-commits them as duplicate rows (r14 advice
        #1). The sink enables it only when the run's first replayed
        epoch id is > 0 — a genuinely NEW stream starts at epoch 0, so
        old legacy markers never mask it (the r14 masking bug stays
        fixed), and the sink pins the memo on the run's first batch
        even when empty. Two residual edges, both narrow and accepted:
        a pre-upgrade checkpoint whose only epoch was 0 (commit landed,
        checkpoint ack didn't) duplicates ONE epoch; a new stream whose
        empty-epoch-0 RUN crashes before any batch and resumes at
        epoch > 0 on a dataset carrying legacy markers reads them as
        its own (recreate such checkpoints after upgrade).
        tests/test_streaming.py counts _read_entry calls to pin this.
        """
        v = self.version
        legacy: int | None = None
        while v and v > 0:
            e = _read_entry(self.path, v)
            msg = e.get("message", "")
            if "[stream-epoch:" in msg:
                tok = msg.rsplit("[stream-epoch:", 1)[1].rstrip("]")
                parts = tok.split(":")
                if sid is None:
                    return int(parts[-1])
                if len(parts) == 2 and parts[0] == sid:
                    return int(parts[1])
                if len(parts) == 1 and legacy is None:
                    legacy = int(parts[0])  # newest legacy marker
                # another stream's scoped marker (or legacy without
                # fallback): keep walking — it says nothing about OUR
                # epochs
            v = e.get("parent")
        return legacy if legacy_fallback else None

    def ingest_stream(self, stream_df: DataFrame,
                      checkpoint_dir: str | None = None,
                      commit_message: str = "stream epoch {epoch}",
                      available_now: bool = True,
                      transform=None):
        """Continuous ingestion into the VERSIONED dataset: every
        micro-batch appends as a new immutable file and commits one
        log entry (beyond-reference — the reference ingests batch-only;
        this makes the commit log the stream's exactly-once ledger).

        Each epoch is one append + commit, so history() shows one
        Version per micro-batch, time travel works mid-stream, and
        `indexing_mode='automatic'` extends every registered index AND
        sketch with the epoch's delta (append-only commit → incremental
        refresh, never a rebuild). With a `checkpoint_dir`, restart
        replays only uncommitted epochs — an epoch that already has its
        commit-log entry is skipped, making the append idempotent
        end-to-end.

        ``transform`` (optional) maps each micro-batch DataFrame to the
        rows actually appended — BATCH semantics inside the sink, so
        shapes a streaming plan can't express (groupBy assembly,
        joins without watermarks) are fine; it must be deterministic
        per batch for the replay idempotence to mean anything
        (sources/webdataset.ingest_webdataset_stream is the canonical
        user: tar-shard batches → assembled samples).

        Returns the StreamingQuery (trigger availableNow when
        `available_now`, else continuous micro-batches).
        """
        self._check_writable()
        from deeplake_spark.streaming import stream_identity

        # stream identity: epoch ids are monotone only PER CHECKPOINT,
        # so the idempotence ledger is scoped by it (r14 review: an
        # unscoped `last >= epoch_id` made a NEW stream's epochs 0..N
        # collide with a previous stream's and silently drop batches).
        # The shared helper normalizes the path first — a respelled
        # checkpoint_dir must not change the identity (r15 review).
        # No checkpoint → no replay is possible → a fresh identity per
        # call (every batch appends, which is correct).
        sid = stream_identity(checkpoint_dir)
        memo: dict = {}

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            # the ledger memo is pinned on the run's FIRST batch even
            # when that batch is empty: a NEW stream whose epoch 0
            # arrives empty must still pin legacy_fallback=False, or a
            # restart resuming at epoch 1 would read a pre-upgrade
            # legacy marker as its own and drop batches (r15 diff
            # review — the narrow re-opening of the r14 masking bug;
            # the residual edge is an empty-epoch-0 run that CRASHES
            # before any batch and resumes >0 on a legacy-marker
            # dataset, documented in _last_stream_epoch).
            if "last" not in memo:
                # legacy fallback only on a RESUMED checkpoint (first
                # replayed epoch > 0): a new stream's epoch 0 must not
                # be masked by pre-upgrade markers (r14 advice #1).
                memo["last"] = self._last_stream_epoch(
                    sid, legacy_fallback=epoch_id > 0)
            if batch_df.isEmpty():
                return
            marker = f"stream-epoch:{sid}:{epoch_id}"
            # idempotence across checkpoint replays: the newest marker
            # FOR THIS STREAM on the branch decides — id >= ours means
            # this epoch's commit already landed. One log walk on the
            # first batch of a run, memoized after.
            if memo["last"] is not None and memo["last"] >= epoch_id:
                return
            rows = batch_df if transform is None else transform(batch_df)
            self.append(rows)
            self.commit(
                f"{commit_message.format(epoch=epoch_id)} [{marker}]")
            memo["last"] = epoch_id

        writer = stream_df.writeStream.foreachBatch(sink)
        if available_now:
            writer = writer.trigger(availableNow=True)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()

    def delete(self, offset: int) -> None:
        """Tombstone one row by offset (__init__.pyi:3428) —
        merge-on-read delete, no file rewrite."""
        self._check_writable()
        self._staged_deletes.append(int(offset))
        self._note_staged()

    def update(self, offset: int, values: dict) -> None:
        """Cell update (Row.__setitem__ semantics, __init__.pyi:1994):
        copy-on-write patch file; read-time precedence picks the latest
        patch per row (no base-file rewrite)."""
        self._check_writable()
        row = self[offset].asDict()
        row.update(values)
        row["_row_id"] = offset
        df = self.spark.createDataFrame([row], self.schema.as_struct())
        fname = self._write_file(df)
        self._staged_patches.append(fname)
        self._staged_patch_rows.append((int(offset), fname))
        self._note_staged()

    def compact(self) -> None:
        """Rewrite the snapshot without tombstones/patches (OPTIMIZE)."""
        self._check_writable()
        df = self.to_df()
        fname = self._write_file(df)
        self._commit_entry(files=[fname], replace_files=True, deletes=[],
                           patches=[], patch_ids=[], message="compact")
        self._clear_staged()

    def optimize(self, zorder_by: list[str] | None = None,
                 target_files: int | None = None) -> None:
        """OPTIMIZE [ZORDER BY cols] — compact() plus physical layout
        control: with `zorder_by`, rows are clustered by a Morton
        (Z-order) key over the given columns before the rewrite, so
        every output file's parquet footer min/max is narrow in ALL the
        clustered columns at once and multi-dimensional predicates skip
        files (a lexicographic sort only narrows the leading column).
        The layout pass is a range partition on the broadcast-
        normalized interleaved key — no global single-task sort
        (plans/layout.py zorder_layout)."""
        self._check_writable()
        if not zorder_by:
            return self.compact()
        from deeplake_spark.plans.layout import zorder_layout

        missing = [c for c in zorder_by
                   if c not in [f.name for f in (self.schema or Schema([])).fields]]
        if missing:
            raise ColumnDoesNotExistError(f"no column(s) {missing}")
        df = zorder_layout(self.to_df(), zorder_by, target_files)
        fname = self._write_file(df)
        self._commit_entry(
            files=[fname], replace_files=True, deletes=[],
            patches=[], patch_ids=[],
            message=f"optimize zorder_by={','.join(zorder_by)}")
        self._clear_staged()

    # ------------------------------------------------------- version control

    #: IndexingMode (__init__.pyi:2885-2926): 'automatic' rebuilds
    #: registered indexes after each commit; 'off' leaves them stale
    #: until an explicit create_index.
    indexing_mode: str = "automatic"

    def commit(self, message: str | None = None) -> str:
        """Commit staged appends/deletes (__init__.pyi:3436)."""
        self._check_writable()
        schema = self.schema or getattr(self, "_pending_schema", None)
        new_files = list(self._staged_files)
        mutated = bool(self._staged_deletes or self._staged_patches)
        entry = self._commit_entry(
            schema=schema,
            files=self._staged_files,
            deletes=sorted(set(self._entry.get("deletes", [])) | set(self._staged_deletes)),
            patches=self._entry.get("patches", []) + self._staged_patches,
            patch_ids=sorted(
                set(self._entry.get("patch_ids", []))
                | {i for i, _ in self._staged_patch_rows}
            ),
            message=message or "",
        )
        self._clear_staged()
        self._log_op("commit", version=entry["version"],
                     message=message or "", n_files=len(new_files),
                     mutated=mutated)
        self._auto_refresh_registrations(new_files, mutated)
        return str(entry["version"])

    def _auto_refresh_registrations(self, new_files: list[str],
                                    mutated: bool) -> None:
        """indexing_mode='automatic' refresh for a just-written commit
        entry — shared by commit() AND merge() (r14 review: merge
        committed via _commit_entry directly and left every registered
        index/sketch silently stale, so routed queries missed merged
        rows)."""
        if self.indexing_mode != "automatic":
            return
        refs = _read_refs(self.path)
        for col, meta in refs.get("indexes", {}).items():
            if mutated:
                # updates/deletes can invalidate existing index rows:
                # full rebuild (explicit create_index semantics)
                self.create_index(col, meta["kind"], _rebuild=True,
                                  **meta.get("options", {}))
            elif new_files:
                # append-only commit: build a delta index over JUST
                # the new rows and append it — O(new data), existing
                # index files untouched (IndexingMode automatic,
                # __init__.pyi:2885-2926)
                self._append_index_delta(col, meta, new_files)
        for _key, meta in refs.get("sketches", {}).items():
            if mutated:
                # a removed/updated row cannot leave a sketch:
                # full rebuild, same as the indexes
                self.create_sketch(meta["column"], meta["kind"],
                                   _rebuild=True,
                                   **meta.get("options", {}))
            elif new_files:
                self._append_sketch_delta(meta, new_files)

    def _append_sketch_delta(self, meta: dict, new_files: list[str]) -> None:
        """Incremental sketch refresh for an append-only commit: sketch
        ONLY the new rows and merge (== a fresh full rebuild exactly —
        the merge laws pinned in the operator tests)."""
        from deeplake_spark.operators import sketches as sk

        new_df = self.spark.read.schema(self.schema).parquet(
            *[os.path.join(self.path, _DATA_DIR, f) for f in new_files]
        )
        kind, column, sk_path = meta["kind"], meta["column"], meta["path"]
        opts = meta.get("options", {})
        by = opts.get("by")
        if kind == "kmv":
            sk.append_kmv_delta(new_df, column, sk_path, by=by,
                                k=opts.get("k", 64),
                                seed=opts.get("seed", 0))
        elif kind == "bloom":
            sk.append_bloom_delta(new_df, column, sk_path, by=by,
                                  n_words=opts.get("n_words", 256),
                                  k_hashes=opts.get("k_hashes", 5),
                                  seed=opts.get("seed", 0))
        elif kind == "sample":
            sk.append_sample_delta(new_df, column, "_row_id", sk_path,
                                   by=by, k=opts.get("k", 256),
                                   salt=opts.get("salt", "q"))
        elif kind == "cm":
            sk.append_cm_delta(new_df, column, sk_path, by=by,
                               d=opts.get("d", 4), w=opts.get("w", 1024),
                               seed=opts.get("seed", 0))

    def _append_index_delta(self, column: str, meta: dict, new_files: list[str]) -> None:
        """Incremental index refresh for an append-only commit."""
        new_df = self.spark.read.schema(self.schema).parquet(
            *[os.path.join(self.path, _DATA_DIR, f) for f in new_files]
        )
        INDEX_KINDS[meta["kind"]].append(
            self.spark, meta["path"], new_df, column, "_row_id",
            meta.get("options", {}))

    def history(self) -> "History":
        out = []
        v = self.version
        while v and v > 0:
            e = _read_entry(self.path, v)
            out.append(Version(e))
            v = e.get("parent")
        return History(reversed(out))

    def rollback(self) -> "Dataset":
        """Discard staged changes (reference rollback, __init__.pyi:3473)."""
        self._clear_staged()
        return self

    # ----------------------------------------- reference surface parity

    @property
    def current_branch(self) -> str:
        """Active branch name (reference current_branch, __init__.pyi:2997)."""
        return self._branch

    # NB: `ds.version` (reference Dataset.version, __init__.pyi:3164)
    # already exists as the instance attribute set in __init__ — our
    # version ids are the commit-log sequence numbers.

    def branches(self) -> Branches:
        """Branch name → head version; ``[name]`` returns a Branch
        handle (reference branches, __init__.pyi:3003)."""
        return Branches(self, _read_refs(self.path)["branches"])

    def tags(self) -> Tags:
        """Tag name → {version, message, timestamp}; ``[name]`` returns
        a Tag handle (reference tags, __init__.pyi:3010)."""
        return Tags(self, _read_refs(self.path).get("tags", {}))

    @property
    def metadata(self) -> "Metadata":
        """Free-form dataset metadata of the current version (reference
        Metadata: ``ds.metadata[k] = v`` persists as a metadata-only
        commit entry; still ``== dict`` for historical callers)."""
        def _write(key, value):
            if self.read_only:
                raise ReadOnlyDatasetModificationError("dataset is read-only")
            self._entry.setdefault("metadata", {})[key] = value
            self._commit_entry(message=f"metadata {key}")
        return Metadata(self._entry.get("metadata", {}), writer=_write)

    @property
    def created_time(self) -> float | None:
        """Timestamp of the first commit (reference created_time)."""
        try:
            return _read_entry(self.path, 1)["timestamp"]
        except Exception:
            return None

    @property
    def id(self) -> str:
        """Unique dataset identifier, auto-generated at creation
        (reference Dataset.id). Backfilled into refs on first access
        for datasets created before ids existed; read-only handles of
        such datasets get a stable path-derived uuid instead."""
        import uuid

        refs = _read_refs(self.path)
        if "id" not in refs:
            if self.read_only:
                return str(uuid.uuid5(uuid.NAMESPACE_URL, self.path))
            refs["id"] = str(uuid.uuid4())
            _write_refs(self.path, refs)
        return refs["id"]

    def _refs_prop(self, key, default=None):
        return _read_refs(self.path).get(key, default)

    def _refs_set(self, key, value) -> None:
        self._check_writable()
        refs = _read_refs(self.path)
        refs[key] = value
        _write_refs(self.path, refs)

    @property
    def name(self) -> str | None:
        """Dataset display name (reference name property)."""
        return self._refs_prop("name")

    @name.setter
    def name(self, value: str) -> None:
        self._refs_set("name", value)

    @property
    def description(self) -> str | None:
        """Dataset description (reference description property)."""
        return self._refs_prop("description")

    @description.setter
    def description(self, value: str) -> None:
        self._refs_set("description", value)

    @property
    def creds_key(self) -> str | None:
        """Key naming the stored credentials for the dataset
        (reference creds_key; storage creds themselves live in the
        Spark/Hadoop conf in this engine)."""
        return self._refs_prop("creds_key")

    def set_creds_key(self, key: str, token: str | None = None) -> None:
        """reference set_creds_key."""
        self._refs_set("creds_key", key)

    @property
    def indexing_config(self) -> dict:
        """Index build configuration view (reference IndexBuildConfig):
        the indexing mode plus every registered index's kind/options."""
        return {
            "mode": self.indexing_mode,
            "indexes": {
                col: {"kind": meta["kind"], "options": meta.get("options", {})}
                for col, meta in self._refs_prop("indexes", {}).items()
            },
        }

    @property
    def query_config(self):
        """Per-dataset vector SearchConfig (reference query_config);
        assign a similarity.SearchConfig to change the recall/latency
        preset every ds.query()/search() uses."""
        from deeplake_spark.operators.similarity import SearchConfig

        if not hasattr(self, "_query_config") or self._query_config is None:
            self._query_config = SearchConfig()
        return self._query_config

    @query_config.setter
    def query_config(self, value) -> None:
        self._query_config = value

    # -- operation logging (reference logging_enabled/start/stop_logging;
    #    replay_log replays the commit log, which these ops annotate)

    @property
    def logging_enabled(self) -> bool:
        return bool(self._refs_prop("logging"))

    def start_logging(self) -> None:
        if self.logging_enabled:
            raise LogExistsError("operation logging already enabled")
        self._refs_set("logging", True)

    def stop_logging(self) -> None:
        if not self.logging_enabled:
            raise LogNotexistsError("operation logging is not enabled")
        self._refs_set("logging", False)

    def _log_op(self, op: str, **info) -> None:
        if not self.logging_enabled:
            return
        st = _store(self.path)
        log_dir = os.path.join(self.path, "_oplog")
        n = len(st.list(log_dir))
        st.put_bytes(
            os.path.join(log_dir, f"op-{n:08d}.json"),
            json.dumps({"op": op, "ts": time.time(), **info}).encode(),
        )

    def operation_log(self) -> list[dict]:
        """Logged operations in order (debug surface for replay_log)."""
        st = _store(self.path)
        log_dir = os.path.join(self.path, "_oplog")
        return [json.loads(st.get_bytes(os.path.join(log_dir, f)))
                for f in sorted(st.list(log_dir))]

    def rollback_async(self):
        """reference rollback_async (FutureVoid)."""
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.rollback)

    def pytorch(self, transform=None, batch_size: int = 32):
        """ds.pytorch(transform) (__init__.pyi:2551) — torch
        IterableDataset when torch is installed, else a prefetching
        iterator with identical semantics."""
        from deeplake_spark.streaming.feed import pytorch as _pt

        return _pt(self.to_df().orderBy("_row_id"), transform, batch_size)

    def tensorflow(self, batch_size: int = 32):
        """ds.tensorflow() (__init__.pyi:2524)."""
        from deeplake_spark.streaming.feed import tensorflow as _tf

        return _tf(self.to_df().orderBy("_row_id"), batch_size)

    def explain_query(self, text: str, params: list | None = None):
        """Structured plan report for a TQL query against this dataset
        (reference explain_query, __init__.pyi:2371)."""
        from deeplake_spark.plans.explain import explain_query as _explain

        return _explain(self.query(text, params).df)

    def prepare_query(self, text: str):
        """Parse once, bind params per run (reference prepare_query)."""
        from deeplake_spark import tql as _tql

        return _tql.prepare(text, spark=self.spark, default=self.to_df(),
                            indexes=self._load_indexes())

    # `*_async` surface (Future-returning variants, __init__.pyi:172-416)

    def query_async(self, text: str, params: list | None = None):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.query, text, params)

    def commit_async(self, message: str | None = None):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.commit, message)

    def push_async(self, dst_path: str):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.push, dst_path)

    def pull_async(self, src_path: str):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.pull, src_path)

    def refresh_async(self):
        from deeplake_spark.streaming.feed import query_async as _qa

        return _qa(self.refresh)

    def checkout(self, version: int | str) -> "Dataset":
        """Time travel to a version id (Delta versionAsOf equivalent).
        A version whose exclusive data files were reclaimed by
        `vacuum()` refuses with a clear error instead of failing later
        with a missing-file read."""
        version = int(version)
        if version > 0 and not _store(self.path).exists(_log_path(self.path, version)):
            raise VersionNotFoundError(f"no version {version} at {self.path}")
        if version > 0 and _read_entry(self.path, version).get("vacuumed"):
            raise VersionNotFoundError(
                f"version {version} at {self.path} was vacuumed: its "
                "exclusive data files were reclaimed past the retention "
                "horizon (Dataset.vacuum keep_versions)")
        return Dataset(self.spark, self.path, version=version, branch=self._branch,
                       read_only=True)

    def vacuum(self, keep_versions: int = 10,
               dry_run: bool = False, min_age_s: float = 0.0) -> dict:
        """Reclaim data files reachable ONLY from versions past the
        retention horizon (Delta VACUUM with versioned retention): the
        newest ``keep_versions`` versions on EVERY branch plus every
        tagged version stay fully time-travelable; older versions keep
        their log entries (history metadata is cheap) but lose any data
        file no retained version references — they are marked
        ``vacuumed`` and `checkout` refuses them with a clear error.
        Entry file lists are CUMULATIVE, so reachability needs only the
        retained entries' own lists, never an ancestry closure.

        Retention walks parent AND merge_parent edges, so a merged-in
        branch's history stays protected even after its branch ref is
        deleted. This instance's own staged files are always excluded
        from reclamation; ``min_age_s`` additionally (1) retains any
        version committed within the window — the Delta
        hours-retention analog protecting readers that checked out
        just before the vacuum — and (2) skips ANY data file younger
        than the window regardless of reachability, which is what
        protects a CONCURRENT writer's staged-but-uncommitted files
        (with ``min_age_s=0`` the Delta no-concurrent-writers
        convention applies unsoftened). ``dry_run`` reports without
        deleting. Returns {deleted_files, retained_versions,
        vacuumed_versions, dry_run}."""
        self._check_writable()
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        refs = _read_refs(self.path)
        st = _store(self.path)
        retained: set[int] = set()
        for head in set(refs.get("branches", {}).values()):
            # BFS over parent AND merge_parent edges, keep_versions
            # levels deep: a merged-in branch's history stays protected
            # after its ref is deleted (round-12 ADVICE — first-parent-
            # only walks left merge_parent chains reclaimable at once)
            frontier, seen = {int(head)}, set()
            for _ in range(keep_versions):
                nxt: set[int] = set()
                for v in frontier:
                    if not v or v <= 0 or v in seen or \
                            not st.exists(_log_path(self.path, v)):
                        continue
                    seen.add(v)
                    retained.add(v)
                    e = _read_entry(self.path, v)
                    for p in (e.get("parent"), e.get("merge_parent")):
                        if p:
                            nxt.add(int(p))
                frontier = nxt
        for tmeta in refs.get("tags", {}).values():
            tv = tmeta.get("version") if isinstance(tmeta, dict) else tmeta
            if tv:
                retained.add(int(tv))
        if min_age_s > 0:
            cutoff = time.time() - float(min_age_s)
            for fn in st.list(os.path.join(self.path, _LOG_DIR)):
                if not fn.endswith(".json"):
                    continue
                v = int(fn[:-5])
                if v not in retained and \
                        _read_entry(self.path, v).get("timestamp", 0) >= cutoff:
                    retained.add(v)
        live: set[str] = set()
        for v in sorted(retained):
            if st.exists(_log_path(self.path, v)):
                e = _read_entry(self.path, v)
                live.update(e.get("files", []))
                live.update(e.get("patches", []))
        live.update(self._staged_files)
        live.update(self._staged_patches)
        data_dir = os.path.join(self.path, _DATA_DIR)
        if min_age_s > 0:
            # staged-file age guard: a file younger than the window is
            # indistinguishable from ANOTHER writer's staged-but-
            # uncommitted data — keep it regardless of reachability
            # (and don't mark its versions vacuumed below). Backends
            # without mtime report 0.0 → the guard degrades to the
            # reachability-only behavior for those files.
            cutoff = time.time() - float(min_age_s)
            for f in set(st.list(data_dir)) - live:
                if st.mtime(os.path.join(data_dir, f)) >= cutoff:
                    live.add(f)
        victims = sorted(set(st.list(data_dir)) - live)
        all_versions = sorted(
            int(fn[:-5]) for fn in st.list(os.path.join(self.path, _LOG_DIR))
            if fn.endswith(".json"))
        vacuumed_versions = []
        for v in all_versions:
            if v in retained:
                continue
            e = _read_entry(self.path, v)
            if set(e.get("files", [])) | set(e.get("patches", [])) <= live:
                continue  # every file survives: still checkoutable
            vacuumed_versions.append(v)
            if not dry_run and not e.get("vacuumed"):
                e["vacuumed"] = True
                st.put_bytes(_log_path(self.path, v),
                             json.dumps(e).encode())
        if not dry_run:
            for f in victims:
                st.delete(os.path.join(data_dir, f))
            self._log_op("vacuum", keep_versions=keep_versions,
                         n_deleted=len(victims))
        return {"deleted_files": victims,
                "retained_versions": sorted(retained),
                "vacuumed_versions": vacuumed_versions,
                "dry_run": dry_run}

    def branch(self, name: str, version: int | None = None) -> "Dataset":
        """Create a branch at a version (reference branch(name, version),
        __init__.pyi:2942): a ref pointing into the same log."""
        self._check_writable()
        refs = _read_refs(self.path)
        if name in refs["branches"]:
            raise BranchExistsError(f"branch {name!r} exists")
        refs["branches"][name] = version if version is not None else self.version
        _write_refs(self.path, refs)
        return Dataset(self.spark, self.path, branch=name)

    def tag(self, name: str, message: str = "", version: int | None = None) -> None:
        self._check_writable()  # refs mutation, like branch/delete_tag
        refs = _read_refs(self.path)
        if name in refs["tags"]:
            raise TagExistsError(f"tag {name!r} exists")
        refs["tags"][name] = {
            "version": version if version is not None else self.version,
            "message": message,
            "timestamp": time.time(),
        }
        _write_refs(self.path, refs)

    def open_tag(self, name: str) -> "Dataset":
        refs = _read_refs(self.path)
        if name not in refs["tags"]:
            raise TagNotFoundError(f"unknown tag {name!r}")
        return self.checkout(refs["tags"][name]["version"])

    def merge(self, branch: str, version: int | None = None,
              message: str | None = None, resolve: str = "raise") -> str:
        """Three-way branch merge against the common ancestor (reference
        merge(branch_name, version, message), __init__.pyi:2952-2984).

        - Rows appended on the other branch are renumbered past our
          current max row id (both branches allocate dense ids from the
          base, so ids collide without the shift); ids stay dense.
        - Deletes/patches on SHARED rows (ids at or below the base max)
          union in. A shared row deleted or patched on BOTH sides since
          the base is a conflict: ``resolve='raise'`` (default) raises
          MergeConflictError with the row ids; ``'ours'``/``'theirs'``
          keep one side's change.
        - Schema merges per column (add_column on a branch survives);
          a same-name type change on both sides is always an error.
        - compact()/rename_column() since the base rewrote the file set
          the delta is defined over — merge refuses then (reference
          semantics are append-only merges too).
        """
        self._check_writable()
        if self._staged_files or self._staged_deletes or self._staged_patches:
            raise DatasetError("commit or discard staged changes before merge()")
        if resolve not in ("raise", "ours", "theirs"):
            raise DatasetError(f"resolve must be raise/ours/theirs, got {resolve!r}")
        refs = _read_refs(self.path)
        theirs_v = version if version is not None else refs["branches"].get(branch)
        if theirs_v is None:
            raise BranchNotFoundError(f"unknown branch {branch!r}")

        def ancestors(v):
            """BFS over the commit DAG (parent + merge_parent), nearest
            first."""
            seen, queue = [], [v]
            while queue:
                cur = queue.pop(0)
                if not cur or cur in seen:
                    continue
                seen.append(cur)
                e = _read_entry(self.path, cur)
                queue.append(e.get("parent"))
                if e.get("merge_parent"):
                    queue.append(e.get("merge_parent"))
            return seen

        our_anc = set(ancestors(self.version))
        if theirs_v in our_anc:
            return str(self.version)  # already merged / ancestor: no-op
        base_v = next((v for v in ancestors(theirs_v) if v in our_anc), None)
        base = _read_entry(self.path, base_v) if base_v else {
            "files": [], "deletes": [], "patches": [], "patch_ids": [],
            "max_row_id": None,
        }
        theirs = _read_entry(self.path, theirs_v)

        ours = self._entry
        base_files = list(base.get("files", []))
        for side, e in (("current branch", ours), (f"branch {branch!r}", theirs)):
            if [f for f in base_files if f not in set(e["files"])]:
                raise DatasetError(
                    f"{side} rewrote the snapshot (compact/rename_column) since "
                    "the merge base; merge is defined over append-only deltas")

        base_max = self._entry_max_row_id(base)
        our_max = self._entry_max_row_id(ours)
        shift = our_max - base_max

        def shifted(rid: int) -> int:
            return rid + shift if rid > base_max else rid

        # --- conflict detection on shared rows --------------------------
        base_del = set(base.get("deletes", []))
        base_pids = set(base.get("patch_ids", []))
        our_touch = ({d for d in set(ours.get("deletes", [])) - base_del}
                     | {p for p in set(ours.get("patch_ids", [])) - base_pids})
        our_touch = {i for i in our_touch if i <= base_max}
        their_del_new = set(theirs.get("deletes", [])) - base_del
        their_pids_new = set(theirs.get("patch_ids", [])) - base_pids
        their_touch = {i for i in (their_del_new | their_pids_new) if i <= base_max}
        conflicts = sorted(our_touch & their_touch)
        if conflicts and resolve == "raise":
            raise MergeConflictError(
                f"rows modified on both branches since the base: {conflicts[:20]}"
                + ("..." if len(conflicts) > 20 else ""))
        drop_theirs = set(conflicts) if resolve == "ours" else set()
        drop_ours = set(conflicts) if resolve == "theirs" else set()

        # --- their appended files: renumber past our ids -----------------
        new_files: list[str] = []
        their_delta_files = [f for f in theirs["files"] if f not in set(base_files)]
        for f in their_delta_files:
            src = os.path.join(self.path, _DATA_DIR, f)
            if shift:
                df = self.spark.read.parquet(src).withColumn(
                    "_row_id", (F.col("_row_id") + shift).cast("long"))
                fname = self._write_file(df)
            else:
                fname = f
            self._staged_file_max[fname] = self._file_max_row_id(f) + shift
            new_files.append(fname)

        # --- their patch files: shift own-row patches, drop conflicts ----
        # Fully distributed: one batched scan of every new patch file →
        # per-row latest-patch-wins dedup (partitioned window over
        # _row_id) → conflict filter + id shift → ONE merged patch file.
        # No patch ROW ever reaches the driver (an update-heavy branch
        # stays executor-sized); merged patch ids come from the commit
        # log's own patch_ids metadata, not a row collect.
        base_patches = set(base.get("patches", []))
        their_patches = [p for p in theirs.get("patches", []) if p not in base_patches]
        merged_patches = [p for p in ours.get("patches", [])]
        # our ids never renumber (only THEIR new rows shift past our max)
        merged_pids = set(ours.get("patch_ids", [])) - drop_ours
        if their_patches:
            from pyspark.sql.window import Window

            # precedence = position in theirs' patch list (later wins);
            # rows map to files via the parsed parent-directory name of
            # input_file_name (never substring containment — a file name
            # that prefixes another must not misattribute)
            order_rel = self.spark.createDataFrame(
                [(p, i) for i, p in enumerate(their_patches)],
                "__file string, __pidx long")
            pdf_all = (
                self.spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(self.path, _DATA_DIR, p) for p in their_patches]
                )
                .withColumn(
                    "__file", F.element_at(F.split(F.input_file_name(), "/"), -2))
                .join(F.broadcast(order_rel), "__file")
            )
            if drop_theirs:
                pdf_all = pdf_all.filter(
                    ~F.col("_row_id").isin(*[int(x) for x in drop_theirs]))
            latest = (
                pdf_all.withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("_row_id").orderBy(F.desc("__pidx"))),
                )
                .filter(F.col("__rn") == 1)
                .drop("__file", "__pidx", "__rn")
                .withColumn(
                    "_row_id",
                    F.when(F.col("_row_id") > base_max,
                           F.col("_row_id") + shift).otherwise(F.col("_row_id"))
                    .cast("long"))
            )
            merged_patches.append(self._write_file(latest))
            their_pids_kept = their_pids_new - drop_theirs
            merged_pids.update(shifted(i) for i in their_pids_kept)

        # --- deletes ------------------------------------------------------
        merged_del = ((set(ours.get("deletes", [])) - drop_ours)
                      | {shifted(d) for d in their_del_new if d not in drop_theirs}
                      | base_del)

        # --- schema union -------------------------------------------------
        merged_schema = self.schema
        their_schema = (T.StructType.fromJson(theirs["schema"])
                        if theirs.get("schema") else None)
        if merged_schema is None:
            merged_schema = their_schema
        elif their_schema is not None:
            have = {f.name: f for f in merged_schema.fields}
            fields = list(merged_schema.fields)
            for f in their_schema.fields:
                if f.name not in have:
                    fields.append(f)
                elif have[f.name].dataType != f.dataType:
                    raise MergeConflictError(
                        f"column {f.name!r} has type {have[f.name].dataType} here "
                        f"but {f.dataType} on branch {branch!r}")
            merged_schema = T.StructType(fields)

        entry = self._commit_entry(
            schema=merged_schema,
            files=new_files,
            deletes=sorted(merged_del),
            patches=merged_patches,
            patch_ids=sorted(merged_pids),
            message=message or f"merge {branch} @{theirs_v} (base {base_v})",
            merge_parent=theirs_v,
        )
        # a merge rewrites row ids (shift) and unions deletes/patches —
        # only a full rebuild keeps registered indexes/sketches sound
        self._auto_refresh_registrations([], mutated=True)
        return str(entry["version"])

    def push(self, dst_path: str) -> None:
        """Replicate this dataset's committed state to a linked copy
        (reference push, __init__.pyi:3505+): append-only fast-forward
        of data files, log entries, and refs."""
        _replicate(self, dst_path)

    def pull(self, src_path: str) -> "Dataset":
        """Fast-forward this dataset from a linked copy (reference
        pull): replicate the remote state here and reopen."""
        remote = Dataset(self.spark, src_path, branch=self._branch)
        _replicate(remote, self.path)
        return Dataset(self.spark, self.path, branch=self._branch)

    def refresh(self) -> "Dataset":
        """Re-read refs/log (reference refresh): pick up commits made by
        another writer of the same path."""
        return Dataset(self.spark, self.path, branch=self._branch)

    def open(self) -> "Dataset":
        """Fresh handle on this branch — makes the reference's
        `ds.branch("x").open()` call shape work (Branch.open,
        __init__.pyi:903; our branch() already returns a usable
        Dataset, so open() is a refresh)."""
        return self.refresh()

    def delete_branch(self, name: str) -> None:
        """Remove a branch ref (reference Branch.delete,
        __init__.pyi:897). The current branch and main refuse."""
        self._check_writable()
        if name in (self._branch, "main"):
            raise CannotDeleteMainBranchError(f"cannot delete branch {name!r}")
        refs = _read_refs(self.path)
        if name not in refs["branches"]:
            raise BranchNotFoundError(f"unknown branch {name!r}")
        del refs["branches"][name]
        _write_refs(self.path, refs)

    def rename_branch(self, name: str, new_name: str) -> None:
        """Rename a branch ref (reference Branch.rename,
        __init__.pyi:915). main refuses."""
        self._check_writable()
        from deeplake_spark.exceptions import CannotRenameMainBranchError

        if name == "main":
            raise CannotRenameMainBranchError("cannot rename main")
        refs = _read_refs(self.path)
        if name not in refs["branches"]:
            raise BranchNotFoundError(f"unknown branch {name!r}")
        if new_name in refs["branches"]:
            raise BranchExistsError(f"branch {new_name!r} exists")
        refs["branches"][new_name] = refs["branches"].pop(name)
        _write_refs(self.path, refs)
        if self._branch == name:
            self._branch = new_name

    def delete_tag(self, name: str) -> None:
        """Remove a tag (reference Tag.delete, __init__.pyi:1100)."""
        self._check_writable()
        refs = _read_refs(self.path)
        if name not in refs.get("tags", {}):
            raise TagNotFoundError(f"unknown tag {name!r}")
        del refs["tags"][name]
        _write_refs(self.path, refs)

    def rename_tag(self, name: str, new_name: str) -> None:
        """Rename a tag (reference Tag.rename, __init__.pyi:1106)."""
        self._check_writable()
        refs = _read_refs(self.path)
        if name not in refs.get("tags", {}):
            raise TagNotFoundError(f"unknown tag {name!r}")
        if new_name in refs["tags"]:
            raise TagExistsError(f"tag {new_name!r} exists")
        refs["tags"][new_name] = refs["tags"].pop(name)
        _write_refs(self.path, refs)

    # ------------------------------------------------------------ internals

    def _check_writable(self) -> None:
        if self.read_only:
            raise ReadOnlyDatasetModificationError("dataset is read-only")

    def _clear_staged(self) -> None:
        self._staged_files = []
        self._staged_deletes = []
        self._staged_patches = []
        self._staged_patch_rows = []
        self._staged_file_max = {}
        self._staged_since = None

    def _note_staged(self) -> None:
        """Stamp the first staged mutation and run the time-based
        auto-commit check (reference auto_commit_enabled semantics,
        __init__.pyi:3036: periodic commits while writes flow)."""
        if self._staged_since is None:
            self._staged_since = time.time()
        if (self.auto_commit_enabled
                and time.time() - self._staged_since >= self.auto_commit_interval_s):
            self.commit("auto-commit")

    def _entry_max_row_id(self, entry: dict) -> int:
        """Max row id of a commit-log entry: the persisted `max_row_id`
        when present, else the footer-stat max over the entry's files
        (legacy pre-round-2 logs — same fallback as _next_row_id; a -1
        sentinel would silently renumber shared rows in merge())."""
        m = entry.get("max_row_id")
        if m is not None:
            return int(m)
        mx = -1
        for f in entry.get("files", []):
            mx = max(mx, self._file_max_row_id(f))
        return mx

    def _file_max_row_id(self, fname: str) -> int:
        """Max `_row_id` in one data file, read from the parquet footer
        statistics (no Spark job, O(footer) not O(data)). Falls back to a
        single-file scan when stats are absent."""
        import glob

        root = os.path.join(self.path, _DATA_DIR, fname)
        parts = sorted(glob.glob(os.path.join(root, "*.parquet"))) if os.path.isdir(root) else [root]
        mx = None
        try:
            import pyarrow.parquet as pq

            for p in parts:
                md = pq.ParquetFile(p).metadata
                col_idx = next(
                    (i for i in range(md.num_columns)
                     if md.schema.column(i).name == "_row_id"), None)
                if col_idx is None:
                    raise ValueError("no _row_id column")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("missing stats")
                    mx = st.max if mx is None else max(mx, st.max)
        except Exception:
            m = (self.spark.read.parquet(root).agg(F.max("_row_id")).head() or [None])[0]
            return int(m) if m is not None else -1
        return int(mx) if mx is not None else -1

    def _next_row_id(self) -> int:
        """Next dense `_row_id`. Reads `max_row_id` from the commit log
        (written by every commit since round 2) so appends are O(1), not
        an O(dataset) scan; staged files are covered by footer stats.
        Legacy logs without the field fall back to one full scan, then
        the next commit persists it."""
        m = self._entry.get("max_row_id")
        if m is None:
            files = self._entry["files"]
            if files:
                df = self.spark.read.parquet(
                    *[os.path.join(self.path, _DATA_DIR, f) for f in files])
                v = df.agg(F.max("_row_id")).head()[0]
                m = int(v) if v is not None else -1
            else:
                m = -1
            self._entry["max_row_id"] = m  # cache for subsequent appends
        for f in self._staged_files:
            if f not in self._staged_file_max:
                self._staged_file_max[f] = self._file_max_row_id(f)
            m = max(m, self._staged_file_max[f])
        return int(m) + 1

    def _validate_embeddings(self, df: DataFrame) -> None:
        """Enforce Embedding(size=N) constraints on write (§1.4)."""
        schema = self.schema
        if schema is None:
            return
        for f in schema.fields:
            dl = f.metadata.get("dl") if f.metadata else None
            if dl and dl.get("kind") == "embedding" and dl.get("size"):
                bad = df.filter(
                    F.col(f.name).isNotNull() & (F.size(f.name) != int(dl["size"]))
                ).limit(1).count()
                if bad:
                    raise InvalidColumnValueError(
                        f"embedding column {f.name!r} requires size {dl['size']}"
                    )

    @property
    def data_format(self):
        """Datafile format configured at create() (formats.Chunk), or None.

        Loaded lazily from format.json; cached per instance."""
        if not hasattr(self, "_data_format"):
            from deeplake_spark import formats as _formats

            st = _store(self.path)
            p = os.path.join(self.path, "format.json")
            self._data_format = (
                _formats.from_json(json.loads(st.get_bytes(p)))
                if st.exists(p) else None
            )
        return self._data_format

    def _write_file(self, df: DataFrame) -> str:
        fname = f"{uuid.uuid4().hex}.parquet"
        out = os.path.join(self.path, _DATA_DIR, fname)
        writer = df.write.mode("overwrite")
        fmt = self.data_format
        codec = fmt.parquet_codec() if fmt is not None else None
        if codec:
            writer = writer.option("compression", codec)
        writer.parquet(out)
        return fname

    def _commit_entry(self, schema: T.StructType | None = None, files: list[str] | None = None,
                      deletes: list[int] | None = None, replace_files: bool = False,
                      patches: list[str] | None = None, patch_ids: list[int] | None = None,
                      message: str = "", merge_parent: int | None = None) -> dict:
        refs = _read_refs(self.path)
        new_version = _latest_version(self.path) + 1
        if replace_files:
            all_files = list(files or [])
        else:
            all_files = self._entry["files"] + list(files or [])
        # carry max_row_id in the log so appends never scan data files.
        # replace_files rewrites preserve row ids but FOLD IN staged
        # appends (every replace_files caller rewrites to_df(), which
        # includes staged files, then clears staged) — the carried max
        # must cover them or the next append reuses their ids (row-id
        # collision; caught by the round-12 randomized-DML property
        # test on append,append,compact,append). Otherwise fold in the
        # footer-stat max of each newly-added file.
        max_row_id = self._entry.get("max_row_id")
        fold = self._staged_files if replace_files else (files or [])
        for f in fold:
            fm = self._staged_file_max.get(f)
            if fm is None:
                fm = self._file_max_row_id(f)
            max_row_id = fm if max_row_id is None else max(max_row_id, fm)
        entry = {
            "version": new_version,
            "parent": self.version or None,
            "branch": self._branch,
            "timestamp": time.time(),
            "message": message,
            "files": all_files,
            "deletes": deletes if deletes is not None else self._entry.get("deletes", []),
            "patches": patches if patches is not None else self._entry.get("patches", []),
            "patch_ids": patch_ids if patch_ids is not None else self._entry.get("patch_ids", []),
            "schema": (schema or self.schema).jsonValue() if (schema or self.schema) else None,
            "metadata": self._entry.get("metadata", {}),
            "max_row_id": max_row_id,
        }
        if merge_parent is not None:
            # second parent of a merge commit: ancestry is a DAG, so a
            # re-merge of an already-merged branch no-ops
            entry["merge_parent"] = merge_parent
        _store(self.path).put_bytes(_log_path(self.path, new_version),
                                    json.dumps(entry).encode())
        refs["branches"][self._branch] = new_version
        _write_refs(self.path, refs)
        self.version = new_version
        self._entry = entry
        return entry


# ------------------------------------------------------------------ module API


def create(path: str, spark: SparkSession | None = None,
           schema: dict[str, DLType] | None = None,
           data_format=None) -> Dataset:
    """deeplake.create (__init__.pyi:4123).

    data_format: a deeplake_spark.formats.DataFormat (formats.pyi:12-22);
    its chunk_compression selects the Parquet codec for every datafile
    this dataset writes."""
    from deeplake_spark.storage import normalize_url

    path = normalize_url(path)
    spark = spark or SparkSession.getActiveSession()
    if "://" not in path:
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
    if _store(path).list(os.path.join(path, _LOG_DIR)):
        raise DatasetExistsError(f"dataset already exists at {path}")
    _write_refs(path, {"branches": {"main": 0}, "tags": {}})
    if data_format is not None:
        _store(path).put_bytes(os.path.join(path, "format.json"),
                               json.dumps(data_format.to_json()).encode())
    ds = Dataset(spark, path)
    if schema:
        fields = [T.StructField("_row_id", T.LongType(), False)] + [
            t.field(name) for name, t in schema.items()
        ]
        ds._commit_entry(schema=T.StructType(fields), message="create")
    return ds


#: alias registry for connect()/link(): alias url → {path, read_only}.
#: The reference registers entries with its hosted service; this engine
#: has no external service by design, so the registry is process-local
#: (the alias layer, not the storage, is what connect models).
_CONNECTIONS: dict[str, dict] = {}


def _resolve_alias(path: str) -> tuple[str, bool]:
    from deeplake_spark.storage import normalize_url

    entry = _CONNECTIONS.get(path)
    if entry is None:
        return normalize_url(path), False
    return normalize_url(entry["path"]), bool(entry.get("read_only"))


def open(path: str, spark: SparkSession | None = None, branch: str = "main",
         version: int | None = None) -> Dataset:
    """deeplake.open (__init__.pyi:4371). Accepts connect()/link()
    aliases; a link() alias opens read-only."""
    path, linked_ro = _resolve_alias(path)
    spark = spark or SparkSession.getActiveSession()
    if not _store(path).list(os.path.join(path, _LOG_DIR)):
        raise NotFoundError(f"no dataset at {path}")
    ds = Dataset(spark, path, branch=branch, version=version)
    if linked_ro or version is not None:
        # a version-pinned handle is TIME TRAVEL (the checkout()
        # contract): committing from an old snapshot would rebuild the
        # branch head from that snapshot's file list and silently drop
        # every newer commit's files — a lost update (r14 review)
        ds.read_only = True
    return ds


def open_read_only(path: str, spark: SparkSession | None = None, branch: str = "main",
                   version: int | None = None) -> Dataset:
    """deeplake.open_read_only (__init__.pyi:4590)."""
    ds = open(path, spark, branch, version)
    ds.read_only = True
    return ds


def like(path: str, source: Dataset, spark: SparkSession | None = None) -> Dataset:
    """deeplake.like (__init__.pyi:4465): clone schema, no data."""
    spark = spark or source.spark
    ds = create(path, spark)
    if source.schema is not None:
        ds._commit_entry(schema=source.schema, message="like")
    return ds


def copy(src_path: str, dst_path: str, spark: SparkSession | None = None) -> Dataset:
    """deeplake.copy (__init__.pyi:4277)."""
    src = open(src_path, spark)
    dst = create(dst_path, spark or src.spark)
    if src.schema is not None:
        dst._commit_entry(schema=src.schema, message="copy schema")
    df = src.to_df()
    dst._staged_files.append(dst._write_file(df))
    dst.commit("copy from " + src_path)
    return dst


def connect(src: str, dest: str | None = None, org_id: str | None = None,
            creds_key: str | None = None, token: str | None = None) -> Dataset:
    """deeplake.connect (__init__.pyi): register an existing dataset
    under an `al://org/name`-style alias so it opens by that url.
    Either `dest` or `org_id`, not both (reference contract). creds_key/
    token accepted for signature parity — storage credentials come from
    the Spark/Hadoop conf in this engine."""
    if (dest is None) == (org_id is None):
        raise DatasetError("connect: exactly one of dest or org_id is required")
    alias = dest or f"al://{org_id}/{os.path.basename(src.rstrip('/'))}"
    ds = open(src)  # validate before registering
    _CONNECTIONS[alias] = {"path": src, "read_only": False}
    return ds


def disconnect(url: str, token: str | None = None) -> None:
    """deeplake.disconnect (__init__.pyi): drop the alias registration.
    Stored data is untouched (reference contract)."""
    _CONNECTIONS.pop(url, None)


def link(source: str, destination: str, creds: dict[str, str] | None = None,
         token: str | None = None) -> Dataset:
    """deeplake.link (__init__.pyi): register `destination` as a
    READ-ONLY alias of `source` — a catalog symlink, no data copied
    (open(destination) yields a read-only dataset)."""
    ds = open_read_only(source)
    _CONNECTIONS[destination] = {"path": source, "read_only": True}
    return ds


def link_async(source: str, destination: str,
               creds: dict[str, str] | None = None, token: str | None = None):
    """deeplake.link_async (__init__.pyi): Future-returning link."""
    return _async(link, source, destination, creds, token)


def replay_log(source_path: str, destination_path: str,
               src_creds: dict[str, str] | None = None,
               dst_creds: dict[str, str] | None = None,
               token: str | None = None) -> None:
    """deeplake.replay_log (__init__.pyi): re-apply every logged commit
    from the source dataset's log to the destination (fast-forward
    only — diverged histories are refused, matching _replicate)."""
    _replicate(open_read_only(source_path), destination_path)


def from_parquet(path: str, dataset_path: str, spark: SparkSession | None = None) -> Dataset:
    """deeplake.from_parquet (__init__.pyi:4717)."""
    spark = spark or SparkSession.getActiveSession()
    from deeplake_spark.io import with_row_id

    df = spark.read.parquet(path)
    if "_row_id" not in df.columns:
        df = with_row_id(df, col_name="_row_id")
        df = df.select("_row_id", *[c for c in df.columns if c != "_row_id"])
    ds = create(dataset_path, spark)
    ds._pending_schema = df.schema
    ds._staged_files.append(ds._write_file(df))
    ds.commit("from_parquet " + path)
    return ds


def from_csv(path: str, dataset_path: str, spark: SparkSession | None = None) -> Dataset:
    """deeplake.from_csv (__init__.pyi:4725)."""
    spark = spark or SparkSession.getActiveSession()
    from deeplake_spark.io import with_row_id

    df = spark.read.csv(path, header=True, inferSchema=True)
    df = with_row_id(df, col_name="_row_id")
    ds = create(dataset_path, spark)
    ds._pending_schema = df.schema
    ds._staged_files.append(ds._write_file(df))
    ds.commit("from_csv " + path)
    return ds


def from_jsonl(path: str, dataset_path: str,
               spark: SparkSession | None = None,
               schema: str | None = None) -> Dataset:
    """Ingest newline-delimited JSON — the de-facto training-data
    interchange format (beyond-reference: the reference ingests
    parquet/csv/coco, __init__.pyi:4717-4735; every LLM corpus release
    ships JSONL). Spark's native json reader handles the line-per-doc
    layout, multi-file globs, and compressed parts; pass ``schema``
    (a DDL string) to skip the inference pass — at 100 TB, inference
    reads the data twice."""
    spark = spark or SparkSession.getActiveSession()
    from deeplake_spark.io import with_row_id

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    df = with_row_id(df, col_name="_row_id")
    ds = create(dataset_path, spark)
    ds._pending_schema = df.schema
    ds._staged_files.append(ds._write_file(df))
    ds.commit("from_jsonl " + path)
    return ds


def _replicate(src: "Dataset", dst_path: str) -> None:
    """Copy the FULL log (every entry, every branch) plus the union of
    data/patch files referenced by any entry, then merge refs
    per-branch fast-forward — so `checkout()` of older versions and
    other branches works on the replica, and replication never clobbers
    branches/tags the destination already had."""
    src_st, dst_st = _store(src.path), _store(dst_path)
    if "://" not in dst_path:
        os.makedirs(os.path.join(dst_path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(dst_path, _DATA_DIR), exist_ok=True)
    src_data = os.path.join(src.path, _DATA_DIR)
    dst_data = os.path.join(dst_path, _DATA_DIR)
    src_log = os.path.join(src.path, _LOG_DIR)
    needed: set[str] = set()
    for fn in sorted(src_st.list(src_log)):
        if not fn.endswith(".json"):
            continue
        blob = src_st.get_bytes(os.path.join(src_log, fn))
        entry = json.loads(blob)
        if not entry.get("vacuumed"):
            # a vacuumed version's exclusive files were reclaimed at the
            # source; its log entry (with the flag) still replicates, so
            # checkout refuses identically on the replica
            needed.update(entry.get("files", []))
            needed.update(entry.get("patches", []))
        d = os.path.join(dst_path, _LOG_DIR, fn)
        if dst_st.exists(d):
            # both replicas hold this version: replication only fast-
            # forwards, so the entries must be the SAME commit — two
            # histories that committed independently would otherwise
            # interleave under shared version numbers. Compare the
            # IMMUTABLE commit content: vacuum() annotates entries
            # in place ('vacuumed'), and a replica vacuumed on one
            # side only must not read as divergence (r14 review)
            def _canon(e):
                return {k: v for k, v in e.items() if k != "vacuumed"}

            if _canon(json.loads(dst_st.get_bytes(d))) != _canon(entry):
                raise PushError(
                    f"replica histories diverge at log entry {fn}: "
                    "both sides committed independently; refusing to merge refs")
        else:
            dst_st.put_bytes(d, blob)
    if needed and type(src_st) is not type(dst_st):
        raise PushError(
            "push/pull across different storage backends is not supported; "
            "replicate to a same-backend path")
    for f in sorted(needed):
        s, d = os.path.join(src_data, f), os.path.join(dst_data, f)
        if not dst_st.exists(d):
            src_st.copy_tree(s, d)
    src_refs = _read_refs(src.path)
    dst_refs = _read_refs(dst_path)
    for br, v in src_refs["branches"].items():
        dst_refs["branches"][br] = max(int(v), int(dst_refs["branches"].get(br, 0)))
    for tag, meta in src_refs.get("tags", {}).items():
        dst_refs.setdefault("tags", {}).setdefault(tag, meta)
    # deliberately NOT replicating src's "indexes"/"sketches" refs:
    # side-table paths are absolute to src; replicas rebuild via
    # create_index/create_sketch.
    _write_refs(dst_path, dst_refs)


def exists(path: str) -> bool:
    """deeplake.exists (__init__.pyi:4347): a dataset lives at `path`
    (connect()/link() aliases resolve first)."""
    path, _ = _resolve_alias(path)
    return bool(_store(path).list(os.path.join(path, _LOG_DIR)))


def delete(path: str) -> None:
    """deeplake.delete (__init__.pyi:4321): remove the dataset at
    `path`. Refuses paths that are not datasets (no commit log).
    connect()/link() aliases resolve first (r14 review: exists()
    resolved them but the delete itself did not, so deleting by alias
    crashed on the alias scheme instead of removing the dataset)."""
    if not exists(path):
        raise NotFoundError(f"no dataset at {path}")
    path, _ = _resolve_alias(path)
    _store(path).delete(path)


def convert(src_path: str, dst_path: str, spark: SparkSession | None = None) -> Dataset:
    """deeplake.convert (__init__.pyi:4671). The reference converts the
    v3 storage format to v4; this engine has a single (parquet + JSON
    commit log) format, so convert == copy."""
    return copy(src_path, dst_path, spark)


def from_coco(annotations_path: str, dataset_path: str,
              spark: SparkSession | None = None) -> Dataset:
    """deeplake.from_coco (__init__.pyi:4733): ingest a COCO annotation
    file into a dataset (sources/coco.py does the flattening)."""
    from deeplake_spark.sources.coco import ingest_coco

    spark = spark or SparkSession.getActiveSession()
    return ingest_coco(spark, annotations_path, dataset_path)


def query(text: str, spark: SparkSession | None = None,
          params: list | None = None) -> DataFrame:
    """deeplake.query (__init__.pyi:644): standalone TQL — sources named
    via FROM "url" resolve to parquet paths / catalog tables."""
    from deeplake_spark.tql import query as _q

    return _q(text, spark=spark or SparkSession.getActiveSession(), params=params)


def prepare_query(text: str, spark: SparkSession | None = None):
    """deeplake.prepare_query (__init__.pyi:612)."""
    from deeplake_spark import tql as _tql

    return _tql.prepare(text, spark=spark or SparkSession.getActiveSession())


def explain_query(text: str, spark: SparkSession | None = None):
    """deeplake.explain_query (__init__.pyi:837)."""
    from deeplake_spark.plans.explain import explain_query as _explain

    return _explain(query(text, spark))


def _async(fn, *args, **kwargs):
    from deeplake_spark.streaming.feed import query_async as _qa

    return _qa(fn, *args, **kwargs)


def query_async(text: str, spark: SparkSession | None = None,
                params: list | None = None):
    """deeplake.query_async (__init__.pyi:757)."""
    return _async(query, text, spark, params)


def create_async(path: str, spark: SparkSession | None = None, schema=None):
    return _async(create, path, spark, schema)


def open_async(path: str, spark: SparkSession | None = None, branch: str = "main",
               version: int | None = None):
    return _async(open, path, spark, branch, version)


def open_read_only_async(path: str, spark: SparkSession | None = None,
                         branch: str = "main", version: int | None = None):
    return _async(open_read_only, path, spark, branch, version)


def delete_async(path: str):
    return _async(delete, path)


def exists_async(path: str):
    return _async(exists, path)


# --------------------------------------------------------------------------
# Reference view-variant aliases (__all__ parity): the read-only *View
# classes in the reference share the read surface of their mutable
# counterparts; our handles are already read-only-safe on read-only
# datasets (every mutator goes through _check_writable), so the alias
# IS the implementation.
BranchView = Branch
BranchesView = Branches
TagView = Tag
TagsView = Tags
SchemaView = Schema
ColumnDefinitionView = ColumnDefinition


class Client:
    """reference Client (__init__.pyi:868-874): control-plane client.
    No hosted control plane exists in this engine — the object carries
    the endpoint attribute for API compatibility; nothing dials out."""

    endpoint: str = ""


class TelemetryClient:
    """reference TelemetryClient: telemetry sink handle. Inert here —
    this engine emits no telemetry."""

    api_key: str = ""
    endpoint: str = ""


client = Client()
telemetry_client = TelemetryClient()


class Random:
    """reference Random (__init__.pyi:875-882): process-wide seed
    control for the engine's randomized operators. Setting ``seed``
    makes SAMPLE BY / sample_* draws reproducible across runs;
    ``None`` restores per-call defaults (operators/sampling.py reads
    this through default_seed())."""

    seed: int | None = None


random = Random()


def default_seed(fallback: int | None = 42) -> int | None:
    """The seed randomized operators use when the caller passed none:
    deeplake_spark.random.seed if set, else the fallback."""
    return random.seed if random.seed is not None else fallback


class IndexBuildConfig:
    """reference IndexBuildConfig (__init__.pyi): how aggressively index
    builds trade build time for quality. `build_multiplier` scales the
    training/probe effort (our IVF/PQ builders read it as a sample- and
    iteration multiplier)."""

    def __init__(self, build_multiplier: float = 1.0):
        self.build_multiplier = float(build_multiplier)

    @classmethod
    def default_config(cls) -> "IndexBuildConfig":
        return cls(1.0)

    @classmethod
    def fast(cls) -> "IndexBuildConfig":
        return cls(0.5)

    @classmethod
    def high_quality(cls) -> "IndexBuildConfig":
        return cls(2.0)

    def __eq__(self, other) -> bool:
        return (isinstance(other, IndexBuildConfig)
                and self.build_multiplier == other.build_multiplier)

    def __repr__(self) -> str:
        return f"IndexBuildConfig(build_multiplier={self.build_multiplier})"

"""Frozen reference surface: the public names of the reference
package's ``__all__`` (``python/deeplake/__init__.pyi``) and of its
``types.pyi`` (every top-level ``def``, ``class`` and annotated name).

The surface tests check these lists, so they need no reference
checkout. The lists were rebuilt from the surface that the parity
commits (b2bbe89: 157 package names; 4944ae7: types) pinned against
the checkout, which the repository does not carry. Where a checkout
sits beside the repository (``../reference``), `names` also checks
that each frozen list still equals it; if one does not, regenerate it
from the checkout.
"""

from __future__ import annotations

import re
from pathlib import Path

#: the reference checkout beside the repository, when there is one
SNAPSHOT = Path(__file__).resolve().parents[2] / "reference" / "python" / "deeplake"

PACKAGE_ALL = frozenset((
    "AgreementError", "AgreementNotAcceptedError", "Array",
    "AuthenticationError", "AuthorizationError", "BadRequestError",
    "Branch", "BranchExistsError", "BranchNotFoundError", "BranchView",
    "Branches", "BranchesView", "BytePositionIndexOutOfChunk",
    "CanNotCreateTensorWithProvidedCompressions",
    "CannotDeleteMainBranchError", "CannotRenameMainBranchError",
    "Client", "Column", "ColumnAlreadyExistsError", "ColumnDefinition",
    "ColumnDefinitionView", "ColumnDoesNotExistError",
    "ColumnMissingAppendValueError", "ColumnStatistics", "ColumnView",
    "CredsKeyAlreadyAssignedError", "Dataset", "DatasetError",
    "DatasetExistsError", "DatasetUnavailableError", "DatasetView",
    "DimensionsMismatch", "DimensionsMismatchError", "DtypeMismatch",
    "EmbeddingSizeMismatch", "EmptyColumnNameError", "Executor",
    "ExpiredTokenError", "ExplainQueryResult",
    "FormatNotSupportedError", "Future", "FutureVoid",
    "GcsStorageProviderFailed", "HTTPBodyIsMissingError",
    "HTTPBodyIsNotJSONError", "HTTPRequestFailedError", "History",
    "IncorrectDeeplakePathError", "IndexAlreadyExistsError",
    "IndexBuildConfig", "IndexingMode", "InvalidBinaryMaskCompression",
    "InvalidChunkStrategyType", "InvalidColumnValueError",
    "InvalidCredsKeyAssignmentError", "InvalidImageCompression",
    "InvalidIndexCreationError", "InvalidLinkDataError",
    "InvalidLinkType", "InvalidMedicalCompression",
    "InvalidPolygonShapeError", "InvalidSegmentMaskCompression",
    "InvalidSequenceOfSequence", "InvalidTextCompression",
    "InvalidTextType", "InvalidType", "InvalidTypeAndFormatPair",
    "InvalidTypeDimensions", "InvalidURIError", "JSONIndexNotFound",
    "JSONKeyNotFound", "LogExistsError", "LogNotexistsError",
    "MergeConflictError", "Metadata", "NotFoundError",
    "NotLoggedInAgreementError", "PermissionDeniedError", "PushError",
    "QuantizationType", "Random", "ReadOnlyDataset",
    "ReadOnlyDatasetModificationError", "ReadOnlyMetadata", "Row",
    "RowRange", "RowRangeView", "RowView", "Schema", "SchemaView",
    "SearchConfig", "ServiceError", "ShapeIndexOutOfChunk",
    "StorageAccessDenied", "StorageInternalError",
    "StorageKeyAlreadyExists", "StorageKeyNotFound",
    "StorageNetworkConnectionError", "StorageProviderMissingError",
    "Tag", "TagExistsError", "TagNotFoundError", "TagView", "Tags",
    "TagsView", "TelemetryClient", "TensorAlreadyExists",
    "UnevenColumnsError", "UnevenUpdateError",
    "UnexpectedInputDataForDicomColumn",
    "UnexpectedMedicalTypeInputData",
    "UnknownBoundingBoxCoordinateFormat",
    "UnknownBoundingBoxPixelFormat", "UnknownFormat",
    "UnknownStringType", "UnknownType", "UnspecifiedDtype",
    "UnsupportedChunkCompression", "UnsupportedPythonType",
    "UnsupportedSampleCompression", "Version", "VersionNotFoundError",
    "WriteFailedError", "WrongChunkCompression",
    "WrongSampleCompression", "client", "connect", "convert", "copy",
    "core", "create", "create_async", "delete", "delete_async",
    "disconnect", "exists", "exists_async", "explain_query", "formats",
    "from_coco", "from_csv", "from_jsonl", "from_parquet", "like",
    "open", "open_async", "open_read_only", "open_read_only_async",
    "prepare_query", "query", "query_async", "random", "schemas",
    "storage", "telemetry_client", "tql", "types"
))

TYPES = frozenset((
    "Array", "Audio", "BM25", "Binary", "BinaryMask", "Bool",
    "BoundingBox", "Bytes", "ClassLabel", "Clustered",
    "ClusteredQuantized", "DataType", "Dict", "Embedding",
    "EmbeddingIndex", "EmbeddingIndexType", "EmbeddingsMatrixIndex",
    "EmbeddingsMatrixIndexType", "Exact", "Float16", "Float32",
    "Float64", "Generic", "Image", "Index", "IndexType", "Int16",
    "Int32", "Int64", "Int8", "Inverted", "JsonIndex", "Link",
    "Medical", "Mesh", "Nullable", "NumericIndex", "Point", "Polygon",
    "PooledQuantized", "QuantizationType", "SegmentMask", "Sequence",
    "Struct", "Text", "TextIndex", "Type", "TypeKind", "UInt16",
    "UInt32", "UInt64", "UInt8", "Video"
))


def _package_all(pyi: str) -> set[str]:
    block = re.search(r"__all__ = \[(.*?)\]", pyi, re.S).group(1)
    return set(re.findall(r'"(\w+)"', block))


def _types(pyi: str) -> set[str]:
    names = {a or b for a, b in re.findall(r"^def (\w+)|^class (\w+)", pyi, re.M)}
    return names | set(re.findall(r"^(\w+): ", pyi, re.M))


_SURFACES = {
    "package_all": (PACKAGE_ALL, "__init__.pyi", _package_all),
    "types": (TYPES, "types.pyi", _types),
}


def names(surface: str) -> frozenset[str]:
    """The frozen public names of `surface` ("package_all" or "types"),
    checked against the reference checkout when it is present."""
    frozen, pyi_name, parse = _SURFACES[surface]
    pyi = SNAPSHOT / pyi_name
    if pyi.exists():
        live = {n for n in parse(pyi.read_text()) if not n.startswith("_")}
        assert live == frozen, (
            f"{pyi_name} differs from the frozen list: "
            f"missing {sorted(live - frozen)}, extra {sorted(frozen - live)}")
    return frozen

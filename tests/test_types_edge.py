"""Type-system edge cases (FIXTURES.md §5 / SURVEY §1.3): uint widening,
float16 round-trip, Nullable, Bytes, Struct, empty arrays/strings, glob
metacharacters, prepared statements, index auto-refresh."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deeplake_spark import types as dt


def test_dtype_mapping_widening():
    assert dt.dtype_to_spark("uint8") == T.ShortType()
    assert dt.dtype_to_spark("uint16") == T.IntegerType()
    assert dt.dtype_to_spark("uint32") == T.LongType()
    assert dt.dtype_to_spark("uint64") == T.LongType()  # documented caveat
    assert dt.dtype_to_spark("float16") == T.FloatType()
    assert dt.dtype_to_spark("bfloat16") == T.FloatType()
    assert dt.dtype_to_spark("bytes") == T.BinaryType()
    with pytest.raises(ValueError):
        dt.dtype_to_spark("decimal")  # not in the reference model


def test_htype_fields_carry_semantics():
    f = dt.Embedding(64, index_type="clustered").field("emb")
    assert f.dataType == T.ArrayType(T.FloatType())
    assert f.metadata["dl"]["kind"] == "embedding" and f.metadata["dl"]["size"] == 64
    st = dt.Struct({"a": dt.Generic("int32"), "b": dt.Text()})
    assert isinstance(st.spark_type, T.StructType)
    bb = dt.BoundingBox(fmt="ccwh")
    assert bb.metadata["format"] == "ccwh"
    seq = dt.Sequence(dt.Image())
    assert seq.spark_type == T.ArrayType(T.BinaryType())


def test_typed_edge_dataset_roundtrip(spark):
    from deeplake_spark import dataset as dl

    with tempfile.TemporaryDirectory() as d:
        ds = dl.create(d + "/ds", spark, schema={
            "u8": dt.Generic("uint8"),
            "f16": dt.Generic("float16"),
            "nullable_int": dt.Nullable(dt.Generic("int32")),
            "raw": dt.Generic("bytes"),
            "st": dt.Struct({"a": dt.Generic("int32"), "b": dt.Text()}),
            "arr": dt.Array("float32"),
            "txt": dt.Text(),
        })
        ds.append([
            {"u8": 255, "f16": 0.5, "nullable_int": 7, "raw": b"\x00\x01",
             "st": {"a": 1, "b": "x"}, "arr": [1.0, 2.0], "txt": "has *?%_ metachars"},
            {"u8": 0, "f16": -2.0, "nullable_int": None, "raw": b"",
             "st": {"a": 2, "b": ""}, "arr": [], "txt": ""},
        ])
        ds.commit("edge rows")
        r0, r1 = ds[0], ds[1]
        assert r0.u8 == 255 and r1.u8 == 0
        assert r0.f16 == 0.5  # exactly representable in half precision
        assert r1.nullable_int is None
        assert bytes(r0.raw) == b"\x00\x01" and bytes(r1.raw) == b""
        assert r0.st.a == 1 and r1.st.b == ""
        assert list(r1.arr) == [] and r1.txt == ""
        # glob metachars must be escaped by the LIKE translator
        out = ds.query("SELECT _row_id WHERE txt LIKE 'has *'")
        assert [r._row_id for r in out.collect()] == [0]
        # four '?' match the four literal metachars * ? % _ — and the
        # translator must NOT treat % or _ as SQL wildcards
        lit = ds.query("SELECT _row_id WHERE txt LIKE 'has ???? metachars'")
        assert [r._row_id for r in lit.collect()] == [0]
        none = ds.query("SELECT _row_id WHERE txt LIKE 'has %'")  # % literal → no match
        assert none.count() == 0


def test_prepared_statement(spark, sf_dir):
    from deeplake_spark import tql
    from deeplake_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    q = tql.prepare("SELECT doc_id WHERE lang == ? AND n_chars > ?", default=d)
    en = q("en", 300)
    fr = q("fr", 100)
    assert en.count() == d.filter((F.col("lang") == "en") & (F.col("n_chars") > 300)).count()
    assert fr.count() == d.filter((F.col("lang") == "fr") & (F.col("n_chars") > 100)).count()
    batch = q.run_batch([("en", 300), ("fr", 100)])
    assert [b.count() for b in batch] == [en.count(), fr.count()]


def test_index_auto_refresh_on_commit(spark, sf_dir):
    from deeplake_spark import dataset as dl

    with tempfile.TemporaryDirectory() as d:
        ds = dl.from_parquet(f"{sf_dir}/documents.parquet", d + "/ds", spark)
        ds.create_index("text")
        before = ds.query("SELECT doc_id WHERE CONTAINS(text, 'zzznew')").count()
        assert before == 0
        new_id = int(ds._next_row_id())
        ds.append([{"_row_id": 0, "doc_id": new_id, "text": "zzznew token doc",
                    "lang": "en", "source": "srcX", "n_chars": 16}])
        ds.commit("add doc")  # IndexingMode automatic → index rebuilt
        after = ds.query("SELECT doc_id WHERE CONTAINS(text, 'zzznew')")
        assert [r.doc_id for r in after.collect()] == [new_id]


def test_group_across_time_runs(spark):
    """ACROSS TIME packs consecutive equal-key runs, not all equal keys."""
    from deeplake_spark import tql

    rows = [(i, k) for i, k in enumerate(["a", "a", "b", "b", "b", "a", "c", "c"])]
    df = spark.createDataFrame(rows, "_row_id: long, k: string")
    packed = tql.query("SELECT k, _row_id GROUP BY k ACROSS TIME", default=df)
    got = sorted(
        (r.k, [int(x) for x in r._row_id]) for r in packed.collect()
    )
    assert got == [("a", [0, 1]), ("a", [5]), ("b", [2, 3, 4]), ("c", [6, 7])]
    # plain GROUP BY merges the two 'a' runs
    plain = tql.query("SELECT k, _row_id GROUP BY k", default=df)
    gp = {r.k: [int(x) for x in r._row_id] for r in plain.collect()}
    assert gp["a"] == [0, 1, 5]


def test_transpose2d(spark):
    from deeplake_spark.functions.arrays import transpose2d

    df = spark.createDataFrame([([[1, 2, 3], [4, 5, 6]],)], "m: array<array<int>>")
    out = df.select(transpose2d(F.col("m")).alias("t")).head().t
    assert [list(r) for r in out] == [[1, 4], [2, 5], [3, 6]]
    # and via TQL
    from deeplake_spark import tql

    r = tql.query("SELECT TRANSPOSE(m) AS t", default=df).head().t
    assert [list(x) for x in r] == [[1, 4], [2, 5], [3, 6]]


def test_push_pull_refresh(spark):
    from deeplake_spark import dataset as dl
    from deeplake_spark import types as dtypes

    with tempfile.TemporaryDirectory() as d:
        src = dl.create(d + "/src", spark, schema={"x": dtypes.Generic("int64")})
        src.append([{"x": 1}, {"x": 2}])
        src.commit("two rows")
        src.push(d + "/dst")
        dst = dl.open(d + "/dst", spark)
        assert len(dst) == 2 and dst.version == src.version
        # more commits on src, pull into dst
        src.append([{"x": 3}])
        src.commit("third")
        dst = dst.pull(d + "/src")
        assert len(dst) == 3
        # refresh picks up another writer's state
        again = dl.open(d + "/dst", spark).refresh()
        assert again.version == src.version


def test_tql_explain(spark, sf_dir):
    from deeplake_spark import tql
    from deeplake_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    rep = tql.explain("SELECT doc_id WHERE n_chars > 300", default=d)
    assert any("n_chars" in p for p in rep.pushed_filters)


def test_split_sequences(spark):
    from deeplake_spark.operators.restructure import split_sequences

    df = spark.createDataFrame([(1, list(range(10))), (2, [1, 2, 3]), (3, [])],
                               "id: int, seq: array<int>")
    by_len = split_sequences(df, "seq", chunk_len=4)
    got = {(r.id, r.chunk_index): list(r.chunk) for r in by_len.collect()}
    assert got[(1, 0)] == [0, 1, 2, 3] and got[(1, 2)] == [8, 9]
    assert got[(2, 0)] == [1, 2, 3]
    assert not any(i == 3 for i, _ in got)  # empty seq → no rows
    by_n = split_sequences(df.filter(F.col("id") == 1), "seq", n_chunks=2)
    chunks = [list(r.chunk) for r in by_n.orderBy("chunk_index").collect()]
    assert chunks == [[0, 1, 2, 3, 4], [5, 6, 7, 8, 9]]


def test_column_metadata(spark):
    from deeplake_spark import dataset as dl
    from deeplake_spark import types as dtypes

    with tempfile.TemporaryDirectory() as d:
        ds = dl.create(d + "/ds", spark, schema={"lbl": dtypes.ClassLabel("int32")})
        ds.set_column_metadata("lbl", {"class_names": ["cat", "dog"]})
        assert ds.get_column_metadata("lbl")["class_names"] == ["cat", "dog"]
        again = dl.open(d + "/ds", spark)
        assert again.get_column_metadata("lbl")["class_names"] == ["cat", "dog"]


def test_tql_from_parquet_url(spark, sf_dir):
    from deeplake_spark import tql

    out = tql.query(
        f"SELECT r_name FROM '{sf_dir}/region.parquet' ORDER BY r_name", spark=spark
    )
    assert [r.r_name for r in out.collect()] == [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    ]


def test_types_module_reference_surface():
    """Every public name in the reference types.pyi (frozen in
    tests/reference_surface.py) resolves on our types module, and the
    constants carry engine-comparable values."""
    from tests.reference_surface import names

    from deeplake_spark import types as t

    missing = sorted(n for n in names("types") if not hasattr(t, n))
    assert missing == [], f"types surface missing: {missing}"

    # constants are the strings the engine's registries store
    assert t.BM25 == t.IndexType.BM25 == "bm25"
    assert t.Text(t.BM25).metadata["index_type"] == "bm25"
    assert t.EmbeddingIndex(t.ClusteredQuantized).type == "clustered_quantized"
    assert str(t.NumericIndex("range")) == "range"
    assert t.Float32().spark_type.typeName() == "float"
    assert t.UInt64().spark_type.typeName() == "long"
    assert t.Bool().spark_type.typeName() == "boolean"
    assert t.Bytes().spark_type.typeName() == "binary"
    assert t.Int32(index_type=t.Inverted).metadata["index_type"] == "inverted"
    assert t.TypeKind.Embedding == "embedding"
    assert t.DataType is t.Type

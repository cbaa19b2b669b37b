"""Crash injection for the side-table snapshot protocol: a kill after any
write step of an index or sketch save leaves a directory that loads
exactly the old state or exactly the new one, and a retry lands the new
state with nothing stray left behind.

Each save runs once with every write step recorded: every parquet write
(the staged tables), every file move and every metadata put. The side
table's directory is copied after each step, which is what a kill right
after that step leaves on disk. Every copy is then loaded and compared
with the states before and after the save."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA = "row_id long, text string, n long, emb array<float>"


def _rows(ids):
    return [(i, f"alpha w{i % 3}", i, [float(i % 2) - 0.5, 1.0, -1.0])
            for i in ids]


_OLD, _NEW, _DELTA = range(0, 6), range(10, 18), range(100, 104)


def _kmv():
    from deeplake_spark.operators import sketches as sk

    def save(spark, df, path, op):
        if op == "append":
            sk.append_kmv_delta(df, "n", path, k=64)
        else:
            sk.save_sketch(sk.kmv_sketch(df, "n", k=64), path)

    def oracle(loaded, rows):
        est = loaded.select(sk.kmv_estimate(F.col("sketch"), F.col("k"))
                            .alias("e")).head().e
        return est == len({r[2] for r in rows})

    return save, lambda spark, path, src: sk.load_sketch(spark, path), oracle


def _index(kind, column, oracle):
    from deeplake_spark.operators.indexes import INDEX_KINDS

    spec = INDEX_KINDS[kind]

    def save(spark, df, path, op):
        if op == "append":
            spec.append(spark, path, df, column, "row_id", {})
        else:
            spec.save(spec.build(df, column, "row_id", {}), path)

    return save, lambda spark, path, src: spec.load(spark, path, src), oracle


#: family -> () -> (save(spark, df, path, op), load(spark, path, source),
#: oracle(loaded, rows): whether a probe of the loaded state answers
#: exactly what the rows it indexes say)
_FAMILIES = {
    "inverted": lambda: _index(
        "inverted", "text", lambda ix, rows: sorted(
            r.row_id for r in ix.probe(["w1"]).collect())
        == [r[0] for r in rows if r[0] % 3 == 1]),
    "numeric": lambda: _index(
        "numeric", "n", lambda ix, rows: sorted(
            r.row_id for r in ix.probe_between(2, 102).collect())
        == [r[0] for r in rows if 2 <= r[2] <= 102]),
    "exact": lambda: _index(
        "exact", "text", lambda ix, rows: sorted(
            r.row_id for r in ix.probe("alpha w2").collect())
        == [r[0] for r in rows if r[0] % 3 == 2]),
    "clustered_quantized": lambda: _index(
        "clustered_quantized", "emb", lambda ix, rows: sorted(
            r.row_id for r in ix.bits.collect()) == [r[0] for r in rows]
        and ix.n_rows_est == len(rows)),
    "kmv": _kmv,
}


def _state(loaded) -> dict:
    """Everything a load serves: the rows of every frame (side tables
    and values collected from them) and every other field."""
    fields = ({"table": loaded} if isinstance(loaded, DataFrame)
              else vars(loaded))
    out = {}
    for name, value in fields.items():
        if isinstance(value, DataFrame):
            value = sorted(map(repr, value.collect()))
        out[name] = repr(value)
    return out


def _strays(path) -> list[str]:
    """Files under `path` that neither its newest nor its previous
    manifest lists, staged leftovers, and manifests beyond those two."""
    from deeplake_spark.storage import PosixMetadataStore, get_json

    log = sorted(os.listdir(os.path.join(path, "_log")))
    keep = set()
    for name in log[-2:]:
        man = get_json(os.path.join(path, "_log", name))
        for table, spec in man["tables"].items():
            keep |= {os.path.join(table, f) for f in spec["files"]}
    found = {os.path.join(table, f)
             for table in os.listdir(path) if not table.startswith("_")
             for f in PosixMetadataStore().files(os.path.join(path, table))}
    return (sorted(found - keep) + log[:-2]
            + [n for n in os.listdir(path) if n == "_staging"])


@pytest.mark.parametrize("op", ["overwrite", "append"])
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_kill_after_any_write_step_serves_old_or_new(
        spark, tmp_path, monkeypatch, family, op):
    import pyspark.sql.readwriter as rw

    from deeplake_spark import storage

    save, load, oracle = _FAMILIES[family]()
    frame = lambda ids: spark.createDataFrame(  # noqa: E731
        _rows(ids), _SCHEMA).coalesce(1)
    change = _DELTA if op == "append" else _NEW
    after = (list(_OLD) + list(_DELTA)) if op == "append" else list(_NEW)
    source = frame(after)
    path = str(tmp_path / "side")
    save(spark, frame(_OLD), path, "overwrite")
    old = load(spark, path, source)
    assert oracle(old, _rows(_OLD))
    old = _state(old)

    snaps: list[str] = []

    def recorded(real):
        def step(*args, **kwargs):
            out = real(*args, **kwargs)
            snap = str(tmp_path / f"snap{len(snaps):03d}")
            shutil.copytree(path, snap)
            snaps.append(snap)
            return out
        return step

    monkeypatch.setattr(rw.DataFrameWriter, "parquet",
                        recorded(rw.DataFrameWriter.parquet))
    for name in ("put_bytes", "rename"):
        real = getattr(storage.PosixMetadataStore, name, None)
        if real is not None:
            monkeypatch.setattr(storage.PosixMetadataStore, name,
                                recorded(real))
    save(spark, frame(change), path, op)
    monkeypatch.undo()
    new = load(spark, path, source)
    assert oracle(new, _rows(after))
    new = _state(new)
    assert new != old and snaps

    served = [_state(load(spark, s, source)) for s in snaps]
    for i, state in enumerate(served):
        assert state in (old, new), f"kill after write step {i + 1} " \
            f"of {len(snaps)} serves a state that is neither old nor new"
    assert served[0] == old and served[-1] == new

    # retry from a kill after the first step and from the last kill
    # before the save's final step; a retried append that already
    # landed would append twice, so only an overwrite retries that one
    retries = [0, len(snaps) - 2] + ([len(snaps) - 1]
                                     if op == "overwrite" else [])
    for i in retries:
        again = str(tmp_path / f"retry{i:03d}")
        shutil.copytree(snaps[i], again)
        save(spark, frame(change), again, op)
        assert _state(load(spark, again, source)) == new
        assert _strays(again) == []

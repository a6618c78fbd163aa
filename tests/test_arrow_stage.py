"""``session.arrow_stage`` is the one Python-stage mechanism.

- A source scan fails on any direct ``mapInPandas``/``applyInPandas``/
  ``mapInArrow``/``applyInArrow`` use in ``extractor/`` or the contract
  module outside the helper itself and ``temporal.cogroup_merge_asof``
  (whose entry is the ``pd.merge_asof`` path).
- The helper's task body, run in-process, empties the zipimporter cache
  before the first batch and skips empty batches.
- Python values come back from the helper as ``mapInPandas`` returns them.
"""

import ast
import datetime as dt
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
from pyspark.sql import types as T

from extractor import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGE_METHODS = {"mapInPandas", "applyInPandas", "mapInArrow", "applyInArrow"}
ALLOWED = {
    ("extractor/session.py", "arrow_stage"),
    ("extractor/ops/temporal.py", "cogroup_merge_asof"),
}


def _scanned_files():
    yield os.path.join(REPO, "__spark_entry__.py")
    for dirpath, _, files in os.walk(os.path.join(REPO, "extractor")):
        for fname in files:
            if fname.endswith(".py"):
                yield os.path.join(dirpath, fname)


def test_no_second_python_stage_mechanism():
    hits = []
    for path in _scanned_files():
        rel = os.path.relpath(path, REPO)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr in STAGE_METHODS
                    and (rel, getattr(top, "name", None)) not in ALLOWED
                ):
                    hits.append((rel, node.lineno, node.attr))
    assert hits == []


def test_task_forgets_zip_importers_before_first_batch(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_stage.py", "VALUE = 3\n")
    monkeypatch.syspath_prepend(str(archive))
    import zipmod_stage

    assert zipmod_stage.VALUE == 3
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    seen = []

    def body(batch):
        seen.append(
            any(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )
        )
        return (batch.column("x"),)

    schema = T.StructType([T.StructField("x", T.LongType())])
    batches = [
        pa.record_batch({"x": [1, 2]}),
        pa.record_batch({"x": pa.array([], pa.int64())}),
        pa.record_batch({"x": [3]}),
    ]
    out = list(session._arrow_task(body, schema)(batches))
    assert seen == [False, False]
    assert [b.column("x").to_pylist() for b in out] == [[1, 2], [3]]


def test_python_values_read_back_as_map_in_pandas(spark):
    """Python ``int``s for an ``int`` field and a naive UTC ``datetime``
    for a timestamp field: the helper's output equals ``mapInPandas``'s."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = dt.datetime(2024, 3, 1, 12, 30, 15, 250)

    def values(ids):
        return (
            ids,
            [i * 7 for i in ids],
            [base + dt.timedelta(hours=i) if i % 3 else None for i in ids],
        )

    def arrow_body(batch):
        return values(batch.column("id").to_pylist())

    def pandas_body(frames):
        for pdf in frames:
            ids, n, ts = values([int(i) for i in pdf["id"]])
            yield pd.DataFrame({"id": ids, "n": n, "ts": ts})

    frame = spark.range(10).repartition(3)
    got = sorted(session.arrow_stage(frame, arrow_body, schema).collect())
    want = sorted(frame.mapInPandas(pandas_body, schema).collect())
    assert len(got) == 10
    assert got == want

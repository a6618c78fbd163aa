"""SparkSession builder with the engine's scale-oriented defaults.

Local mode here is a stand-in for a multi-executor cluster; every knob is
chosen to survive a 1000-executor / 100 TB deployment:

- AQE on (runtime coalescing + skew-join splitting) — the safety net for the
  skewed conversation-length distribution.
- Arrow batch size 8192: measured sweet spot on this box (1024 costs 3-4x in
  per-batch overhead; 32k+ hurts memory locality).  For corpora with much
  longer texts (50 KB+ turns), lower it so batch bytes stay ~tens of MB —
  batch *bytes*, not rows, are what must stay bounded per core
  (SURVEY.md §4 "Arrow memory for long turns").
- shuffle partitions sized to cores in local mode; on a real cluster this is
  overridden per job (or left to AQE coalescing from a high initial value).
- driver memory high: local mode = driver-only; Arrow batches of text from
  32 concurrent tasks live on the JVM heap, and an undersized heap turns
  into GC thrash that *inverts* scaling (measured: 8g heap made local[32]
  2x slower than local[8]).
"""

from __future__ import annotations

import os
import sys
import zipimport

import pyarrow as pa
from pyspark.sql import DataFrame, GroupedData, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema

ARROW_BATCH_ROWS = 8192


def get_spark(
    master: str | None = None,
    app_name: str = "extraction-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N], local[*], local[N,F] and local[*,F]: threads before the
        # comma; a bare "local" runs one thread
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = "1" if master == "local" else n.split(",")[0]
        shuffle_partitions = cpus if n in ("", "*") else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def forget_zip_importers() -> None:
    """Drop every zipimporter from ``sys.path_importer_cache``.

    A Python worker runs ``importlib.invalidate_caches()`` before each task,
    and on Python 3.11 that makes every cached zipimporter re-read its
    archive's whole central directory: one per package imported from
    ``pyspark.zip`` and from the Spark jars on the path, 16 in all, which
    took 0.17-0.33 s per task on a 4-vCPU VM before the first row.  The
    cache is only a cache: an import that needs a dropped entry builds a
    new zipimporter, which takes the directory already held in
    ``zipimport._zip_directory_cache`` and reads nothing.  Workers are
    reused, so calling this at the start of each task spares every later
    task in the same worker the re-read.

    Trade-off: an archive rewritten in place while the worker lives is
    read with its old directory.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def _arrow_columns(columns, schema: T.StructType, arrow_schema: pa.Schema) -> list:
    """One Arrow array per field of *schema*, in field order, each with
    exactly the field's type in *arrow_schema*.

    A column that is already an Arrow array (chunked or not) is cast only
    when its type differs.  Any other column is a sequence of Python
    values; they go through the field's ``toInternal`` when its type needs
    it, so naive datetimes, nested structs and ``None`` mean what they mean
    in ``spark.createDataFrame(list)``.
    """
    arrays = []
    for values, field, arrow_field in zip(
        columns, schema.fields, arrow_schema, strict=True
    ):
        if isinstance(values, pa.ChunkedArray):
            values = values.combine_chunks()
        if isinstance(values, pa.Array):
            if values.type != arrow_field.type:
                values = values.cast(arrow_field.type)
        else:
            if field.dataType.needConversion():
                values = [field.dataType.toInternal(v) for v in values]
            values = pa.array(values, arrow_field.type)
        arrays.append(values)
    return arrays


def _arrow_task(body, schema: T.StructType):
    """The Python-worker side of ``arrow_stage``: an iterator function
    over input Arrow batches that yields one output batch per non-empty
    input batch."""
    arrow_schema = to_arrow_schema(schema)

    def task(batches):
        forget_zip_importers()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                _arrow_columns(body(batch), schema, arrow_schema),
                schema=arrow_schema,
            )

    return task


def arrow_stage(
    frame: DataFrame | GroupedData, body, schema: T.StructType | str
) -> DataFrame:
    """The Python stage of every kernel: *body* runs in the Python workers
    over Arrow data and returns its output as columns.

    Over a DataFrame this is ``mapInArrow``, and ``body(batch)`` is called
    once per non-empty input ``pa.RecordBatch``.  Over ``GroupedData`` it is
    ``applyInArrow``, and ``body(table)`` is called once per group with
    that group's rows as a ``pa.Table``.  Either way *body* returns one
    column per field of *schema* (a ``StructType`` or DDL string), in
    field order: an Arrow array or a sequence of Python values.

    Spark does not check a ``mapInArrow`` result against the declared
    schema; it reads each column with the accessor of the declared type.
    So every output column is built with exactly its field's Arrow type,
    by the same builder ``local_frame`` uses.  Each task first calls
    ``forget_zip_importers``, so the task after it skips the zip-directory
    re-read.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    task = _arrow_task(body, schema)
    if isinstance(frame, GroupedData):
        return frame.applyInArrow(
            lambda table: pa.Table.from_batches(task([table])), schema
        )
    return frame.mapInArrow(task, schema)


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A DataFrame of *rows* (tuples or ``Row`` objects, in *schema*'s field
    order) built on the driver as an Arrow table, so Spark holds it as a
    JVM-local relation with exactly *schema*.

    ``spark.createDataFrame(list, schema)`` turns the list into a
    ``PythonRDD``: every action on the frame starts Python worker tasks to
    unpickle the rows, 0.35-0.5 s per action at ``local[2]`` even for a few
    rows.  An Arrow table is handed to the JVM whole and scanned as a local
    table (a ``ParallelCollectionRDD``), with no Python worker behind it.
    """
    arrow_schema = to_arrow_schema(schema)
    columns = [[r[i] for r in rows] for i in range(len(schema.fields))]
    table = pa.Table.from_arrays(
        _arrow_columns(columns, schema, arrow_schema), schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)

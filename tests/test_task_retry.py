"""Task retry must not change results.

Each test runs a separate Spark process at ``local[2,2]`` (one retry per
task).  An identity ``mapInPandas`` placed in the stage under test raises
on the first attempt of partition 0, so Spark reruns that task: the
shuffle read, the stage's own work and the identity step.  A marker file
shows the attempt failed, and the collected rows must equal a clean
run's.  Stages covered: the ``hash_conv`` extraction kernel, the stage a
``fanout.fan_out_scan`` round-robin repartition feeds, and the bucketed
``cogroup_merge_asof`` stage.
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = r"""
import json, os, sys
from pyspark.sql import functions as F
from extractor.session import get_spark

marker_dir = sys.argv[1]
spark = get_spark(master="local[2,2]", app_name="retry", shuffle_partitions=2)


def fail_first_attempt(iterator):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(os.path.join(marker_dir, f"raised-stage{ctx.stageId()}"), "w").close()
        raise RuntimeError("injected first-attempt failure")
    yield from iterator


def inject(df):
    return df.mapInPandas(fail_first_attempt, df.schema)
"""

_EPILOGUE = r"""
clean = rows(False)
retried = rows(True)
spark.stop()
print(json.dumps({"clean": clean, "retried": retried}))
"""

_KERNEL = r"""
from extractor.pipeline import extract_transcripts
from extractor.transcripts import transcripts_df

df = transcripts_df(spark, n_convs=24, mean_turns=10, seed=42)


def rows(inject_failure):
    out = extract_transcripts(
        df, partition_mode="hash_conv", salt_threshold=5, salt_buckets=4,
        sort_output=False,
    )
    if inject_failure:
        out = inject(out)
    got = out.select("conv_id", "turn_idx", "extracted_text", "error").collect()
    return sorted((tuple(r) for r in got), key=lambda r: (r[0], r[1]))
"""

_FAN_OUT = r"""
from extractor.fanout import fan_out_scan
from extractor.plan_lint import formatted_plan

path = os.path.join(marker_dir, "docs")
spark.range(4000).select(
    "id", F.sha2(F.col("id").cast("string"), 256).alias("text")
).coalesce(1).write.parquet(path)


def rows(inject_failure):
    docs = spark.read.parquet(path)
    out = fan_out_scan(spark, docs, docs)  # one file, two cores: fires
    assert "RoundRobinPartitioning(2)" in formatted_plan(out)
    if inject_failure:
        out = inject(out)
    got = out.select("id", F.substring("text", 1, 12)).collect()
    return sorted(tuple(r) for r in got)
"""

_COGROUP = r"""
import datetime as dt

from extractor.ops.temporal import cogroup_merge_asof

sf_dir = os.path.join(marker_dir, "sf")
t0 = dt.datetime(2030, 1, 1)
events = [
    (i, t0 + dt.timedelta(seconds=i * 7919 % 3600), i % 40,
     "click" if i * 31 % 3 == 0 else "view")
    for i in range(600)
]
spark.createDataFrame(
    events, "event_id long, ts timestamp, user_id long, event_type string"
).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")


def rows(inject_failure):
    out = cogroup_merge_asof(spark, sf_dir)
    if inject_failure:
        out = inject(out)
    return sorted((tuple(r) for r in out.collect()), key=lambda r: r[1])
"""


def _clean_and_retried(script, tmp_path):
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=REPO,
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _PRELUDE + script + _EPILOGUE, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert [p.name for p in tmp_path.glob("raised-*")], "no attempt failed"
    assert result["clean"], "clean run produced no rows"
    return result


def test_kernel_stage_retry_gives_clean_result(tmp_path):
    result = _clean_and_retried(_KERNEL, tmp_path)
    assert result["retried"] == result["clean"]


def test_fan_out_stage_retry_gives_clean_result(tmp_path):
    result = _clean_and_retried(_FAN_OUT, tmp_path)
    assert result["retried"] == result["clean"]


def test_cogroup_asof_stage_retry_gives_clean_result(tmp_path):
    result = _clean_and_retried(_COGROUP, tmp_path)
    assert len(result["clean"]) == 200  # every click, matched or not
    assert result["retried"] == result["clean"]

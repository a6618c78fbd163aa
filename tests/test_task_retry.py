"""Task retry must not change extraction results.

A separate Spark process runs at ``local[2,2]`` (one retry per task).  An
identity ``mapInPandas`` placed after the ``hash_conv`` kernel, in the
kernel's own stage, raises on the first attempt of partition 0, so Spark
reruns that task: the shuffle read, the kernel and the identity step.  The
collected rows must equal a clean run's.
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, os, sys
from extractor.session import get_spark
from extractor.pipeline import extract_transcripts
from extractor.transcripts import transcripts_df

marker_dir = sys.argv[1]
spark = get_spark(master="local[2,2]", app_name="retry", shuffle_partitions=2)
df = transcripts_df(spark, n_convs=24, mean_turns=10, seed=42)


def fail_first_attempt(iterator):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(os.path.join(marker_dir, f"raised-stage{ctx.stageId()}"), "w").close()
        raise RuntimeError("injected first-attempt failure")
    yield from iterator


def rows(inject):
    out = extract_transcripts(
        df, partition_mode="hash_conv", salt_threshold=5, salt_buckets=4,
        num_partitions=4, sort_output=False,
    )
    if inject:
        out = out.mapInPandas(fail_first_attempt, out.schema)
    got = out.select("conv_id", "turn_idx", "extracted_text", "error").collect()
    return sorted((tuple(r) for r in got), key=lambda r: (r[0], r[1]))


clean = rows(False)
retried = rows(True)
spark.stop()
print(json.dumps({"clean": clean, "retried": retried}))
"""


def test_kernel_stage_retry_gives_clean_result(tmp_path):
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=REPO,
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert [p.name for p in tmp_path.glob("raised-*")], "no attempt failed"
    assert result["clean"], "clean run produced no rows"
    assert result["retried"] == result["clean"]

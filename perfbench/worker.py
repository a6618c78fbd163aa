"""One benchmark run inside one Spark session (started by perfbench/run.py).

    python -m perfbench.worker --workload extract_markup --seed 1 \
        --seconds 16 --trace 0 --size full --work-dir DIR --result FILE

Writes one JSON object to ``--result``: the end-to-end metrics measured
here (the parent adds ``peak_pss_mb``), the output-check counts and a
``detail`` record.  ``wall_s`` is the median wall of the workload's timed
unit: one ``map_only`` pass on ``extract_markup`` (whose ``turns_per_s`` is
then turns over that wall), the resume call on ``resume_skewed``.
``--trace 1`` runs the layer sweep instead of the workload (see
``layer_sweep``).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = 2  # half of a 4-core box: the spare cores absorb the JVM, GC and driver
MEAN_TURNS = 10
# resume_skewed: a fixed failing bucket takes its whole group (half of the
# buckets) down in the fault run; the resume reruns exactly that group
N_BUCKETS = 16
GROUPS_PER_ROUND = 2
FAIL_BUCKETS = frozenset({3})

SIZES = {
    # Inputs are small because every run pays ~8 s of session start and
    # 10-25 s of JVM warm-up, and a full set of runs must stay well inside
    # an hour.  extract_turns sit in 8192-row files: one Arrow batch per
    # file, the unit the kernel memo works over.  The traced sweep runs the
    # in-process kernel over the first kernel_turns of them (it must end
    # within the run's time limit) and sizes its query tables with sf.
    "full": dict(extract_turns=32768, extract_files=4, resume_turns=8192,
                 resume_files=2, kernel_turns=16384, sf=0.02),
    "smoke": dict(extract_turns=2048, extract_files=2, resume_turns=1024,
                  resume_files=2, kernel_turns=2048, sf=0.002),
}
SETUP_REPEATS = 3
# untraced/traced kernel pass pairs in the layer sweep: the tracing overhead
# is a few percent, below the spread of single passes
KERNEL_PAIRS = 2

DIGEST_COLS = (
    "conv_id", "turn_idx", "role", "tool", "ts", "extracted_text", "spans",
    "tables_count", "math_count", "images_count", "output_length", "error",
    "images", "bytes_in",
)


class Run:
    """Arguments and scratch space of one run."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = SIZES[args.size]
        self.work = args.work_dir

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p


# --- shared steps ---------------------------------------------------------


def start_session(run: Run):
    from extractor.session import get_spark

    return get_spark(
        master=f"local[{CORES}]",
        app_name=f"perfbench-{run.workload}",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": run.path("warehouse"),
        },
    )


def build_corpus(seed: int, n_turns: int, n_files: int, path: str) -> pa.Table:
    """Generated transcripts (Zipf conversation lengths), cut at *n_turns*
    and written as *n_files* equal parquet files."""
    from extractor.transcripts import generate_conversation

    rows: list[tuple] = []
    conv = 0
    while len(rows) < n_turns:
        rows.extend(generate_conversation(seed, conv, MEAN_TURNS))
        conv += 1
    cols = list(zip(*rows[:n_turns]))
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path)
    step = n_turns // n_files
    for i in range(n_files):
        stop = n_turns if i == n_files - 1 else (i + 1) * step
        pq.write_table(table.slice(i * step, stop - i * step), f"{path}/part-{i:03d}.parquet")
    return table


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def repeat_for(seconds: float, fn) -> list[float]:
    """Run *fn* once, then again while one more median-length run still
    ends inside the *seconds* window; returns each run's wall."""
    walls: list[float] = []
    start = time.perf_counter()
    while not walls or (
        time.perf_counter() - start + statistics.median(walls) <= seconds
    ):
        walls.append(timed(fn)[0])
    return walls


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup_builds(run: Run, build) -> tuple[float, object]:
    """Build the inputs SETUP_REPEATS times into fresh dirs; the median
    build time counts toward setup_s and the last build is used."""
    walls, out = [], None
    for i in range(SETUP_REPEATS):
        wall, out = timed(lambda: build(run.fresh(f"input{i}")))
        walls.append(wall)
    return statistics.median(walls), out


def golden_mismatches() -> tuple[int, int]:
    """Byte-exact replay of fixtures/golden_kernel.json through convert_text."""
    from extractor.fixtures import FIXTURE_CASES
    from extractor.kernel import convert_text

    with open(os.path.join(ROOT, "fixtures", "golden_kernel.json")) as f:
        golden = json.load(f)
    bad = sum(
        dataclasses.asdict(convert_text(FIXTURE_CASES[name])) != expected
        for name, expected in golden.items()
    )
    return len(golden), bad


# --- extract_markup -------------------------------------------------------


def extract_plan(df):
    from extractor.pipeline import extract_transcripts

    return extract_transcripts(df, partition_mode="map_only", sort_output=False)


def kernel_mismatches(table: pa.Table, got) -> int:
    """Turns whose Spark output differs from in-process convert_text."""
    from extractor.kernel import convert_text

    by_key = {
        (c, t): (x, e)
        for c, t, x, e in zip(got["conv_id"], got["turn_idx"], got["extracted_text"], got["error"])
    }
    bad = 0
    for c, t, text in zip(*(table.column(k).to_pylist() for k in ("conv_id", "turn_idx", "text"))):
        r = convert_text(text)
        x, e = by_key.get((c, int(t)), ("<missing>", "<missing>"))
        bad += (x if isinstance(x, str) else None) != r.extracted_text or (
            e if isinstance(e, str) else None
        ) != r.error
    return bad + abs(len(by_key) - table.num_rows)


def extract_markup(run: Run) -> dict:
    session_s, spark = timed(lambda: start_session(run))
    n, files = run.size["extract_turns"], run.size["extract_files"]
    corpus_s, table = setup_builds(run, lambda p: build_corpus(run.seed, n, files, p))
    df = spark.read.parquet(run.path(f"input{SETUP_REPEATS - 1}"))
    def warm_up():
        # the same plan twice; the first pass is collected for the output check
        got = extract_plan(df).select("conv_id", "turn_idx", "extracted_text", "error").toPandas()
        noop(extract_plan(df))
        return got

    warm_s, got = timed(warm_up)
    passes = repeat_for(run.seconds, lambda: noop(extract_plan(df)))
    wall = statistics.median(passes)
    n_golden, bad_golden = golden_mismatches()
    bad = kernel_mismatches(table, got)
    return {
        "metrics": {
            "setup_s": session_s + corpus_s + warm_s,
            "wall_s": wall,
            "turns_per_s": n / wall,
        },
        "attempted": n + n_golden,
        "failed": bad + bad_golden,
        "detail": {
            "turns": n, "pass_walls_s": passes,
            "session_s": session_s, "corpus_build_s": corpus_s, "warmup_s": warm_s,
            "golden_cases": n_golden, "golden_mismatches": bad_golden, "turn_mismatches": bad,
        },
    }


# --- resume_skewed --------------------------------------------------------


def fail_fixed_buckets(bucket: int) -> None:
    if bucket in FAIL_BUCKETS:
        raise RuntimeError(f"injected fault in bucket {bucket}")


def checkpoint_call(spark, df, out: str, ckpt: str, group: str, hook=None) -> tuple[float, dict, int]:
    """One run_with_checkpoint call in its own job group; returns its wall,
    summary and the number of Spark jobs it ran."""
    from extractor.checkpoint import run_with_checkpoint

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    wall, summary = timed(
        lambda: run_with_checkpoint(
            df, out, ckpt, n_buckets=N_BUCKETS, groups_per_round=GROUPS_PER_ROUND,
            max_retries=1, partition_mode="hash_conv", failure_hook=hook,
        )
    )
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup("perfbench", "perfbench")
    return wall, summary, jobs


def resume_cycle(run: Run, spark, df, tag: str) -> dict:
    out, ckpt = run.fresh(f"out-{tag}"), run.fresh(f"ckpt-{tag}")
    fault_s, fault, fault_jobs = checkpoint_call(spark, df, out, ckpt, f"fault-{tag}", fail_fixed_buckets)
    fault_end = time.time()
    resume_s, resume, resume_jobs = checkpoint_call(spark, df, out, ckpt, f"resume-{tag}")
    return {
        "out": out, "ckpt": ckpt, "fault_s": fault_s, "resume_s": resume_s, "fault_end": fault_end,
        "fault": fault, "resume": resume, "fault_jobs": fault_jobs, "resume_jobs": resume_jobs,
    }


def bucket_digests(df) -> dict[int, tuple[int, int]]:
    """Order-insensitive (turns, hash sum) per bucket."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum(F.xxhash64(*DIGEST_COLS).cast("decimal(38,0)")).alias("h"))
        .collect()
    )
    return {r["bucket"]: (r["n"], int(r["h"])) for r in rows}


def resume_mismatches(spark, df, cycle: dict) -> int:
    """Buckets that are not COMPLETED or whose resumed output differs from
    a clean extract_transcripts run over the same input."""
    from extractor.checkpoint import job_status, with_bucket

    done = {
        r["bucket"] for r in job_status(spark, cycle["ckpt"]).collect() if r["status"] == "completed"
    }
    resumed = bucket_digests(spark.read.parquet(cycle["out"]))
    clean = bucket_digests(with_bucket(extract_plan(df), N_BUCKETS))
    bad = sum(
        b not in done or resumed.get(b) != clean.get(b) for b in range(N_BUCKETS)
    )
    ok_status = (
        cycle["fault"]["status"] == "FAILED"
        and cycle["resume"]["status"] == "COMPLETED"
        and cycle["resume"]["buckets_failed"] == 0
    )
    return bad if ok_status else N_BUCKETS


def resume_skewed(run: Run) -> dict:
    session_s, spark = timed(lambda: start_session(run))
    n, files = run.size["resume_turns"], run.size["resume_files"]
    corpus_s, _ = setup_builds(run, lambda p: build_corpus(run.seed, n, files, p))
    df = spark.read.parquet(run.path(f"input{SETUP_REPEATS - 1}"))
    # warm-up: one fault run and resume on the same plan.  Its cost is the
    # first run of each of its ~30 Spark jobs, hardly the corpus: the same
    # cycle over an eighth of the turns took as long.
    warm_s, _ = timed(lambda: resume_cycle(run, spark, df, "warm"))
    cycles: list[dict] = []

    def one_cycle():
        cycles.append(resume_cycle(run, spark, df, str(len(cycles))))

    repeat_for(run.seconds, one_cycle)
    resume_wall = statistics.median(c["resume_s"] for c in cycles)
    cycle_wall = statistics.median(c["fault_s"] + c["resume_s"] for c in cycles)
    bad = resume_mismatches(spark, df, cycles[-1])
    return {
        "metrics": {
            "setup_s": session_s + corpus_s + warm_s,
            "wall_s": resume_wall,
            "turns_per_s": n / cycle_wall,
        },
        "attempted": N_BUCKETS,
        "failed": bad,
        "detail": {
            "turns": n,
            "fault_walls_s": [c["fault_s"] for c in cycles],
            "resume_walls_s": [c["resume_s"] for c in cycles],
            "resume_summary": cycles[-1]["resume"], "fault_jobs": cycles[-1]["fault_jobs"],
            "resume_jobs": cycles[-1]["resume_jobs"], "session_s": session_s,
            "corpus_build_s": corpus_s, "warmup_s": warm_s, "bucket_mismatches": bad,
        },
    }


# --- headline queries -----------------------------------------------------


def headline():
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import bench
    import driver_sim
    import __spark_entry__ as entry

    return bench.HEADLINE, entry.queries(), entry.oracle_sql(), driver_sim


def query_mismatches(sf_dir: str, results: dict, oracles: dict, driver_sim) -> int:
    """Queries that raised, or whose collected rows differ from the DuckDB
    oracle (canonical rows, as the contract check does); rows-only entries
    only have to run."""
    con = driver_sim.duckdb_conn(sf_dir)
    bad = 0
    for name, pdf in results.items():
        if pdf is None or name not in oracles:
            bad += pdf is None
            continue
        want = con.execute(oracles[name]).df()
        bad += sorted(pdf.columns) != sorted(want.columns) or (
            driver_sim.canon_rows(pdf) != driver_sim.canon_rows(want)
        )
    con.close()
    return bad


# --- traced layer sweep ---------------------------------------------------


def kernel_layers(tracer, table: pa.Table) -> tuple[dict, int]:
    """One core, in process: convert_batch over the corpus in 8192-row
    batches, once untimed, then KERNEL_PAIRS times untraced and traced in
    turn; speeds are medians and layer times are per traced pass.  Returns
    metrics and mismatching turns."""
    import pandas as pd

    from extractor import kernel
    from extractor.session import ARROW_BATCH_ROWS

    texts = table.column("text").to_pylist()
    batches = [
        pd.Series(texts[i : i + ARROW_BATCH_ROWS], dtype=object)
        for i in range(0, len(texts), ARROW_BATCH_ROWS)
    ]
    run_all = lambda: [kernel.convert_batch(b) for b in batches]  # noqa: E731
    layers = (
        ("parse_html", "dom.parse_html"),
        ("_extract_special_elements", "kernel.extract_special_elements"),
        ("linearize", "linearize.linearize"),
        ("_restore_special_elements", "kernel.restore_special_elements"),
        ("clean_markdown", "kernel.clean_markdown"),
        ("_compute_spans", "kernel.compute_spans"),
    )

    def traced_pass():
        tracer.wrap(kernel, "convert_text", "kernel.convert_text")
        for attr, name in layers:
            tracer.wrap(kernel, attr, name)
        try:
            return timed(run_all)
        finally:
            tracer.restore()

    run_all()  # warm-up
    plain_walls, traced_walls, bad = [], [], 0
    for _ in range(KERNEL_PAIRS):
        plain_s, plain = timed(run_all)
        traced_s, traced = traced_pass()
        plain_walls.append(plain_s)
        traced_walls.append(traced_s)
        bad += sum(not a.equals(b) for a, b in zip(plain, traced))
    plain_s = statistics.median(plain_walls)
    calls = tracer.calls("kernel.convert_text")
    metrics = {
        "kernel.turns_per_s_one_core": len(texts) / plain_s,
        # a call that entered none of the traced DOM layers took a short cut
        # (the plain-prose fast path, or a null or oversized input)
        "kernel.fast_path_share": tracer.leaf_calls("kernel.convert_text") / calls,
        "kernel.memo_hit_share": 1.0 - calls / (len(texts) * KERNEL_PAIRS),
        "trace.overhead_share": statistics.median(traced_walls) / plain_s - 1.0,
    }
    for _, name in layers:
        metrics[f"{name}_s"] = tracer.total(name) / KERNEL_PAIRS
    return metrics, bad


def pipeline_layers(tracer, spark, df) -> dict:
    """The extraction plan on 2 slots, each step once untimed and then
    timed: a manifest pass (whose per-partition kernel seconds and wall
    give the busy share), the bare scan through an identity mapInPandas,
    and the salted pre-pass of hash_conv mode."""
    from extractor.pipeline import lineage_manifest, salted_partition_key

    slim = df.select("conv_id", "turn_idx", "role", "tool", "ts", "text")
    steps = (
        ("pipeline.extract", lambda: lineage_manifest(extract_plan(df)).collect()),
        ("pipeline.scan_boundary", lambda: noop(slim.mapInPandas(lambda it: it, slim.schema))),
        ("pipeline.salt_prepass",
         lambda: noop(salted_partition_key(slim, 500, 8).repartition(CORES * 2, "part_key"))),
    )
    for name, step in steps:
        step()
        with tracer.span(name):
            out = step()
        if name == "pipeline.extract":
            manifest = out
    secs = [r["kernel_secs"] for r in manifest]
    busy = sum(secs)
    return {
        "pipeline.scan_boundary_s": tracer.total("pipeline.scan_boundary"),
        "pipeline.kernel_busy_s": busy,
        "pipeline.partition_skew": max(secs) / (busy / len(secs)),
        "pipeline.slot_busy_share": busy / (tracer.total("pipeline.extract") * CORES),
        "pipeline.salt_prepass_s": tracer.total("pipeline.salt_prepass"),
    }


def checkpoint_layers(tracer, run: Run, spark, df) -> tuple[dict, int]:
    """A fault run once untimed, then a fault run and resume timed, with
    the status read and the sink's output size.  (A whole untimed cycle
    would take the sweep past its time limit; only the fault run and the
    status read are timed here.)"""
    from extractor.checkpoint import job_status

    out, ckpt = run.fresh("out-traced-warm"), run.fresh("ckpt-traced-warm")
    checkpoint_call(spark, df, out, ckpt, "fault-traced-warm", fail_fixed_buckets)
    with tracer.span("checkpoint.cycle"):
        cycle = resume_cycle(run, spark, df, "traced")
    with tracer.span("checkpoint.job_status"):
        job_status(spark, cycle["ckpt"]).collect()
    resume = cycle["resume"]
    sink_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(cycle["out"])
        for f in fs
        if f.endswith(".parquet")
    )
    ok = cycle["fault"]["status"] == "FAILED" and resume["status"] == "COMPLETED"
    return {
        "checkpoint.fault_run_s": cycle["fault_s"],
        "checkpoint.resume_buckets": N_BUCKETS - resume["buckets_already_completed"],
        "checkpoint.rework_turns": rework_turns(spark, cycle),
        "checkpoint.spark_jobs": cycle["resume_jobs"],
        "checkpoint.job_status_s": tracer.total("checkpoint.job_status"),
        "sink.bytes_written": sink_bytes,
    }, int(not ok)


def rework_turns(spark, cycle: dict) -> int:
    """Turns committed by the resume call (status rows recorded after the
    fault run returned)."""
    from pyspark.sql import functions as F

    status = spark.read.parquet(f"{cycle['ckpt']}/status")
    done = status.where((F.col("status") == "completed") & (F.col("recorded_at") > cycle["fault_end"]))
    return done.agg(F.sum("turns")).first()[0] or 0


def query_layers(tracer, run: Run, spark) -> tuple[dict, int]:
    """Each headline query once untimed, then once timed and collected
    (results are small) for the check against its oracle."""
    from perfbench.tables import generate_tables, write_tables

    names, queries, oracles, driver_sim = headline()
    sf_dir = run.fresh("tables")
    write_tables(generate_tables(run.seed, run.size["sf"]), sf_dir)
    results = {}
    for n in names:
        try:
            queries[n](spark, sf_dir).toPandas()
            with tracer.span(f"query.{n}"):
                results[n] = queries[n](spark, sf_dir).toPandas()
        except Exception:  # noqa: BLE001 - a failing query is counted, the sweep goes on
            results[n] = None
    bad = query_mismatches(sf_dir, results, oracles, driver_sim)
    return {f"query.{n}_s": tracer.total(f"query.{n}") for n in names}, bad


def layer_sweep(run: Run) -> dict:
    """Every layer, timed from the benchmark's side of each module boundary:
    session, transcript generation, the kernel layers on one core, the Spark
    pipeline, checkpoint/resume and its sink, then the headline queries.
    Past set-up, each step runs once untimed before its timed run.  The
    sweep is the same for every workload; the seed picks the inputs."""
    from extractor import session, transcripts

    from perfbench.tracing import Tracer

    tracer = Tracer()
    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(transcripts, "generate_conversation", "transcripts.generate_conversation")
    try:
        spark = start_session(run)
        table = build_corpus(run.seed, run.size["extract_turns"], run.size["extract_files"], run.fresh("corpus"))
        small = build_corpus(run.seed, run.size["resume_turns"], run.size["resume_files"], run.fresh("resume"))
    finally:
        tracer.restore()
    metrics = {
        "session.get_spark_s": tracer.total("session.get_spark"),
        "transcripts.generate_s": tracer.total("transcripts.generate_conversation"),
    }
    kernel_table = table.slice(0, run.size["kernel_turns"])
    kernel_metrics, bad_kernel = kernel_layers(tracer, kernel_table)
    metrics.update(kernel_metrics)
    metrics.update(pipeline_layers(tracer, spark, spark.read.parquet(run.path("corpus"))))
    ckpt_metrics, bad_ckpt = checkpoint_layers(tracer, run, spark, spark.read.parquet(run.path("resume")))
    metrics.update(ckpt_metrics)
    query_metrics, bad_queries = query_layers(tracer, run, spark)
    metrics.update(query_metrics)
    n_golden, bad_golden = golden_mismatches()
    tracer.write(os.path.join(os.path.dirname(run.work), f"trace-{run.workload}-seed{run.seed}.json.gz"))
    return {
        "metrics": metrics,
        "attempted": n_golden + kernel_table.num_rows + 1 + len(query_metrics),
        "failed": bad_golden + bad_kernel + bad_ckpt + bad_queries,
        "detail": {
            "corpus_turns": table.num_rows, "kernel_turns": kernel_table.num_rows,
            "resume_turns": small.num_rows, "spans": len(tracer.spans),
        },
    }


WORKLOADS = {
    "extract_markup": extract_markup,
    "resume_skewed": resume_skewed,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    run = Run(args)
    result = layer_sweep(run) if args.trace else WORKLOADS[args.workload](run)
    import pyspark
    from pyspark.sql import SparkSession

    result["versions"] = {"spark": pyspark.__version__, "pyarrow": pa.__version__}
    result["cores"] = CORES
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

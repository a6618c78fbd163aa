#!/usr/bin/env python
"""Same-process A/B of the extraction kernel against a git ref:

    python scripts/kernel_ab.py --ref HEAD~1            # benchmark seed 1
    python scripts/kernel_ab.py --ref main --seed 20261017

Exports ``extractor/`` at ``--ref`` with ``git archive`` into a temp dir,
imports it as the package ``extractor_ref``, and times
``kernel.convert_batch`` of the ref and of the working tree on the
benchmark's ``extract_markup`` corpus (32,768 generated turns in
8192-row batches), alternating the two batch by batch in one process on
one core.  Both sides get the same batch; every pair of outputs must be
equal, a ref whose kernel returns a pandas frame being compared after
conversion to a record batch of ``kernel.KERNEL_SCHEMA`` (outside the
timing).  Prints the median, min and max of the per-batch ratio ref time
/ working-tree time (above 1 means the working tree is faster).

Why one process: the same kernel code measured 1.75-2.96 s of CPU per
corpus across separate processes on one 4-vCPU VM, far more than a
kernel change moves it; alternating batches inside one process puts both
sides under the same host load, so only their ratio is reported.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import io
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
ROUNDS = 5  # timed passes over the corpus: 20 batch pairs


def import_ref(ref: str, dest: str):
    """``extractor/`` at *ref*, imported as package ``extractor_ref``."""
    blob = subprocess.run(
        ["git", "-C", REPO, "archive", ref, "extractor"],
        check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest)
    pkg = os.path.join(dest, "extractor")
    spec = importlib.util.spec_from_file_location(
        "extractor_ref", os.path.join(pkg, "__init__.py"),
        submodule_search_locations=[pkg],
    )
    module = importlib.util.module_from_spec(spec)
    sys.modules["extractor_ref"] = module
    spec.loader.exec_module(module)
    return importlib.import_module("extractor_ref.kernel")


def corpus_batches(seed: int) -> list:
    """The benchmark's extract_markup turns, cut into Arrow-batch-sized
    Series, which every version of ``convert_batch`` accepts."""
    import pandas as pd

    from extractor.session import ARROW_BATCH_ROWS
    from extractor.transcripts import generate_conversation
    from perfbench.worker import MEAN_TURNS, SIZES

    n_turns = SIZES["full"]["extract_turns"]
    texts: list = []
    conv = 0
    while len(texts) < n_turns:
        texts.extend(row[3] for row in generate_conversation(seed, conv, MEAN_TURNS))
        conv += 1
    texts = texts[:n_turns]
    return [
        pd.Series(texts[i : i + ARROW_BATCH_ROWS], dtype=object)
        for i in range(0, n_turns, ARROW_BATCH_ROWS)
    ]


def timed(fn, batch):
    t0 = time.perf_counter()
    out = fn(batch)
    return time.perf_counter() - t0, out


def as_record_batch(out, schema):
    """*out* as a record batch: older kernels return a pandas frame."""
    import pyarrow as pa

    if isinstance(out, pa.RecordBatch):
        return out
    return pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", required=True, help="git ref to compare against")
    ap.add_argument("--seed", type=int, default=1, help="corpus seed (default 1)")
    args = ap.parse_args()

    from extractor import kernel

    with tempfile.TemporaryDirectory() as tmp:
        ref_kernel = import_ref(args.ref, tmp)
        batches = corpus_batches(args.seed)
        sides = (ref_kernel.convert_batch, kernel.convert_batch)
        for batch in batches:  # warm-up
            for fn in sides:
                fn(batch)
        ratios = []
        for r in range(ROUNDS):
            for i, batch in enumerate(batches):
                # the side that runs first alternates from pair to pair
                first = (r + i) % 2
                times, outs = [0.0, 0.0], [None, None]
                for side in (first, 1 - first):
                    times[side], outs[side] = timed(sides[side], batch)
                ref_out, out = (as_record_batch(o, kernel.KERNEL_SCHEMA) for o in outs)
                assert ref_out.equals(out), f"output differs from {args.ref}"
                ratios.append(times[0] / times[1])
    print(
        f"ref={args.ref} seed={args.seed} pairs={len(ratios)} "
        f"median={statistics.median(ratios):.3f} "
        f"min={min(ratios):.3f} max={max(ratios):.3f}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

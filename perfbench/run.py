"""kgt benchmark: seeded knowledge-graph workloads, end-to-end and per layer.

    python3 perfbench/run.py --workload build-kg --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads:

  build-kg        transcripts needing the full Turtle grammar plus regular
                  N-Triples+pnames ones, naming dictionary entities (some
                  misspelled); build_graph --link
  stream-neardup  a corpus with planted near-duplicates, replayed through
                  streaming_near_dup one file per micro-batch

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run, which also runs a kill-resume (and,
for build-kg, a Turtle export). The last stdout line is one JSON
object with keys correct, attempted, failed and metrics. Inputs are
generated from the seed (cached under perfbench/.work/inputs/) and the
outputs are checked: any mismatch counts as a failed operation. Each
run writes to a new directory under perfbench/.work/runs/, deleted at
the end unless an operation failed; a traced run's spans go to
perfbench/.work/spans/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SIZES = {
    "build-kg": {"n_turns": 12_000, "n_entities": 15_000, "miss_frac": 0.1, "regular_frac": 0.3},
    "stream-neardup": {"n_docs": 1_200, "n_files": 3},
}
SETUPS = 2

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "records/s",
}
PER_LAYER = {
    "turtle.parse_docs_per_s": "docs/s",
    "turtle.parse_stmts_per_s": "stmts/s",
    "turtle.serialize_convs_per_s": "convs/s",
    "parse.reassemble_s": "s",
    "parse.parse_documents_s": "s",
    "parse.rows_out": "count",
    "parse.non_kernel_frac": "ratio",
    "fastpath.parse_s": "s",
    "fastpath.routed_frac": "ratio",
    "lineage.stage_input_s": "s",
    "lineage.run_extraction_s": "s",
    "lineage.extract_overhead_s": "s",
    "lineage.resume_extraction_s": "s",
    "lineage.jobs": "count",
    "lineage.stages": "count",
    "lineage.tasks": "count",
    "link.exact_s": "s",
    "link.fuzzy_s": "s",
    "link.fuzzy_jobs": "count",
    "link.fuzzy_stages": "count",
    "link.fuzzy_tasks": "count",
    "link.unlinked_frac": "ratio",
    "write.materialize_s": "s",
    "write.materialize_jobs": "count",
    "write.files": "count",
    "write.bytes_per_triple": "B",
    "write.pretty_turtle_s": "s",
    "write.streaming_turtle_s": "s",
    "dedup.signatures_s": "s",
    "streaming.data_batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.stop_s": "s",
    "streaming.emit_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
    "export_convs_per_s": "convs/s",
    "link_recall": "ratio",
    "link_precision": "ratio",
    "peak_rss_mb": "MB",
    "cold_s": "s",
    "resume_s": "s",
}


def result(measured: dict, trace: bool, attempted: int, failed: int) -> dict:
    """The result object. Every declared metric of the mode is present;
    a per-layer metric of a layer this workload does not call reads 0."""
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be present: fail before any work
    sys.path.insert(0, ROOT)
    import kgt.spark.session  # noqa: F401
    import workloads

    import env
    import gen

    t_start = time.perf_counter()
    host = env.host()
    conf = env.pin(host, WORK)
    inputs, summary = gen.generate(
        args.workload, os.path.join(WORK, "inputs"), args.seed, **SIZES[args.workload]
    )
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-"
    run_dir = tempfile.mkdtemp(prefix=name, dir=os.path.join(WORK, "runs"))

    phases = {"inputs": time.perf_counter() - t_start}
    measured: dict = {}
    with env.PeakRss() as rss:
        t0 = time.perf_counter()
        spark, setups, launches = env.set_up(host["cpus"], conf, 1 if args.trace else SETUPS)
        phases["set_up"] = time.perf_counter() - t0
        bench = workloads.Bench(
            spark, ROOT, run_dir, inputs, summary, args.seed, args.seconds, host["cpus"], args.trace
        )
        try:
            measured.update(workloads.run_workload(bench, args.workload))
        except Exception:
            bench.attempted += 1
            bench.failed += 1
            bench.problems.append(traceback.format_exc())
        t0 = time.perf_counter()
        phases["workload"] = t0 - t_start - sum(phases.values())
        env.shut_down(spark)
        phases["shut_down"] = time.perf_counter() - t0
    measured["setup_s"] = statistics.median(setups)
    measured["peak_rss_mb"] = rss.peak_mb

    for p in bench.problems:
        print(f"PROBLEM {p}", file=sys.stderr)
    info = {"workload": args.workload, "seed": args.seed, "inputs": summary, "host": host}
    info.update(setup_samples_s=setups, get_spark_samples_s=launches, **bench.info)
    if bench.tracer:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        path = os.path.join(WORK, "spans", os.path.basename(run_dir) + ".json")
        bench.tracer.dump(path)
        info["spans"] = os.path.relpath(path, ROOT)
    info["failed_frac"] = bench.failed / max(bench.attempted, 1)
    info["peak_rss_mb"] = rss.peak_mb
    info["phase_s"] = phases
    if bench.failed:
        info["outputs"] = os.path.relpath(run_dir, ROOT)
    print("info " + json.dumps(info, default=str))
    print(json.dumps(result(measured, bool(args.trace), bench.attempted, bench.failed)), flush=True)
    # outputs of a correct run are deleted, and the deletion written
    # back before the process ends, so that it does not stall the next
    # run; a failed run's outputs are kept for inspection
    if not bench.failed:
        t0 = time.perf_counter()
        shutil.rmtree(run_dir)
        os.sync()
        print(f"deleted the outputs in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())

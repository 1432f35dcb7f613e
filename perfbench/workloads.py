"""The workloads, driven through kgt's public entry points only:
``jobs/build_graph.py`` ``main(argv, stop_session=False)`` and ``kgt.*``.

One client, one job at a time (a closed loop). Every timed operation
is counted in ``Bench.attempted``; it fails if it raises or its output
check fails.

Untraced runs (``--trace 0``) give the end-to-end metrics. Traced runs
(``--trace 1``) repeat the build (or the stream replay) with a span
and a job group around each public layer call it makes, time each
layer's public call on its own, read job counts from ``statusTracker``, and run the
kill-resume and the Turtle export with their checks.
"""

from __future__ import annotations

import contextlib
import importlib
import importlib.util
import inspect
import io
import os
import random
import shutil
import statistics
import time
import traceback

import checks
import env
from spans import Tracer, duration, total_by_name

TURTLE_SAMPLE = 1500
WARM_MIN = 2  # warm samples of one untraced run, at least
# public layer calls the traced build wraps in a span and a job group;
# jobs/build_graph.py main() imports them inside its body, so it calls
# the wrappers
TRACED_CALLS = {
    "kgt.spark.lineage": ("stage_input", "run_extraction"),
    "kgt.spark.link": (
        "build_iri_dictionary", "detect_mentions", "link_mentions", "fuzzy_link",
        "mentions_to_triples",
    ),
    "kgt.spark.write": ("materialize_triples",),
}


def load_build_graph(root: str):
    spec = importlib.util.spec_from_file_location(
        "build_graph", os.path.join(root, "jobs", "build_graph.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """Shared state of one run: session, work dir, counters, tracer."""

    def __init__(self, spark, root, work, inputs, summary, seed, seconds, cpus, trace):
        self.spark = spark
        self.root = root
        self.work = work
        self.inputs = inputs
        self.summary = summary
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.tracer = Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}
        self.build_graph = load_build_graph(root)

    def path(self, name: str) -> str:
        """A new output path under this run's directory."""
        p = os.path.join(self.work, name)
        if os.path.exists(p):
            raise FileExistsError(p)
        return p

    def op(self, name: str, fn, check=None, output: str | None = None) -> float | None:
        """Time ``fn()``; then run ``check(result)`` (untimed), which
        returns a list of problems. Returns seconds, or None on failure.

        ``output``, the directory ``fn`` wrote, is deleted as soon as its
        check passed: files deleted before the kernel writes them back
        (30 s after they were written) never reach the disk, so they cost
        no writeback, and no discard of their freed blocks, during a later
        operation. A failed operation's output is kept."""
        self.attempted += 1
        cpu0 = env.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{name} raised:\n{traceback.format_exc()}")
            return None
        secs = time.perf_counter() - t0
        cpu = env.tree_cpu_s(os.getpid()) - cpu0
        self.info.setdefault("op_s", []).append((name, round(secs, 3), round(cpu, 2)))
        try:
            problems = check(result) if check else []
        except Exception:
            problems = [f"check raised:\n{traceback.format_exc()}"]
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)
        elif output is not None:
            shutil.rmtree(output)
        return secs

    def warm(self, sample) -> list:
        """Seconds of ``sample(i)`` for i = 1, 2, ...: WARM_MIN samples,
        then more while the next would still end (judged by the last)
        within ``seconds`` of the first's start."""
        secs: list = []
        t0 = time.perf_counter()
        while len(secs) < WARM_MIN or (
            secs[-1] and time.perf_counter() - t0 + secs[-1] <= self.seconds
        ):
            secs.append(sample(len(secs) + 1))
        return secs

    def rate(self, n: int, warm: list, name: str) -> dict:
        """``records_per_s`` (``name`` in ``info``): n ÷ the fastest warm
        sample. The JIT is
        still compiling through the first warm sample (it takes a third
        more CPU time than the next), and load on the shared host only
        ever adds time, so the fastest sample is the steadiest estimate
        of a warm build."""
        rate = per_s(n, min((x for x in warm if x), default=None))
        self.info.update({name: rate, "warm_s": warm})
        return {"records_per_s": rate}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def job_counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def group(self, name: str) -> str:
        """Job group name, distinct per trace so runs do not mix."""
        return f"{name}-{self.tracer.trace_id if self.tracer else 0}"

    @contextlib.contextmanager
    def job_group(self, group: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def traced_layers(self):
        """While open, every call in TRACED_CALLS runs inside a span and
        a job group of its own name (restored afterwards)."""
        with contextlib.ExitStack() as stack:
            for module, names in TRACED_CALLS.items():
                mod = importlib.import_module(module)
                for name in names:
                    stack.enter_context(
                        patched(mod, name, self._traced(f"{module.split('.')[-1]}.{name}"))
                    )
            yield

    def _traced(self, span_name: str):
        def wrap(fn):
            def call(*args, **kwargs):
                sc = self.spark.sparkContext
                outer = sc.getLocalProperty("spark.jobGroup.id")
                with self.span(span_name):
                    sc.setJobGroup(self.group(span_name), span_name)
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        sc.setLocalProperty("spark.jobGroup.id", outer)

            return call

        return wrap


@contextlib.contextmanager
def patched(module, name: str, wrap):
    """Replace ``module.name`` by ``wrap(original)`` while open."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def inject_failure(run_extraction):
    """``run_extraction`` that fails after the outputs of its middle
    batch (of the chunking it is called with), before that batch's
    lineage: the batches before it are committed, the rest are not."""
    sig = inspect.signature(run_extraction)

    def call(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        n, per = bound.arguments["n_chunks"], bound.arguments["batch_chunks"]
        bound.arguments["fail_on_chunk"] = (-(-n // per) // 2) * per
        return run_extraction(*bound.args, **bound.kwargs)

    return call


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def per_s(n: float, secs: float | None) -> float:
    """n ÷ secs, 0 when there is no measurement."""
    return n / secs if secs else 0.0


# ---------------------------------------------------------------------
# build-kg
# ---------------------------------------------------------------------


# chunking and bucketing sized to the ~12k-turn input, as a user would
# size them (the defaults suit millions of turns): two extraction
# batches, so a kill in the middle batch leaves one committed
BUILD_OPTIONS = ["--chunks", "8", "--batch-chunks", "4", "--n-buckets", "8"]


class Build:
    def __init__(self, b: Bench):
        self.b = b
        self.transcripts = os.path.join(b.inputs, "transcripts")
        self.turns = b.summary["turns"]
        self.args = [
            "--input", self.transcripts, "--cpus", str(b.cpus), "--run-id", "bench",
            "--link", "--dict", os.path.join(b.inputs, "dict.parquet"), *BUILD_OPTIONS,
        ]
        self.reference = None  # full-row digest of the first checked graph

    def main(self, out: str, *extra: str) -> None:
        # main() prints the lineage metrics table; keep stdout for results
        with contextlib.redirect_stdout(io.StringIO()):
            self.b.build_graph.main(self.args + ["--output", out, *extra], stop_session=False)

    def traced_main(self, span: str, out: str, *extra: str) -> None:
        """``main`` in a root span, with its layer calls traced."""
        with self.b.traced_layers(), self.b.span(span):
            self.main(out, *extra)

    def check_fresh(self, out: str) -> list[str]:
        graph = os.path.join(out, "graph")
        problems = checks.check_triples(graph, os.path.join(self.b.inputs, "expected_triples.parquet"))
        recall, precision, link_problems = checks.score_links(
            graph, os.path.join(self.b.inputs, "mentions.parquet")
        )
        self.b.info.update(link_recall=recall, link_precision=precision)
        problems += link_problems
        self.reference = checks.graph_digest(graph)
        return problems

    def check_same(self, out: str) -> list[str]:
        got = checks.graph_digest(os.path.join(out, "graph"))
        if self.reference is None or got == self.reference:
            return []
        return [f"graph {got} differs from the first build's {self.reference}"]

    def build(self, name: str, check, keep: bool = False) -> float | None:
        out = self.b.path(name)
        return self.b.op(name, lambda: self.main(out), lambda _: check(out), None if keep else out)

    def kill(self, out: str) -> None:
        """``build_graph`` with a failure injected into the extraction's
        middle batch: the batches before it have lineage, the rest not."""
        from kgt.spark import lineage

        with patched(lineage, "run_extraction", inject_failure):
            try:
                self.main(out)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the injected extraction failure did not fire")

    def resume(self) -> float | None:
        """Kill a build, then time ``build_graph --resume`` (traced)."""
        b = self.b
        out = b.path("resume")
        if b.op("kill", lambda: self.kill(out)) is None:
            return None
        b.tracer.new_trace()
        return b.op(
            "resume",
            lambda: self.traced_main("resume", out, "--resume"),
            lambda _: self.check_same(out),
            out,
        )

    def export(self, graph: str) -> float | None:
        from kgt.spark.write import pretty_turtle

        out = self.b.path("export")
        spark = self.b.spark

        def write():
            with self.b.span("write.pretty_turtle"):
                pretty_turtle(spark.read.parquet(graph)).write.parquet(out)

        return self.b.op("export", write, lambda _: checks.check_export(out, graph), out)

    def run(self) -> dict:
        b = self.b
        b.info["cold_build_s"] = self.build("cold", self.check_fresh)
        warm = b.warm(lambda i: self.build(f"warm-{i}", self.check_same))
        return b.rate(self.turns, warm, "turns_per_s")

    # ----------------------------------------------------------------- traced

    def layers(self, out: str) -> dict:
        """Each layer's public call timed on its own, on inputs that were
        materialized first."""
        from pyspark.sql import functions as F

        from kgt.spark.fastpath import is_regular_doc, parse_fastpath
        from kgt.spark.parse import parse_documents, reassemble
        from kgt.spark.write import streaming_turtle

        b, spark = self.b, self.b.spark
        m: dict = {}
        staged = spark.read.parquet(f"{out}/staged").select("conv_id", "turn_idx", "text")
        with b.span("parse.reassemble") as sp:
            noop(reassemble(staged))
        m["parse.reassemble_s"] = duration(sp)
        docs_dir = b.path("layer-docs")
        reassemble(staged).write.parquet(docs_dir)
        docs = spark.read.parquet(docs_dir)
        regular_dir, rest_dir = b.path("layer-regular"), b.path("layer-rest")
        docs.filter(is_regular_doc(F.col("text"))).write.parquet(regular_dir)
        docs.filter(~is_regular_doc(F.col("text"))).write.parquet(rest_dir)
        regular, rest = spark.read.parquet(regular_dir), spark.read.parquet(rest_dir)
        n_regular, n_rest = regular.count(), rest.count()
        m["fastpath.routed_frac"] = n_regular / max(n_regular + n_rest, 1)
        with b.span("parse.parse_documents") as sp:
            m["parse.rows_out"] = parse_documents(rest.select("conv_id", "text")).count()
        m["parse.parse_documents_s"] = duration(sp)
        with b.span("fastpath.parse_fastpath") as sp:
            noop(parse_fastpath(regular.select("conv_id", "text")))
        m["fastpath.parse_s"] = duration(sp)
        m.update(self.turtle_kernel(rest if n_rest else regular))
        kernel_core_s = n_rest / m["turtle.parse_docs_per_s"] if m["turtle.parse_docs_per_s"] else 0.0
        m["parse.non_kernel_frac"] = (
            1 - kernel_core_s / (m["parse.parse_documents_s"] * b.cpus) if n_rest else 0.0
        )
        graph = os.path.join(out, "graph")
        with b.span("write.streaming_turtle") as sp:
            noop(streaming_turtle(spark.read.parquet(graph)))
        m["write.streaming_turtle_s"] = duration(sp)
        m.update(self.link_layers(out))
        return m

    def link_layers(self, out: str) -> dict:
        from pyspark.sql import functions as F

        from kgt.spark.link import build_iri_dictionary, detect_mentions, fuzzy_link, link_mentions

        b, spark = self.b, self.b.spark
        iri_dict = build_iri_dictionary(spark.read.parquet(os.path.join(b.inputs, "dict.parquet")))
        iri_dict = iri_dict.localCheckpoint()
        staged = spark.read.parquet(f"{out}/staged")
        with b.span("link.exact") as sp:
            noop(link_mentions(detect_mentions(staged), iri_dict))
        m = {"link.exact_s": duration(sp)}
        linked_dir = b.path("layer-linked")
        link_mentions(detect_mentions(staged), iri_dict).write.parquet(linked_dir)
        linked = spark.read.parquet(linked_dir)
        n_all = linked.count()
        unlinked = linked.filter(F.col("iri").isNull()).select("surface")
        m["link.unlinked_frac"] = unlinked.count() / max(n_all, 1)
        with b.span("link.fuzzy") as sp, b.job_group(b.group("fuzzy")):
            noop(fuzzy_link(unlinked, iri_dict.select("surface", "iri")))
        m["link.fuzzy_s"] = duration(sp)
        counts = b.job_counts(b.group("fuzzy"))
        m.update({f"link.fuzzy_{k}": counts[k] for k in ("jobs", "stages", "tasks")})
        return m

    def turtle_kernel(self, docs) -> dict:
        """kgt.turtle on one core in this process, on a seeded sample of
        the workload's own documents."""
        from kgt.turtle.batch import parse_batch
        from kgt.turtle.writer import decode_nt, serialize_pretty

        b = self.b
        rows = sorted((r["conv_id"], r["text"]) for r in docs.select("conv_id", "text").collect())
        sample = random.Random(b.seed).sample(rows, min(TURTLE_SAMPLE, len(rows)))
        ids, texts = [c for c, _ in sample], [t for _, t in sample]
        with b.span("turtle.parse_batch") as sp:
            cols = parse_batch(ids, texts)
        parse_s = duration(sp)
        per_conv: dict = {}
        rows = zip(cols["conv_id"], cols["kind"], cols["subj"], cols["pred"], cols["obj"])
        for c, k, s, p, o in rows:
            if k == "T":
                per_conv.setdefault(c, []).append((s, p, o))
        with b.span("turtle.serialize_pretty") as sp:
            for stmts in per_conv.values():
                serialize_pretty([tuple(decode_nt(t) for t in st) for st in stmts])
        ser_s = duration(sp)
        n_stmts = sum(len(v) for v in per_conv.values())
        return {
            "turtle.parse_docs_per_s": len(ids) / parse_s,
            "turtle.parse_stmts_per_s": n_stmts / parse_s,
            "turtle.serialize_convs_per_s": len(per_conv) / ser_s if per_conv else 0.0,
        }

    def run_traced(self) -> dict:
        """A cold build; a traced ``build_graph``, with every
        TRACED_CALLS call in a span and a job group, between two
        untraced warm ones; the layers on their own; a kill and a
        traced resume; the Turtle export."""
        b = self.b
        cold = self.build("cold", self.check_fresh, keep=True)  # the export reads it
        with b.job_group("build"):
            warm = [self.build("warm-1", self.check_same)]
        spark_counts = b.job_counts("build")
        trace = b.tracer.new_trace()
        out = b.path("traced")
        traced = b.op("traced build", lambda: self.traced_main("build", out), lambda _: self.check_same(out))
        warm.append(self.build("warm-2", self.check_same))
        spans = b.tracer.spans

        def total(name: str, trace: int) -> float:
            return total_by_name([sp for sp in spans if sp["trace"] == trace], name)

        lin = b.job_counts(b.group("lineage.run_extraction"))
        m = {f"spark.{k}": v for k, v in spark_counts.items()}
        # the warm builds bracket the traced one, so a warm-up trend cancels
        m["trace.overhead_frac"] = traced / statistics.mean(warm) - 1 if traced and all(warm) else 0.0
        m["lineage.stage_input_s"] = total("lineage.stage_input", trace)
        m["lineage.run_extraction_s"] = total("lineage.run_extraction", trace)
        m.update({f"lineage.{k}": lin[k] for k in ("jobs", "stages", "tasks")})
        m["write.materialize_s"] = total("write.materialize_triples", trace)
        m["write.materialize_jobs"] = b.job_counts(b.group("write.materialize_triples"))["jobs"]
        files = checks.parquet_files(os.path.join(out, "graph"))
        m["write.files"] = len(files)
        n_rows = self.reference[0] if self.reference else 0
        m["write.bytes_per_triple"] = per_s(sum(map(os.path.getsize, files)), n_rows)
        b.tracer.new_trace()
        m.update(self.layers(out))
        m["lineage.extract_overhead_s"] = (
            m["lineage.run_extraction_s"] - m["parse.reassemble_s"]
            - m["parse.parse_documents_s"] - m["fastpath.parse_s"]
        )
        m["resume_s"] = self.resume() or 0.0
        m["lineage.resume_extraction_s"] = total("lineage.run_extraction", b.tracer.trace_id)
        b.tracer.new_trace()
        export = self.export(os.path.join(b.work, "cold", "graph"))
        m["write.pretty_turtle_s"] = export or 0.0
        m["export_convs_per_s"] = per_s(b.summary["conversations"], export)
        m["link_recall"] = b.info.get("link_recall", 0.0)
        m["link_precision"] = b.info.get("link_precision", 0.0)
        m["cold_s"] = cold or 0.0
        return m


# ---------------------------------------------------------------------
# stream-neardup
# ---------------------------------------------------------------------

STREAM_TIMEOUT_S = 120


class Stream:
    """Replays are timed from the start of the query to the moment
    ``recentProgress`` shows the last data batch committed (the sink is
    complete then). Stopping the query is not timed: after the data, the
    engine runs empty timeout batches, and whether one has begun when
    stop() is called (it then waits ~0.7 s for it) is a race with the
    poll, not work the stream does. Stop time is reported per layer."""

    def __init__(self, b: Bench):
        self.b = b
        self.src = os.path.join(b.inputs, "docs")
        self.k = b.summary["files"]
        self.docs = b.summary["docs"]
        self.stopped: dict = {}  # stop time, progress and run id of the last query

    def start(self, out: str, ckpt: str, src: str):
        from kgt.streaming.extract import streaming_near_dup

        stream = (
            self.b.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return streaming_near_dup(stream, out, ckpt)

    @staticmethod
    def data_batches(q) -> int:
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    def run_until(self, out: str, ckpt: str, src: str, n_batches: int):
        """Start the query; return it once ``recentProgress`` shows
        ``n_batches`` committed data batches (or it ended on its own)."""
        with self.b.span("streaming.start"):
            q = self.start(out, ckpt, src)
        with self.b.span("streaming.run"):
            deadline = time.perf_counter() + STREAM_TIMEOUT_S
            while q.isActive and self.data_batches(q) < n_batches:
                if time.perf_counter() > deadline:
                    self.stop(q)
                    raise TimeoutError(f"{self.data_batches(q)} of {n_batches} data batches")
                time.sleep(0.02)
        return q

    def stop(self, q) -> None:
        t0 = time.perf_counter()
        q.stop()
        q.awaitTermination(60)
        self.stopped = {
            "stop_s": time.perf_counter() - t0,
            "progress": q.recentProgress,
            "run_id": str(q.runId),
        }
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def sink_pairs(self, out: str) -> tuple[set, int]:
        df = self.b.spark.read.parquet(f"{out}/stream_near_dup").select("doc_a", "doc_b")
        rows = df.collect()
        return {(r[0], r[1]) for r in rows}, len(rows)

    def stop_and_check(self, q, out: str) -> list[str]:
        self.stop(q)
        pairs, n_rows = self.sink_pairs(out)
        self.b.info["emit_ratio"] = n_rows / max(len(pairs), 1)
        return checks.check_pairs(pairs, os.path.join(self.b.inputs, "expected_pairs.parquet"))

    def replay(self, name: str) -> float | None:
        d = self.b.path(name)
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        return self.b.op(
            name,
            lambda: self.run_until(out, ckpt, self.src, self.k),
            lambda q: self.stop_and_check(q, out),
            d,
        )

    def resume(self, name: str) -> float | None:
        """Run the query over the first half of the files and stop it;
        then the second half arrives and the query restarts from its
        checkpoint. Times the restart to the end of the stream."""
        b = self.b
        d = b.path(name)
        out, ckpt, src = (os.path.join(d, x) for x in ("out", "ckpt", "src"))
        os.makedirs(src)
        files = sorted(os.listdir(self.src))
        half = self.k // 2
        for f in files[:half]:
            shutil.copy(os.path.join(self.src, f), src)
        self.stop(self.run_until(out, ckpt, src, half))
        for f in files[half:]:
            shutil.copy(os.path.join(self.src, f), src)
        return b.op(
            name,
            lambda: self.run_until(out, ckpt, src, self.k - half),
            lambda q: self.stop_and_check(q, out),
            d,
        )

    def run(self) -> dict:
        b = self.b
        b.info["cold_s"] = self.replay("cold")
        warm = b.warm(lambda i: self.replay(f"warm-{i}"))
        return b.rate(self.docs, warm, "docs_per_s")

    def run_traced(self) -> dict:
        from kgt.textops.dedup import banded_signatures_rowwise

        b = self.b
        # the untraced replays run before the tracer has a trace
        tracer, b.tracer = b.tracer, None
        cold = self.replay("cold")
        warm = [self.replay("warm-1")]
        b.tracer = tracer
        spark_counts = b.job_counts(self.stopped.get("run_id", ""))
        b.tracer.new_trace()
        d = b.path("traced")
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")

        def traced():
            with b.span("stream"):
                return self.run_until(out, ckpt, self.src, self.k)

        traced_s = b.op("traced replay", traced, lambda q: self.stop_and_check(q, out), d)
        progress, stop_s = self.stopped.get("progress", []), self.stopped.get("stop_s", 0.0)
        emit_ratio = b.info.get("emit_ratio", 0.0)
        # a second untraced replay: the two bracket the traced one, so a
        # warm-up trend cancels in trace.overhead_frac
        b.tracer = None
        warm.append(self.replay("warm-2"))
        b.tracer = tracer
        data = [p for p in progress if p["numInputRows"] > 0]
        ops = [op for p in data for op in p.get("stateOperators", [])]
        last_ops = data[-1].get("stateOperators", []) if data else []
        m = {f"spark.{k}": v for k, v in spark_counts.items()}
        m["cold_s"] = cold or 0.0
        m["trace.overhead_frac"] = traced_s / statistics.mean(warm) - 1 if traced_s and all(warm) else 0.0
        m["streaming.data_batches"] = len(data)
        m["streaming.batch_s"] = median(
            [p["durationMs"].get("triggerExecution", 0) / 1000 for p in data]
        )
        m["streaming.state_update_ms"] = sum(op.get("allUpdatesTimeMs", 0) for op in ops)
        m["streaming.state_commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
        m["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last_ops)
        m["streaming.state_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last_ops)
        m["streaming.stop_s"] = stop_s
        m["streaming.emit_ratio"] = emit_ratio
        m["resume_s"] = self.resume("resume") or 0.0
        b.tracer.new_trace()
        with b.span("dedup.banded_signatures_rowwise") as sp:
            noop(banded_signatures_rowwise(b.spark.read.parquet(self.src)))
        m["dedup.signatures_s"] = duration(sp)
        return m


def run_workload(b: Bench, workload: str) -> dict:
    w = Stream(b) if workload == "stream-neardup" else Build(b)
    return w.run_traced() if b.tracer else w.run()

"""Tests of the benchmark's own code: python3 -m pytest perfbench -q

The end-to-end tests run the whole benchmark at a tiny size (a few
minutes in all); the rest need no Spark session.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402

TINY = {
    "build-kg": {"n_turns": 1200, "n_entities": 300, "miss_frac": 0.1, "regular_frac": 0.3},
    "stream-neardup": {"n_docs": 300, "n_files": 2},
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tables(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                out[os.path.relpath(os.path.join(root, f), d)] = pq.read_table(os.path.join(root, f))
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, sa = gen.generate(workload, str(tmp_path / "a"), 7, **TINY[workload])
    b, sb = gen.generate(workload, str(tmp_path / "b"), 7, **TINY[workload])
    c, sc = gen.generate(workload, str(tmp_path / "c"), 8, **TINY[workload])
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert sa == sb and ta.keys() == tb.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert any(not ta[k].equals(tc[k]) for k in ta)


def test_generator_cache_is_reused(tmp_path):
    a, _ = gen.generate("stream-neardup", str(tmp_path), 1, **TINY["stream-neardup"])
    mtime = os.path.getmtime(os.path.join(a, "_SUCCESS"))
    b, _ = gen.generate("stream-neardup", str(tmp_path), 1, **TINY["stream-neardup"])
    assert a == b and os.path.getmtime(os.path.join(b, "_SUCCESS")) == mtime


def test_self_time_subtracts_the_union_of_clipped_children():
    spans = [
        {"id": 1, "name": "p", "parent": None, "trace": 1, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "trace": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "name": "b", "parent": 1, "trace": 1, "start": 2.0, "end": 5.0},
        {"id": 4, "name": "c", "parent": 1, "trace": 1, "start": 8.0, "end": 12.0},
        {"id": 5, "name": "d", "parent": 3, "trace": 1, "start": 2.5, "end": 3.5},
    ]
    st = self_times(spans)
    # children cover [1, 5] and [8, 10] of the parent's [0, 10]
    assert st[1] == pytest.approx(4.0)
    assert st[3] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0) and st[5] == pytest.approx(1.0)
    assert covered([(0, 1), (2, 3), (2.5, 4)]) == pytest.approx(3.0)


def test_tracer_records_parent_and_trace():
    t = Tracer()
    t.new_trace()
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["trace"] for s in t.spans} == {1}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.SIZES)
    for name in [*run.END_TO_END, *run.PER_LAYER, *run.SIZES]:
        assert NAME.match(name), name


@pytest.mark.parametrize("trace", [False, True])
def test_result_emits_every_declared_metric(trace):
    res = run.result({"setup_s": 1.5}, trace, attempted=3, failed=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == set(run.PER_LAYER if trace else run.END_TO_END)
    assert res["correct"] is True
    assert run.result({}, trace, attempted=3, failed=1)["correct"] is False


def test_inject_failure_picks_the_middle_batch():
    seen = []

    def run_extraction(spark, out_dir, run_id, n_chunks=16, fail_on_chunk=None, batch_chunks=8):
        seen.append(fail_on_chunk)

    workloads.inject_failure(run_extraction)(None, "out", "run")
    workloads.inject_failure(run_extraction)(None, "out", "run", n_chunks=32, batch_chunks=8)
    workloads.inject_failure(run_extraction)(None, "out", "run", n_chunks=8, batch_chunks=8)
    assert seen == [8, 16, 0]


def test_patched_restores_the_original():
    mod = type(sys)("mod")
    mod.f = lambda: 1
    with workloads.patched(mod, "f", lambda orig: lambda: orig() + 1):
        assert mod.f() == 2
    assert mod.f() == 1


def test_op_deletes_output_only_after_its_check_passed(tmp_path):
    b = workloads.Bench(None, os.path.dirname(HERE), str(tmp_path), "", {}, 1, 1, 1, 0)
    ok, bad = tmp_path / "ok", tmp_path / "bad"
    ok.mkdir()
    bad.mkdir()
    assert b.op("ok", lambda: None, lambda _: [], str(ok)) is not None
    assert b.op("bad", lambda: None, lambda _: ["wrong"], str(bad)) is not None
    assert b.op("raises", lambda: 1 / 0) is None
    assert not ok.exists() and bad.exists()
    assert (b.attempted, b.failed) == (3, 2) and len(b.problems) == 2


def test_warm_samples_fill_the_window_and_the_rate_takes_the_fastest(tmp_path, monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])
    b = workloads.Bench(None, os.path.dirname(HERE), str(tmp_path), "", {}, 1, 20, 1, 0)

    def sample(i):
        clock[0] += 8.0 if i == 1 else 6.0
        return 8.0 if i == 1 else 6.0

    # a fourth sample would end 26 s after the first began
    assert b.warm(sample) == [8.0, 6.0, 6.0]
    assert b.rate(120, [8.0, None, 6.0], "turns_per_s") == {"records_per_s": 20.0}
    assert b.info["turns_per_s"] == 20.0
    # a failed sample ends the window once the minimum count is reached
    assert b.warm(lambda i: None) == [None, None]


# ---------------------------------------------------------------------
# a corrupted output fails its check
# ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def kg_inputs(tmp_path_factory):
    d, _ = gen.generate("build-kg", str(tmp_path_factory.mktemp("in")), 3, **TINY["build-kg"])
    return d


def _write_graph(path, rows):
    """A graph table shaped like the materialized one, partitioned by subj_bucket."""
    os.makedirs(path / "subj_bucket=0")
    conv, s, p, o = zip(*rows)
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "conv_id": list(conv),
                "stmt_idx": pa.array(range(n), pa.int64()),
                "subj": list(s),
                "pred": list(p),
                "obj": list(o),
                "is_quoted": [False] * n,
                "salt": pa.array([0] * n, pa.int32()),
            }
        ),
        path / "subj_bucket=0" / "part-0.parquet",
    )
    return str(path)


def _expected(inputs):
    table = pq.read_table(os.path.join(inputs, "expected_triples.parquet"))
    return [tuple(r.values()) for r in table.to_pylist()]


def test_graph_triples_check(tmp_path, kg_inputs):
    exp_path = os.path.join(kg_inputs, "expected_triples.parquet")
    rows = _expected(kg_inputs)
    assert checks.check_triples(_write_graph(tmp_path / "ok", rows), exp_path) == []
    bad = list(rows)
    c, s, p, o = bad[5]
    bad[5] = (c, s, p, o + " ")
    assert checks.check_triples(_write_graph(tmp_path / "bad", bad), exp_path)
    assert checks.check_triples(_write_graph(tmp_path / "short", rows[1:]), exp_path)


def test_graph_digest_sees_one_byte(tmp_path, kg_inputs):
    rows = _expected(kg_inputs)
    c, s, p, o = rows[-1]
    a = checks.graph_digest(_write_graph(tmp_path / "a", rows))
    b = checks.graph_digest(_write_graph(tmp_path / "b", rows[:-1] + [(c, s, p, o[:-1] + "X")]))
    assert a != b and a == checks.graph_digest(str(tmp_path / "a"))


def test_export_check(tmp_path, kg_inputs):
    from kgt.turtle.writer import decode_nt, serialize_pretty

    rows = [r for r in _expected(kg_inputs) if not r[1].startswith("_:") and not r[3].startswith("_:")]
    graph = _write_graph(tmp_path / "graph", rows)
    docs = {}
    for c, s, p, o in rows:
        docs.setdefault(c, []).append((decode_nt(s), decode_nt(p), decode_nt(o)))
    ids = sorted(docs)
    ttl = [serialize_pretty(docs[c]) for c in ids]

    def export(name, texts):
        os.makedirs(tmp_path / name)
        pq.write_table(pa.table({"conv_id": ids, "ttl": texts}), tmp_path / name / "part-0.parquet")
        return str(tmp_path / name)

    assert checks.check_export(export("ok", ttl), graph) == []
    broken = list(ttl)
    broken[0] = broken[0].replace(" .", " ;", 1)
    assert checks.check_export(export("broken", broken), graph)


def test_link_scoring(tmp_path, kg_inputs):
    truth = pq.read_table(os.path.join(kg_inputs, "mentions.parquet")).to_pylist()
    base = gen.MENTION_STMT_BASE
    rows = [
        (r["conv_id"], f"<urn:conv:{r['conv_id']}>", gen.MENTIONS_PRED, f"<{r['iri']}>") for r in truth
    ]

    def graph(name, rows):
        path = _write_graph(tmp_path / name, rows)
        # stmt_idx of a mention triple is MENTION_STMT_BASE + turn_idx
        t = pq.read_table(f"{path}/subj_bucket=0/part-0.parquet")
        idx = pa.array([base + r["turn_idx"] for r in truth], pa.int64())
        pq.write_table(t.set_column(1, "stmt_idx", idx), f"{path}/subj_bucket=0/part-0.parquet")
        return path

    truth_path = os.path.join(kg_inputs, "mentions.parquet")
    recall, precision, problems = checks.score_links(graph("ok", rows), truth_path)
    assert (recall, precision, problems) == (1.0, 1.0, [])
    miss = next(i for i, r in enumerate(truth) if r["misspelled"])
    exact = next(i for i, r in enumerate(truth) if not r["misspelled"])
    wrong = list(rows)
    wrong[miss] = wrong[miss][:3] + ("<http://kg.example/entity/nope>",)
    wrong[exact] = wrong[exact][:3] + ("<http://kg.example/entity/nope>",)
    recall, precision, problems = checks.score_links(graph("bad", wrong), truth_path)
    assert recall < 1.0 and precision < 1.0 and problems


def test_pairs_check(tmp_path):
    d, _ = gen.generate("stream-neardup", str(tmp_path), 2, **TINY["stream-neardup"])
    exp_path = os.path.join(d, "expected_pairs.parquet")
    pairs = {tuple(r.values()) for r in pq.read_table(exp_path).to_pylist()}
    assert pairs and checks.check_pairs(pairs, exp_path) == []
    assert checks.check_pairs(pairs - {next(iter(pairs))}, exp_path)
    assert checks.check_pairs(pairs | {(-1, -2)}, exp_path)


# ---------------------------------------------------------------------
# the whole benchmark, tiny
# ---------------------------------------------------------------------


@pytest.mark.spark
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_benchmark_end_to_end(tmp_path, monkeypatch, capsys, workload, trace):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    monkeypatch.setattr(run, "SIZES", TINY)
    argv = ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    assert run.main(argv) == 0
    out = capsys.readouterr().out.strip().splitlines()
    res = json.loads(out[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    metrics = res["metrics"]
    assert set(metrics) == set(run.PER_LAYER if trace else run.END_TO_END)
    if not trace:
        assert all(m["value"] > 0 for m in metrics.values())
        return
    busy = {"build-kg": ("turtle.", "parse.", "fastpath.", "lineage.", "link.", "write."),
            "stream-neardup": ("dedup.", "streaming.")}[workload]
    for name, m in metrics.items():
        if name.startswith(busy) and name != "streaming.stop_s":
            assert m["value"] > 0, name
    assert metrics["spark.jobs"]["value"] > 0
    info = json.loads(out[-2][len("info "):])
    with open(os.path.join(os.path.dirname(HERE), info["spans"])) as f:
        spans = json.load(f)["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)

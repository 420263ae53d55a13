"""Tests of the benchmark itself at tiny sizes (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import ref  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

TINY = {
    "host": {"hosts": 300, "outlinks": 6, "trusted": 0.10},
    "webpage": {"pages": 1000, "outlinks": 4, "unfetched": 0.5, "tracked": 0.25},
    "corpus": {"docs": 200, "vocab": 400, "exact": 0.10, "near": 0.20},
}


@pytest.fixture(autouse=True)
def tiny_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", TINY)


def _digest(name: str, seed: int, tmp_path) -> str:
    table, truth = gen.GENERATORS[name](seed)
    path = tmp_path / f"{name}-{seed}.parquet"
    gen.write_parquet(table, str(path))
    return hashlib.sha256(path.read_bytes() + repr(truth).encode()).hexdigest()


@pytest.mark.parametrize("name", gen.INPUTS)
def test_generators_are_deterministic(name, tmp_path):
    assert _digest(name, 7, tmp_path) == _digest(name, 7, tmp_path)
    assert _digest(name, 7, tmp_path) != _digest(name, 8, tmp_path)


def test_generated_dirt_is_present():
    host, _ = gen.host_table(3)
    keys = [k for m in host.column("outlinks").to_pylist() for k, _ in m]
    assert any(k != k.strip() for k in keys)
    assert any(not ref.host_is_valid(k.strip()) for k in keys)
    page, _ = gen.webpage_table(3)
    keys = [k for m in page.column("outlinks").to_pylist() for k, _ in m]
    assert any("#" in k for k in keys)
    assert any(not ref.url_is_valid(k.strip()) for k in keys)
    assert any(not ref.url_is_valid(ref.url_source_detect(k)) for k in page.column("row_key").to_pylist())


def test_url_reference_round_trips():
    url = "http://www.example.co.uk/a/b.html?x=1&y=2"
    rev = ref.url_reverse(url)
    assert rev == "uk.co.example.www:http/a/b.html?x=1&y=2"
    assert ref.url_source_detect(rev) == url
    assert ref.url_reverse("http://a.b.com:8080/p#frag") == "com.b.a:http:8080/p"
    assert not ref.url_is_valid("http://invalidurl")
    assert not ref.url_is_valid("mailto:info@example")


def test_dedup_edges_keeps_original_when_cleaned_list_is_empty():
    edges = [("http://a.com/", "http://a.com/#top"), ("http://b.com/", " http://c.com/#x ")]
    assert ref.dedup_edges(edges) == [
        ("http://b.com/", "http://c.com/"),
        ("http://a.com/", "http://a.com/#top"),
    ]


def test_rank_reference_matches_the_triangle_golden():
    edges = [("a", "b"), ("b", "c"), ("a", "c")]
    scores = ref.normalize(ref.rank(dict.fromkeys("abc", 1.0), edges, updates=9))
    # FIXTURES.md G1 goldens, held to the reference's 1e-3
    assert scores["a"] == pytest.approx(1.3515060339386287, abs=1e-3)
    assert scores["b"] == pytest.approx(4.144902009567587, abs=1e-3)
    assert scores["c"] == pytest.approx(9.06389778197704, abs=1e-3)


@pytest.mark.parametrize("name", ["host", "webpage"])
def test_checker_rejects_perturbed_score_or_dropped_row(name):
    table, _ = gen.GENERATORS[name](5)
    want = (ref.host_expected if name == "host" else ref.webpage_expected)(table, 2)
    assert ref.compare_rows(list(want), want) is None
    key, qual, score = want[len(want) // 2]
    nudged = list(want)
    nudged[len(want) // 2] = (key, qual, score + 5e-6)
    assert ref.compare_rows(nudged, want) is not None
    within = list(want)
    within[len(want) // 2] = (key, qual, score + 5e-7)
    assert ref.compare_rows(within, want) is None
    assert ref.compare_rows(want[:-1], want) is not None


def _engine_like_corpus_outputs(table, truth):
    """What a correct dedup pass emits for ``table``, built from the
    reference: every pair of survivors is an LSH candidate."""
    ids = table.column("doc_id").to_pylist()
    groups = [sorted(g) for g in truth["exact_groups"]]
    grouped = {i for g in groups for i in g}
    exact = [(len(g), g[0]) for g in groups] + [(1, i) for i in ids if i not in grouped]
    survivors = sorted(k for _, k in exact)
    text = dict(zip(ids, table.column("text").to_pylist()))
    verified = ref.jaccard_pairs({i: text[i] for i in survivors})
    candidates = sorted(verified)
    labels = ref.union_find_labels(candidates)
    verified = ref.jaccard_pairs({i: text[i] for i in labels})
    dropped = {b for _, b in verified}
    keep = [(i, labels.get(i, i)) for i in survivors if i not in dropped]
    return {
        "exact": exact,
        "candidates": candidates,
        "components": sorted(labels.items()),
        "verified": [(a, b, round(j, 6)) for (a, b), j in sorted(verified.items())],
        "keep": keep,
    }


def test_corpus_checker_accepts_correct_and_rejects_broken_outputs():
    table, truth = gen.corpus_table(11)
    out = _engine_like_corpus_outputs(table, truth)
    assert out["verified"], "the tiny corpus must plant near-duplicates"
    err, counts = ref.corpus_check(table, truth, **out)
    assert err is None
    assert counts["verified_pairs"] == len(out["verified"])
    assert counts["planted_recall"] > 0.5

    dropped = dict(out, verified=out["verified"][1:])
    assert ref.corpus_check(table, truth, **dropped)[0] is not None
    a, b, j = out["verified"][0]
    perturbed = dict(out, verified=[(a, b, j + 1e-5)] + out["verified"][1:])
    assert ref.corpus_check(table, truth, **perturbed)[0] is not None
    merged = dict(out, exact=out["exact"][1:])
    assert ref.corpus_check(table, truth, **merged)[0] is not None
    relabelled = dict(out, components=[(i, i) for i, _ in out["components"]])
    assert ref.corpus_check(table, truth, **relabelled)[0] is not None


def _event_log(path):
    """A minimal log in Spark's event-log JSON format: one traced span with
    two jobs (one a SQL execution with a broadcast join), one probe job."""
    def job(jid, group, t0, t1, stage, execution=None):
        props = {"spark.jobGroup.id": group}
        if execution is not None:
            props["spark.sql.execution.id"] = str(execution)
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
             "Stage IDs": [stage], "Properties": props},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
             "Properties": props},
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
                "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
                "Disk Bytes Spilled": 3_000_000,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 5_000_000}}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
        ]

    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "BroadcastHashJoin", "children": [
            {"nodeName": "InMemoryTableScan", "children": [
                {"nodeName": "BroadcastHashJoin", "children": []}]}]}]}
    span = "operators.linkrank.linkrank_raw|warm1|3"
    events = (
        [{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
          "executionId": 4, "sparkPlanInfo": {"nodeName": "Project", "children": []}},
         {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
          "executionId": 4, "sparkPlanInfo": plan}]
        + job(0, span, 100_000, 101_000, 0, execution=4)
        + job(1, span, 101_500, 102_000, 1)
        + job(2, "probe|warm1|4", 103_000, 103_500, 2)
    )
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_event_log_parser_produces_the_named_metrics(tmp_path):
    log = tmp_path / "app-1"
    _event_log(log)
    groups = spans.parse_eventlog(str(log))
    rec = {"name": "operators.linkrank.linkrank_raw", "pass": "warm1", "start": 99.5,
           "end": 102.5, "group": "operators.linkrank.linkrank_raw|warm1|3",
           "cached_mb_after": 12.0}
    sources = [  # one source span called twice in the pass: counts add up
        {"name": "sources.nutch.host_vertices", "pass": "warm1", "start": 99.0, "end": 99.1,
         "group": f"sources.nutch.host_vertices|warm1|{i}", "cached_mb_after": 0.0,
         "materialize_s": 0.5, "rows_out": out, "rows_in": 100}
        for i, out in ((0, 90), (1, 70))
    ]
    metrics = spans.per_layer([rec] + sources, groups, ["warm1"], 2, {"warm1": 4.0},
                              {"warm1": 0.25}, [3.5], 4)
    assert set(metrics) == set(spans.metric_names())
    got = {k.rsplit(".", 1)[1]: v["value"] for k, v in metrics.items()
           if k.startswith("operators.linkrank.linkrank_raw.")}
    assert got["call_s"] == pytest.approx(3.0)
    assert got["jobs"] == 2
    assert got["task_cpu_s"] == pytest.approx(4.0)
    assert got["shuffle_write_mb"] == pytest.approx(10.0)
    assert got["driver_gap_s"] == pytest.approx(1.5)  # 3 s span, jobs cover 1.5 s
    assert got["gc_s"] == pytest.approx(0.2)
    assert got["spill_mb"] == pytest.approx(6.0)
    assert got["bcast_joins"] == 1  # the join under the cached plan is not counted
    assert got["jobs_per_superstep"] == 1
    assert got["cached_mb_after"] == 12.0
    assert metrics["spark.jobs"]["value"] == 2  # the probe job is not the pass's work
    assert metrics["trace.overhead_s"]["value"] == pytest.approx(0.75)  # 4 s + 0.25 s probes - 3.5 s
    assert metrics["operators.dedup.minhash_lsh_pairs.call_s"]["value"] == 0
    assert metrics["sources.nutch.host_vertices.rows_out"]["value"] == 160
    assert metrics["sources.nutch.host_vertices.keep_ratio"]["value"] == pytest.approx(0.8)
    assert metrics["sources.nutch.host_vertices.materialize_s"]["value"] == pytest.approx(1.0)


def test_per_superstep_values_divide_by_every_loop_call(tmp_path):
    log = tmp_path / "app-1"
    _event_log(log)
    groups = spans.parse_eventlog(str(log))
    calls = [
        {"name": "operators.linkrank.linkrank_raw", "pass": "warm1", "start": 99.5, "end": 102.5,
         "group": "operators.linkrank.linkrank_raw|warm1|3"},
        {"name": "operators.linkrank.linkrank_raw", "pass": "warm1", "start": 102.5, "end": 103.5,
         "group": "operators.linkrank.linkrank_raw|warm1|9"},
    ]
    metrics = spans.per_layer(calls, groups, ["warm1"], 2, {"warm1": 4.0}, {"warm1": 0.0},
                              [3.5], 4)
    assert metrics["operators.linkrank.linkrank_raw.jobs_per_superstep"]["value"] == 0.5
    assert metrics["operators.linkrank.linkrank_raw.superstep_s"]["value"] == pytest.approx(1.0)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(w["why"] and "\n" not in w["why"] for w in bench["workloads"])
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spans.metric_names()
    assert [m["name"] for m in bench["end_to_end"]] == ["setup_s", "pipeline_s", "cpu_s"]

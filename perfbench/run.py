"""Crawl-ranking benchmark: one workload, one seed, one Spark driver process.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates the workload's input from the
seed, computes the expected output with the independent reference in
``ref.py``, starts a Spark session (``local[nproc]``) and runs one cold pass
(set-up) followed by warm passes until ``--seconds`` have been measured. It
is a closed loop with one client: each pass starts after the previous one
returned and its output was checked. Every pass's output is compared with the
reference; a pass that raises or differs counts as failed.

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
(``setup_s``, ``pipeline_s``, ``cpu_s``); lines before it, starting with
``#``, report input generation and reference time, the error rate, the
driver JVM's peak RSS and the run's contention stamp. With ``--trace 1`` the
session writes a Spark event log, warm passes alternate between plain and
traced, and the metrics are the per-layer ones of ``spans.py``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

PROCESS_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import gen  # noqa: E402
import ref  # noqa: E402
import spans  # noqa: E402

#: score updates per rank loop (``superstep_count`` K = UPDATES + 1)
UPDATES = 2
#: warm passes measured at least, whatever ``--seconds`` says. The first
#: warm passes are still warming the JIT, so a run's median is only stable
#: when every run measures the same number of passes: keep ``--seconds``
#: below MIN_WARM passes' duration.
MIN_WARM = 3
#: no warm pass starts when it could end past this many seconds of run time
DEADLINE_S = 165.0


# --- pipelines ------------------------------------------------------------------
# Each pipeline reads one generated input and ends with one parquet sink
# write; a workload's pass runs one or more pipelines back to back.


def _host_pass(spark, tr, paths, info):
    from giranking_spark.config import TrustRankConfig
    from giranking_spark.operators import linkrank
    from giranking_spark.sources import nutch

    m = spark.read.parquet(paths["input"])
    v = tr.call("sources.nutch.host_vertices", nutch.host_vertices, m, with_trust=True,
                lazy=True, rows_in=info["rows"])
    e = tr.call("sources.nutch.host_edges", nutch.host_edges, m, lazy=True, rows_in=info["links"])
    state = tr.call("operators.linkrank.trustrank_raw", linkrank.trustrank_raw, v, e,
                    TrustRankConfig(superstep_count=UPDATES + 1))
    scores = tr.call("operators.linkrank.normalize_scores", linkrank.normalize_scores,
                     state.select("id", "score"), lazy=True)
    tr.call("sink.parquet_write", _write,
            nutch.scores_to_host_mirror(scores, nutch.QUAL_TRUSTRANK), paths["output"])
    return {}


def _webpage_pass(spark, tr, paths, info):
    from giranking_spark.config import LinkRankConfig
    from giranking_spark.operators import clean, linkrank
    from giranking_spark.sources import nutch

    m = spark.read.parquet(paths["input"])
    v = tr.call("sources.nutch.webpage_vertices", nutch.webpage_vertices, m, lazy=True,
                rows_in=info["rows"])
    e = tr.call("sources.nutch.webpage_edges", nutch.webpage_edges, m, lazy=True,
                rows_in=info["links"])
    e = tr.call("operators.clean.dedup_edges", clean.dedup_edges, e, lazy=True)
    state = tr.call("operators.linkrank.linkrank_raw", linkrank.linkrank_raw, v, e,
                    LinkRankConfig(superstep_count=UPDATES + 1))
    scores = tr.call("operators.linkrank.normalize_scores", linkrank.normalize_scores,
                     state.select("id", "score"), lazy=True)
    tr.call("sink.parquet_write", _write, nutch.scores_to_webpage_mirror(scores), paths["output"])
    return {}


def _corpus_pass(spark, tr, paths, info):
    from pyspark.sql import functions as F

    from giranking_spark.operators import components, dedup

    docs = spark.read.parquet(paths["input"])
    exact = tr.call("operators.dedup.exact_dedup", dedup.exact_dedup, docs, lazy=True)
    survivors = docs.join(exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")
    cand = tr.call("operators.dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, survivors)
    pairs = cand.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = tr.call("operators.components.connected_components",
                   components.connected_components, pairs)
    linked = survivors.join(comp.select(F.col("id").alias("doc_id")), "doc_id", "left_semi")
    verified = tr.call("operators.dedup.ngram_jaccard_pairs", dedup.ngram_jaccard_pairs, linked,
                       n=ref.JACCARD_N, threshold=ref.JACCARD_THRESHOLD, max_df=ref.JACCARD_MAX_DF)
    # keep-set: exact-dedup survivors minus the larger id of every verified
    # near-duplicate pair, each with its LSH cluster label
    keep = (
        survivors.select("doc_id")
        .join(verified.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
        .join(comp.select(F.col("id").alias("doc_id"), "component"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster"))
    )
    tr.call("sink.parquet_write", _write, keep, paths["output"])
    return {"exact": exact, "candidates": cand, "components": comp, "verified": verified}


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


def _check_mirror(paths, expected, _frames, _truth):
    import pyarrow.parquet as pq

    return ref.compare_rows(ref.mirror_rows(pq.read_table(paths["output"])), expected), {}


def _check_corpus(paths, docs, frames, truth):
    import pyarrow.parquet as pq

    def rows(df, *cols):
        return [tuple(r) for r in df.select(*cols).collect()]

    keep = pq.read_table(paths["output"])
    return ref.corpus_check(
        docs,
        truth,
        rows(frames["exact"], "n_docs", "keep_id"),
        rows(frames["candidates"], "id_a", "id_b"),
        rows(frames["components"], "id", "component"),
        rows(frames["verified"], "id_a", "id_b", "jaccard"),
        list(zip(keep.column("doc_id").to_pylist(), keep.column("cluster").to_pylist())),
    )


#: pipeline -> (pass, expected output from the generated table and truth,
#: check of one pass's output). The pipeline's name is also its input's.
PIPELINES = {
    "host": (_host_pass, lambda t, _: ref.host_expected(t, UPDATES), _check_mirror),
    "webpage": (_webpage_pass, lambda t, _: ref.webpage_expected(t, UPDATES), _check_mirror),
    "corpus": (_corpus_pass, lambda t, _: t, _check_corpus),
}

#: workload -> the pipelines one pass runs, in order
WORKLOADS = {
    "crawl_rank": ("host", "webpage"),  # TrustRank on hosts, LinkRank on pages
    "corpus_dedup": ("corpus",),
}


# --- process measurements -----------------------------------------------------
# The contention and machine-speed stamps follow bench.py's; they are copied,
# not imported, so the benchmark depends on nothing in the repository but the
# engine it measures.


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _proc_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _spark_jvms() -> set[str]:
    """PIDs of live Spark JVMs on this machine: another one running during the
    run makes its timings incomparable, so the run is stamped contended."""
    out = subprocess.run(["pgrep", "-a", "java"], capture_output=True, text=True, timeout=10).stdout
    return {line.split()[0] for line in out.splitlines() if "spark" in line.lower()}


#: fixed single-threaded spin, in milliseconds on a quiet reference machine:
#: the ratio to it stamps how fast the box ran, for any reason
_SPIN_N, _SPIN_REF_MS = 100_000, 17.2


def _machine_factor() -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_SPIN_N):
            acc = (acc * 1103515245 + 12345 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0 / _SPIN_REF_MS


# --- run ------------------------------------------------------------------------


def _release(spark) -> None:
    """Outside the timed window: drop caches and checkpoints of the last pass."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _note(msg: str) -> None:
    print(f"# {msg}", flush=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "giranking_spark")):
        print(f"error: no giranking_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        # console and event-log format only: a plain single-file event log
        # is what the trace parser reads
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false"
        " --conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false"
        " pyspark-shell",
    )
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    try:
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cores: int) -> int:
    pipes = WORKLOADS[args.workload]
    paths, info, expected, truth = {}, {}, {}, {}
    t0 = time.time()
    for name in pipes:
        table, truth[name] = gen.GENERATORS[name](args.seed)
        paths[name] = {"input": os.path.join(work, f"{name}.parquet"),
                       "output": os.path.join(work, f"{name}.out")}
        gen.write_parquet(table, paths[name]["input"])
        info[name] = {"rows": table.num_rows}
        if "outlinks" in table.column_names:
            info[name]["links"] = sum(len(c.keys) for c in table.column("outlinks").chunks)
        expected[name] = table
    gen_s = time.time() - t0
    t0 = time.time()
    for name in pipes:
        expected[name] = PIPELINES[name][1](expected[name], truth[name])
    ref_s = time.time() - t0

    foreign = _spark_jvms()
    factor_before = _machine_factor()
    from giranking_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    get_spark_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    tr = spans.Tracer(spark, enabled=bool(args.trace))
    tr.record("session.get_spark", t0, t0 + get_spark_s)

    attempted = failed = 0
    walls: dict[str, float] = {}  # pass wall without the tracer's probes
    probes: dict[str, float] = {}
    plain: list[float] = []
    cpu: list[float] = []
    traced_ids: list[str] = []

    def one_pass(pass_id: str, traced: bool) -> float:
        """One pass: every pipeline of the workload, timed from the first
        source call until the last sink write returns; then each output is
        checked."""
        nonlocal attempted, failed
        attempted += 1
        tr.pass_id, tr.enabled = pass_id, traced
        probe0 = tr.probe_s
        c0 = _proc_cpu_s(jvm) + sum(os.times()[:2])
        start = time.time()
        frames: dict[str, dict] = {}
        errors = []
        try:
            for name in pipes:
                frames[name] = PIPELINES[name][0](spark, tr, paths[name], info[name])
            wall = time.time() - start
            c1 = _proc_cpu_s(jvm) + sum(os.times()[:2])
            for name in pipes:
                err, counts = PIPELINES[name][2](paths[name], expected[name], frames[name],
                                                 truth[name])
                tr.annotate(counts)
                if err:
                    errors.append(f"{name}: {err}")
        except Exception as exc:  # a failed pass is counted, not fatal
            wall, c1 = time.time() - start, None
            errors.append(f"{type(exc).__name__}: {exc}")
        if errors:
            failed += 1
            _note(f"pass {pass_id} FAILED: {'; '.join(errors)}")
        frames.clear()
        _release(spark)
        probes[pass_id] = tr.probe_s - probe0
        wall -= probes[pass_id]
        walls[pass_id] = wall
        if c1 is not None and not traced:
            cpu.append(c1 - c0)
        return wall

    cold_s = one_pass("cold", False)
    setup_s = get_spark_s + cold_s
    cpu.clear()
    measure_start = time.time()
    k = 0
    # a traced run alternates plain, traced, plain, ...: it needs a plain pass
    # on each side of a traced one, so the overhead is not a JIT-warm-up trend
    need_plain = 2 if args.trace else 1
    while True:
        measured = len(plain) >= need_plain and (traced_ids or not args.trace)
        if measured and k >= MIN_WARM and time.time() - measure_start >= args.seconds:
            break
        if measured and time.time() - PROCESS_START + 1.2 * max(walls.values()) > DEADLINE_S:
            _note("stopping early: the next pass could overrun the run's deadline")
            break
        traced = bool(args.trace) and k % 2 == 1
        pid = f"warm{k}"
        wall = one_pass(pid, traced)
        (traced_ids if traced else plain).append(pid if traced else wall)
        k += 1

    peak_mb = _proc_peak_mb(jvm)
    contended = bool(foreign or (_spark_jvms() - {str(jvm)}))
    factor_after = _machine_factor()
    _stop(spark)

    _note(f"workload {args.workload} seed {args.seed}: inputs {info} generated in {gen_s:.2f} s, "
          f"reference in {ref_s:.2f} s")
    _note(f"error_rate {failed / attempted:.4f} share ({failed} of {attempted} passes)")
    _note(f"set-up {setup_s:.3f} s (get_spark {get_spark_s:.3f} s + cold pass {cold_s:.3f} s); "
          f"warm passes {len(plain)} plain, {len(traced_ids)} traced; plain walls "
          + ", ".join(f"{w:.3f}" for w in plain))
    _note(f"contended {str(contended).lower()}, machine_factor "
          f"{factor_before:.2f} before, {factor_after:.2f} after")
    _note(f"driver JVM peak RSS {peak_mb:.1f} MB")

    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tr.write(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json"))
        groups = spans.parse_eventlog(spans.find_eventlog(os.environ["SPARK_GRAFT_EVENTLOG_DIR"]))
        metrics = spans.per_layer(tr.spans, groups, traced_ids, UPDATES, walls, probes, plain,
                                  cores)
        metrics["driver.peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        _note(f"tracing overhead {metrics['trace.overhead_s']['value']:.3f} s per pass "
              "(traced pass wall with its probes minus the median plain pass)")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pipeline_s": {"value": statistics.median(plain), "unit": "s"},
            "cpu_s": {"value": statistics.median(cpu) if cpu else 0.0, "unit": "s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

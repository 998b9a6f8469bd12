"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints one report line with the workload's
own figures, then, as the last line, the JSON result
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0`` and its per-layer metrics with
``--trace 1``. Inputs are generated from ``--seed`` and cached under
``.perfbench-work/inputs``; every file the run writes stays under
``.perfbench-work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
DRIVER_MEMORY = "3g"
LAYERS = ("pipeline", "chunking", "embed", "lexical", "similarity",
          "retrieval", "curation", "dedup")
REQUEST_SPANS = ("retrieval.rag_query", "retrieval.rag_query_filtered",
                 "lexical.bm25_topk_from_index")


def pin_environment() -> int:
    """The run configuration both commits of a comparison share: one local
    executor thread per usable core, a driver heap that fits a small host,
    Spark scratch space and temp files inside the checkout, and the
    repository on the Python workers' import path."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    sys.path.insert(0, ROOT)
    return cpus


def start_session():
    from building_a_rag_pipeline_with_airflow_spark.session import get_spark

    return get_spark(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
    )


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)


def _stat(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _alive(pid: int) -> bool:
    try:
        return _stat(str(pid))[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            children[int(_stat(pid)[1])].append(int(pid))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], list(children[os.getpid()])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every process this one
    started: the JVM and the Python workers."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def end_to_end(run, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(run.op_s) * 1000.0, "ms"),
        "items_per_s": (run.items / sum(run.op_s), "1/s"),
    }


def per_layer(run, spans: list[dict], probe_out: dict, session_s: float,
              rss_mb: float, cpus: int, overhead_s: float) -> dict:
    from spans import self_times

    selfs = self_times(spans)
    main = [s for s in spans if s["phase"] == "main"]
    probe = [s for s in spans if s["phase"] == "probe"]
    main_wall = sum(run.op_s)
    n_ops = max(len(run.op_s), 1)

    def total(rows, key):
        return sum(s[key] for s in rows)

    def durations(name, rows=probe):
        return [s["end"] - s["start"] for s in rows if s["name"] == name]

    def med(name, scale=1.0):
        d = durations(name)
        return statistics.median(d) * scale if d else 0.0

    m = {
        "session.start_s": (session_s, "s"),
        "session.peak_rss_mb": (rss_mb, "MB"),
        "trace.overhead_share": (overhead_s / main_wall, "share"),
        "trace.op_p50_ms": (statistics.median(run.op_s) * 1000.0, "ms"),
        "main.jobs_per_op": (total(main, "jobs") / n_ops, "count"),
        "main.tasks_per_op": (total(main, "tasks") / n_ops, "count"),
        "main.input_records_per_op": (total(main, "input_records") / n_ops, "count"),
        "main.shuffle_bytes_per_op": (total(main, "shuffle_bytes") / n_ops, "bytes"),
        "main.core_busy_share": (total(main, "executor_run_s") / (main_wall * cpus), "share"),
    }
    for layer in LAYERS:
        own = [s for s in probe if s["layer"] == layer]
        self_s = sum(selfs[s["id"]] for s in main if s["layer"] == layer)
        m[f"{layer}.self_share"] = (self_s / main_wall, "share")
        for key, unit in (("jobs", "count"), ("tasks", "count"),
                          ("input_bytes", "bytes"), ("input_records", "count"),
                          ("shuffle_bytes", "bytes"), ("executor_run_s", "s")):
            m[f"{layer}.{key}"] = (total(own, key), unit)
    chunk_s = med("chunking.chunk_recursive")
    rag = durations("retrieval.rag_query")
    ret = durations("retrieval.retrieve_chunks")
    m.update({
        "chunking.busy_s": (chunk_s, "s"),
        "chunking.chunks_per_doc": (probe_out["chunks"] / probe_out["n_docs"], "chunks/doc"),
        "embed.busy_s": (med("embed.embed_documents") - chunk_s, "s"),
        "embed.query_ms": (med("embed.embed_text", 1000.0), "ms"),
        "pipeline.write_s": (med("pipeline.write_index_bucketed"), "s"),
        "pipeline.index_files": (probe_out["index_files"], "count"),
        "pipeline.index_bytes": (probe_out["index_bytes"], "bytes"),
        "lexical.build_s": (med("lexical.build_postings_index"), "s"),
        "lexical.postings_rows": (probe_out["postings_rows"], "count"),
        "lexical.query_ms": (med("lexical.bm25_topk_from_index", 1000.0), "ms"),
        "similarity.topk_ms": (med("similarity.topk_cosine", 1000.0), "ms"),
        "similarity.knn_join_s": (med("similarity.knn_join"), "s"),
        "retrieval.retrieve_ms": (med("retrieval.retrieve_chunks", 1000.0), "ms"),
        "retrieval.assemble_ms": (
            statistics.median(a - b for a, b in zip(rag, ret)) * 1000.0 if ret else 0.0, "ms"),
        "curation.gopher_s": (med("curation.gopher_quality_flags"), "s"),
        "curation.gopher_keep_ratio": (probe_out["gopher_keep"] / probe_out["n_docs"], "share"),
        "curation.decontam_s": (med("curation.decontaminate"), "s"),
        "dedup.busy_s": (med("dedup.dedup_clusters"), "s"),
        "dedup.pairs": (probe_out["pairs"], "count"),
        "dedup.components": (probe_out["components"], "count"),
    })
    # request-shaped spans: the serve loop's own, else the probe's queries
    reqs = [s for s in main if s["name"] in REQUEST_SPANS] or [
        s for s in probe if s["name"] in REQUEST_SPANS
    ]
    dense = [s["input_records"] for s in reqs if s["name"] == "retrieval.rag_query"]
    filt = [s["input_records"] for s in reqs if s["name"] == "retrieval.rag_query_filtered"]
    n_req = max(len(reqs), 1)
    m.update({
        "serve.jobs_per_query": (total(reqs, "jobs") / n_req, "count"),
        "serve.tasks_per_query": (total(reqs, "tasks") / n_req, "count"),
        "serve.input_records_per_result": (total(reqs, "input_records") / (n_req * 5), "count"),
        "serve.filtered_scan_share": (
            statistics.mean(filt) / statistics.mean(dense) if filt and dense else 0.0, "share"),
        "serve.repeat_share": (run.report.get("repeat_share", 0.0), "share"),
    })
    return m


def probe_inputs(workload: str, docs: list[dict], meta: dict) -> tuple[list, list]:
    """Queries and benchmark passages for the traced probe."""
    if workload == "serve":
        return meta["queries"], [" ".join(d["text"].split()[:40]) for d in docs[:5]]
    queries = [" ".join(d["text"].split()[3:7]) for d in docs[:5]]
    return queries, meta["benchmark"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs for the harness self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the first checked result (gate self-test)")
    args = ap.parse_args(argv)

    cpus = pin_environment()
    sys.path.insert(0, HERE)
    import inputs

    sizes = inputs.FULL if args.size == "full" else inputs.TINY
    input_dir = inputs.materialize(
        os.path.join(WORK, "inputs"), args.workload, args.seed, sizes, args.size
    )
    docs, meta = inputs.load_docs(input_dir), inputs.load_meta(input_dir)

    # the engine is imported only now: a checkout without it fails here
    import workloads
    from spans import Tracer

    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, input_dir, run_dir, docs, meta,
                            args.seconds, corrupt=args.corrupt)
        wl = workloads.WORKLOADS[args.workload](run)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.references()
        tracer.phase("main")
        wl.main()
        tracer.phase("batch")
        wl.batch()
        if not run.op_s:
            raise RuntimeError("no operation completed")
        rss_mb = peak_rss_mb()
        if args.trace:
            tracer.phase("probe")
            probe_out = workloads.probe(run, *probe_inputs(args.workload, docs, meta))
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}-{args.size}-{args.seed}.jsonl")
            tracer.dump(trace_path)
            metrics = per_layer(run, tracer.spans, probe_out, session_s, rss_mb,
                                cpus, tracer.overhead_s.get("main", 0.0))
            run.report["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = end_to_end(run, setup_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    error_rate = run.failed / max(run.attempted, 1)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "setup_s": setup_s, "peak_rss_mb": rss_mb, "error_rate": error_rate,
        **run.report, "errors": run.errors,
    }, sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

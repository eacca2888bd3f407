"""The repository benchmark: one closed-loop client driving shc_spark
through a single SparkSession (local[nproc]).

    python3 perfbench/run.py --workload kv_point --seed 1 --seconds 2 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones, measured over whole
op cycles until ``--seconds`` have passed. With ``--trace 1`` a fixed
schedule of cycles runs twice, untraced then traced, and the metrics
are the per-layer ones; the spans and counters are written to
``.perfbench/trace-<workload>-seed<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".perfbench")
TRACE_CYCLES = {"kv_point": 2, "index_serve": 2}
OPERATOR_KINDS = ("dedup", "textindex", "similarity")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Process environment the JVM and its Python workers inherit: the
    repository on PYTHONPATH, and every temporary directory under this
    run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={local} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    )


def _start_spark():
    from shc_spark.session import get_spark

    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    import subprocess

    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _run_op(op) -> tuple:
    """(seconds, ok). A failed op counts as a wrong result."""
    t0 = time.perf_counter()
    try:
        result = op.run()
        dt = time.perf_counter() - t0
        ok = bool(op.check(result))
    except Exception:
        dt = time.perf_counter() - t0
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        log(f"op {op.kind} failed or returned a wrong result")
    return dt, ok


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def add(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def set_up(wl, mem) -> float:
    """Builds the workload's tables or indexes and warms it up; returns
    the seconds both took."""
    t0 = time.perf_counter()
    wl.build(mem.sample)
    t1 = time.perf_counter()
    wl.warm_up()
    t2 = time.perf_counter()
    mem.sample()
    log(f"build {t1 - t0:.2f} s, warm-up {t2 - t1:.2f} s")
    return t2 - t0


def measure(wl, seconds: float, tally: Tally, mem) -> dict:
    """Closed loop: whole op cycles, back to back, until ``seconds`` have
    passed. Latency is the geometric mean over op kinds of each kind's
    median, so every kind weighs the same however far apart the kinds'
    latencies are; throughput is the median over cycles of rows per
    busy second."""
    per_cycle, kinds = [], {}
    deadline = time.perf_counter() + seconds
    while True:
        rows = busy = 0.0
        for op in wl.cycle(len(per_cycle)):
            dt, ok = _run_op(op)
            mem.sample()
            tally.add(ok)
            kinds.setdefault(op.kind, []).append(dt)
            rows += op.rows
            busy += dt
        per_cycle.append(rows / busy)
        if time.perf_counter() >= deadline:
            break
    p50 = {k: statistics.median(v) for k, v in kinds.items()}
    log(f"{len(per_cycle)} cycles; median ms by kind: "
        + ", ".join(f"{k} {v * 1e3:.0f}" for k, v in p50.items()))
    return {
        "op_p50_ms": statistics.geometric_mean(p50.values()) * 1e3,
        "rows_per_s": statistics.median(per_cycle),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num, den) -> float:
    den = sum(den)
    return sum(num) / den if den else 0.0


def _trace_op(wl, op, phase: str, op_id: int, tracer, counters, tally: Tally) -> dict:
    """Runs one op under the tracer; returns its record."""
    import pandas as pd

    from shc_spark.catalog import parse_catalog
    from shc_spark.sources import api
    from shc_spark.sources.shc_source import _load_regions

    from perfbench.workloads import parquet_census

    def census() -> dict:
        out = {}
        for d in wl.storage_dirs():
            out.update(parquet_census(d))
        return out

    meta = os.path.join(wl.table_dir, "_regions.json") if wl.table else ""
    regions = len(_load_regions(wl.table_dir)) if meta and os.path.exists(meta) else 0
    before = census()
    mark = counters.mark()
    tracer.op = op_id
    start_epoch = time.time()
    with tracer.span("op"):
        dt, ok = _run_op(op)
    tracer.op = None
    c = counters.since(mark)
    source = op.probe(tracer.op_loads(op_id, "shc")) if op.probe else {}
    # the probe models the op's scans: it must plan the tasks and return
    # the rows the executed scans did
    if source and (source["partitions"], source["rows"]) != (c["scan_tasks"], c["scan_output_rows"]):
        log(f"op {op.kind}: probe planned {source['partitions']} partitions and read "
            f"{source['rows']} rows; the executed scans ran {c['scan_tasks']} tasks and "
            f"output {c['scan_output_rows']} rows")
        ok = False
    tally.add(ok)
    first = c.pop("first_job_submitted")
    construct = dt if first is None else min(max(first - start_epoch, 0.0), dt)
    after = census()
    new_files = [p for p in after if p not in before]
    parses = tracer.op_spans(op_id, "catalog.parse_catalog")
    rec = {
        "op": op_id,
        "phase": phase,
        "kind": op.kind,
        "ok": ok,
        "wall_ms": dt * 1e3,
        "construct_ms": construct * 1e3,
        "action_ms": (dt - construct) * 1e3,
        "parse_calls": len(parses),
        "parse_ms": sum((s.end - s.start) * 1e3 for s in parses),
        "rows": op.rows,
        "regions": regions,
        "files_written": len(new_files),
        "bytes_written": sum(after[p] for p in new_files),
        "user_bytes": op.user_bytes,
        "spark": c,
        "source": source,
        "encode_ms": 0.0,
        "encode_rows": 0,
    }
    if op.encode_keys:
        keys = pd.Series(op.encode_keys, dtype="int64")
        cat = parse_catalog(wl.cat)
        t0 = time.perf_counter()
        api.encode_rowkey_batch(cat, [keys])
        rec["encode_ms"] = (time.perf_counter() - t0) * 1e3
        rec["encode_rows"] = len(keys)
    return rec


def traced_pass(wl, spark, tally: Tally) -> tuple:
    """The fixed trace schedule untraced, then the schedule and the
    set-up writes, traced. Returns (per-op records, tracer, untraced
    seconds, traced seconds of the schedule)."""
    from shc_spark import catalog
    from shc_spark.operators import dedup, idxcache, similarity, textindex
    from shc_spark.sources import api

    from perfbench.trace import SparkCounters, Tracer

    cycles = range(TRACE_CYCLES[wl.name])
    untraced = 0.0
    for i in cycles:
        for op in wl.cycle(i):
            dt, ok = _run_op(op)
            tally.add(ok)
            untraced += dt

    tracer = Tracer()
    for name in ("read_table", "bulk_get", "write_table"):
        tracer.wrap(api, name, f"api.{name}")
    tracer.record_loads()
    tracer.wrap_everywhere(catalog.parse_catalog, "catalog.parse_catalog")
    for mod, name in ((dedup, "dedup_index_pairs_batch"), (dedup, "build_dedup_index"),
                      (textindex, "text_index_topk_batch"), (textindex, "build_text_index"),
                      (similarity, "ivf_index_topk"), (similarity, "build_ivf_index"),
                      (idxcache, "index_relation")):
        tracer.wrap(mod, name, f"operators.{mod.__name__.rsplit('.', 1)[-1]}.{name}")
    counters = SparkCounters(spark)
    # the set-up writes of shc tables go last, for the writer and coder
    # metrics; index builds are not shc writes and would add 15-30 s
    schedule = [("serve", op) for i in cycles for op in wl.cycle(i)]
    if wl.table:
        schedule += [("build", op) for op in wl.build_ops()]
    wl.tracer = tracer
    records = []
    try:
        for phase, op in schedule:
            records.append(_trace_op(wl, op, phase, len(records), tracer, counters, tally))
    finally:
        wl.tracer = None
        tracer.unwrap()
    traced = sum(r["wall_ms"] for r in records if r["phase"] == "serve") / 1e3
    return records, tracer, untraced, traced


def layer_metrics(records: list, overhead: float) -> dict:
    """Per-layer metrics: per served op, except the writer and coder
    metrics, which cover every op that wrote (set-up writes included)."""
    from perfbench import inputs

    serve = [r for r in records if r["phase"] == "serve"]
    writes = [r for r in records if r["user_bytes"] or r["files_written"]]

    def per_op(recs: list) -> dict:
        src = [r["source"] for r in recs]
        sp = [r["spark"] for r in recs]
        return {
            "api.action_ms": _mean(r["action_ms"] for r in recs),
            "filters.unhandled_per_op": _mean(s.get("unhandled", 0) for s in src),
            "filters.unhandled_key_predicates_per_op": _mean(
                s.get("unhandled_key", 0) for s in src
            ),
            "shc_source.partitions_per_op": _mean(s.get("partitions", 0) for s in src),
            "shc_source.rows_examined_per_row_returned": _ratio(
                [c["scan_output_rows"] for c in sp],
                [r["rows"] for r, c in zip(recs, sp) if c["scan_output_rows"]],
            ),
            "spark.tasks_per_op": _mean(c["tasks"] for c in sp),
        }

    sp = [r["spark"] for r in serve]
    src = [r["source"] for r in serve]
    m = {
        "api.construct_ms": _mean(r["construct_ms"] for r in serve),
        "catalog.parse_calls_per_op": _mean(r["parse_calls"] for r in serve),
        "catalog.parse_ms_per_op": _mean(r["parse_ms"] for r in serve),
        "shc_source.plan_ms": _mean(s.get("plan_ms", 0.0) for s in src),
        "shc_source.read_ms": _mean(s.get("read_ms", 0.0) for s in src),
        "shc_source.python_bytes_returned_per_op": _mean(s.get("python_bytes", 0) for s in src),
        "shc_source.regions_per_table": _mean(r["regions"] for r in serve),
        "shc_source.files_written_per_op": _mean(r["files_written"] for r in writes),
        "shc_source.bytes_written_per_user_byte": _ratio(
            [r["bytes_written"] for r in writes], [r["user_bytes"] for r in writes]
        ),
        "coders.rowkey_encode_ms_per_1k_rows": 1e3 * _ratio(
            [r["encode_ms"] for r in records], [r["encode_rows"] for r in records]
        ),
        "spark.jobs_per_op": _mean(c["jobs"] for c in sp),
        "spark.stages_per_op": _mean(c["stages"] for c in sp),
        "spark.python_tasks_per_op": _mean(c["python_tasks"] for c in sp),
        "spark.executor_run_ms_per_op": _mean(c["executor_run_ms"] for c in sp),
        "spark.executor_cpu_ms_per_op": _mean(c["executor_cpu_ms"] for c in sp),
        "spark.shuffle_write_bytes_per_op": _mean(c["shuffle_write_bytes"] for c in sp),
        "spark.python_worker_init_ms_per_op": _mean(c["python_worker_init_ms"] for c in sp),
        "spark.python_worker_run_ms_per_op": _mean(c["python_worker_run_ms"] for c in sp),
        "operators.idxcache.files_read_per_op": _mean(c["files_read"] for c in sp),
        "trace.overhead_share": overhead,
    }
    m.update(per_op(serve))
    for kind in OPERATOR_KINDS:
        m[f"operators.{kind}.query_ms"] = _mean(r["wall_ms"] for r in serve if r["kind"] == kind)
    # kv_point, split by key-batch size (zero on the other workloads)
    for size in inputs.KEY_BATCH_SIZES:
        for name, value in per_op([r for r in serve if r["kind"] == f"keys{size}"]).items():
            m[f"{name}.keys{size}"] = value
    return m


def run(args, work: str, spec: dict) -> dict:
    from perfbench.trace import Memory
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](os.path.join(work, "tables"), args.seed)
    wl.generate()
    mem = Memory()  # after the inputs: they are the benchmark's, not the program's
    t0 = time.perf_counter()
    spark = _start_spark()
    try:
        session_s = time.perf_counter() - t0
        wl.spark = spark
        mem.sample()
        setup_s = session_s + set_up(wl, mem)
        log(f"setup {setup_s:.2f} s (session {session_s:.2f} s)")
        tally = Tally()
        if not args.trace:
            metrics = measure(wl, args.seconds, tally, mem)
            mem.finish(spark)
            metrics.update(
                setup_s=setup_s,
                mem_mb=mem.mb,
                disk_bytes_per_row=wl.disk_bytes_per_row(),
            )
            log(f"memory: Python {mem.python_kb / 1024:.0f} MB at peak "
                f"({mem.python_processes} processes below the JVM), JVM {mem.jvm_kb / 1024:.0f} MB")
        else:
            records, tracer, untraced, traced = traced_pass(wl, spark, tally)
            overhead = traced / untraced - 1.0
            metrics = layer_metrics(records, overhead)
            os.makedirs(OUT_DIR, exist_ok=True)
            out = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
            with open(out, "w") as fh:
                json.dump(
                    {
                        "workload": args.workload,
                        "seed": args.seed,
                        "untraced_s": untraced,
                        "traced_s": traced,
                        "self_ms": {k: v * 1e3 for k, v in tracer.self_times().items()},
                        "ops": records,
                        "spans": tracer.to_json(),
                    },
                    fh,
                    indent=1,
                )
            log(f"trace written to {out}")
    finally:
        _stop_spark(spark)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(TRACE_CYCLES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    _environment(work)
    try:
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    if importlib.util.find_spec("shc_spark") is None:
        log(f"shc_spark is not importable from {REPO}; run from the repository root")
        sys.exit(2)
    sys.exit(main())

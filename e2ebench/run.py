"""End-to-end benchmark of the engine, one workload per invocation.

    python3 e2ebench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates the workload's inputs from
the seed, brings the engine up on local[nproc], warms it up, then runs the
workload's ops in seeded order, one client in a closed loop, whole passes
until ``--seconds`` have elapsed. Around the timed passes it times fixed
reference work in the engine's JVM, which scales the gated pass metrics to
one host speed. Every op's output is checked afterwards against its DuckDB
oracle (or, with none, against its own earlier output).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run.
Everything the run writes lives under .e2ebench/ and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from stats import digest, median, tail, unstolen  # noqa: E402

WORKLOADS = ("analytics", "corpus_prep", "ingest_serve")

# The end-to-end metrics of the final line; BENCHMARK.json lists the same.
# The two pass metrics are scaled to a host on which the reference work
# costs REF_NOMINAL_CPU_S (README.md, "Host speed").
END_TO_END = {"setup_s": "s", "pass_cpu_norm_s": "s", "wall_norm_s": "s"}
# Printed by name on every run but not on the final line: on a shared host
# the unscaled ones spread between runs by more than the widest bound
# BENCHMARK.json may set, 0.25 (README.md, "Run time and steadiness");
# failed_frac is 0 at the parent, so no bound can be a share of it.
PRINTED = {"pass_cpu_s": "s", "wall_unstolen_s": "s", "ref_cpu_s": "s",
           "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
           "peak_rss_mb": "MB", "op_cpu_p50_s": "s", "failed_frac": "share",
           "bronze_bytes_per_input_byte": "ratio"}
# The reference work: a JDK parallel sort of this many random doubles in
# the engine's JVM. REF_NOMINAL_CPU_S is about its CPU time on a 4-vCPU
# Xeon VM at 2.1 GHz with a quiet host.
REF_DOUBLES = 4_000_000
REF_NOMINAL_CPU_S = 0.5
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_table_s": "s", "catalog.load_table_calls": "count",
    "operators.build_s": "s",
    "plans.sql_exec_s": "s", "plans.rewrite_s": "s",
    "exec.run_s": "s", "exec.driver_gap_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.python_s": "s", "exec.python_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_s": "s",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.scan_bytes": "bytes",
    "sources.ingest_s": "s", "sources.write_bronze_s": "s",
    "sources.read_bronze_s": "s", "sources.bronze_bytes": "bytes",
    "agent.rule_s": "s", "agent.passthrough": "count",
    "serving.serve_json_s": "s", "serving.serve_csv_s": "s",
    "serving.csv_bytes": "bytes", "serving.bar_chart_s": "s",
    "pipeline.stage_s.ingestion": "s", "pipeline.stage_s.storage": "s",
    "pipeline.stage_s.transformation": "s",
    "trace.overhead_s": "s",
}
# The per-layer metrics of the final line: all but agent.passthrough,
# which repeats the correctness gate (a passthrough is a failed op). A layer
# a workload does not reach reads 0 there: on corpus_prep the sources,
# agent, serving, pipeline and plans layers; on analytics exec.python_*
# (README.md lists them).
REPORTED_LAYERS = [k for k in PER_LAYER if k != "agent.passthrough"]


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment(work: str) -> None:
    """Point every writer of the engine into ``work`` before the JVM starts:
    shuffle and spill files, the JVM's and Python's temp files, the SQL
    warehouse. Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # no hsperfdata file under /tmp: the JVM writes it there regardless
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def run_op(op, tracer, status, cpu) -> dict:
    """Time one op: its call plus execution to completion. ``cpu()`` reads
    the engine's CPU seconds so far. The result is kept and checked after
    the timed passes, so the check is charged to no op."""
    from workloads import Passthrough

    rec = {"op": op.name, "error": None, "result": None}
    if tracer is not None:
        tracer.op = op.name
    ticks0 = cpu_ticks()
    c0 = cpu()
    w0, t0 = time.time(), time.perf_counter()
    t1 = None
    try:
        built = op.build()
        t1 = time.perf_counter()
        rec["result"] = op.finish(built)
    except Exception as e:  # a failing op is counted, never dropped
        rec["error"] = repr(e)[:300]
    t2 = time.perf_counter()
    w1 = time.time()
    rec["cpu_s"] = cpu() - c0
    rec["latency_s"] = t2 - t0
    rec["unstolen_s"] = unstolen(t2 - t0, ticks0, cpu_ticks())
    rec["build_s"] = (t1 or t2) - t0
    if status is not None:
        rec["exec"] = status.collect(w0, w1)
    if rec["error"] is None and op.check is not None:
        try:
            op.check(built)
        except Passthrough as e:
            rec["error"] = f"agent passthrough: {e}"
    return rec


def reference_cpu(spark, jvm_pid: int, reps: int = 5) -> list[float]:
    """CPU seconds of the JVM's working threads for each of ``reps`` sorts
    of the reference work, after two untimed ones. No engine code runs in
    it, so it moves only with the host: neighbours that share this VM's
    cores, caches and memory bandwidth slow it and the engine alike. It
    sorts on every core, as the engine's stages run; a one-thread sort
    tracked the engine worse. JIT and GC threads are left out, since they
    are still busy with the passes around it."""
    from tracing import jvm_work_cpu

    jvm = spark.sparkContext._jvm
    src = jvm.java.util.Random(12345).doubles(REF_DOUBLES).toArray()
    out = []
    for i in range(reps + 2):
        a = jvm.java.util.Arrays.copyOf(src, REF_DOUBLES)
        c0 = jvm_work_cpu(jvm_pid)
        jvm.java.util.Arrays.parallelSort(a)
        if i >= 2:
            out.append(jvm_work_cpu(jvm_pid) - c0)
    return out


def warm_up(wl) -> dict:
    """One untimed pass over every op, one after another, since the first
    pass runs 2-9x slower than later ones (JIT, codegen, class loading).
    Returns each op's result (None when it failed)."""
    results: dict = {}
    for op in wl.head + wl.ops:
        try:
            results[op.name] = op.finish(op.build())
        except Exception:
            results[op.name] = None
    return results


def check_outputs(wl, records: list[dict], warm: dict) -> None:
    """Compare each timed output with its oracle; ops with no oracle must
    reproduce the digest of their warm-up run."""
    ops = {op.name: op for op in wl.head + wl.ops}
    expected: dict[str, str] = {}
    for op in ops.values():
        try:
            if op.oracle is not None:
                expected[op.name] = digest(op.oracle())
            elif warm.get(op.name) is not None:
                expected[op.name] = digest(op.rows(warm[op.name]))
        except Exception as e:
            expected[op.name] = f"oracle failed: {e!r}"
    for rec in records:
        result = rec.pop("result")
        if rec["error"] is not None:
            continue
        if isinstance(result, bytes):
            rec["result_bytes"] = len(result)
        try:
            got = digest(ops[rec["op"]].rows(result))
        except Exception as e:
            rec["error"] = f"unreadable result: {e!r}"[:300]
            continue
        if got != expected.setdefault(rec["op"], got):
            rec["error"] = "output differs from the oracle"


def per_layer(wl, records, passes, spans, status, span_cost_s) -> dict:
    """Per-pass layer metrics of a traced run. A span ``x`` gives metric
    ``x_s``, the time in its outermost calls; get_spark is set-up, once."""
    n = len(passes)
    m = {k: 0.0 for k in PER_LAYER}
    for name, d in spans.items():
        m[f"{name}_s"] = d["s"] if name == "session.get_spark" else d["s"] / n
    m["catalog.load_table_calls"] = spans.get("catalog.load_table", {}).get("calls", 0) / n
    registry = {op.name for op in wl.ops if op.registry_op}
    m["operators.build_s"] = sum(
        r["build_s"] for r in records if r["op"] in registry) / n
    for r in records:
        for k, v in r["exec"].items():
            m[f"exec.{k}"] += v / n
        m["serving.csv_bytes"] += r.get("result_bytes", 0) / n
    for pipe in wl.pipelines:
        for stage in pipe.runs:
            m[f"pipeline.stage_s.{stage.name}"] += stage.seconds / n
    if "bronze" in wl.stats:
        m["sources.bronze_bytes"] = bronze_sizes(wl.stats["bronze_timed"])[0] / n
        m["agent.passthrough"] = wl.stats["passthrough"] / n
    n_spans = sum(d["calls"] for d in spans.values())
    m["trace.overhead_s"] = (status.cost_s + span_cost_s * n_spans) / n
    return m


def span_cost() -> float:
    """Seconds one span adds to a call, measured on a no-op."""
    from tracing import Tracer

    t = Tracer()
    f = t._wrap("noop", lambda: None)
    n = 20000
    a = time.perf_counter()
    for _ in range(n):
        f()
    b = time.perf_counter()
    for _ in range(n):
        (lambda: None)()
    c = time.perf_counter()
    return max(((b - a) - (c - b)) / n, 0.0)


def bronze_sizes(stores) -> tuple[int, int]:
    """Bytes written to bronze and bytes of the files ingested into it, over
    ``(bronze dataset dir, input file)`` pairs."""
    from workloads import size_of

    return (sum(size_of(lake) for lake, _ in stores),
            sum(size_of(src) for _, src in stores))


def run(args, work: str, out: dict) -> dict:
    import workloads
    from tracing import EngineCpu, RssSampler, SparkStatus, Tracer

    load0 = os.getloadavg()
    g0 = time.perf_counter()
    info = workloads.generate(args.workload, os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - g0

    s0 = time.perf_counter()
    from agentic_data_pipeline_spark import registry, session

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    spark = out["spark"] = session.get_spark()
    registry._ensure_loaded()
    if tracer is not None:
        tracer.install()
        tracer.enabled = False  # spans are taken in the timed passes only
    wl = workloads.prepare(args.workload, spark, os.path.join(work, "run"), info)
    warm = warm_up(wl)
    setup_s = time.perf_counter() - s0

    status = SparkStatus(spark) if tracer is not None else None
    if tracer is not None:
        tracer.enabled = True
    wl.pipelines.clear()
    if "bronze" in wl.stats:
        warm_bronze = len(wl.stats["bronze"])
    rng = random.Random(args.seed)
    passes: list[list[dict]] = []
    jvm_pid = spark.sparkContext._gateway.proc.pid
    engine = EngineCpu(jvm_pid)
    ref = reference_cpu(spark, jvm_pid)
    ticks0 = cpu_ticks()
    with RssSampler(jvm_pid) as rss:
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < args.seconds:
            passes.append([run_op(op, tracer, status, engine.seconds)
                           for op in wl.order(rng)])
    timed_s = time.perf_counter() - start
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    records = [r for p in passes for r in p]
    ref += reference_cpu(spark, jvm_pid)
    scale = REF_NOMINAL_CPU_S / median(ref)
    if "bronze" in wl.stats:
        wl.stats["bronze_timed"] = wl.stats["bronze"][warm_bronze:]
    check_outputs(wl, records, warm)

    lat = [r["latency_s"] for r in records]

    def per_pass(key: str) -> float:
        return median([sum(r[key] for r in p) for p in passes])

    # the tail is taken per pass, so its percentile does not depend on how
    # many passes fit in --seconds
    tails = [tail([r["latency_s"] for r in p]) for p in passes]
    t = tails[0]
    failed = [r for r in records if r["error"] is not None]
    out.update(
        workload=args.workload, seed=args.seed, nproc=nproc(),
        loadavg_start=load0, loadavg_end=os.getloadavg(), gen_s=gen_s,
        # shares of the machine's CPU time during the timed passes; steal is
        # time the hypervisor gave this VM's CPUs to others
        cpu_busy=sum(ticks[i] for i in (0, 1, 2, 5, 6)) / sum(ticks),
        cpu_steal=ticks[7] / sum(ticks),
        inputs={k: v for k, v in info.items() if k not in ("lake", "files")},
        passes=len(passes), timed_s=timed_s, attempted=len(records),
        failed=len(failed),
        failures=sorted({f"{r['op']}: {r['error']}" for r in failed}),
        op_latency_s={op.name: round(median([r["latency_s"] for r in records
                                             if r["op"] == op.name]), 4)
                      for op in wl.head + wl.ops},
        tail_percentile=t["percentile"], tail_beyond=t["beyond"], tail_n=t["n"],
        end_to_end={"setup_s": setup_s, "wall_s": per_pass("latency_s"),
                    "wall_unstolen_s": per_pass("unstolen_s"),
                    "op_p50_s": median(lat), "op_tail_s": median([x["value"] for x in tails]),
                    "peak_rss_mb": rss.peak_kb * 1024 / 1e6,
                    "failed_frac": len(failed) / len(records),
                    "pass_cpu_s": per_pass("cpu_s"),
                    "ref_cpu_s": median(ref),
                    "pass_cpu_norm_s": per_pass("cpu_s") * scale,
                    "wall_norm_s": per_pass("unstolen_s") * scale,
                    "op_cpu_p50_s": median([r["cpu_s"] for r in records])})
    if "bronze" in wl.stats:
        written, ingested = bronze_sizes(wl.stats["bronze"])
        out["end_to_end"]["bronze_bytes_per_input_byte"] = written / ingested
    if tracer is not None:
        out["spans"] = tracer.layer_totals()  # calls, s and self_s per span
        out["span_cost_us"] = span_cost() * 1e6
        out["per_layer"] = per_layer(wl, records, passes, out["spans"], status,
                                     out["span_cost_us"] / 1e6)
    for duck in wl.ducks:
        duck.close()
    return out


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    from tracing import _children

    proc = spark.sparkContext._gateway.proc
    tree = _children(proc.pid)
    spark.stop()
    proc.stdin.close()  # the JVM exits when its launcher's stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 15
    alive = tree
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the engine and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for module in ("agentic_data_pipeline_spark", "tests"):
        if importlib.util.find_spec(module) is None:
            print(f"e2ebench: {module}/ is not under {ROOT}; run from the "
                  "root of a checkout of the repository", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".e2ebench", f"{args.workload}-{args.seed}-{os.getpid()}")
    environment(work)
    out: dict = {}
    try:
        run(args, work, out)
    finally:
        try:
            if "spark" in out:
                stop_engine(out.pop("spark"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still uses it
    report(out, args.trace)
    return 0


def report(out: dict, trace: int) -> None:
    e2e = out["end_to_end"]
    print(json.dumps({k: v for k, v in out.items()
                      if k not in ("end_to_end", "per_layer")}))
    units = {**END_TO_END, **PRINTED}
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"op_tail_s is p{out['tail_percentile']:.1f} of each pass, with "
          f"{out['tail_beyond']} of {out['tail_n']} samples beyond it")
    if trace:
        for k, v in out["per_layer"].items():
            print(f"{k} {v:.6g} {PER_LAYER[k]}")
        chosen = {k: {"value": out["per_layer"][k], "unit": PER_LAYER[k]}
                  for k in REPORTED_LAYERS}
    else:
        chosen = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": chosen}))


if __name__ == "__main__":
    sys.exit(main())

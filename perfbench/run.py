"""zx-spark benchmark: one workload, one closed-loop client, one process.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``curate_batch`` and
``ingest_mixed``. The inputs are generated from ``--seed`` only. Spark
runs on ``local[N]`` with N = the CPUs this process may use.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs the
span wrappers (perfbench/spans.py) and the stage ledger
(perfbench/ledger.py), traces every other operation, and reports the
per-layer metrics plus the tracing overhead (median traced minus median
untraced operation latency, same run; rounds alternate). Human-readable lines go first; the last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory (removed at exit) except the span dump of a traced run, which
is kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

MIN_ROUNDS = 2
CPUS = len(os.sched_getaffinity(0))

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# (attribute the caller resolves, span name): module globals imported by
# name are wrapped where they are looked up; lazy imports at their
# defining module; methods on their class.
TRACE_POINTS = [
    ("zx_spark.api:ZX.sql", "api.sql"),
    ("zx_spark.api:ZX.events", "api.events"),
    ("zx_spark.api:parse_zx_sql", "sqlshim.parse"),
    ("zx_spark.sqlshim.translate:parse_zx_sql", "sqlshim.parse"),
    ("zx_spark.api:zx_sql", "sqlshim.zx_sql"),
    ("zx_spark.sqlshim.translate:compile_query", "compiler.build"),
    ("zx_spark.sqlshim.translate:run_sorted", "compiler.build"),
    ("zx_spark.operators.olap:multidim_agg", "compiler.build"),
    ("zx_spark.result:shape_result", "result.shape"),
    ("pyspark.sql.classic.dataframe:DataFrame.collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe:DataFrame.count", "spark.count"),
    ("zx_spark.storage:write_events", "storage.write"),
    ("zx_spark.storage:merge_upsert", "storage.merge"),
    ("zx_spark.storage:compact_store", "storage.compact"),
    ("zx_spark.pipeline:curate_corpus", "pipeline.curate_corpus"),
    ("zx_spark.pipeline:with_pii_scrubbed", "operators.with_pii_scrubbed"),
    ("zx_spark.operators.decontaminate:scrub_repeated_lines", "operators.scrub_repeated_lines"),
    ("zx_spark.operators.decontaminate:drop_boilerplate_docs", "operators.drop_boilerplate_docs"),
    ("zx_spark.pipeline:exact_dedup", "operators.exact_dedup"),
    ("zx_spark.pipeline:near_dup_pairs", "operators.near_dup_pairs"),
    ("zx_spark.operators.dedup:incremental_near_dups", "operators.incremental_near_dups"),
    ("zx_spark.pipeline:drop_contaminated", "operators.drop_contaminated"),
    ("zx_spark.pipeline:mix_to_proportions", "operators.mix_to_proportions"),
]
OPERATORS = [
    "near_dup_pairs", "exact_dedup", "incremental_near_dups", "drop_contaminated",
    "drop_boilerplate_docs", "scrub_repeated_lines", "with_pii_scrubbed", "mix_to_proportions",
]
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "input_rows": "count",
    "run_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "driver_s": "s",
}
LAYER_UNITS = {
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    "spark.cpu_util": "ratio",
    "api.events_ms": "ms",
    "sqlshim.parse_ms": "ms",
    "sqlshim.parse_calls": "count",
    "compiler.build_ms": "ms",
    "result.shape_ms": "ms",
    "storage.write_ms": "ms",
    "storage.merge_ms": "ms",
    "storage.compact_ms": "ms",
    "storage.write_amp": "ratio",
    "storage.files_at_read": "count",
    "storage.rows_read_per_row_out": "ratio",
    "storage.store_bytes_per_row": "bytes",
    "curate.build_s": "s",
    "curate.action_s": "s",
    "curate.build_jobs": "count",
    **{f"operators.{f}.build_ms": "ms" for f in OPERATORS},
    "trace.overhead_ms": "ms",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["curate_batch", "ingest_mixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(workdir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, and size the session to this process's CPUs."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        ZX_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )


def start_session(workdir: str):
    from zx_spark.session import get_spark

    return get_spark(
        "perfbench",
        {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def process_tree(root: int) -> list[int]:
    """``root`` and its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """VmHWM (peak resident set) of the Python driver plus its JVM."""
    from pyspark import SparkContext

    total_kb = 0
    for pid in (os.getpid(), SparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return total_kb / 1024


def stop_everything(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for every descendant process to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; it is stopped below
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (rest := process_tree(os.getpid())[1:]) and time.time() < deadline:
        for pid in rest:
            try:
                os.kill(pid, signal.SIGTERM)
            except OSError:
                pass
        time.sleep(0.2)


def layer_metrics(w, tracer, ledger_rows, traced_ops, lat_traced, lat_plain) -> dict[str, float]:
    """Per-layer metrics, per traced operation unless the name says per
    call; layers a workload does not reach read 0."""
    sp = tracer.per_op(traced_ops)
    n = max(1, len(traced_ops))
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for k in SPARK_UNITS:
        out[f"spark.{k}"] = sum(r[k] for r in ledger_rows) / n
    wall = sum(r["wall_s"] for r in ledger_rows)
    out["spark.cpu_util"] = sum(r["cpu_s"] for r in ledger_rows) / max(1e-9, wall * CPUS)

    def get(name, key="dur_s"):
        return sp.get(name, {}).get(key, 0.0)

    sql_calls = get("api.sql", "calls")
    if sql_calls:
        out["api.events_ms"] = get("api.events") / sql_calls * 1e3
        out["sqlshim.parse_ms"] = get("sqlshim.parse") / sql_calls * 1e3
        out["sqlshim.parse_calls"] = get("sqlshim.parse", "calls") / sql_calls
        out["compiler.build_ms"] = get("compiler.build") / sql_calls * 1e3
        out["result.shape_ms"] = get("result.shape", "self_s") / sql_calls * 1e3
    for short in ("write", "merge", "compact"):
        if get(f"storage.{short}", "calls"):
            out[f"storage.{short}_ms"] = (
                get(f"storage.{short}") / get(f"storage.{short}", "calls") * 1e3
            )
    for f in OPERATORS:
        out[f"operators.{f}.build_ms"] = get(f"operators.{f}") * 1e3
    out.update(w.layer_metrics())
    if lat_traced and lat_plain:
        out["trace.overhead_ms"] = (
            statistics.median(lat_traced) - statistics.median(lat_plain)
        ) * 1e3
    return out


def run(args) -> dict:
    root = os.getcwd()
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    prepare_environment(workdir)
    sys.path.insert(0, root)

    import workloads
    from ledger import StageLedger
    from spans import Tracer

    spark = None
    try:
        t_gen = time.perf_counter()
        w = workloads.WORKLOADS[args.workload](args.seed, workdir)
        gen_s = time.perf_counter() - t_gen
        print(f"# inputs (seed {args.seed}): {w.inputs.manifest}", file=sys.stderr)

        tracer = Tracer()
        if args.trace:
            for target, name in TRACE_POINTS:
                tracer.install(target, name)

        # set-up, from process start to the first timed operation:
        # interpreter and library start-up, session start, input
        # registration, one warm-up operation and priming of every other
        # kind, less input generation and benchmark-side checks
        spark = start_session(workdir)
        w.setup(spark)
        t0 = time.perf_counter()
        w.prime()
        prime_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - PROCESS_T0 - gen_s - w.untimed_s

        # whole rounds until --seconds have passed, MIN_ROUNDS at least
        # (when tracing, rounds alternate traced and untraced)
        ledger = StageLedger(spark) if args.trace else None
        plain, lat_traced, ledger_rows, traced_ops = [], [], [], []
        attempted = failed = rounds = 0
        t_start = time.perf_counter()
        while (
            rounds < MIN_ROUNDS
            or time.perf_counter() - t_start < args.seconds
        ):
            traced = bool(args.trace) and rounds % 2 == 0
            rounds += 1
            for _ in range(w.round_len):
                if traced:
                    w.ledger, tracer.op, tracer.enabled = ledger, attempted, True
                    m0 = ledger.mark()
                attempted += 1
                untimed0 = w.untimed_s
                try:
                    op = w.op()
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    continue
                finally:
                    tracer.enabled, w.ledger = False, None
                if traced:
                    row = ledger.since(m0)
                    bench_s = w.untimed_s - untimed0  # checks and expectations
                    row["wall_s"] = time.time() - m0.wall - bench_s
                    row["driver_s"] = max(0.0, row["driver_s"] - bench_s)
                    ledger_rows.append(row)
                    traced_ops.append(attempted - 1)
                    lat_traced.append(op.latency_s)
                else:
                    plain.append(op)
                failed += op.failed
        measured_s = time.perf_counter() - t_start

        rss = peak_rss_mb()
        failed += w.check()
        lat_plain = [op.latency_s for op in plain]
        if args.trace:
            metrics = layer_metrics(w, tracer, ledger_rows, traced_ops, lat_traced, lat_plain)
            units = LAYER_UNITS
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": statistics.median(lat_plain) * 1e3 if lat_plain else 0.0,
                "items_per_s": w.items_per_s(plain) if plain else 0.0,
                "peak_rss_mb": rss,
            }
            units = E2E_UNITS
        print(
            f"# {args.workload} seed {args.seed}: {attempted} ops in {rounds} rounds "
            f"({measured_s:.1f} s), {failed} failed; set-up {setup_s:.2f} s "
            f"(priming {prime_s:.1f} s of it); input generation {gen_s:.1f} s"
        )
        print(f"# untraced op latencies (ms): {[round(x * 1e3) for x in lat_plain]}")
        for name, v in metrics.items():
            print(f"{name:40s} {v:16.4f} {units[name]}")
        tracer.uninstall()
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_everything(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass


def main() -> int:
    import json

    args = parse_args()
    if not os.path.isfile(os.path.join("zx_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root (no zx_spark/ package here)",
            file=sys.stderr,
        )
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

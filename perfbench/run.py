#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds nothing: it imports the program from the checkout it sits in, starts
one SparkSession on ``local[<cpus available>]``, generates the workload's
inputs from the seed and warms the JVM up (set-up), runs the workload's
closed loop for at least S seconds and to the end of the round in flight (a
workload's round is fixed work: one cron day, or one pass over the analytics
mix), checks the outputs, and prints one line per metric followed by one
JSON object on the last line of standard output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
span wrappers and the Spark event log and reports the per-layer metrics.
Everything it writes goes under ``perfbench/.work`` (removed at exit) and
``perfbench/.out`` (span dumps). Stops the JVM and every process the run
started, and waits for each, before it exits. Exits non-zero when an output check fails
or the program is not importable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _proc_cpu_s(pid) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all cpus: time the hypervisor gave to
    other guests shows as steal, and slows every timing of a run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's Python workers outlive the JVM
    that forked them) so that ``_stop_children`` can find and reap them."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            with contextlib.suppress(OSError, IndexError, ValueError):
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(d))
    return kids


def _stop_children(grace_s: float = 30.0) -> None:
    """Stop the JVM and every process it left behind, and wait for each.

    ``spark.stop()`` leaves the py4j gateway JVM running until it reads EOF
    on its stdin, which normally only happens when this process exits; so
    close that pipe and wait. Anything still a child after ``grace_s`` gets
    SIGTERM, then SIGKILL."""
    pyspark = sys.modules.get("pyspark")
    SparkContext = pyspark.SparkContext if pyspark else None
    gw = SparkContext._gateway if SparkContext else None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except Exception:           # noqa: BLE001 - killed below
                pass
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        kids = _children()
        for pid in kids:
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, os.WNOHANG)
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in kids:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _data_files(dirs: list[str]) -> int:
    return sum(1 for d in dirs if os.path.isdir(d)
               for _, _, files in os.walk(d) for f in files
               if f.endswith(".parquet"))


def run(args, work: str, out) -> int:
    from stats import geomean, tail_percentile
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "eventlog")
    # the heap is committed at its maximum from the start: G1 grows it as
    # its GC timing asks, which moved the driver JVM's peak RSS between 1.3
    # and 1.8 GB over runs of the same work; fixed, it stays within 2 %
    heap = "2g"
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms{heap} -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    t_setup = time.perf_counter()
    from etl_ender_turing_spark.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    session_s = time.perf_counter() - t_setup

    wl = WORKLOADS[args.workload](spark, work, args.seed)
    tracer = None
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warm_s

        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark)
            tracer.install()
            api = getattr(wl, "api", None)
            pages0, service0 = (api.pages, api.service_s) if api else (0, 0.0)
        ops: list[tuple[str, float, int]] = []
        attempted = failed = 0
        cpu0, jvm0, gc0 = time.process_time(), _proc_cpu_s(jvm_pid), _jvm_gc_s(spark)
        steal0, ticks0 = _host_ticks()
        t0 = time.perf_counter()
        while wl.has_next() and (time.perf_counter() - t0 < args.seconds
                                 or not wl.round_done()):
            attempted += 1
            if tracer:
                tracer.begin_op(attempted, args.workload)
            t = time.perf_counter()
            try:
                kind, items = wl.run_op()
                ops.append((kind, time.perf_counter() - t, items))
            except Exception:           # noqa: BLE001 - counted and reported
                traceback.print_exc()
                failed += 1
            finally:
                if tracer:
                    tracer.end_op()
        wall = time.perf_counter() - t0
        steal1, ticks1 = _host_ticks()
        cpu_s, jvm_s = time.process_time() - cpu0, _proc_cpu_s(jvm_pid) - jvm0
        gc_s = _jvm_gc_s(spark) - gc0
        # before the checks, whose oracles and collects are not the program's
        py_hwm_mb, jvm_hwm_mb = _vm_hwm_kb(os.getpid()) / 1024.0, _vm_hwm_kb(jvm_pid) / 1024.0
        peak_rss_mb = py_hwm_mb + jvm_hwm_mb
        if tracer:
            tracer.uninstall()
            if api:
                pages, service_s = api.pages - pages0, api.service_s - service0

        t = time.perf_counter()
        try:
            problems = wl.check()
        except Exception:               # noqa: BLE001 - a crashed check fails the run
            problems = ["output check raised:\n" + traceback.format_exc()]
        check_s = time.perf_counter() - t
        for p in problems:
            print(f"CHECK FAILED: {p}", file=out)
        # a wrong output makes an operation wrong: one problem per wrong
        # answer, several for a wrong warehouse
        failed = min(attempted, failed + len(problems))
        correct = failed == 0 and not problems
        files = _data_files(wl.output_dirs())
    finally:
        if hasattr(wl, "close"):
            wl.close()
        spark.stop()

    if not ops:
        print("no operation completed", file=sys.stderr)
        return 1
    lat_ms = [s * 1000.0 for _, s, _ in ops]
    items = sum(n for _, _, n in ops)
    p_tail, v_tail, n = tail_percentile(lat_ms)
    print(f"workload {args.workload}: {n} operations in {wall:.2f} s, "
          f"{items} {wl.item}s, error_rate {failed / max(attempted, 1):.4f} "
          f"({failed} failed of {attempted})", file=out)
    print(f"op latency: geometric mean {geomean(lat_ms):.1f} ms, median "
          f"{median(lat_ms):.1f} ms; highest percentile with "
          "ten samples beyond it: "
          + (f"p{p_tail:g} {v_tail:.1f} ms" if p_tail else "none")
          + f" (n={n})", file=out)
    by_kind: dict[str, list[float]] = {}
    for kind, sec, _ in ops:
        by_kind.setdefault(kind, []).append(sec * 1000.0)
    print("median ms by operation: " + ", ".join(
        f"{k} {median(v):.0f}" for k, v in sorted(by_kind.items(),
                                                  key=lambda kv: median(kv[1]))), file=out)
    print(f"host: {(steal1 - steal0) / max(ticks1 - ticks0, 1):.1%} of cpu time "
          "stolen by other guests during the timed region", file=out)
    print(f"peak RSS: driver JVM {jvm_hwm_mb:.0f} MB, driver Python {py_hwm_mb:.0f} MB",
          file=out)
    print(f"set-up: session {session_s:.2f} s, inputs {gen_s:.2f} s, "
          f"warm-up {warm_s:.2f} s; output checks "
          f"{check_s:.2f} s", file=out)

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_geomean_ms": (geomean(lat_ms), "ms"),
            "items_per_s": (items / wall, "1/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        from tracing import parse_event_log
        op_ids = set(tracer.windows)
        ev = parse_event_log(event_dir, tracer.windows)
        tot = {k: sum(ev[o].get(k, 0.0) for o in op_ids)
               for k in ("jobs", "stages", "tasks", "task_failures",
                         "executor_run_ms", "memory_spill_bytes",
                         "disk_spill_bytes", "shuffle_write_bytes",
                         "output_bytes")}
        busy = sum(s for _, s, _ in ops)
        span_s = tracer.span_seconds(op_ids)
        calls = tracer.span_calls(op_ids)
        k = len(ops)

        def share(name):
            return span_s.get(name, 0.0) / busy

        if not api:
            pages, service_s = 0, 0.0
        metrics = {
            "spark.jobs_per_op": (tot["jobs"] / k, "count"),
            "spark.stages_per_op": (tot["stages"] / k, "count"),
            "spark.tasks_per_op": (tot["tasks"] / k, "count"),
            "spark.task_failures": (tot["task_failures"], "count"),
            "spark.core_idle_share": (1.0 - tot["executor_run_ms"] / 1000.0
                                      / (busy * cpus), "share"),
            "spark.executor_run_s": (tot["executor_run_ms"] / 1000.0 / k, "s"),
            "spark.gc_s": (gc_s / k, "s"),
            "spark.shuffle_write_mb": (tot["shuffle_write_bytes"] / 2**20 / k, "MB"),
            "spark.spill_mb": ((tot["memory_spill_bytes"] + tot["disk_spill_bytes"])
                               / 2**20 / k, "MB"),
            "jvm.cpu_s": (jvm_s / k, "s"),
            "driver.py_cpu_s": (cpu_s / k, "s"),
            "pipeline.sync_period_share": (share("pipeline.sync_period"), "share"),
            "pipeline.transform_all_share": (share("pipeline.transform_all"), "share"),
            "pipeline.load_tables_share": (share("pipeline.load_tables"), "share"),
            "operators.upsert_calls_per_op": ((calls.get("operators.upsert", 0)
                                               + calls.get("operators.upsert_partitioned", 0))
                                              / k, "count"),
            "operators.upsert_share": (share("operators.upsert")
                                       + share("operators.upsert_partitioned"), "share"),
            "streaming.stream_sync_share": (share("streaming.run_api_stream_sync"),
                                            "share"),
            "warehouse.bytes_written_per_item": (tot["output_bytes"] / items, "bytes"),
            "warehouse.files": (files, "count"),
            "plans.build_share": (share("plans.build"), "share"),
            "plans.execute_share": (share("plans.execute"), "share"),
            "sources.read_table_calls_per_op": (calls.get("sources.read_table", 0) / k,
                                                "count"),
            "operators.prepare_training_set_share":
                (share("operators.prepare_training_set"), "share"),
            "operators.write_training_shards_share":
                (share("operators.write_training_shards"), "share"),
            "operators.curation_keep_ratio": (getattr(wl, "keep_ratio", 0.0), "share"),
            "sources.api_pages_per_op": (pages / k, "count"),
            "sources.api_service_share": (service_s / busy, "share"),
            "trace.op_geomean_ms": (geomean(lat_ms), "ms"),
            "trace.spans_per_op": (sum(calls.values()) / k, "count"),
        }
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        tracer.write(os.path.join(HERE, ".out",
                                  f"spans-{args.workload}-{args.seed}.jsonl"))

    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}", file=out)
    out.write(json.dumps({
        "correct": correct, "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()}}) + "\n")
    out.flush()
    return 0 if correct else 1


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "etl_ender_turing_spark")):
        print("perfbench: the program (etl_ender_turing_spark) is not in this "
              "checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the program too; the JVM's temp files,
    # the workers' and spark-warehouse land in the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, "tmp")
    # glibc gives each JVM thread its own malloc arena; which threads get one
    # moved the JVM's peak RSS between 1.2 and 1.75 GB over runs of the same
    # work, and with two arenas it stays within 1.1-1.4 GB
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.chdir(work)
    _become_subreaper()
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = sys.stdout
    try:
        # the program prints progress notes; keep stdout for the results
        with contextlib.redirect_stdout(sys.stderr):
            return run(args, work, out)
    finally:
        _stop_children()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

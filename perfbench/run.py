"""Benchmark of the mapreduce_model_spark engine.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload warm_mix --seed 1 --seconds 12 --trace 0

Workloads are described in ``workloads.py``. The engine runs on
``local[<cpus of this process>]``, driven by one closed-loop client. The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones, both in CPU
seconds (see "CPU, not wall time" below):

- ``setup_s``: the CPU the process tree spends from process start to a
  usable session (``get_spark`` plus the registry import), median of two
  fresh processes: this one and a probe started after the window;
- ``warm_pass_cpu_s``: the CPU the process tree spends on one warm pass over
  the workload's work, total over the warm passes divided by their number
  (``--seconds`` sets how many; see ``workloads.py``).

CPU, not wall time. On a shared 4-core host whose CPU steal swung between 0
and 50% within minutes, the wall time of a warm pass followed the steal
(1.2 s at 7% steal, 2.2 s at 14%), and the quartile spread of five runs
reached 0.4-0.7 of the median. Steal is not charged to the process, so the
CPU the engine's own threads use stays put. The JVM's compiler and
garbage-collector threads are left out (``tracing.tree_cpu_s``): how much
of their work lands in a pass depends on the spare CPU at the time, and on
a quiet host it moved the cold pass's CPU by a fifth.

Per layer only, for the same reasons:

- the cold pass (``pass.cold_s`` wall, ``pass.cold_cpu_s``): the first
  pass in a fresh JVM races the JIT compilers, and its CPU spread 0.10-0.12
  of the median over five seeds even on a quiet host;
- wall times (``session.start_s``, ``pass.warm_p50_s`` and ``ops.p50_s``,
  the median latency of one warm operation: a warm_mix query, build plus
  execute, or an index_corpus batch index). A 90th percentile would need
  over a hundred samples to have ten beyond it;
- memory: the JVM's peak RSS follows the collector's heap sizing, and its
  heap after a full collection moved between 80 and 290 MB.

With ``--trace 1`` the run logs Spark events, tags every job with its
span, and prints the per-layer metrics instead (see ``tracing.py``), plus
``trace.overhead_frac``: the traced cold pass's CPU against that of an
untraced one of the same seed, run in a child process; ``mem.peak_rss_mb``,
the highest resident set (VmHWM) during the run summed over this process
and its descendants (the JVM and the Python workers); and
``mem.heap_retained_mb``, the JVM heap in use after a full collection at
the end (the driver and the local executors share that JVM). Event-log
metrics cover the window, cold and warm passes; the ``stream.*`` ones cover
index_corpus's streaming append, which runs once after the window in a
traced run only.

Everything a run writes goes under ``.perfbench/`` in the checkout. The
first run in a checkout generates the sf0.1 tables with the engine's own
``datagen`` and computes the DuckDB oracle answers; later runs reuse them.
The tables do not depend on the seed: ``datagen`` has none.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "sf0.1")
ORACLE = os.path.join(WORK, "oracle")
READY = os.path.join(DATA, "READY")
SETUP_PROBES = 1
PREPARE_TIMEOUT_S = 800
CHILD_TIMEOUT_S = 60
# datagen's sf0.1 has 50k documents and 50k vectors; the harness tables the
# engine's queries were sized for have 5000 and 2000 at sf0.1, and the
# pairwise similarity oracles take minutes at 50k. Keep the first rows.
SUBSET = {"documents": ("doc_id", 5000), "embeddings": ("vec_id", 2000)}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(run_dir: str) -> None:
    """Keep the engine's defaults and everything it writes inside the run
    dir; the engine's workers import it from the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session(run_dir: str, event_log: str | None = None):
    from mapreduce_model_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=_cpus(), extra_conf=conf)
    from mapreduce_model_spark import registry  # noqa: F401  (part of set-up)

    return spark


def _oracle():
    import check
    from mapreduce_model_spark import registry

    return check.Oracle(DATA, ORACLE, registry.TABLES, registry.ORACLE_SQL)


def _prepared() -> bool:
    import workloads

    return os.path.exists(READY) and not _oracle().missing(workloads.all_queries())


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until every process this one
    started (the JVM, its Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits at end of input
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while tracing.descendants(os.getpid())[1:] and time.time() < deadline:
        time.sleep(0.1)


def _prepare(run_dir: str) -> None:
    """Generate the tables, then any missing oracle answers (child process)."""
    import workloads
    from mapreduce_model_spark import datagen, registry

    if not os.path.exists(READY):
        spark = _session(run_dir)
        raw = os.path.join(run_dir, "datagen")
        datagen.generate(spark, 0.1, raw)
        shutil.rmtree(DATA, ignore_errors=True)
        for t in registry.TABLES:
            df = spark.read.parquet(os.path.join(raw, f"{t}.parquet"))
            if t in SUBSET:
                col, n = SUBSET[t]
                df = df.filter(df[col] < n).coalesce(1)
            df.write.parquet(os.path.join(DATA, f"{t}.parquet"))
        _stop(spark)
        with open(READY, "w") as fh:
            fh.write("ok\n")
    oracle = _oracle()
    oracle.compute(oracle.missing(workloads.all_queries()), os.path.join(run_dir, "tmp"))


def _child(args: list[str], timeout: float) -> str:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, timeout=timeout, cwd=ROOT,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"child {args} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return proc.stdout


def _reset_peak_rss() -> None:
    for p in tracing.descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def _peak_rss_mb() -> float:
    by_name: dict[str, list[int]] = {}
    for p in tracing.descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            by_name.setdefault(fields["Name"].strip(), []).append(int(fields["VmHWM"].split()[0]))
    _log("peak RSS by process: " + ", ".join(
        f"{n} x{len(v)} {sum(v) / 1024:.0f} MB" for n, v in sorted(by_name.items())))
    return sum(sum(v) for v in by_name.values()) / 1024


def _heap_retained_mb(spark) -> float:
    """JVM heap in use after a full collection: what the session still holds
    (persisted frames, memos, broadcasts)."""
    gc.collect()  # frees the Python proxies that pin JVM objects
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)  # the context cleaner drops what the first collection freed
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 1e6


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _measure(args, run_dir: str) -> dict:
    import workloads

    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = _session(run_dir, event_log)
    setup_s, setup_cpu_s = _since_process_start(), tracing.tree_cpu_s()
    if not _prepared():
        _log("first run in this checkout: generating tables and oracle answers")
        _child(["--prepare"], PREPARE_TIMEOUT_S)
    tracer = tracing.Tracer(args.workload, spark if args.trace else None)
    ctx = workloads.Ctx(spark, tracer, DATA, run_dir, args.seed, args.seconds, _oracle(),
                        append=bool(args.trace))
    run = workloads.WORKLOADS[args.workload]
    if args.trace:
        _reset_peak_rss()
    if args.cold_only:
        res = run(ctx, cold_only=True)
        _stop(spark)
        return {"cold_pass_cpu_s": res.cold_pass_cpu_s}
    res = run(ctx)
    if args.trace:
        mem = {"mem.peak_rss_mb": _peak_rss_mb(), "cache.storage_mb": _storage_mb(spark),
               "mem.heap_retained_mb": _heap_retained_mb(spark)}
    _stop(spark)
    out = {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed}
    lat = res.latencies
    if not args.trace:
        setups = [setup_cpu_s] + [float(_child(["--setup-probe"], CHILD_TIMEOUT_S).split()[-1])
                                  for _ in range(SETUP_PROBES)]
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "warm_pass_cpu_s": (statistics.fmean(res.warm_pass_cpu_s), "s"),
        }
        _log(f"{args.workload}: setup CPU {setups} s (wall {setup_s:.2f} s); cold pass"
             f" CPU {res.cold_pass_cpu_s:.2f} s, wall {res.cold_pass_s:.2f} s;"
             f" {len(res.warm_pass_s)} warm passes, median wall"
             f" {statistics.median(res.warm_pass_s):.3f} s, CPU"
             f" {[round(c, 2) for c in res.warm_pass_cpu_s]} s")
    else:
        ops = res.window_ops
        layers = tracing.layer_metrics(tracer, res.window, ops, _cpus(), event_log)
        untraced = json.loads(_child(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0", "--cold-only"],
            CHILD_TIMEOUT_S + 60).splitlines()[-1])["cold_pass_cpu_s"]
        layers.update(res.extra)
        layers.update(mem)
        layers.update({
            "session.start_s": setup_s,
            "ops": float(ops),
            "ops.p50_s": statistics.median(lat),
            "pass.cold_s": res.cold_pass_s,
            "pass.cold_cpu_s": res.cold_pass_cpu_s,
            "pass.warm_p50_s": statistics.median(res.warm_pass_s),
            "trace.overhead_frac": res.cold_pass_cpu_s / untraced - 1,
        })
        units = _layer_units()
        unknown = set(layers) - set(units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        # a layer the workload does not use (the stream on warm_mix) reads 0
        metrics = {k: (layers.get(k, 0.0), u) for k, u in units.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.spans.json"))
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return out


def _layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("warm_mix", "index_corpus"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cold-only", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapreduce_model_spark", "__init__.py")):
        _log(f"run from the root of a checkout: no mapreduce_model_spark package in {ROOT}")
        return 2
    if not (args.workload or args.setup_probe or args.prepare):
        p.error("--workload is required")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    # a terminated run still removes its run dir; the JVM exits with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _environment(run_dir)
        if args.setup_probe:
            spark = _session(run_dir)
            print(_since_process_start(), tracing.tree_cpu_s(), flush=True)
            _stop(spark)
            return 0
        if args.prepare:
            _prepare(run_dir)
            return 0
        out = _measure(args, run_dir)
        for k, m in out.get("metrics", {}).items():
            _log(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

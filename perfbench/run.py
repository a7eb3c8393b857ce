"""Migration benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload dump_pgexport --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout. The run generates (or reuses) the
seeded inputs, starts Spark as ``local[<cores>]``, migrates once cold,
then migrates warm in a closed loop of one client — the next migration
starts when the previous one returned — until ``--seconds`` of
migration time are measured (at least ``MIN_WARM`` migrations). Every
migration's output is checked outside the timing by the workload's own
checker. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run that reports the per-layer metrics: spans around the
program's public functions and seams, a Spark event log, and ``/proc``
samples; warm migrations alternate traced and untraced so the run also
measures its own overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: warm migrations run and checked but not reported: the JIT is still
#: compiling through them (CPU per migration falls ~30% from the first
#: warm migration to the third); reporting them would make a run's median
#: depend on how many warm migrations fit in ``--seconds``
WARMUP = 1
MIN_WARM = 3
MIN_WARM_TRACED = 4
MAX_WARM = 12
JVM_HEAP = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("dump_pgexport", "corpus_duckdb"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile of a small sample."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, round(q * (len(s) - 1))))]


def start_spark(cores: int, work: str, event_dir: str | None):
    from mysql2pg_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed, pre-touched heap: left to grow on its own, the heap's
        # resident size differs by ~1 GB between identical runs
        "spark.driver.memory": JVM_HEAP,
        # keep the JVM's files in the run directory: temp files, and no
        # hsperfdata under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    import procstat

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline:
        left = [p for p in procstat.descendants(os.getpid())
                if p != os.getpid()]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Run:
    """Per-migration records of one benchmark process."""

    def __init__(self):
        self.walls: list[float] = []      # warm migration seconds
        self.cold: float | None = None
        self.cpu: list[dict] = []         # per warm migration, by kind
        self.peaks: list[float] = []      # per warm migration, MB
        self.outcomes: list = []          # warm outcomes
        self.windows: list[tuple] = []    # (epoch ms start, end, traced, id)
        self.migrations = 0
        self.failed_migrations = 0
        self.ops_attempted = 0
        self.ops_failed = 0
        self.problems: list = []


def run_migration(wl, i: int, run: Run, tree, tracer, traced: bool,
                  keep: bool = True) -> None:
    """Migration ``i`` (0 = cold), timed; then its check, untimed. A
    warm migration with ``keep`` false is checked but not reported."""
    if tracer is not None:
        tracer.enabled = traced
        tracer.begin_migration(i)
    cpu0 = tree.cpu()
    tree.reset_peaks()
    ms0 = time.time() * 1000
    run.migrations += 1
    try:
        out = wl.migrate(i)
    except Exception as e:  # a migration that raised is a failed migration
        run.failed_migrations += 1
        run.ops_attempted += 1
        run.ops_failed += 1
        run.problems.append((i, f"{type(e).__name__}: {str(e)[:300]}"))
        return
    finally:
        ms1 = time.time() * 1000
        if tracer is not None:
            tracer.end_migration()
            tracer.enabled = False
    cpu1 = tree.cpu()
    peak_mb = tree.peak_rss_mb()
    t_chk = time.perf_counter()
    chk = wl.check(out)
    print(f"migration {i}: {out.wall_s:.3f} s, "
          f"{sum(cpu1.values()) - sum(cpu0.values()):.2f} CPU-s, check "
          f"{time.perf_counter() - t_chk:.3f} s", file=sys.stderr)
    run.ops_attempted += out.ops_attempted + chk.compared
    run.ops_failed += out.ops_failed + len(chk.mismatched)
    if not chk.ok:
        run.failed_migrations += 1
        run.problems.append((i, chk.mismatched[:5]))
    wl.cleanup(out)
    if i == 0:
        run.cold = out.wall_s
    if i == 0 or not keep:
        return
    run.walls.append(out.wall_s)
    run.cpu.append({k: cpu1[k] - cpu0[k] for k in cpu1})
    run.peaks.append(peak_mb)
    run.windows.append((ms0, ms1, traced, i))
    run.outcomes.append(out)


def measure(wl, run: Run, tree, tracer, seconds: float) -> None:
    """One cold migration, ``WARMUP`` unreported warm ones, then warm
    ones until ``seconds`` of warm migration time (at least
    ``MIN_WARM``; a traced run alternates traced and untraced ones,
    starting traced)."""
    run_migration(wl, 0, run, tree, tracer, traced=True)
    for i in range(1, 1 + WARMUP):
        run_migration(wl, i, run, tree, tracer, traced=False, keep=False)
    min_warm = MIN_WARM_TRACED if tracer else MIN_WARM
    k = 1
    while k <= MAX_WARM and (k <= min_warm or sum(run.walls) < seconds):
        run_migration(wl, WARMUP + k, run, tree, tracer,
                      traced=tracer is not None and k % 2 == 1)
        k += 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mysql2pg_spark")):
        print("perfbench: no mysql2pg_spark package next to perfbench/ — "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs
    import procstat
    import workloads

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]

    input_dir = inputs.ensure_inputs(ROOT, args.workload, args.seed)
    cores = len(os.sched_getaffinity(0))
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()

    # ---- setup: import the engine, build the session, one trivial job
    t0 = time.perf_counter()
    if tracer is not None:
        tracer.patch_all()
    spark = start_spark(cores, work,
                        os.path.join(work, "events") if tracer else None)
    setup_s = time.perf_counter() - t0
    print(f"setup: {setup_s:.3f} s", file=sys.stderr)

    tree = procstat.ProcessTree()
    run = Run()
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, input_dir, os.path.join(work, "wl"), cores,
            seam=tracer.wrap if tracer else None)
        if tracer is not None:
            measure_program(tracer)
        with (procstat.Sampler(tree) if tracer
              else contextlib.nullcontext()):
            measure(wl, run, tree, tracer, args.seconds)
    finally:
        stop_spark(spark)

    if run.walls:
        metrics = (layer_metrics(wl, run, tracer, work, cores)
                   if tracer else
                   end_to_end(wl, run, setup_s))
    else:
        metrics = {}
    for i, problem in run.problems:
        print(f"migration {i}: {problem}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed_migrations == 0 and bool(run.walls),
        "attempted": run.migrations,
        "failed": run.failed_migrations,
        "metrics": metrics,
    }))
    return 0


def end_to_end(wl, run: Run, setup_s: float) -> dict:
    mig = median(run.walls)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        # what a one-shot CLI run waits for: setup plus one cold
        # migration. The cold migration alone is one sample per process
        # and spread up to 0.28 over ten seeds on a shared host; the
        # traced run reports it as cold_migration_s.
        "oneshot_s": {"value": setup_s + (run.cold or 0.0), "unit": "s"},
        "migration_s": {"value": mig, "unit": "s"},
        "rows_per_s": {"value": wl.source_rows / mig, "unit": "1/s"},
        "cpu_s": {"value": median([sum(c.values()) for c in run.cpu]),
                  "unit": "s"},
        "peak_rss_mb": {"value": median(run.peaks), "unit": "MB"},
        "ok_op_frac": {
            "value": 1 - run.ops_failed / max(run.ops_attempted, 1),
            "unit": "frac"},
    }


def measure_program(tracer) -> None:
    """Results the traced run keeps on spans (action counts, whether an
    observation arrived)."""
    tracer.measures["orchestrator.plan"] = lambda acts: (
        len(acts), sum(a.kind == "ddl" for a in acts))
    tracer.measures["validate.observation_wait"] = lambda row: row is not None


#: stage names ``execute``/``execute_local`` report in ``stage_sec``
STAGES = ("plan", "tableddl", "view", "data", "sequences", "indexes",
          "fkeys", "checks", "functions", "triggers", "events", "users",
          "table_privileges", "validate")


def layer_metrics(wl, run: Run, tracer, work, cores) -> dict:
    import eventlog
    import tracing

    traced = [k for k, w in enumerate(run.windows) if w[2]]
    plain = [k for k, w in enumerate(run.windows) if not w[2]]
    log_path = eventlog.find_log(os.path.join(work, "events"))
    log = eventlog.parse(log_path) if log_path else eventlog.EventLog()

    per: list[dict] = []
    for k in traced:
        out = run.outcomes[k]
        ms0, ms1, _, mid = run.windows[k]
        spans = [s for s in tracer.spans if s.migration == mid]
        red = tracing.reduce_spans(spans)
        sw = eventlog.window(log, ms0, ms1)
        wall = out.wall_s

        def total(name):
            return red[name].total_s if name in red else 0.0

        def self_s(name):
            return red[name].self_s if name in red else 0.0

        def calls(name):
            return red[name].calls if name in red else 0

        plans = [s.info for s in spans if s.name == "orchestrator.plan"]
        obs = [s.info for s in spans if s.name == "validate.observation_wait"]
        writes = tracing.durations(spans, "sinks.write")
        m = {
            "orchestrator.plan_s": total("orchestrator.plan"),
            "orchestrator.actions": sum(p[0] for p in plans),
            "orchestrator.objects": sum(p[1] for p in plans),
            "spark.jobs": sw.jobs,
            "spark.jobs_per_table": sw.jobs / max(out.tables, 1),
            "spark.tasks": sw.tasks,
            "spark.executor_run_s": sw.run_s,
            "spark.executor_cpu_s": sw.cpu_s,
            "spark.gc_s": sw.gc_s,
            "spark.busy_frac": sw.run_s / (wall * cores),
            "spark.input_mb": sw.input_mb,
            "spark.output_mb": sw.output_mb,
            "spark.shuffle_write_mb": sw.shuffle_write_mb,
            "validate.readback_s": out.stage_s.get("validate", 0.0),
            "validate.observation_wait_s": total("validate.observation_wait"),
            "validate.observed_frac": (sum(1 for o in obs if o)
                                       / out.validated if out.validated
                                       else 0.0),
            "validate.tables": out.validated,
            "validate.mismatches": out.mismatches,
            "proc.driver_cpu_s": run.cpu[k]["driver"],
            "proc.jvm_cpu_s": run.cpu[k]["jvm"],
            "proc.pyworker_cpu_s": run.cpu[k]["pyworker"],
            "sources.snapshot_s": total("sources.snapshot"),
            "sinks.copy_write_s": total("sinks.copy_write"),
            "sinks.write_s": sum(writes),
            "sinks.table_write_p50_s": quantile(writes, 0.5),
            "sinks.table_write_p90_s": quantile(writes, 0.9),
            "sinks.target_exec_s": total("sinks.target_exec"),
            "sinks.target_statements": calls("sinks.target_exec"),
            "sinks.target_failed": (red["sinks.target_exec"].failed
                                    if "sinks.target_exec" in red else 0),
            "sinks.bytes_per_row": out.sink_bytes / max(out.rows, 1),
            "schema.map_type_calls": calls("schema.map_type"),
            "schema.map_type_s": self_s("schema.map_type"),
            "dialect.transpile_calls": calls("dialect.transpile"),
            "dialect.transpile_s": self_s("dialect.transpile"),
            "sinks.ddl.render_s": self_s("sinks.ddl.render"),
            "sinks.plpgsql.build_s": self_s("sinks.plpgsql.build"),
            "ops.attempted": out.ops_attempted,
            "ops.failed": out.ops_failed,
        }
        for layer, v in sw.run_s_by_layer.items():
            m[f"spark.stage_run_s.{layer}"] = v
        for st in STAGES:
            m[f"orchestrator.stage_s.{st}"] = out.stage_s.get(st, 0.0)
        per.append(m)

    metrics = {name: {"value": median([m[name] for m in per]),
                      "unit": LAYER_UNITS.get(name, unit_of(name))}
               for name in per[0]} if per else {}
    session = [s for s in tracer.spans if s.name == "session.start"]
    traced_mig = median([run.walls[k] for k in traced])
    plain_mig = median([run.walls[k] for k in plain])
    metrics["cold_migration_s"] = {"value": run.cold or 0.0, "unit": "s"}
    metrics["session.start_s"] = {
        "value": session[0].end - session[0].start if session else 0.0,
        "unit": "s"}
    metrics["trace.migration_s"] = {"value": traced_mig, "unit": "s"}
    metrics["trace.overhead_frac"] = {
        "value": traced_mig / plain_mig - 1 if plain_mig else 0.0,
        "unit": "frac"}
    return metrics


LAYER_UNITS = {
    "spark.busy_frac": "frac", "validate.observed_frac": "frac",
    "sinks.bytes_per_row": "B/row", "spark.jobs_per_table": "jobs/table",
}


def unit_of(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

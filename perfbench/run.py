"""Benchmark for predictor_spark: one workload, one seed, one closed-loop
client in one driver process at local[<cores>].

    python3 perfbench/run.py --workload catalog_sweep --seed 1 --seconds 22 --trace 0

Run from the root of a checkout. The first run builds the sf0.1 tables
under .perfbench/ (a few seconds); DuckDB oracle answers are cached there
too. Everything a run writes (Spark local dirs, temp files, CSV and
warehouse outputs) goes to .perfbench/run-<pid>/, which is removed at
exit.

Untraced (--trace 0) the last stdout line is the result JSON with the
end-to-end metrics of BENCHMARK.json. Traced (--trace 1) it carries the
per-layer metrics: every op runs once untraced and once traced, the
per-layer figures come from the traced runs, and trace.overhead_ops_per_s
is their ops_per_s minus the untraced ones'. Spans and the full record go
to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SF_DIR = os.path.join(STATE, "data", "sf0.1")
#: driver heap, fixed in size and touched at start. At the engine's default
#: (16g, grown on demand) peak_rss_mb follows GC timing: on a 4-vCPU, 15 GB
#: VM it ranged 3.0-6.8 GB over six catalog_sweep seeds (quartile spread
#: 0.65 of the median); a 2g heap grown on demand still gave 1.4-2.1 GB
#: (0.42). With the heap fixed, peak_rss_mb moves with the JVM's non-heap
#: memory and the Python driver, not with when GC ran.
DRIVER_MEM = "2g"
#: no op starts after this many seconds of process age, so a run ends well
#: inside three minutes
DEADLINE_S = 130.0

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
              "op_tail_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.registry_s": "s",
    "session.table_warm_s": "s", "session.worker_warm_s": "s",
    "plans.build_s": "s", "plans.build_share": "share",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.grouped_share": "share", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.core_busy_share": "share",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "models.pyudf_rows": "count", "models.bytes_to_python_mb": "MB",
    "models.bytes_from_python_mb": "MB", "models.pyudf_s": "s",
    "driver.gap_s": "s",
    "sources.write_s": "s", "sources.bytes_written_mb": "MB",
    "sources.write_amp": "ratio", "sources.tmp_left_mb": "MB",
    "cache.residue_ops": "count", "cache.clear_s": "s",
    "trace.ops_per_s": "1/s", "trace.overhead_ops_per_s": "1/s",
    "trace.post_op_s": "s",
}
MB = 1024.0 * 1024.0


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "predictor_spark", "session.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")))


def pin_environment(work: str, cores: int) -> None:
    """Cores, driver heap, and every temp and working path of the driver,
    the JVMs and the Python workers, pointed inside the run directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        f"--conf 'spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


class Loop:
    """The closed loop: rounds of ops, each after clearCache(), timed from
    the call into the engine to the materialized result, with per-op Spark
    figures in traced rounds."""

    def __init__(self, ctx, wl, probe, cores: int, seconds: float,
                 started: float, traced: bool):
        self.ctx, self.wl, self.probe = ctx, wl, probe
        self.cores, self.seconds, self.started = cores, seconds, started
        self.traced = traced
        self.ops: list[dict] = []
        self.outcomes: list = []
        self.rounds = 0

    def run(self) -> None:
        """A fixed number of whole rounds: the number of the workload's
        reference rounds nearest to --seconds (at least one), so every run
        of a workload does the same work. A traced run does every op twice,
        untraced and traced, alternating which goes first, so the second
        run's warmer JVM favours neither mode."""
        self.rounds = max(1, round(self.seconds / self.wl.round_s))
        ops = [op for rnd in self.wl.rounds(self.rounds) for op in rnd]
        for k, op in enumerate(ops):
            modes = ((False, True) if k % 2 == 0 else (True, False)) \
                if self.traced else (False,)
            for traced in modes:
                if time.time() - self.started > DEADLINE_S:
                    return
                self.ctx.tracer.enabled = traced
                self.ops.append(self.one(len(self.ops), op, traced))
                self.ctx.tracer.enabled = self.traced

    def one(self, i: int, op: str, traced: bool) -> dict:
        spark, tr, probe = self.ctx.spark, self.ctx.tracer, self.probe
        sc = spark.sparkContext
        t = time.perf_counter()
        with tr.span("cache.clear", i):
            spark.catalog.clearCache()
        rec = {"i": i, "op": op, "traced": traced,
               "clear_s": time.perf_counter() - t}
        group = f"perfbench-{self.wl.name}-{i}"
        sc.setJobGroup(group, op)
        mark = probe.mark() if traced else None
        problem = df = outcome = None
        e0 = time.time()
        t0 = time.perf_counter()
        with tr.span("op", i):
            try:
                with tr.span("plans.build", i):
                    built = self.wl.build(i, op)
                rec["build_s"] = time.perf_counter() - t0
                if traced:
                    rec["build_jobs"] = probe.jobs_since(mark)
                with tr.span("exec.action", i):
                    df, outcome = self.wl.act(i, op, built)
            except Exception as e:  # noqa: BLE001 - an op failure is a result
                first = (str(e).splitlines() or [""])[0]
                problem = f"{type(e).__name__}: {first[:300]}"
        rec["wall_s"] = time.perf_counter() - t0
        e1 = time.time()
        if traced:
            rec.update(self.layer_figures(i, mark, e0, e1, df, group))
        rec["problem"] = problem
        self.outcomes.append(outcome)
        return rec

    def verify(self) -> None:
        """Check every op's outcome, after the loop and outside any timed
        region; then the workload's whole-run checks."""
        tr = self.ctx.tracer
        for rec, outcome in zip(self.ops, self.outcomes):
            if rec["problem"] is None:
                with tr.span("verify", rec["i"]):
                    try:
                        rec["problem"] = self.wl.check(rec["op"], outcome)
                    except Exception as e:  # noqa: BLE001 - a check failure is a result
                        rec["problem"] = f"check raised {type(e).__name__}: {e}"
        self.outcomes.clear()
        for i, problem in self.wl.finish():
            if self.ops[i]["problem"] is None:
                self.ops[i]["problem"] = problem

    def layer_figures(self, i, mark, e0, e1, df, group) -> dict:
        t = time.perf_counter()
        probe, sc = self.probe, self.ctx.spark.sparkContext
        out = {"spark": probe.collect(mark, e0, e1)}
        grouped = len(sc.statusTracker().getJobIdsForGroup(group))
        out["grouped_jobs"] = grouped
        if df is not None:
            out["catalyst"] = probe.catalyst(df)
        out["cache_residue"] = not probe.cache_empty()
        if hasattr(self.wl, "write_amp"):
            out["wh_amp"] = self.wl.write_amp(e0)
        out["post_op_s"] = time.perf_counter() - t
        return out


def end_to_end(ops: list[dict], setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    from stats import median, tail

    walls = [r["wall_s"] for r in ops]
    value, pct, beyond = tail(walls)
    metrics = {"setup_s": setup_s, "ops_per_s": len(walls) / sum(walls),
               "op_p50_s": median(walls), "op_tail_s": value,
               "peak_rss_mb": peak_rss_mb}
    return metrics, {"samples": len(walls), "tail_percentile": pct,
                     "tail_samples_beyond": beyond}


def per_layer(loop: Loop, tracer, session: dict, tmp_left_b: int) -> tuple[dict, list]:
    """Per-layer metrics and the five layers with the most self time.

    Per-op figures are means over the traced ops; shares are over their
    summed wall time. exec.grouped_share is the share of an op's Spark
    jobs that carry its job group (jobs started from the engine's own
    threads do not). sources.write_amp is the largest over the run's ops:
    the last upsert into the largest table."""
    from tracing import layer_self_times

    traced = [r for r in loop.ops if r["traced"] and "spark" in r]
    plain = [r for r in loop.ops if not r["traced"]]
    n = max(1, len(traced))
    wall = sum(r["wall_s"] for r in traced) or float("nan")

    def mean(f):
        return sum(f(r) for r in traced) / n

    def sp(key):
        return mean(lambda r: r["spark"][key])

    jobs = sum(r["spark"]["jobs"] for r in traced)
    ops_traced = len(traced) / wall
    ops_plain = len(plain) / sum(r["wall_s"] for r in plain) if plain else float("nan")
    writes = [s for s in tracer.spans
              if s.name == "sources.write" and s.op is not None and s.op >= 0]
    m = {
        "session.start_s": session["start"], "session.registry_s": session["registry"],
        "session.table_warm_s": session["tables"],
        "session.worker_warm_s": session["workers"],
        "plans.build_s": mean(lambda r: r.get("build_s", r["wall_s"])),
        "plans.build_share": sum(r.get("build_s", r["wall_s"]) for r in traced) / wall,
        "plans.build_jobs": mean(lambda r: r.get("build_jobs", 0)),
        "catalyst.analysis_s": mean(lambda r: r.get("catalyst", {}).get("analysis", 0.0)),
        "catalyst.optimization_s": mean(
            lambda r: r.get("catalyst", {}).get("optimization", 0.0)),
        "catalyst.planning_s": mean(lambda r: r.get("catalyst", {}).get("planning", 0.0)),
        "exec.jobs": sp("jobs"),
        "exec.grouped_share": sum(r["grouped_jobs"] for r in traced) / jobs if jobs else 0.0,
        "exec.stages": sp("stages"), "exec.tasks": sp("tasks"), "exec.task_s": sp("task_s"),
        "exec.core_busy_share": sum(r["spark"]["task_s"] for r in traced) / (wall * loop.cores),
        "exec.input_mb": sp("input_b") / MB, "exec.shuffle_read_mb": sp("shuffle_read_b") / MB,
        "exec.shuffle_write_mb": sp("shuffle_write_b") / MB, "exec.spill_mb": sp("spill_b") / MB,
        "exec.gc_s": sp("gc_s"),
        "models.pyudf_rows": sp("py_rows"), "models.bytes_to_python_mb": sp("py_sent_b") / MB,
        "models.bytes_from_python_mb": sp("py_recv_b") / MB, "models.pyudf_s": sp("py_s"),
        "driver.gap_s": sp("gap_s"),
        "sources.write_s": sum(s.end - s.start for s in writes) / n,
        "sources.bytes_written_mb": sp("written_b") / MB,
        "sources.write_amp": max((r.get("wh_amp", 0.0) for r in traced), default=0.0),
        "sources.tmp_left_mb": tmp_left_b / MB,
        "cache.residue_ops": float(sum(r["cache_residue"] for r in traced)),
        "cache.clear_s": mean(lambda r: r["clear_s"]),
        "trace.ops_per_s": ops_traced,
        "trace.overhead_ops_per_s": ops_traced - ops_plain,
        "trace.post_op_s": mean(lambda r: r["post_op_s"]),
    }
    top = sorted(layer_self_times(tracer.spans).items(), key=lambda kv: -kv[1])[:5]
    return m, top


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not program_present():
        print(f"perfbench: no predictor_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import datagen
    import envinfo
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx

    args = parse_args(argv)
    started = envinfo.process_start_epoch()
    cores = envinfo.cores()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cores)
    t = time.perf_counter()
    table_rows = datagen.build_tables(SF_DIR)
    build_s = time.perf_counter() - t
    tracer = Tracer(bool(args.trace))
    session: dict[str, float] = {}
    spark = None
    try:
        from predictor_spark.session import get_spark
        from sparkstats import SparkProbe

        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
        session["start"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.registry"):
            import __spark_entry__

            __spark_entry__.queries()
        session["registry"] = time.perf_counter() - t
        ctx = Ctx(spark=spark, root=ROOT, work=work, sf_dir=SF_DIR,
                  seed=args.seed, tracer=tracer)
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](ctx)
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.worker_warm"):
            wl.warm_workers(cores)
        session["workers"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.table_warm"):
            wl.warm()
        session["tables"] = time.perf_counter() - t
        probe = SparkProbe(spark) if args.trace else None
        setup_s = time.time() - started - build_s - inputs_s
        loop = Loop(ctx, wl, probe, cores, args.seconds, started, bool(args.trace))
        ticks = envinfo.cpu_ticks()
        loop.run()
        steal = envinfo.steal_share(ticks, envinfo.cpu_ticks())
        # before verification, whose DuckDB and pandas work is not the engine's
        rss = {"python_mb": envinfo.vm_hwm_mb(os.getpid()),
               "jvm_mb": envinfo.vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
        loop.verify()
        env = envinfo.record(spark, cores)
        env["steal_share"] = steal
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        tmp_left = dir_bytes(os.path.join(work, "tmp"))
        shutil.rmtree(work, ignore_errors=True)

    failed = [r for r in loop.ops if r["problem"]]
    e2e, tail_info = end_to_end(loop.ops, setup_s, sum(rss.values()))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "table_build_s": build_s, "input_s": inputs_s,
              "tables": table_rows, "inputs": ctx.info, "env": env,
              "session": session, "peak_rss": rss, "end_to_end": e2e, "tail": tail_info,
              "failed_share": len(failed) / len(loop.ops), "ops": loop.ops}
    print(f"workload {args.workload} seed {args.seed}: {len(loop.ops)} ops in "
          f"{loop.rounds} round(s) of {wl.round_s:.1f} reference s, "
          f"{sum(r['wall_s'] for r in loop.ops):.2f} s at local[{cores}]; "
          f"inputs {json.dumps(ctx.info, sort_keys=True)}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<12} {e2e[name]:.6g} {unit}")
    print(f"  op_tail_s is p{tail_info['tail_percentile']:.1f} of "
          f"{tail_info['samples']} ops ({tail_info['tail_samples_beyond']} beyond)")
    print(f"  failed_share {len(failed)}/{len(loop.ops)} = "
          f"{record['failed_share']:.3f}")
    for r in failed:
        print(f"  FAILED op {r['i']} {r['op']}: {r['problem']}")
    print(f"  verification: {'all ops match' if not failed else 'MISMATCH'}")
    print(f"  env {json.dumps(env, sort_keys=True)}")
    if args.trace:
        metrics, top = per_layer(loop, tracer, session, tmp_left)
        record["per_layer"], record["top_layers"] = metrics, top
        for name, unit in PER_LAYER.items():
            print(f"  {name:<28} {metrics[name]:.6g} {unit}")
        print("  top layers by self time: " + ", ".join(
            f"{layer} {secs:.3f} s" for layer, secs in top))
        print(f"  tracing overhead: {metrics['trace.overhead_ops_per_s']:+.4f} ops/s "
              f"(traced {metrics['trace.ops_per_s']:.4f}, untraced "
              f"{metrics['trace.ops_per_s'] - metrics['trace.overhead_ops_per_s']:.4f})")
        shown, units = metrics, PER_LAYER
    else:
        shown, units = e2e, END_TO_END
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                 f"-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.json")
    print(json.dumps({"correct": not failed, "attempted": len(loop.ops),
                      "failed": len(failed),
                      "metrics": {k: {"value": shown[k], "unit": u}
                                  for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

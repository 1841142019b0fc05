"""localsql_spark benchmark: closed-loop workloads over the engine's public
surface, with wall and process-tree CPU metrics and a traced per-layer run.

Usage (from the repository root):

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One client in one process sends each op only after the previous one
returned, against ``LocalSparkSQL`` on ``local[<nproc>]``.  ``--seconds``
sets how many ops the timed window holds: as many as take that long at the
workload's nominal pace, so every run does the same work.  The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it, starting ``# perfbench``, is the run's
host record (cores, memory, heap, PySpark version, host steal and load over
the timed window).  ``--workload all`` runs every workload untraced and
traced, each in its own process, and prints one table.

Everything the run writes (inputs, Spark local dirs, exports, stores, event
logs) lives in a temporary directory under ``perfbench/.work`` that is
removed at exit; a traced run also keeps its spans in
``perfbench/traces/``.
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
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

def _quantile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1]


def _clean_env(work: Path) -> list[str]:
    """Engine defaults only: drop the engine's tuning env and any inherited
    Spark local-dir override; keep every temp file inside ``work``."""
    dropped = sorted(k for k in os.environ
                     if k.startswith("SPARK_GRAFT_") or k == "SPARK_LOCAL_DIRS")
    for k in dropped:
        del os.environ[k]
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # spark-submit's launcher JVM would otherwise leave hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    return dropped


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: Path) -> None:
        from perfbench import procfs
        from perfbench.workloads import WORKLOADS

        self.procfs = procfs
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tree = procfs.ProcessTree()
        self.nproc = procfs.nproc()
        self.heap_mb = min(16 * 1024, procfs.mem_total_mb() // 4)
        self.wl = WORKLOADS[workload](work, seed)
        self.spark = None
        self.eng = None

    # -- session ------------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        local = self.work / "spark"
        jtmp = local / "jtmp"
        jtmp.mkdir(parents=True)
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.local.dir": str(local / "local"),
            "spark.sql.warehouse.dir": str(local / "warehouse"),
            # keep the JVM's temp files, and no hsperfdata, outside /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        }
        if self.trace:
            events = self.work / "events"
            events.mkdir()
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": events.as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    def _stop(self) -> None:
        """Stop Spark and wait for its JVM (and so its Python workers) to
        exit; the event log is complete only after this."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        self.spark = self.eng = None

    def setup(self) -> tuple[float, float, float]:
        """(wall, process-tree CPU, get_spark wall) from just before
        get_spark until the catalog is loaded and every op template ran
        once."""
        from localsql_spark import LocalSparkSQL, get_spark
        from localsql_spark.operators import cleanup
        from perfbench.trace import NullTracer
        from pyspark import SparkContext

        conf = self._conf()
        warm = self.wl.warm_ops()
        for op in warm:
            self.wl.prepare(op)
        gc.collect()
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.nproc}]",
                               extra_conf=conf)
        t_start = time.perf_counter() - t0
        self.tree.jvm = SparkContext._gateway.proc.pid
        self.spark.sparkContext.setLogLevel("FATAL")
        self.eng = LocalSparkSQL(self.spark)
        self.wl.load(self.eng)
        results = []
        for op in warm:
            results.append(self.wl.run(self.eng, op, NullTracer()))
            cleanup()
        wall = time.perf_counter() - t0
        cpu = (self.tree.cpu() - cpu0).total
        for op, res in zip(warm, results):
            why = self.wl.check(op, res)
            if why:
                raise RuntimeError(f"warm-up {op.template}: {why}")
            self.wl.finish(self.eng, op)
        return wall, cpu, t_start

    # -- timed window -------------------------------------------------------
    def run(self) -> dict:
        from localsql_spark.operators import cleanup
        from perfbench.trace import NullTracer, Tracer

        setup_s, setup_cpu_s, self.start_s = self.setup()
        tr = Tracer(self.spark.sparkContext) if self.trace else NullTracer()

        ops = self.wl.ops()
        for _ in range(self.wl.settle_ops):
            op = next(ops)
            self.wl.prepare(op)
            gc.collect()
            cleanup()
            why = self.wl.check(op, self.wl.run(self.eng, op, NullTracer()))
            if why:
                raise RuntimeError(f"settle {op.tag}: {why}")
            self.wl.finish(self.eng, op)

        walls, cpus, failures, tags = [], [], [], []
        loads = []
        self.tree.reset_peak_rss()
        steal0, all0 = self.procfs.cpu_times()
        for _ in range(self.wl.window_ops(self.seconds)):
            op = next(ops)
            self.wl.prepare(op)
            gc.collect()
            cleanup()
            tr.begin_op(op.tag)
            cpu0 = self.tree.cpu()
            t0 = time.perf_counter()
            try:
                result, error = self.wl.run(self.eng, op, tr), None
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                result, error = None, f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
            cpus.append(self.tree.cpu() - cpu0)
            tr.begin_op("gap")
            loads.append(self.procfs.loadavg())
            if error is None:
                try:
                    error = self.wl.check(op, result)
                except Exception as e:  # noqa: BLE001
                    error = f"check raised {type(e).__name__}: {e}"
            self.wl.finish(self.eng, op)
            walls.append(wall)
            tags.append(op.tag)
            if error:
                failures.append(f"{op.tag} {op.template}: {error}")
        steal1, all1 = self.procfs.cpu_times()
        peak_rss = self.tree.peak_rss_mb()

        n = len(walls)
        ok = n - len(failures)
        cpu_total = sum(c.total for c in cpus)
        # bounded end-to-end metrics: set-up and process-tree CPU
        e2e = {
            "setup_s": (setup_s, "s"),
            "setup_cpu_s": (setup_cpu_s, "s"),
            "cpu_s_per_op": (cpu_total / n, "s"),
            "ops_ok_frac": (ok / n, "fraction"),
        }
        # wall and memory figures users feel, reported beside the host's
        # steal over the same window; too steal-dependent here to bound
        wall = {
            "ops_per_s": (ok / sum(walls), "1/s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        host = {
            "workload": self.wl.name, "seed": self.wl.seed,
            "trace": int(self.trace), "nproc": self.nproc,
            "mem_total_mb": self.procfs.mem_total_mb(),
            "driver_heap_mb": self.heap_mb,
            "pyspark": self.spark.version,
            "steal_frac": (steal1 - steal0) / max(1, all1 - all0),
            "loadavg_1m": statistics.mean(loads),
            **{k: v for k, (v, _) in wall.items()},
            "ops": n, "ops_failed_frac": len(failures) / n,
            "op_p90_s": _quantile(walls, 0.9) if n >= 100 else None,
            "op_wall_s": [round(w, 3) for w in walls],
            "op_cpu_s": [round(c.total, 2) for c in cpus],
            "failures": failures[:5],
        }
        out = {"e2e": e2e, "host": host, "attempted": n,
               "failed": len(failures)}
        if self.trace:
            out["layers"], probe_failures = self._layers(
                tr, tags, walls, cpus, {**e2e, **wall})
            out["attempted"] += 1
            out["failed"] += bool(probe_failures)
            host["failures"] += probe_failures
        return out

    # -- traced run ---------------------------------------------------------
    def _layers(self, tr, tags, walls, cpus, figures
                ) -> tuple[dict, list[str]]:
        """The per-layer metrics, and the reasons the probes' results are
        wrong (the probes count as one more attempted op)."""
        from perfbench import eventlog
        from localsql_spark.operators import cleanup

        tr.begin_op("probe")
        probes, probe_failures = self.wl.probes(self.eng, tr)
        cleanup()
        app = self.spark.sparkContext.applicationId
        self._stop()
        jobs, stages = eventlog.parse(self.work / "events" / app)
        spark_ops = eventlog.per_op(jobs, stages)
        n = len(tags)
        recs = [spark_ops.get(t, eventlog.OpSpark()) for t in tags]
        ops = set(tags)

        def med(span: str) -> float:
            d = tr.durations(span, ops)
            return statistics.median(d) if d else 0.0

        def mean(values) -> float:
            return sum(values) / n

        layers = {
            "session.start_s": (self.start_s, "s"),
            "sources.infer_jobs_per_op": (
                mean(r.jobs_by_span.get("sources.load", 0) for r in recs),
                "count"),
            "engine.run_sql_s": (med("engine.run_sql"), "s"),
            "engine.fetch_s": (med("engine.fetch"), "s"),
            "sinks.bytes_written_per_op": (mean(
                getattr(self.wl, "bytes_written", {}).get(t, 0)
                for t in tags), "B"),
            "spark.jobs_per_op": (mean(r.jobs for r in recs), "count"),
            "spark.stages_per_op": (mean(r.stages for r in recs), "count"),
            "spark.tasks_per_op": (mean(r.tasks for r in recs), "count"),
            "spark.driver_gap_s": (statistics.median(
                w - r.job_union_s for w, r in zip(walls, recs)), "s"),
            "spark.task_cpu_s_per_op": (mean(r.task_cpu_s for r in recs),
                                        "s"),
            "spark.gc_s_per_op": (mean(r.gc_s for r in recs), "s"),
            "spark.shuffle_write_bytes_per_op": (
                mean(r.shuffle_write_bytes for r in recs), "B"),
            "spark.spill_bytes_per_op": (mean(r.spill_bytes for r in recs),
                                         "B"),
            "proc.jvm_cpu_s_per_op": (mean(c.jvm for c in cpus), "s"),
            "proc.driver_py_cpu_s_per_op": (mean(c.driver_py for c in cpus),
                                            "s"),
            "proc.pyworker_cpu_s_per_op": (mean(c.pyworker for c in cpus),
                                           "s"),
        }
        for fmt in ("csv", "jsonl", "xlsx", "parquet"):
            layers[f"sinks.export_{fmt}_s"] = (med(f"sinks.export_{fmt}"),
                                               "s")
        for name in ("sources.register_csv_gz_s",
                     "sources.register_jsonl_nested_s",
                     "sources.register_xlsx_s", "sources.register_parquet_s",
                     "operators.dedup_minhash_s", "operators.knn_s",
                     "operators.quality_s", "sinks.merge_s"):
            layers[name] = (probes.get(name, 0.0), "s")
        # the traced run's own end-to-end figures: minus the untraced
        # run's, they are the tracing overhead
        for name in ("setup_s", "setup_cpu_s", "cpu_s_per_op", "ops_per_s",
                     "op_p50_s", "peak_rss_mb"):
            layers[f"trace.{name}"] = figures[name]
        tr.write(HERE / "traces" / f"{self.wl.name}-seed{self.wl.seed}.jsonl")
        return layers, probe_failures

    def close(self) -> None:
        self._stop()
        self.wl.close()


def _result_line(out: dict, trace: bool) -> dict:
    metrics = out["layers"] if trace else out["e2e"]
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _run_all(args) -> int:
    """Every workload untraced then traced, each in its own process; one
    table with the untraced figures, the traced ones and their difference
    (the tracing overhead), then the per-layer metrics."""
    from perfbench.workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        runs = []
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{name} trace={trace}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                status = 1
                break
            print(lines[-2])
            runs.append((json.loads(lines[-2][len("# perfbench "):]),
                         json.loads(lines[-1])))
        if len(runs) < 2:
            continue
        (host, plain), (_, traced) = runs
        layers = traced["metrics"]
        print(f"== {name}: correct={plain['correct'] and traced['correct']}"
              f" attempted={plain['attempted']} failed={plain['failed']}"
              f" steal={host['steal_frac']:.3f}")
        for k, t in layers.items():
            if k.startswith("trace."):
                base = k[len("trace."):]
                v = plain["metrics"].get(base, {}).get("value", host.get(base))
                print(f"  {base:<34} {v:>12.4g} {t['unit']:<8} traced "
                      f"{t['value']:.4g}  overhead {t['value'] - v:+.4g}")
        print(f"  {'ops_ok_frac':<34} "
              f"{plain['metrics']['ops_ok_frac']['value']:>12.4g} fraction")
        for k, m in layers.items():
            if not k.startswith("trace."):
                print(f"  {k:<34} {m['value']:>12.4g} {m['unit']}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analyst_sql", "ingest_export", "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    sys.dont_write_bytecode = True
    if args.workload == "all":
        return _run_all(args)

    (HERE / ".work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=HERE / ".work"))
    bench = None
    try:
        dropped = _clean_env(work)
        bench = Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
        out = bench.run()
        out["host"]["env_dropped"] = dropped
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print("# perfbench " + json.dumps(out["host"]))
    print(json.dumps(_result_line(out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())

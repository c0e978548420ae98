"""Benchmark runner for the engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload media --seed 1 --seconds 18 --trace 0

Run from the root of a checkout.  Load shape: this process is the only
client, in a closed loop (each call waits for its result), against a
``local[<cores>]`` session built with ``session.build_session``.  The
runner starts no threads of its own.

A run sets the session up three times (the first from process start,
JVM launch included) and reports the median as ``setup_s``.  Passes
over the workload's operations then warm caches, JIT and Python workers
unmeasured (at least two, and for ``etl_ingest`` at least 22 s of them),
and measured passes follow until ``--seconds`` have elapsed (at least
one).  Every result is checked against truth after its pass,
outside the timed region.  See README.md for the metrics.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` spends half
the window untraced and half with Spark's event log and a streaming
listener on, prints the per-layer metrics of the traced half, and writes
spans and per-pass numbers to ``.perfbench_out/``.  A human-readable
report goes to stderr; the last line of stdout is one JSON object.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUPS = 3
WARM_PASSES = 2  # unmeasured passes before each window: JIT, Python workers, caches
# ... and, per workload, the least time spent in passes of the process
# before its first window.  etl_ingest is bound by driver-side JVM work
# (planning, job launch, file commit), which keeps speeding up for tens
# of seconds as the JIT compiles it; see README.md.
WARM_SECONDS = {"etl_ingest": 22.0}
# The driver JVM compiles hot code after a tenth of HotSpot's default
# invocation counts, so it reaches its steady state within the warm-up.
JVM_OPTIONS = "-XX:CompileThresholdScaling=0.1"
OP_TIMEOUT_S = 60.0  # an operation slower than this counts as failed
# Failures the benchmark knows the engine has; they count in `failed` and
# are named in the report, but do not make the run's checks `correct: false`.
KNOWN_DEFECTS = {
    "streaming.upsert": "AMBIGUOUS_REFERENCE",  # duplicate `day` column
    "readback.landed": "'day'",  # landed `day` is the partition day-of-month
}


@dataclass
class OpRecord:
    pass_no: int
    name: str
    op_id: str
    seconds: float
    error: str | None = None
    traced: bool = False


@dataclass
class PassRecord:
    number: int
    traced: bool
    warm: bool = False  # unmeasured warm-up pass
    ops: list[OpRecord] = field(default_factory=list)
    bytes_written: int = 0  # etl_ingest: landing + metadata + store + checkpoint
    ingest_bytes: int = 0
    ingest_files: int = 0
    checkpoint_bytes: int = 0
    violations: int = 0
    csv_rows: int = 0  # etl_ingest: rows and bytes of the entity's two waves
    csv_bytes: int = 0
    entity: str = ""

    @property
    def wall(self) -> float:
        return sum(o.seconds for o in self.ops)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep every file Spark, Python and the JVM write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)  # the session is local[<cores>]
    import tempfile

    tempfile.tempdir = None


def engine_config(run_dir: str, cores: int, event_log: str | None):
    from open_source_etl_spark.conf import EngineConfig

    extra = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return EngineConfig(
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        warehouse_dir=os.path.join(run_dir, "warehouse"),
        extra=extra,
    )


def warm_up(spark) -> None:
    """Per-session costs every workload pays: a first job and the
    shuffle path.  Python workers and workload-specific caches warm in
    the first, unmeasured pass."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().collect()


def build(cfg, t0: float):
    from open_source_etl_spark.session import build_session

    spark = build_session(cfg)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def describe(exc: Exception) -> str:
    """Exception type, every Spark error class in the message (a
    streaming failure nests the cause's class), and the first line."""
    # query and run ids differ per call; drop them so repeats group together
    msg = re.sub(r"\[id = [^\]]*\]", "", str(exc)).strip()
    classes = list(dict.fromkeys(re.findall(r"\[([A-Z][A-Z0-9_]+)\]", msg)))
    first = msg.splitlines()[0][:200] if msg else ""
    return f"{type(exc).__name__} [{' > '.join(classes)}]: {first}"


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, and its nearest-rank value; None when n < 20."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in (50.0, 75.0, 90.0, 95.0, 99.0):
        rank = -(-n * int(p) // 100)  # nearest rank, 1-based
        if n - rank >= 10:
            best = (p, xs[rank - 1])
    return best


def stop_everything(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from tracing import descendants, wait_gone

    children = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    for pid in wait_gone(children, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(children, 10)


class Runner:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.data_root = os.path.join(HERE, "data")
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)
        self.passes: list[PassRecord] = []
        self.rss: list[float] = []
        self.failures: list[tuple[str, str]] = []
        self.setup: list[tuple[float, float]] = []  # (build_s, warmup_s)
        self.stream_events: list[dict] = []
        self.steal = 0.0
        self.phases: dict[str, float] = {}  # phase -> perf_counter at its end
        self.first_pass: float | None = None
        self.check_s: list[float] = []

    # ------------------------------------------------------------ set-up

    def set_up(self):
        from tracing import tree_rss_mb

        cfg = engine_config(self.run_dir, self.cores, None)
        spark = None
        for i in range(SETUPS):
            t0 = PROCESS_START if i == 0 else time.perf_counter()
            if spark is not None:
                spark.stop()
            spark, b, w = build(cfg, t0)
            self.setup.append((b, w))
            self.rss.append(tree_rss_mb())
        return spark

    def workload_ops(self, spark):
        import workloads

        if self.args.workload == "etl_ingest":
            from open_source_etl_spark.conf import EngineConfig

            self.etl = workloads.EtlOps(os.path.join(self.run_dir, "etl"), self.args.seed,
                                        EngineConfig().entities)
            return self.etl.ops()
        self.etl = None
        self.registry = workloads.RegistryOps(self.args.workload, self.data_root)
        return self.registry.ops()

    # ------------------------------------------------------------ passes

    def run_window(self, spark, ops, seconds: float, traced: bool):
        from tracing import Tracer, tree_rss_mb

        tracer = Tracer(spark.sparkContext, traced)
        deadline, warm = None, 0
        warm_s = WARM_SECONDS.get(self.args.workload, 0.0)
        while True:
            if self.first_pass is None:
                self.first_pass = time.perf_counter()
            k = len(self.passes)
            rec = PassRecord(k, traced)
            order = list(ops)
            if self.etl is None:
                self.rng.shuffle(order)  # the seed sets the operation order
            else:
                self.etl.start_pass(spark, k)
            outs = []
            for i, op in enumerate(order):
                op_id = f"p{k}.{i}"
                t0 = time.perf_counter()
                out, err = None, None
                try:
                    out = op.run(spark, tracer, op_id)
                except Exception as exc:  # a failed operation is a result, not a crash
                    err = describe(exc)
                dt_s = time.perf_counter() - t0
                if err is None and dt_s > OP_TIMEOUT_S:
                    err = f"timeout: {dt_s:.1f}s > {OP_TIMEOUT_S:.0f}s"
                rec.ops.append(OpRecord(k, op.name, op_id, dt_s, err, traced))
                outs.append(out)
                self.rss.append(tree_rss_mb())
            tc = time.perf_counter()
            self.check_pass(rec, order, outs)
            spark.catalog.clearCache()
            self.check_s.append(time.perf_counter() - tc)
            rec.warm = deadline is None
            self.passes.append(rec)
            now = time.perf_counter()
            if deadline is None:
                warm += 1
                if warm >= WARM_PASSES and now - self.first_pass >= warm_s:
                    deadline = now + seconds  # the warm-up is over: the window starts
                    self.phases["warm" + ("-traced" if traced else "")] = now
            elif now >= deadline:
                self.phases["window" + ("-traced" if traced else "")] = time.perf_counter()
                return tracer

    def check_pass(self, rec: PassRecord, order, outs) -> None:
        """Correctness, outside the timed region; a mismatch is a failure."""
        from workloads import EtlOps

        for r, op, out in zip(rec.ops, order, outs):
            if r.error is None:
                try:
                    r.error = op.check(out)
                except Exception as exc:
                    r.error = f"check error: {type(exc).__name__}: {exc}"
            if r.error is not None:
                self.failures.append((r.name, r.error))
        if self.etl is not None:
            e = self.etl
            rec.bytes_written = e.dirs_bytes()[0]
            rec.ingest_bytes, rec.ingest_files = e.dirs_bytes(("landing", "metadata"))
            rec.checkpoint_bytes = e.dirs_bytes(("checkpoint",))[0]
            rec.csv_rows, rec.csv_bytes = e.csv_rows(), e.csv_bytes()
            rec.entity = e.entity
            rec.violations = sum(EtlOps.violations(o) for r, o in zip(rec.ops, outs)
                                 if r.name.startswith("dq.") and o is not None)
            e.end_pass()

    # ------------------------------------------------------------ metrics

    def measured(self, traced: bool) -> list[PassRecord]:
        return [p for p in self.passes if p.traced == traced and not p.warm]

    @staticmethod
    def typical_pass(passes: list[PassRecord]) -> float:
        """One pass as the sum of each operation's median latency over
        ``passes``: a host-load burst that slows one operation of a pass
        does not move it, where it would move that whole pass's wall."""
        by_op: dict[str, list[float]] = {}
        for p in passes:
            for o in p.ops:
                by_op.setdefault(o.name, []).append(o.seconds)
        return sum(statistics.median(xs) for xs in by_op.values())

    def end_to_end(self) -> dict[str, tuple[float, str, str]]:
        """name -> (value, unit, sample note)."""
        passes = self.measured(False)
        lat = [o.seconds for p in passes for o in p.ops]
        setup_s = [b + w for b, w in self.setup]
        tail = tail_percentile(lat)
        wall_s = self.typical_pass(passes)
        attempted = sum(len(p.ops) for p in self.passes)
        out = {
            "setup_s": (statistics.median(setup_s), "s", f"n={len(setup_s)} set-ups"),
            "wall_s": (wall_s, "s", f"n={len(passes)} passes, per-op medians summed"),
            "op_p50_s": (statistics.median(lat), "s", f"n={len(lat)} ops"),
            "op_tail_s": (tail[1], "s", f"p{tail[0]:g}, n={len(lat)} ops") if tail else
                         (None, "s", f"n={len(lat)} ops: fewer than 10 beyond p50"),
            "peak_rss_mb": (max(self.rss), "MiB", f"n={len(self.rss)} samples"),
            "fail_frac": (len(self.failures) / attempted, "1", f"n={attempted} ops"),
        }
        if self.etl is not None:
            out["rows_per_s"] = (statistics.median(p.csv_rows for p in passes) / wall_s, "rows/s",
                                 f"n={len(passes)} passes, {passes[0].csv_rows} CSV rows each")
            out["write_amp"] = (statistics.median(p.bytes_written / p.csv_bytes for p in passes),
                                "1", f"n={len(passes)} passes, {passes[0].csv_bytes} CSV bytes each")
        return out

    def per_layer(self, tracer, traced_log: str, e2e: dict) -> tuple[dict, dict]:
        from tracing import attribute_jobs, median, read_event_log

        jobs = attribute_jobs(read_event_log(traced_log), tracer.spans)
        per_pass: list[dict[str, float]] = []
        for p in self.measured(True):
            ids = {o.op_id for o in p.ops}
            span_s: dict[str, float] = {}
            for s in tracer.spans:
                if s.op_id in ids:
                    span_s[s.name] = span_s.get(s.name, 0.0) + s.seconds
            pj = {k: v for k, v in jobs.items() if k[0] in ids}
            all_jobs = [j for v in pj.values() for j in v]
            names = {o.op_id: o.name for o in p.ops}

            def n_jobs(*layers):
                return float(sum(len(v) for k, v in pj.items() if k[1] in layers))

            def total(attr, js=all_jobs):
                return float(sum(getattr(j, attr) for j in js))

            media_jobs = [j for k, v in pj.items() if names[k[0]].startswith("multimodal_") for j in v]
            stream_spans = [s for s in tracer.spans if s.op_id in ids and s.name.startswith("streaming.")]
            batches = [e for e in self.stream_events
                       if any(s.start - 1.0 <= e["start"] <= s.end for s in stream_spans)]
            media_ops = [o.name for o in p.ops if o.name.startswith("multimodal_")]
            run_s, cpu_s = total("run_s"), total("cpu_s")
            per_pass.append({
                "catalog.input_bytes": total("input_bytes"),
                "catalog.input_rows": total("input_rows"),
                "operators.build_s": span_s.get("operators.build", 0.0),
                "operators.build_jobs": n_jobs("operators.build"),
                "plans.plan_s": span_s.get("plans.plan", 0.0),
                "spark.fetch_s": span_s.get("spark.fetch", 0.0),
                "spark.jobs": float(len(all_jobs)),
                "spark.stages": total("stages"),
                "spark.tasks": total("tasks"),
                "spark.run_s": run_s,
                "spark.cpu_s": cpu_s,
                "spark.nonjvm_s": run_s - cpu_s,
                "spark.gc_s": total("gc_s"),
                "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
                "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
                "spark.spill_bytes": total("spill_bytes"),
                "spark.core_busy_frac": run_s / (p.wall * self.cores),
                "multimodal.py_stages": (statistics.mean(tracer.facts[n] for n in media_ops)
                                         if media_ops else 0.0),
                "multimodal.worker_s": total("run_s", media_jobs) - total("cpu_s", media_jobs),
                "ingest.run_s": span_s.get("ingest.run_ingestion", 0.0),
                "ingest.jobs": n_jobs("ingest.run_ingestion"),
                "ingest.bytes_written": float(p.ingest_bytes),
                "ingest.files_written": float(p.ingest_files),
                "dq.validate_s": span_s.get("dq.validate", 0.0),
                "dq.jobs": n_jobs("dq.validate"),
                "dq.violations": float(p.violations),
                "streaming.run_s": span_s.get("streaming.stream_upsert_partitions", 0.0),
                "streaming.batches": float(len(batches)),
                "streaming.rows_in": float(sum(b["rows_in"] for b in batches)),
                "streaming.batch_p50_s": median([b["seconds"] for b in batches]),
                "streaming.checkpoint_bytes": float(p.checkpoint_bytes),
                "models.build_s": span_s.get("models.build", 0.0),
                "models.test_s": span_s.get("models.test", 0.0),
                "models.jobs": n_jobs("models.build", "models.test"),
            })
        layer = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        layer["session.build_s"] = median([b for b, _ in self.setup])
        layer["session.warmup_s"] = median([w for _, w in self.setup])
        traced = self.typical_pass(self.measured(True))
        layer["trace.overhead_frac"] = traced / self.typical_pass(self.measured(False)) - 1.0
        layer["e2e.op_tail_s"] = e2e["op_tail_s"][0] or 0.0
        layer["e2e.peak_rss_mb"] = e2e["peak_rss_mb"][0]
        layer["e2e.fail_frac"] = e2e["fail_frac"][0]
        layer["e2e.rows_per_s"] = e2e.get("rows_per_s", (0.0,))[0]
        layer["e2e.write_amp"] = e2e.get("write_amp", (0.0,))[0]
        drift = self.count_drift(per_pass, self.measured(True))
        layer["trace.count_drift"] = float(len(drift))
        return layer, {"per_pass": per_pass, "count_drift": drift}

    def count_drift(self, per_pass: list[dict], passes: list[PassRecord]) -> list[str]:
        """Counts that should repeat exactly: jobs, stages and tasks across
        the measured passes, bytes written across passes of one entity,
        and the values pinned in ``pinned.json``."""
        flags = []
        for key in ("spark.jobs", "spark.stages", "spark.tasks"):
            vals = sorted({pp[key] for pp in per_pass})
            if len(vals) > 1:
                flags.append(f"{key} differs between passes: {vals}")
        written: dict[str, set[int]] = {}
        for p in passes:
            if p.entity:
                written.setdefault(p.entity, set()).add(p.bytes_written)
        for entity, sizes in written.items():
            if len(sizes) > 1:
                flags.append(f"bytes written for {entity} differ between passes: {sorted(sizes)}")
        with open(os.path.join(HERE, "pinned.json")) as fh:
            pinned = json.load(fh).get(self.args.workload, {})
        for key, want in pinned.items():
            got = per_pass[-1][key] if key in per_pass[-1] else None
            if got != want:
                flags.append(f"{key} = {got}, pinned {want}")
        return flags

    # ------------------------------------------------------------ main

    def run(self) -> dict:
        import pandas  # noqa: F401  (its import cost belongs to set-up, not to the first op)

        from tracing import cpu_times

        cpu0 = cpu_times()

        spark = self.set_up()
        self.phases["set-up"] = time.perf_counter()
        try:
            ops = self.workload_ops(spark)
            self.phases["inputs"] = time.perf_counter()
            seconds = self.args.seconds
            if not self.args.trace:
                self.run_window(spark, ops, seconds, traced=False)
                metrics = self.end_to_end()
                result_metrics, extra = None, {}
            else:
                self.run_window(spark, ops, seconds / 2, traced=False)
                log_dir = os.path.join(self.run_dir, "eventlog")
                spark.stop()
                spark, _, _ = build(engine_config(self.run_dir, self.cores, log_dir),
                                    time.perf_counter())
                from tracing import streaming_listener

                spark.streams.addListener(streaming_listener(self.stream_events))
                tracer = self.run_window(spark, ops, seconds / 2, traced=True)
        finally:
            if getattr(self, "registry", None) is not None and self.etl is None:
                self.registry.close()
            stop_everything(spark)
        self.phases["stop"] = time.perf_counter()
        if self.args.trace:
            # the event log is complete once the session has stopped
            metrics = self.end_to_end()
            layer, extra = self.per_layer(tracer, log_dir, metrics)
            result_metrics = {k: (v, _unit(k), "") for k, v in layer.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            out = os.path.join(ROOT, ".perfbench_out",
                               f"{self.args.workload}-seed{self.args.seed}-trace.json")
            with open(out, "w") as fh:
                json.dump({"spans": [s.__dict__ for s in tracer.spans],
                           "ops": [o.__dict__ for p in self.passes for o in p.ops],
                           "streaming_batches": self.stream_events, **extra}, fh)
            print(f"[perfbench] trace written to {out}", file=sys.stderr)
            for flag in extra["count_drift"]:
                print(f"[perfbench] count drift: {flag}", file=sys.stderr)
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        self.steal = cpu[7] / sum(cpu) if sum(cpu) else 0.0
        self.report(metrics)
        shown = result_metrics or {k: v for k, v in metrics.items() if k in END_TO_END}
        unknown = [(n, e) for n, e in self.failures
                   if not (n in KNOWN_DEFECTS and KNOWN_DEFECTS[n] in e)]
        return {
            "correct": not unknown,
            "attempted": sum(len(p.ops) for p in self.passes),
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()},
        }

    def report(self, metrics: dict) -> None:
        a = self.args
        print(f"[perfbench] workload={a.workload} seed={a.seed} cores={self.cores} "
              f"passes={len(self.passes)} ({sum(p.warm for p in self.passes)} warm-up, unmeasured) "
              f"host steal {self.steal:.1%}", file=sys.stderr)
        ends = sorted(self.phases.items(), key=lambda kv: kv[1])
        print("  phase seconds: " + ", ".join(
            f"{k} {t - prev:.1f}" for (k, t), prev in
            zip(ends, [PROCESS_START] + [t for _, t in ends])), file=sys.stderr)
        print("  check seconds: " + ", ".join(f"{x:.2f}" for x in self.check_s), file=sys.stderr)
        print("  set-ups (build_s, warmup_s): "
              + ", ".join(f"({b:.2f}, {w:.2f})" for b, w in self.setup), file=sys.stderr)
        print("  pass walls: " + ", ".join(f"{p.wall:.2f}" for p in self.passes), file=sys.stderr)
        by_op: dict[str, list[float]] = {}
        for p in self.passes:
            for o in p.ops:
                by_op.setdefault(o.name, []).append(o.seconds)
        print("  op seconds by pass: " + "; ".join(
            f"{n} " + "/".join(f"{x:.2f}" for x in xs) for n, xs in by_op.items()), file=sys.stderr)
        for name in ALL_E2E:
            if name in metrics and metrics[name][0] is not None:
                v, u, note = metrics[name]
                print(f"  {name:<12} {v:12.4f} {u:<7} {note}", file=sys.stderr)
            elif name in metrics:
                print(f"  {name:<12} {'n/a':>12}         {metrics[name][2]}", file=sys.stderr)
            else:
                print(f"  {name:<12} {'n/a':>12}         (etl_ingest only)", file=sys.stderr)
        seen = set()
        for name, err in self.failures:
            if (name, err) not in seen:
                seen.add((name, err))
                n = sum(1 for f in self.failures if f == (name, err))
                known = " [known defect]" if name in KNOWN_DEFECTS and KNOWN_DEFECTS[name] in err else ""
                print(f"  failed x{n}: {name}: {err[:300]}{known}", file=sys.stderr)


# The end-to-end metrics BENCHMARK.json gates: defined, non-zero and
# steady on every workload.  The report also prints op_tail_s (undefined
# below 20 samples), peak_rss_mb (IQR/median ~0.2 across seeds: JVM heap
# growth follows GC timing), fail_frac (0 when all is well) and the
# etl_ingest-only rows_per_s and write_amp; traced runs carry them as
# e2e.* per-layer metrics.
END_TO_END = ("setup_s", "wall_s", "op_p50_s")
ALL_E2E = ("setup_s", "wall_s", "op_p50_s", "op_tail_s", "peak_rss_mb",
           "fail_frac", "rows_per_s", "write_amp")


def _unit(name: str) -> str:
    for suffix, unit in (("rows_per_s", "rows/s"), ("_s", "s"), ("_mb", "MiB"),
                         ("bytes", "bytes"), ("bytes_written", "bytes"),
                         ("_frac", "1"), ("write_amp", "1")):
        if name.endswith(suffix):
            return unit
    return "count"


def contract_mismatch(metrics: dict, traced: bool) -> str | None:
    """Compare the metric names and units with BENCHMARK.json, if the
    checkout has one, so the two cannot drift apart."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)["per_layer" if traced else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    return None if want == got else f"metrics {got} do not match BENCHMARK.json {want}"


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "open_source_etl_spark")):
        print(f"[perfbench] no open_source_etl_spark package under {ROOT}: "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    runner = Runner(args)
    isolate(runner.run_dir)
    sys.path.insert(0, ROOT)
    try:
        result = runner.run()
    finally:
        shutil.rmtree(runner.run_dir, ignore_errors=True)
    mismatch = contract_mismatch(result["metrics"], bool(args.trace))
    if mismatch:
        print(f"[perfbench] {mismatch}", file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

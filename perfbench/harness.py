"""One run of one workload, in a fresh process (started by ``run.py``).

Order of a run:

1. cold start: import the package, ``get_spark()``, one first result; its
   CPU seconds, with those of the set-up probe ``run.py`` ran before this
   process (``--setup-only``, the same cold start and nothing else), give
   ``setup_s``;
2. the first pass, one settling pass, then measured passes until
   ``--seconds`` have gone by (at least three measured passes); their CPU
   seconds are counted without the JIT compiler threads, whose CPU is
   counted apart (``counters.JitCpu``);
3. the correctness check of every job, on the DataFrames of the last pass.

With ``--trace 1`` the same run records spans around every layer call and
reads Spark's status store and ``/proc``; its warm passes run traced and
untraced in turn so that the tracing overhead is measured in the run.
Per-layer metrics are means over the traced warm passes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from perfbench import counters
from perfbench.stats import MIN_BEYOND, percentile, permuted, supported_percentile
from perfbench.tracer import OPERATOR_MODULES, Tracer
from perfbench.workloads import WORKLOADS, Workload

# Warm passes run after the first pass and before the measured ones: the JIT
# is still compiling through the first warm pass, which runs ~1.5x slower.
SETTLE_PASSES = 1
MIN_MEASURED_PASSES = 3
FIRST_RESULT = "SELECT sum(id) AS s FROM range(1000)"

# Gated metrics: CPU seconds of the whole process tree (this process, the
# JVM, Spark's Python workers).  On a shared 4-core host the wall time of a
# pass varies 15-30% between runs of the same code with the load of other
# guests, its CPU seconds about half as much.  The pass figures leave out the
# JVM's JIT compiler threads: how much they compile during a given pass
# depends on thread timing (a third of a warm pass's CPU and half of the
# first's; on a quiet host their CPU per warm pass spread 26% between runs,
# IQR over median, and the rest of the pass 4%).  Their CPU is printed beside
# the gated figures, with the rest, ungated.
END_TO_END = {"setup_s": "s", "first_pass_cpu_s": "s", "pass_cpu_s": "s"}
UNGATED = (
    "cold_start_s",
    "first_pass_s",
    "pass_s",
    "first_pass_jit_cpu_s",
    "pass_jit_cpu_s",
    "job_s.p50",
    "job_cpu_s.p50",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "spark.materialize_s": "s",
    "io.scan.calls": "count",
    "io.scan_s": "s",
    "io.sink.calls": "count",
    "io.sink_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "sources.fixed_width_s": "s",
    **{f"operators.{m}{suffix}": "s" for m in OPERATOR_MODULES for suffix in ("_s", "_self_s")},
    "proc.pyworker_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.jvm_driver_cpu_s": "s",
    "proc.jvm_gc_s": "s",
    "proc.jit_cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.slot_busy_frac": "fraction",
    "proc.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


class Run:
    def __init__(
        self, workload: Workload | None, seed: int, seconds: float, trace: bool, data_dir: str
    ):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.data_dir = data_dir
        self.tracer = Tracer() if trace else None
        self.failures: list[tuple[int | str, str, str]] = []
        self.attempted = 0
        # (index, wall, CPU without the JIT, traced, JIT CPU)
        self.passes: list[tuple[int, float, float, bool, float]] = []
        # (pass, job, wall, CPU without the JIT)
        self.job_times: list[tuple[int, str, float, float]] = []
        # Per traced measured pass: Python-worker CPU, JVM CPU, JVM GC seconds.
        self.proc_deltas: list[tuple[float, float, float]] = []
        self.spark = None
        self.jit: counters.JitCpu | None = None
        self.queries: dict = {}
        self.cores = 0

    # -- set-up ---------------------------------------------------------

    def cold_start(self) -> tuple[float, float]:
        """Wall and CPU seconds of the process tree from the start of this
        process to a ready session with a first result: interpreter start,
        package import, the first ``get_spark()`` (which launches the JVM)
        and one small query."""
        from projectmapreduce_spark import session
        from projectmapreduce_spark.queries import QUERIES

        self.queries = QUERIES
        if self.tracer:
            self.tracer.install()
        self.spark = session.get_spark()
        self.jit = counters.JitCpu(self.spark.sparkContext._gateway.proc.pid).start()
        self.cores = self.spark.sparkContext.defaultParallelism
        got = self.spark.sql(FIRST_RESULT).collect()[0]["s"]
        if got != 499500:
            raise RuntimeError(f"first result {got}, expected 499500")
        me = os.getpid()
        return counters.age_s(me), counters.tree_cpu_s(me)

    # -- passes ---------------------------------------------------------

    def _cpu(self) -> tuple[float, float]:
        """CPU seconds of the process tree without the JIT compiler threads,
        and those of the JIT compiler threads."""
        jit = self.jit.total_s()
        return counters.tree_cpu_s(os.getpid()) - jit, jit

    def _span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else nullcontext()

    def _proc_counters(self, jvm_pid: int) -> tuple[float, float, float]:
        return (
            counters.pyworker_cpu_s(jvm_pid),
            counters.cpu_s(jvm_pid),
            counters.jvm_gc_s(self.spark),
        )

    def _cpu_by_process(self, jvm_pid: int) -> tuple[float, float, float]:
        """CPU seconds of this process, the JVM (JIT included) and Spark's
        Python workers, for the pass log."""
        return (
            counters.cpu_s(os.getpid()),
            counters.cpu_s(jvm_pid),
            counters.pyworker_cpu_s(jvm_pid),
        )

    def run_pass(self, index: int, traced: bool) -> dict:
        tr = self.tracer
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if tr:
            tr.pass_index = index
            tr.install() if traced else tr.uninstall()
            proc0 = self._proc_counters(jvm_pid)
        results = {}
        steal_before = counters.host_cpu_ticks()
        split0 = self._cpu_by_process(jvm_pid)
        t0, (c0, jit0) = time.perf_counter(), self._cpu()
        # The first pass keeps the listed order, so that every seed times the
        # same cold sequence; later passes are permuted by seed.
        order = permuted(self.workload.jobs, self.seed, index) if index else self.workload.jobs
        for job in order:
            self.attempted += 1
            if tr:
                tr.job = job
                self.spark.sparkContext.setJobGroup(f"p{index}:{job}", job)
            j0, jc0 = time.perf_counter(), self._cpu()[0]
            try:
                with self._span("job", traced):
                    with self._span("queries.build", traced):
                        df = self.queries[job](self.spark, self.data_dir)
                    with self._span("spark.materialize", traced):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed job is counted, the pass goes on
                traceback.print_exc()
                self.failures.append((index, job, f"{type(e).__name__}: {e}"[:500]))
                continue
            self.job_times.append(
                (index, job, time.perf_counter() - j0, self._cpu()[0] - jc0)
            )
            results[job] = df
        wall, (c1, jit1) = time.perf_counter() - t0, self._cpu()
        cpu, jit = c1 - c0, jit1 - jit0
        steal, total = (b - a for a, b in zip(steal_before, counters.host_cpu_ticks()))
        own, jvm, pyw = (b - a for a, b in zip(split0, self._cpu_by_process(jvm_pid)))
        self.passes.append((index, wall, cpu, traced, jit))
        if tr:
            tr.job = None
            if traced and index > SETTLE_PASSES:
                self.proc_deltas.append(
                    tuple(b - a for a, b in zip(proc0, self._proc_counters(jvm_pid)))
                )
        jobs = " ".join(f"{j}={t:.2f}" for i, j, t, _ in self.job_times if i == index)
        print(
            f"pass {index} ({'traced' if traced else 'untraced'}): {wall:.3f} s, "
            f"CPU {cpu:.2f} s + JIT {jit:.2f} s (this process {own:.2f}, JVM {jvm:.2f}, "
            f"Python workers {pyw:.2f}), host steal {steal / max(total, 1):.1%}: {jobs}",
            file=sys.stderr,
        )
        return results

    def measure(self) -> dict:
        """The first pass, then warm passes until ``seconds`` have gone by.

        The traced run traces its measured passes in the order traced,
        untraced, untraced, traced (repeated), so that warm-up still under
        way weighs on both sides of the overhead estimate alike."""
        tracing = self.tracer is not None
        last = SETTLE_PASSES + (4 if tracing else MIN_MEASURED_PASSES)
        start = time.perf_counter()
        results = self.run_pass(0, traced=tracing)
        index = 1
        while index <= last or time.perf_counter() - start < self.seconds:
            k = index - SETTLE_PASSES - 1
            results = self.run_pass(index, traced=tracing and k >= 0 and k % 4 in (0, 3))
            index += 1
        return results

    # -- metrics --------------------------------------------------------

    def measured(self, traced: bool, field: int = 1) -> list[float]:
        """Wall (``field`` 1), CPU without the JIT (2) or JIT CPU (4) seconds
        of the measured passes."""
        return [p[field] for p in self.passes if p[0] > SETTLE_PASSES and p[3] == traced]

    def end_to_end(self, cold: tuple[float, float], setups: list[float]) -> dict[str, float]:
        """Every end-to-end figure: the gated ones and the ``UNGATED`` ones.
        ``setups`` are the CPU seconds of the set-up probes' cold starts."""
        jobs = [j for j in self.job_times if j[0] > SETTLE_PASSES]
        return {
            "setup_s": statistics.median([*setups, cold[1]]),
            "first_pass_cpu_s": self.passes[0][2],
            # Mean, not median, of the three or so measured passes: over two
            # sets of ten runs the mean spread 0.09-0.13 (Q3 - Q1 over the
            # median) and the median 0.10-0.16.
            "pass_cpu_s": statistics.mean(self.measured(False, 2)),
            "cold_start_s": cold[0],
            "first_pass_s": self.passes[0][1],
            "pass_s": statistics.median(self.measured(False)),
            "first_pass_jit_cpu_s": self.passes[0][4],
            "pass_jit_cpu_s": statistics.mean(self.measured(False, 4)),
            "job_s.p50": percentile([j[2] for j in jobs], 50),
            "job_cpu_s.p50": percentile([j[3] for j in jobs], 50),
        }

    def per_layer(
        self, scratch_root: str, groups: dict[str, dict[str, float]], peak_rss: int
    ) -> dict[str, float]:
        tr = self.tracer
        traced = {p[0] for p in self.passes if p[0] > SETTLE_PASSES and p[3]}
        n = len(traced)
        layers = tr.layer_times(lambda s: s.pass_index in traced)

        def total(name: str) -> float:
            return layers.get(name, (0, 0.0, 0.0))[1] / n

        out = {
            "session.get_spark_s": statistics.median(
                s.end - s.start for s in tr.spans if s.name == "session.get_spark"
            ),
            "queries.build_s": total("queries.build"),
            "queries.build_self_s": layers.get("queries.build", (0, 0.0, 0.0))[2] / n,
            "spark.materialize_s": total("spark.materialize"),
            "io.scan.calls": layers.get("io.scan", (0,))[0] / n,
            "io.scan_s": total("io.scan"),
            "io.sink.calls": layers.get("io.sink", (0,))[0] / n,
            "io.sink_s": total("io.sink"),
            "sources.fixed_width_s": total("sources.fixed_width"),
        }
        for m in OPERATOR_MODULES:
            _, tot, own = layers.get(f"operators.{m}", (0, 0.0, 0.0))
            out[f"operators.{m}_s"] = tot / n
            out[f"operators.{m}_self_s"] = own / n
        files = size = 0
        for dirpath, _, names in os.walk(scratch_root):
            for f in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
        out["io.bytes_written"] = float(size)
        out["io.files_written"] = float(files)

        pyw, jvm, jvm_gc = (sum(d[k] for d in self.proc_deltas) / n for k in range(3))
        sums: dict[str, float] = {}
        for group, vals in groups.items():
            if group.startswith("p") and int(group[1:].split(":")[0]) in traced:
                for k, v in vals.items():
                    sums[k] = sums.get(k, 0.0) + v / n
        run_s = sums.get("executor_run_ms", 0.0) / 1e3
        cpu_s = sums.get("executor_cpu_ns", 0.0) / 1e9
        traced_wall = self.measured(True)
        out.update(
            {
                "proc.pyworker_cpu_s": pyw,
                "proc.jvm_cpu_s": jvm,
                "proc.jvm_driver_cpu_s": jvm - cpu_s,
                "proc.jvm_gc_s": jvm_gc,
                "proc.jit_cpu_s": statistics.mean(self.measured(True, 4)),
                "spark.jobs": sums.get("jobs", 0.0),
                "spark.stages": sums.get("stages", 0.0),
                "spark.tasks": sums.get("tasks", 0.0),
                "spark.tasks_failed": sums.get("tasks_failed", 0.0),
                "spark.executor_run_s": run_s,
                "spark.executor_cpu_s": cpu_s,
                "spark.gc_s": sums.get("gc_ms", 0.0) / 1e3,
                "spark.shuffle_write_bytes": sums.get("shuffle_write_bytes", 0.0),
                "spark.shuffle_read_bytes": sums.get("shuffle_read_bytes", 0.0),
                "spark.spill_bytes": sums.get("disk_spill_bytes", 0.0),
                "spark.output_bytes": sums.get("output_bytes", 0.0),
                "spark.slot_busy_frac": run_s / (statistics.mean(traced_wall) * self.cores),
                "proc.peak_rss_mb": peak_rss / 1e6,
                "trace.pass_s": statistics.mean(traced_wall),
                "trace.overhead_s": statistics.mean(traced_wall)
                - statistics.mean(self.measured(False)),
            }
        )
        return {name: out[name] for name in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data-dir", help="directory of the input tables")
    p.add_argument("--work-dir", help="scratch directory of the run")
    p.add_argument(
        "--setup-s", type=float, nargs="*", default=[],
        help="CPU seconds of the set-up probes run before this process",
    )
    p.add_argument("--trace-out")
    p.add_argument(
        "--setup-only", action="store_true",
        help="cold start only; print its CPU and wall seconds as JSON",
    )
    args = p.parse_args(argv)

    if args.setup_only:
        probe = Run(None, 0, 0, False, "")
        wall, cpu = probe.cold_start()
        probe.jit.stop()
        probe.spark.stop()
        print(json.dumps({"setup_s": cpu, "wall_s": wall}))
        return 0
    for need in ("workload", "seed", "seconds", "data_dir", "work_dir"):
        if getattr(args, need) is None:
            p.error(f"--{need.replace('_', '-')} is required")

    workload = WORKLOADS[args.workload]
    run = Run(workload, args.seed, args.seconds, bool(args.trace), args.data_dir)

    # Memory is sampled only in the traced run: the sampler is instrumentation.
    with counters.PeakRss(os.getpid()) if run.tracer else nullcontext() as rss:
        cold = run.cold_start()
        # Imported after the cold start, which times the program alone.
        from perfbench.check import verify

        t0 = time.perf_counter()
        results = run.measure()
        t1 = time.perf_counter()
        mismatches = verify(workload, results, args.data_dir, args.work_dir)
        t2 = time.perf_counter()
    print(
        f"phases: cold {cold[0]:.1f} s ({cold[1]:.1f} CPU s), passes {t1 - t0:.1f} s, "
        f"check {t2 - t1:.1f} s; set-up probes {args.setup_s} CPU s",
        file=sys.stderr,
    )
    for job, why in mismatches.items():
        run.failures.append(("check", job, why))
    run.attempted += len(workload.jobs)
    if run.tracer:
        groups = counters.spark_counters_by_group(run.spark)
        run.tracer.pass_index = None
    run.jit.stop()
    run.spark.stop()

    figures = run.end_to_end(cold, args.setup_s)
    if run.tracer:
        scratch = os.environ["SPARK_GRAFT_SCRATCH"]
        metrics, units = run.per_layer(scratch, groups, rss.peak), PER_LAYER
    else:
        metrics, units = {k: figures[k] for k in END_TO_END}, END_TO_END
    samples = sum(1 for j in run.job_times if j[0] > SETTLE_PASSES)
    top = supported_percentile(samples)
    for where, job, why in run.failures:
        print(f"FAILED {job} (pass {where}): {why}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    for name in UNGATED:
        print(f"{name} {figures[name]:.6g} s (not gated)")
    print(
        f"passes {len(run.passes)} (first, {SETTLE_PASSES} settling, "
        f"{len(run.passes) - 1 - SETTLE_PASSES} measured); job samples {samples}; "
        f"highest percentile with {MIN_BEYOND} samples beyond it: "
        + (f"p{top}" if top else "none above the median")
    )
    failed = len(run.failures)
    print(f"ops_failed_frac {failed / run.attempted:.6g} ({failed}/{run.attempted})")
    if args.trace_out and run.tracer:
        os.makedirs(os.path.dirname(args.trace_out), exist_ok=True)
        with open(args.trace_out, "w") as f:
            json.dump(
                {
                    "workload": workload.name,
                    "seed": args.seed,
                    "passes": run.passes,
                    "metrics": metrics,
                    "spark_by_job_group": groups,
                    "spans": run.tracer.dump(),
                },
                f,
            )
        print(f"trace written to {args.trace_out}")
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())

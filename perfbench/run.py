"""End-to-end benchmark of the package, one workload per invocation.

    python3 perfbench/run.py --workload analytic_sql --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  `--workload all` runs the three
workloads one after another, each in its own process.  One client runs
the workload's operations one at a time, each starting when the
previous one returns (a closed loop), for `--seconds` seconds after
set-up.

Set-up (reported as `setup_s`) starts the Spark session, generates the
inputs from `--seed`, warms the input tables, and runs one warm-up
pass in which every operation's output is checked against a DuckDB
oracle.  The comparison itself is not timed.  The timed loop then
repeats passes over the operations; scratch output is removed between
passes.

With `--trace 0` the last line of standard output is a JSON object with
the end-to-end metrics: `setup_s`, `wall_s` (one pass: the sum over
operations of each operation's median time), `cpu_s` (CPU seconds of
the driver's whole process tree per pass, the same median sum) and
`peak_rss_mb` (median over passes of the tree's peak resident memory).
Error counts are in `attempted` and `failed`; the lines above it also
print the error rate and, for each metric, its median, high percentile
and sample count (for `wall_s` and `cpu_s` the sums over operations of
each operation's median and high percentile, and the fewest samples any
operation has).

With `--trace 1` the warm-up pass and every second timed pass are
traced: spans around every call into the package, Spark counters per
span read from the status store, and the per-layer metrics as the last
line (the times of the plans and engine spans are printed above it).
The other timed passes run untraced, and the difference is the
tracing overhead.  The full span list with self times goes to
`.perfbench/reports/` in the checkout.

The session is pinned to the host: all cores of this process's CPU
affinity and a fixed driver heap of a quarter of physical memory, at
most 2 GiB.  Everything the run writes stays in `.perfbench/` in the
checkout, which is removed at the end except for the reports.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proctree  # noqa: E402
from spans import EvictedError  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
SPAN_TIMES = ("plans.build", "plans.action", "engine.infer", "engine.transform", "ckpt.free")
PASS_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
    "output_records",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Alters one operation's checked output, to test that a wrong
    # output is caught and counted.
    p.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    # Multiplies every input size; the tests use tiny inputs.
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def pin_host(work: str) -> dict:
    """Size the session to this host and keep its files in `work`."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(2048, mem_mb // 4)
    tmp, jtmp, local = (os.path.join(work, d) for d in ("tmp", "jvm-tmp", "spark-local"))
    for d in (tmp, jtmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # spark-submit first runs a small launcher JVM of its own.
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf",
                shlex.quote(f"spark.local.dir={local}"),
                "--driver-java-options",
                # A fixed heap keeps memory accounting comparable
                # across runs.
                shlex.quote(f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -Xms{heap_mb}m"),
                "pyspark-shell",
            ]
        ),
    )
    return {"cores": cores, "heap_mb": heap_mb, "host_mem_mb": mem_mb}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def high(xs):
    """The 90th percentile, or the maximum below ten samples."""
    if len(xs) < 10:
        return max(xs) if xs else 0.0
    return statistics.quantiles(xs, n=10)[-1]


def summary(name, xs, unit):
    return f"{name:<12} median {median(xs):.4f} {unit}  high {high(xs):.4f} {unit}  n={len(xs)}"


def per_pass_summary(name, per_op: dict, unit):
    """One pass's figure from per-operation samples: the sums over
    operations of each one's median and high percentile, and the fewest
    samples any operation has."""
    med = sum(median(v) for v in per_op.values())
    hi = sum(high(v) for v in per_op.values())
    n = min((len(v) for v in per_op.values()), default=0)
    return f"{name:<12} median {med:.4f} {unit}  high {hi:.4f} {unit}  n={n} per operation"


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    me = os.getpid()
    children = [p for p in proctree.tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


class Runner:
    def __init__(self, args, work: str, host: dict):
        self.args, self.work, self.host = args, work, host
        self.spark = None
        self.op_wall: dict[str, list[float]] = {}
        self.op_cpu: dict[str, list[float]] = {}
        self.traced_wall: dict[str, list[float]] = {}
        self.pass_rss: list[float] = []
        self.steal_share = 0.0
        self.attempted = self.failed = 0
        self.warmup_wall: dict[str, float] = {}
        self.check_failures: dict[str, str] = {}
        self.raised: dict[str, str] = {}

    # -- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        from spans import Tracer

        import workloads
        from etl_addresses_spark.session import get_spark

        self.wl = workloads.make(self.args.workload, self.args.scale)
        if self.args.corrupt not in (None, *self.wl.ops):
            raise SystemExit(f"perfbench: --corrupt {self.args.corrupt}: no such operation")
        self.tracer = Tracer(enabled=bool(self.args.trace))
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            spark = self.spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(spark)
        t_session = time.perf_counter() - t0
        self.ctx = workloads.Ctx(spark, self.tracer, self.work, self.args.seed, self.args.corrupt)
        t1 = time.perf_counter()
        inputs = self.wl.prepare(self.ctx)
        t_inputs = time.perf_counter() - t1
        t_warm, t_check = 0.0, 0.0
        for op in self.wl.ops:
            t2 = time.perf_counter()
            with self.tracer.span("op", op=op, phase="warmup"):
                try:
                    verify = self.wl.warmup(self.ctx, op)
                except EvictedError:
                    raise
                except Exception as exc:  # the op is broken: count it, go on
                    verify, self.raised[op] = None, f"{type(exc).__name__}: {exc}"
            t3 = time.perf_counter()
            try:
                bad = verify() if verify is not None else self.raised[op]
            except Exception as exc:
                bad = f"check raised {type(exc).__name__}: {exc}"
            if bad:
                self.check_failures[op] = bad
            self.warmup_wall[op] = t3 - t2
            t_warm += t3 - t2
            t_check += time.perf_counter() - t3
        self.wl.between_passes(self.ctx)
        self._clean_tmp()
        return {
            "setup_s": t_session + t_inputs + t_warm,
            "session_s": t_session,
            "inputs_s": t_inputs,
            "warmup_s": t_warm,
            "check_s": t_check,
            "inputs": inputs,
        }

    def _clean_tmp(self) -> None:
        tmp = os.environ["TMPDIR"]
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)

    # -- the timed loop ------------------------------------------------------

    def measure(self) -> None:
        """Closed loop over passes until `--seconds` have passed.  At
        least one whole pass runs; with tracing, at least one untraced
        and one traced pass, alternating and always whole."""
        me, trace = os.getpid(), bool(self.args.trace)
        deadline = time.perf_counter() + self.args.seconds
        steal0, total0 = proctree.host_ticks()
        k = 0
        with proctree.PeakRss(me) as rss:
            while True:
                traced = trace and k % 2 == 1
                self.tracer.enabled = traced
                rss.reset()
                for op in self.wl.ops:
                    if not trace and k > 0 and time.perf_counter() >= deadline:
                        break
                    c0, t0 = proctree.cpu_seconds(me), time.perf_counter()
                    self.attempted += 1
                    try:
                        with self.tracer.span("op", op=op, phase="measure", pass_=k):
                            self.wl.run(self.ctx, op)
                        if op in self.check_failures:
                            self.failed += 1
                    except EvictedError:
                        raise
                    except Exception as exc:
                        self.failed += 1
                        self.raised.setdefault(op, f"{type(exc).__name__}: {exc}")
                    dt = time.perf_counter() - t0
                    dc = proctree.cpu_seconds(me) - c0
                    (self.traced_wall if traced else self.op_wall).setdefault(op, []).append(dt)
                    if not traced:
                        self.op_cpu.setdefault(op, []).append(dc)
                peak = rss.peak() / 2**20
                self.wl.between_passes(self.ctx)
                self._clean_tmp()
                if not traced:
                    self.pass_rss.append(peak)
                k += 1
                done = time.perf_counter() >= deadline
                if done and (not trace or k >= 2):
                    break
        self.tracer.enabled = bool(self.args.trace)
        steal1, total1 = proctree.host_ticks()
        # Other guests on the host can slow the run; this shows when.
        self.steal_share = (steal1 - steal0) / max(1, total1 - total0)

    # -- results -------------------------------------------------------------

    def end_to_end(self, setup: dict) -> dict:
        return {
            "setup_s": setup["setup_s"],
            "wall_s": self.untraced_wall(),
            "cpu_s": sum(median(v) for v in self.op_cpu.values()),
            "peak_rss_mb": median(self.pass_rss),
        }

    def untraced_wall(self) -> float:
        return sum(median(v) for v in self.op_wall.values())

    def per_layer(self) -> tuple[dict, dict]:
        from spans import self_seconds, subtree_counters

        spans = self.tracer.spans
        by_pass: dict[int, list] = {}
        for sp in spans:
            if sp.name == "op" and sp.attrs.get("phase") == "measure":
                by_pass.setdefault(sp.attrs["pass_"], []).append(sp)
        kids: dict[int, list] = {}
        for sp in spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)

        def descendants(sp):
            for c in kids.get(sp.id, ()):
                yield c
                yield from descendants(c)

        per_pass = []
        for ops in by_pass.values():
            m = dict.fromkeys(LAYER_METRICS, 0.0)
            wall = sum(sp.seconds for sp in ops)
            for sp in ops:
                c = subtree_counters(spans, sp)
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    m[f"spark.{k}"] += c[k]
                for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
                    m[f"spark.{k}"] += c[k]
                for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                    m[f"spark.{k}"] += c[k]
                for k in ("input_bytes", "input_records", "output_bytes", "output_records"):
                    m[f"sources.{k}"] += c[k]
                for d in descendants(sp):
                    if d.name == "spark.job":
                        m["spark.job_s"] += d.seconds
                    elif d.name in SPAN_TIMES:
                        m[f"{d.name}_s"] += d.seconds
                        m[f"{d.name}_self_s"] += self_seconds(spans, d)
                        if d.name == "plans.build":
                            m["plans.build_jobs"] += d.counters.get("jobs", 0)
                        if d.name == "ckpt.free":
                            m["ckpt.blocks_freed"] += d.attrs.get("blocks_freed", 0)
            m["spark.executor_util"] = m["spark.executor_run_s"] / (wall * self.host["cores"])
            per_pass.append(m)
        out = {k: median([m[k] for m in per_pass]) for k in LAYER_METRICS}
        out["trace.wall_s"] = sum(median(v) for v in self.traced_wall.values())
        for sp in spans:
            if sp.name == "session.get_spark":
                out["session.get_spark_s"] = sp.seconds
            elif sp.layer == "sources" and sp.parent is None:
                out["sources.setup_s"] += sp.seconds
        return out, self._repeatability(spans, subtree_counters)

    def _repeatability(self, spans, subtree_counters) -> dict:
        """For each Spark counter, the operations on which it read the
        same in every traced pass (the warm-up pass included) and those
        on which it did not, with the values seen."""
        seen: dict[str, dict[str, list]] = {}
        for sp in spans:
            if sp.name == "op":
                c = subtree_counters(spans, sp)
                per_op = seen.setdefault(sp.attrs["op"], {})
                for k in PASS_COUNTERS:
                    per_op.setdefault(k, []).append(c[k])
        report = {}
        for k in PASS_COUNTERS:
            exact = sorted(op for op, v in seen.items() if len(set(v[k])) == 1)
            varies = {
                op: {"min": min(v[k]), "max": max(v[k]), "values": v[k]}
                for op, v in sorted(seen.items())
                if len(set(v[k])) > 1
            }
            report[k] = {"exact": exact, "varies": varies}
        return report


LAYER_METRICS = {
    "session.get_spark_s": "s",
    "sources.setup_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.output_bytes": "bytes",
    "sources.output_records": "count",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "plans.action_self_s": "s",
    "engine.infer_s": "s",
    "engine.infer_self_s": "s",
    "engine.transform_s": "s",
    "engine.transform_self_s": "s",
    "ckpt.free_s": "s",
    "ckpt.free_self_s": "s",
    "ckpt.blocks_freed": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.job_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.executor_util": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.wall_s": "s",
}

# Printed and kept in the report but not in the JSON line: each is a
# time that reads 0 on every run of a workload that never calls its
# layer (plans on flagship_pipeline, engine on the registry workloads).
# The counts `plans.build_jobs` and the `spark.*` figures carry the same
# split in the exported metrics.
PRINTED_ONLY = {
    "plans.build_s",
    "plans.build_self_s",
    "plans.action_s",
    "plans.action_self_s",
    "engine.infer_s",
    "engine.infer_self_s",
    "engine.transform_s",
    "engine.transform_self_s",
}


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w]
            cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds)]
            rc = rc or subprocess.run([*cmd, "--trace", str(args.trace)]).returncode
        return rc
    if not os.path.isdir(os.path.join(ROOT, "etl_addresses_spark")):
        print(f"perfbench: no etl_addresses_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    host = pin_host(work)
    sys.path.insert(0, ROOT)

    runner = Runner(args, work, host)
    try:
        setup = runner.setup()
        spark = runner.spark
        host.update(
            seed=args.seed,
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            python=platform.python_version(),
        )
        runner.measure()
        e2e = runner.end_to_end(setup)
        if args.trace:
            layers, repeat = runner.per_layer()
            spans = runner.tracer.spans
    finally:
        if runner.spark is not None:
            stop_session(runner.spark)
        shutil.rmtree(work, ignore_errors=True)

    n_ops = len(runner.wl.ops)
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"cores={host['cores']} heap={host['heap_mb']}m spark={host['spark']} "
        f"java={host['java']} python={host['python']}"
    )
    print(
        f"setup_s      {setup['setup_s']:.4f} s (session {setup['session_s']:.2f}, "
        f"inputs {setup['inputs_s']:.2f}, warm-up pass {setup['warmup_s']:.2f}; "
        f"output check {setup['check_s']:.2f} s untimed)"
    )
    print(per_pass_summary("wall_s", runner.op_wall, "s"))
    print(per_pass_summary("cpu_s", runner.op_cpu, "s"))
    print(summary("peak_rss_mb", runner.pass_rss, "MB"))
    rate = runner.failed / max(1, runner.attempted)
    print(f"cpu steal    {runner.steal_share:.4f} of the host's CPU time during the timed loop")
    print(f"error_rate   {rate:.4f} ratio ({runner.failed} of {runner.attempted} operations)")
    ok = n_ops - len(runner.check_failures)
    print(f"check        {ok}/{n_ops} operations match their oracle")
    for op, why in sorted(runner.check_failures.items()):
        print(f"check FAILED {op}: {why}")
    for op, why in sorted(runner.raised.items()):
        print(f"raised       {op}: {why}")

    report = {
        "workload": args.workload,
        "host": host,
        "setup": setup,
        "ops": runner.wl.ops,
        "op_warmup_s": runner.warmup_wall,
        "op_wall_s": runner.op_wall,
        "op_cpu_s": runner.op_cpu,
        "error_rate": rate,
        "cpu_steal_share": runner.steal_share,
        "check_failures": runner.check_failures,
        "raised": runner.raised,
    }
    if args.trace:
        from spans import self_seconds

        for name, unit in LAYER_METRICS.items():
            print(f"{name:<28} {layers[name]:.6g} {unit}")
        # A difference of two medians, so it can read below zero; it is
        # printed but not exported as a metric.
        overhead = layers["trace.wall_s"] - runner.untraced_wall()
        print(f"trace overhead {overhead:.6g} s (traced wall_s minus untraced wall_s)")
        for k, r in repeat.items():
            varies = ", ".join(
                f"{op} {v['min']}..{v['max']}" for op, v in r["varies"].items()
            )
            print(f"repeat {k:<20} exact on {len(r['exact'])} ops; varies: {varies or 'none'}")
        report.update(
            per_layer=layers,
            trace_overhead_s=overhead,
            repeatability=repeat,
            spans=[
                {
                    "id": sp.id,
                    "name": sp.name,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "self_s": self_seconds(spans, sp),
                    "attrs": sp.attrs,
                    "counters": sp.counters,
                }
                for sp in spans
            ],
        )
        metrics = {
            k: {"value": layers[k], "unit": u}
            for k, u in LAYER_METRICS.items()
            if k not in PRINTED_ONLY
        }
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    path = os.path.join(
        base, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(f"report       {os.path.relpath(path, ROOT)}")
    print(f"elapsed      {time.perf_counter() - started:.1f} s")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

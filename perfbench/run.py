#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ref_interactive --seed 42 --seconds 6 --trace 0

Run from the repository root. The run

1. makes the seed's input, an sf0.1 star-schema tree, in a child process
   (``prepare.py``) and waits for it;
2. sets up once, cold and alone on the machine: ``session.get_spark``,
   which starts the JVM, then the first ``catalog.register_views``. This
   is ``setup_s``;
3. runs one untimed warm-up pass, which lets the JVM settle, while the
   child computes every query's DuckDB oracle;
4. runs ``--seconds / pass_s`` timed closed-loop passes, rounded, at
   least one, where ``pass_s`` is the workload's pass time on the host the
   benchmark was sized on; so a run measures about ``--seconds`` there.
   Every result is checked against its oracle outside the timed region.
   Peak memory counts over these passes, after a full collection.

With ``--trace 0`` it reports the end-to-end metrics and takes no spans.
With ``--trace 1`` it alternates untraced and traced passes (at least two
of each) and reports the per-layer ledger of the traced ones, the tracing
overhead and the ledger residuals. The last line of standard output is
one JSON object; a readable summary goes to standard error, and the full
record (per-query rows, oracle row counts, spans) to
``perfbench/.work/results/``. The exit code is nonzero when any execution
raised or mismatched its oracle.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import subprocess  # noqa: E402
from collections import defaultdict  # noqa: E402

from paths import HERE, ROOT, WORK, environment  # noqa: E402

FLOOR_REPEATS = 5


def _reset_hwm(pid: int | str) -> None:
    """Restart the process's peak-RSS count from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail_percentile(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below twenty samples that percentile would fall
    under the median, so the upper median is taken instead."""
    xs = sorted(samples)
    k = max(len(xs) - 10, len(xs) // 2 + 1)
    return xs[k - 1], int(100 * k / len(xs))


class Run:
    def __init__(self, args, spec: dict):
        from workloads import WORKLOADS

        self.args = args
        self.spec = spec
        self.workload = WORKLOADS[args.workload]
        self.names = list(self.workload.queries)
        self.failures: list[dict] = []
        self.attempted = 0
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.layers: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        # The child starts first, so its imports overlap the driver's.
        prep = subprocess.Popen(
            [sys.executable, str(HERE / "prepare.py"),
             "--workload", self.workload.name, "--seed", str(self.args.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            from oracle import Expected
            from sqlondataframesr_spark import catalog, registry, session

            line = prep.stdout.readline()
            if not line:
                raise RuntimeError("prepare.py made no inputs")
            self.sf_dir = json.loads(line)["sf_dir"]
            self.marks = {"inputs": time.perf_counter() - T_START}

            # The cold set-up runs while the child waits, so nothing else
            # competes for the CPU.
            t0 = time.perf_counter()
            self.spark = session.get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            catalog.register_views(self.spark, self.sf_dir)
            t2 = time.perf_counter()
            self.layers["session.start_s"] = t1 - t0
            self.layers["catalog.load_s"] = t2 - t1
            self.setup_s = t2 - t0
            prep.stdin.write("go\n")
            prep.stdin.close()

            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
            self.queries = registry.queries()
            warm = [self.execute(name, -1) for name in self.names]
            self.marks["warm_up"] = time.perf_counter() - T_START

            out = prep.stdout.read()
            if prep.wait():
                raise RuntimeError(f"prepare.py exited with {prep.returncode}")
            self.expected = {n: Expected.load(p)
                             for n, p in json.loads(out)["expected"].items()}
            self.marks["oracles"] = time.perf_counter() - T_START
        finally:
            if prep.poll() is None:
                prep.kill()
                prep.wait()
        for result in warm:
            self.check(*result)
        if self.args.trace:
            self._floors()
        # Peak memory counts over the timed loop only, from a collected
        # heap: how far the JVM grew its heap before depends on GC timing,
        # not on the workload.
        del warm
        self.spark.sparkContext._jvm.System.gc()
        _reset_hwm("self")
        _reset_hwm(self.jvm_pid)
        self.setup_wall_s = time.perf_counter() - T_START

    def _floors(self) -> None:
        from sqlondataframesr_spark import catalog

        lineitem = catalog.load_table(self.spark, self.sf_dir, "lineitem")
        noop, scan = [], []
        for _ in range(FLOOR_REPEATS):
            t0 = time.perf_counter()
            self.spark.range(1).toPandas()
            t1 = time.perf_counter()
            lineitem.select("l_orderkey").count()
            scan.append(time.perf_counter() - t1)
            noop.append(t1 - t0)
        self.layers["floor.noop_s"] = statistics.median(noop)
        self.layers["floor.scan_s"] = statistics.median(scan)

    # -- execution ------------------------------------------------------
    def execute(self, name: str, pass_no: int, tracer=None):
        """One closed-loop step: build, toPandas, release_all. Returns
        (name, result or None). Steps of timed passes (``pass_no >= 0``)
        record their step time (build through release) and, untraced,
        their latency (build through the end of toPandas)."""
        from sqlondataframesr_spark.materialize import release_all

        fn = self.queries[name]
        self.attempted += 1
        try:
            if tracer is not None:
                pdf, step_s = tracer.run(
                    name, pass_no, lambda: fn(self.spark, self.sf_dir), release_all)
            else:
                t0 = time.perf_counter()
                pdf = fn(self.spark, self.sf_dir).toPandas()
                t1 = time.perf_counter()
                release_all()
                step_s = time.perf_counter() - t0
                if pass_no >= 0:
                    self.latency[name].append(t1 - t0)
        except Exception as e:  # noqa: BLE001 - a failed execution is counted, not fatal
            release_all()
            self.failures.append({"query": name, "pass": pass_no, "error": repr(e)[:500]})
            return name, None
        if pass_no >= 0:
            self.steps[tracer is not None][name].append(step_s)
        return name, pdf

    def check(self, name: str, pdf) -> None:
        if pdf is None:
            return
        why = self.expected[name].mismatch(pdf)
        if why is not None:
            self.failures.append({"query": name, "error": f"oracle mismatch: {why}"})

    def measure(self) -> None:
        """The timed closed-loop passes: ``--seconds`` over the workload's
        pass time, rounded, at least one. Traced, passes alternate untraced
        and traced, at least two of each."""
        from ledger import Tracer

        self.tracer = Tracer(self.spark) if self.args.trace else None
        self.steps = {False: defaultdict(list), True: defaultdict(list)}
        # Traced, at least two passes of each kind: with one of each, the
        # tracing overhead compared the first pass after the collection
        # that precedes the loop with the second.
        self.passes = max(4 if self.tracer else 1,
                          round(self.args.seconds / self.workload.pass_s))
        steal0, total0 = _cpu_ticks()
        start = time.perf_counter()
        for pass_no in range(self.passes):
            tracer = self.tracer if pass_no % 2 else None
            for name in self.names:
                self.check(*self.execute(name, pass_no, tracer))
        self.measured_s = time.perf_counter() - start
        steal1, total1 = _cpu_ticks()
        # CPU time the hypervisor gave to other guests during the timed
        # loop: a degraded host window shows here, not in the program.
        self.layers["floor.steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
        self.peak_rss = {"python_mb": _vm_hwm_mb("self"), "jvm_mb": _vm_hwm_mb(self.jvm_pid)}

    def pass_s(self, traced: bool) -> float:
        """One closed-loop pass: the sum over the workload's queries of
        each query's median step time."""
        steps = self.steps[traced]
        return sum(statistics.median(steps[name]) for name in self.names if steps[name])

    def shutdown(self) -> None:
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)

    # -- results --------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        samples = [x for xs in self.latency.values() for x in xs]
        tail, pct = tail_percentile(samples)
        self.tail_label = f"p{pct} of {len(samples)}"
        return {
            "setup_s": self.setup_s,
            "pass_s": self.pass_s(False),
            # Each query weighs the same, whatever number of passes ran.
            "latency_p50_s": statistics.median(
                statistics.median(xs) for xs in self.latency.values()),
            "latency_tail_s": tail,
            "peak_rss_mb": sum(self.peak_rss.values()),
        }

    def per_layer(self) -> dict[str, float]:
        rows = self.tracer.rows
        by_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for row in rows:
            for key, value in row.items():
                if key not in ("query", "pass"):
                    by_pass[row["pass"]][key] += value
        sums = list(by_pass.values())
        for s in sums:
            run = s["spark_exec.executor_run_s"]
            s["spark_exec.cpu_busy_ratio"] = s["spark_exec.executor_cpu_s"] / run if run else 0.0
        out = dict(self.layers)
        keys = {k for s in sums for k in s if "." in k and not k.startswith("residual.")}
        for key in keys:
            out[key] = statistics.median(s[key] for s in sums)
        traced, untraced = self.pass_s(True), self.pass_s(False)
        out["trace.pass_s"] = traced
        out["trace.untraced_pass_s"] = untraced
        out["trace.overhead_s"] = traced - untraced
        out["ledger.query_residual_s"] = max(abs(r["residual.query_s"]) for r in rows)
        out["ledger.action_residual_s"] = max(abs(r["residual.action_s"]) for r in rows)
        return out

    def report(self, metrics: dict[str, float]) -> dict:
        declared = self.spec["per_layer" if self.args.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }

    def record(self, result: dict, metrics: dict[str, float]) -> None:
        """Write the full record of the run and print a summary to stderr.
        Both carry every metric measured, also those BENCHMARK.json does
        not list."""
        per_query = {}
        for name in self.names:
            exp = self.expected.get(name)
            lat = self.latency.get(name, [])
            per_query[name] = {
                "oracle_rows": exp.n_rows if exp else None,
                "check": "empty oracle" if exp and exp.n_rows == 0 else "verified",
                "timed_runs": len(lat),
                "latency_median_s": statistics.median(lat) if lat else None,
                "failures": sum(f["query"] == name for f in self.failures),
            }
        full = {
            "workload": self.workload.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "host": {"cpus": os.environ["SPARK_GRAFT_CPUS"],
                     "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]},
            "sf_dir": self.sf_dir,
            "setup_s": self.setup_s,
            "setup_wall_s": self.setup_wall_s,
            "marks_s": self.marks,
            "measured_s": self.measured_s,
            "steal_ratio": self.layers["floor.steal_ratio"],
            "peak_rss": self.peak_rss,
            "passes": self.passes,
            "steps_s": {("traced" if k else "untraced"): v for k, v in self.steps.items()},
            "per_query": per_query,
            "failures": self.failures,
            "result": result,
        }
        if not self.args.trace:
            full["failed_ratio"] = len(self.failures) / self.attempted
            full["latency_tail"] = self.tail_label
        else:
            full["per_layer"] = metrics
            full["ledger_rows"] = self.tracer.rows
            full["spans"] = self.tracer.spans
        out = WORK / "results" / f"{self.workload.name}-seed{self.args.seed}-trace{self.args.trace}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(full, indent=1, default=str))

        err = sys.stderr
        print(f"perfbench {self.workload.name} seed={self.args.seed} trace={self.args.trace}"
              f" passes={self.passes} setup_wall={self.setup_wall_s:.2f}s"
              f" measured={self.measured_s:.2f}s"
              f" steal_ratio={self.layers['floor.steal_ratio']:.3f}", file=err)
        for name, q in per_query.items():
            lat = q["latency_median_s"]
            print(f"  {name:45s} oracle_rows={q['oracle_rows']!s:>6} {q['check']:12s}"
                  f" runs={q['timed_runs']:3d} median={lat if lat is None else round(lat, 4)}"
                  f" failures={q['failures']}", file=err)
        units = {m["name"]: m["unit"] for m in self.spec["end_to_end"] + self.spec["per_layer"]}
        for name in sorted(metrics) if self.args.trace else metrics:
            unit = units.get(name, "s")  # the unlisted ones are all times
            print(f"  {name:35s} {metrics[name]:.6g} {unit}", file=err)
        if not self.args.trace:
            print(f"  {'failed_ratio':35s} {full['failed_ratio']:.6g} ratio", file=err)
            print(f"  latency_tail is {self.tail_label} samples", file=err)
        for f in self.failures[:20]:
            print(f"  FAILED {f['query']}: {f['error']}", file=err)
        print(f"  full record: {out}", file=err)


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    environment()
    try:
        spec = json.loads(spec_path.read_text())
        for module in ("pyspark", "sqlondataframesr_spark"):
            if importlib.util.find_spec(module) is None:
                raise ImportError(f"no module named {module}")
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot load the program under {ROOT}: {e}", file=sys.stderr)
        return 2

    run = Run(args, spec)
    try:
        run.setup()
        run.measure()
        metrics = run.per_layer() if args.trace else run.end_to_end()
    finally:
        if getattr(run, "spark", None) is not None:
            run.shutdown()
    result = run.report(metrics)
    run.record(result, metrics)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Domain benchmark for the ProHap, ProVar and peptide-annotation
pipelines: generated text files in, reference-contract TSV.gz and FASTA
out, outputs checked against the generator's model.

    python3 perfbench/run.py --workload prohap_cohort --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``prohap_cohort``
runs ``run_prohap_pipeline`` on a phased cohort VCF, ``provar_sites``
runs ``run_provar_pipeline`` on a sites-only VCF, ``peptide_report``
runs ``run_peptide_annotation`` on a peptide report.

One process, one Spark session on ``local[<cpus>]``, one client in a
closed loop: each pipeline run starts when the previous one has
finished and its output has been checked. ``--trace 0`` reports the
end-to-end metrics from untraced runs: set-up time (the benchmark
process's own ``get_spark()`` call, made in a fresh process), the first
run in the session, the median and the upper quartile of the warm runs
(at least two, after one untimed warm-up run), throughput at the median
and the Spark driver JVM's peak RSS.
``--trace 1`` alternates untraced runs with traced runs that stage the
pipeline layer by layer, and reports the per-layer metrics and the
tracing overhead.

The last line of standard output is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``). Lines before it,
starting with ``#``, record the environment and every metric with its
unit, ``error_rate`` included.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gen
from check import CHECKS, part_file
from spark_env import DRIVER_MEM, HERE, ROOT, WORK, pin_env, session_conf, stop_session

CACHE = os.path.join(HERE, ".cache")
# fewest warm runs an end-to-end measurement times, however short --seconds
WARM_RUNS = 2

# layers of the benchmarked workloads (BENCHMARK.json); every traced
# run reports all of them, 0 for a layer its pipeline does not run
LAYERS = [
    "sources.vcf", "sources.gtf", "sources.fasta", "sources.tsv",
    "provar.assign", "prohap.extract", "prohap.annotate", "kernels", "provar.run",
    "postprocess", "sink.tsv", "sink.fasta",
    "peptides.explode", "peptides.canonical", "peptides.covered", "peptides.classify",
]
LAYER_FIELDS = [("self_s", "s"), ("rows_in", "count"), ("rows_out", "count"),
                ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count")]
DERIVED = {
    "prohap.extract.copies_per_haplotype": "ratio",
    "kernels.emit_ratio": "ratio",
    "kernels.us_per_item": "us",
    "provar.assign.pairs_per_variant": "ratio",
    "postprocess.dedup_ratio": "ratio",
    "sources.vcf.bytes_in": "bytes",
    "sink.tsv.bytes": "bytes",
    "sink.fasta.bytes": "bytes",
    "trace.overhead_s": "s",
}


def per_layer_units(layers: list[str]) -> dict[str, str]:
    units = {f"{layer}.{field}": unit for layer in layers for field, unit in LAYER_FIELDS}
    units.update(DERIVED)
    return units


def _drop_last_row(tsv_dir: str) -> None:
    """Fault injection for the benchmark's own tests: remove one data
    row from a written TSV.gz."""
    part = part_file(tsv_dir, "part-*.csv.gz")
    with gzip.open(part, "rt") as f:
        lines = f.readlines()
    with gzip.open(part, "wt") as f:
        f.writelines(lines[:-1])


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or "unknown"


class Runner:
    """Runs one workload's pipeline repeatedly in one session and
    checks every output."""

    def __init__(self, spark, workload: str, inp: str, fault: bool):
        # imported here: it needs the repository on sys.path (pin_env)
        from workloads import run_traced, run_untraced

        self._run_traced, self._run_untraced = run_traced, run_untraced
        self.spark = spark
        self.workload = workload
        self.inp = inp
        self.model = gen.load_model(inp)
        self.check = CHECKS[workload]
        self.fault = fault
        self.out = os.path.join(WORK, "out", workload)
        self.attempted = 0
        self.failed = 0

    def _verify(self, outputs: dict) -> None:
        if self.fault:
            _drop_last_row(outputs["tsv"])
        problems = self.check(outputs, self.model)
        if problems:
            raise AssertionError("; ".join(problems))

    def untraced(self) -> float | None:
        """One timed run from input files to output files; None when it
        failed."""
        return self._attempt(lambda: self._run_untraced(self.spark, self.workload, self.inp, self.out))

    def traced(self, run_no: int) -> dict | None:
        """One traced run; its spans and ratios, or None when it failed."""
        result = {}

        def go():
            outputs, result["spans"], result["ratios"] = self._run_traced(
                self.spark, self.workload, self.inp, self.out, self.model["counts"], run_no)
            return outputs

        return result if self._attempt(go) is not None else None

    def _attempt(self, fn) -> float | None:
        self.attempted += 1
        # each run starts from the input files and a collected heap
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        shutil.rmtree(self.out, ignore_errors=True)
        try:
            t0 = time.perf_counter()
            outputs = fn()
            elapsed = time.perf_counter() - t0
            self._verify(outputs)
            return elapsed
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None


def run_tail(warm: list[float]) -> float:
    """The upper quartile of the warm runs, interpolated between the
    samples. A pipeline run lasts seconds, so a window holds a few runs,
    and their maximum is a single run, which on a shared box is as often
    a burst of contention as the program's own tail."""
    return statistics.quantiles(warm, n=4, method="inclusive")[2] if len(warm) > 1 else warm[0]


def end_to_end(runner: Runner, seconds: float, setup_s: float, records: int) -> tuple[dict, dict]:
    first = runner.untraced()
    # the second run still finishes JIT warm-up: often 20-50% slower
    # than the runs after it, by an amount that varies from process to
    # process, so it is run untimed
    runner.untraced()
    deadline = time.perf_counter() + seconds
    warm: list[float] = []
    while len(warm) < WARM_RUNS or time.perf_counter() < deadline:
        t = runner.untraced()
        if t is not None:
            warm.append(t)
        elif time.perf_counter() >= deadline:
            break
    if first is None or not warm:
        return {}, {}
    run_s = statistics.median(warm)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_run_s": (first, "s"),
        "run_s": (run_s, "s"),
        "run_tail_s": (run_tail(warm), "s"),
        "records_per_s": (records / run_s, "1/s"),
        "jvm_peak_rss_mb": (_jvm_peak_rss_mb(runner.spark), "MB"),
    }
    info = {"warm_runs": len(warm), "run_tail": f"p75 of {len(warm)} warm runs",
            "warm_times_s": [round(t, 4) for t in warm]}
    return metrics, info


def per_layer(runner: Runner, seconds: float) -> tuple[dict, dict]:
    from workloads import RESTAGED

    runner.untraced()  # first run, not reported
    deadline = time.perf_counter() + seconds
    untraced: list[float] = []
    traced: list[dict] = []
    while not (untraced and traced) or time.perf_counter() < deadline:
        t = runner.untraced()
        if t is not None:
            untraced.append(t)
        r = runner.traced(len(traced) + len(untraced))
        if r is not None:
            traced.append(r)
        if runner.failed and time.perf_counter() >= deadline:
            break
    if not (untraced and traced):
        return {}, {}
    units = per_layer_units(LAYERS)
    values: dict[str, float] = {}
    for layer in LAYERS:
        for field, _unit in LAYER_FIELDS:
            samples = [r["spans"][layer][field] for r in traced if layer in r["spans"]]
            values[f"{layer}.{field}"] = statistics.median(samples) if samples else 0
    for name in DERIVED:
        samples = [r["ratios"][name] for r in traced if name in r["ratios"]]
        values[name] = statistics.median(samples) if samples else 0
    # the spans that together cover the pipeline's work once: tracing
    # overhead is what materializing each layer adds to the untraced run
    span_sum = statistics.median(
        sum(s["self_s"] for layer, s in r["spans"].items() if layer not in RESTAGED) for r in traced)
    values["trace.overhead_s"] = span_sum - statistics.median(untraced)
    metrics = {name: (values[name], units[name]) for name in units}
    info = {"traced_runs": len(traced), "untraced_runs": len(untraced),
            "traced_span_sum_s": span_sum, "untraced_run_s": statistics.median(untraced)}
    return metrics, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="input size; tiny is for tests")
    p.add_argument("--inject-fault", action="store_true",
                   help="drop one row from every TSV output before checking it (tests the checks)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "prohap_spark", "session.py")):
        print(f"prohap_spark not found next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    pinned = pin_env()

    t0 = time.perf_counter()
    inp, generated = gen.inputs(CACHE, args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t0
    counts = gen.load_model(inp)["counts"]

    from prohap_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=session_conf())
    setup_s = time.perf_counter() - t0
    try:
        import pyspark
        from workloads import RECORD

        runner = Runner(spark, args.workload, inp, args.inject_fault)
        if args.trace:
            metrics, info = per_layer(runner, args.seconds)
        else:
            metrics, info = end_to_end(runner, args.seconds, setup_s, counts[RECORD[args.workload]])
        env = {
            "workload": args.workload, "seed": args.seed, "size": args.size, "seconds": args.seconds,
            "trace": args.trace, "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0], "cpus": os.cpu_count(),
            "master": spark.sparkContext.master, "driver_memory": DRIVER_MEM,
            "git_commit": _git_commit(), "inputs": counts, "input_generation_s": round(gen_s, 3),
            "inputs_generated_now": generated, "clients": 1, "loop": "closed", **info,
            "pinned_env": {k: v for k, v in pinned.items() if k.startswith("SPARK")},
        }
    finally:
        stop_session(spark)

    error_rate = runner.failed / runner.attempted
    print("# env " + json.dumps(env, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value!r} {unit}")
    print(f"# error_rate = {error_rate!r} 1 ({runner.failed} failed of {runner.attempted} runs)")
    result = {
        "correct": runner.failed == 0 and bool(metrics),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

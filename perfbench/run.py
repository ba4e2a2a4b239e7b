"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the seeded corpus (cached under
``.perfbench_cache/``), starts a Spark session at ``local[nproc]``, runs
warm-up passes, then timed passes for ``--seconds``; every pass is
checked per document against the generator's golden spans. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones); the line before it records the host, the versions and
every pass time. Exits 1 on any golden mismatch, 2 when the program is
missing.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
MIN_PASSES = 3
TRACED_PASSES = 2
# Pass times keep falling for the first few passes (JIT, Python worker
# start); the timed window starts after this many.
WARMUP_PASSES = 3


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Used by the traced run for its local[1] comparison run.
    ap.add_argument("--cores", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--min-passes", type=int, default=MIN_PASSES, help=argparse.SUPPRESS)
    ap.add_argument("--warmup-passes", type=int, default=WARMUP_PASSES, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _local1_pages_per_s(args) -> float:
    """pages_per_s of the same workload and seed at local[1], measured
    by a fresh process and JVM: one warm-up pass (a whole corpus on one
    core) and one timed pass."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0",
           "--cores", "1", "--min-passes", "1", "--warmup-passes", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"local[1] run failed ({proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["pages_per_s"]["value"]


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "mangaextractor_spark" / "__init__.py").is_file():
        print(f"perfbench: no mangaextractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import corpus as corpus_mod
    from perfbench import host, sparkstats
    from perfbench.gate import mismatched_docs
    from perfbench.metrics import PER_LAYER
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, spark_layer_metrics

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    n_cores = args.cores or host.cores()
    heap_gb = host.driver_heap_gb()
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Everything Spark and its workers write stays inside the checkout.
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    work_dir = CACHE / "work" / str(os.getpid())

    # Corpus generation and the local[1] run happen before this process
    # starts its own JVM and are not part of setup_s.
    t0 = time.perf_counter()
    corpora = {
        name: corpus_mod.load(spec, CACHE / "corpus", processes=n_cores)
        for name, spec in wl.corpus_specs(args.seed, bool(args.trace)).items()
    }
    corpus = corpora["main"]
    local1_pages_per_s = _local1_pages_per_s(args) if args.trace else None
    not_setup_s = time.perf_counter() - t0

    tr = Tracer()
    attempted = failed = 0
    bad_docs: set[str] = set()

    def checked_pass(tracer: Tracer) -> tuple[float, float]:
        """Run, time and golden-check one pass; returns (seconds, end)."""
        nonlocal attempted, failed
        start = time.perf_counter()
        with tracer.span("pass"):
            pdf = wl.run_pass(spark, inputs, tracer)
        end = time.perf_counter()
        bad = mismatched_docs(pdf, corpus.golden)
        attempted += corpus.n_docs
        failed += len(bad)
        bad_docs.update(bad)
        return end - start, end

    from mangaextractor_spark.session import get_spark

    with host.PeakRss() as rss:
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = get_spark(
                app_name=f"perfbench-{wl.name}",
                cores=n_cores,
                shuffle_partitions=n_cores,
                extra_conf={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
                },
            )
        session_s = time.perf_counter() - t0
        spark_version = spark.version
        spark.sparkContext.setLogLevel("ERROR")
        try:
            inputs = wl.register(spark, corpus)
            scan_tasks = {k: df.rdd.getNumPartitions() for k, df in inputs.items()}
            warm_from = sparkstats.last_execution_id(spark)
            warm_s = [checked_pass(Tracer()) for _ in range(args.warmup_passes)]
            setup_s = warm_s[-1][1] - T_PROCESS - not_setup_s
            layer: dict[str, float] = {}
            if args.trace:
                layer["pipeline.py_init_s"] = sparkstats.total(
                    sparkstats.executions_since(spark, warm_from),
                    "time to initialize Python workers",
                )

            # In the traced run, passes 2, 3, 6, 7, ... are traced (ABBA
            # order, so the still-warming JVM favours neither side).
            times, traced, executions = [], [], []
            ticks, cpu_s = host.cpu_ticks(), host.tree_cpu_s(os.getpid())
            deadline = time.perf_counter() + args.seconds
            while (len(times) < args.min_passes or time.perf_counter() < deadline
                   or len(traced) < (TRACED_PASSES if args.trace else 0)):
                if args.trace and (len(times) + len(traced)) % 4 in (1, 2):
                    before = sparkstats.last_execution_id(spark)
                    traced.append(checked_pass(tr)[0])
                    executions = sparkstats.executions_since(spark, before)
                else:
                    times.append(checked_pass(Tracer())[0])
            pass_s = statistics.median(times)
            steal = host.steal_share(ticks, host.cpu_ticks())
            cpu_s = host.tree_cpu_s(os.getpid()) - cpu_s
            peak_rss_mb = rss.peak / 2**20

            if args.trace:
                shutil.rmtree(work_dir, ignore_errors=True)
                work_dir.mkdir(parents=True)
                probes = wl.probes(spark, inputs, corpora, tr, work_dir)
                failed += probes.pop("_failed_docs", 0)
                attempted += probes.pop("_attempted_docs", 0)
                kernel_s = probes.pop("_kernel_s", None)
                layer.update(spark_layer_metrics(executions, corpus.n_pages, kernel_s))
                layer.update(probes)
                layer["session.start_s"] = session_s
                layer["peak_rss_mb"] = peak_rss_mb
                layer["trace.overhead_share"] = statistics.median(traced) / pass_s - 1.0
                layer["scaling_eff"] = (corpus.n_pages / pass_s) / (n_cores * local1_pages_per_s)
        finally:
            _stop_spark(spark)
            shutil.rmtree(work_dir, ignore_errors=True)

    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "cores": n_cores, "driver_heap": f"{heap_gb}g",
        "spark": spark_version, "python": platform.python_version(),
        "corpus": corpus.key, "docs": corpus.n_docs, "pages": corpus.n_pages,
        "scan_tasks": scan_tasks, "session_s": session_s, "warm_s": [w[0] for w in warm_s],
        "pass_s": times, "steal_share": steal,
        "cpu_ms_per_page": 1000.0 * cpu_s / (corpus.n_pages * (len(times) + len(traced))),
        "peak_rss_mb": peak_rss_mb,
        "failed_share": failed / attempted, "mismatched_docs": sorted(bad_docs)[:20],
    }))
    if args.trace:
        tr.write(CACHE / "traces" / f"{wl.name}-{args.seed}-{os.getpid()}.jsonl")
        layer["failed_share"] = failed / attempted
        metrics = {name: {"value": layer.get(name, 0.0), "unit": unit}
                   for name, unit, _, _ in PER_LAYER}
    else:
        metrics = {
            "pages_per_s": {"value": corpus.n_pages / pass_s, "unit": "1/s"},
            "docs_per_s": {"value": corpus.n_docs / pass_s, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

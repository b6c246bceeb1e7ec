"""KG-construction benchmark: one run of one workload.

    python3 kgbench/run.py --workload fresh_build --seed 1 --seconds 1 --trace 0

Run from the repository root.  Each run starts its own local[4] Spark
session and drives ``build_kg`` in a closed loop with a single client (the
next build starts when the previous one returns) until ``--seconds`` have
passed, with at least one build.  Every build is checked by the correctness
gates in ``gates.py``.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``:

- ``--trace 0`` reports the end-to-end metrics listed in BENCHMARK.json;
- ``--trace 1`` reports the per-layer metrics: the same builds run inside
  spans with the Spark event log on, then a probe pass calls each layer on
  its own (``probe.py``).

Inputs are generated from ``--seed`` and cached in ``.bench_cache/``; scratch
output lives in ``.bench_work/`` and is deleted at the end of the run; the
traced run leaves its spans in ``.bench_out/``.  See NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
if not os.path.isfile(os.path.join(ROOT, "node_feedparser_spark", "__init__.py")):
    sys.exit(f"kgbench: {ROOT} holds no node_feedparser_spark package to measure")

import gates  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("fresh_build", "entity_heavy")
PARALLELISM = 4
N_BUCKETS = 8
#: spans whose Spark engine counters are reported
COUNTER_SPANS = (
    "sources.scan", "extract.dedupe", "extract.extract", "canonicalize.keys",
    "canonicalize.lsh", "components.cc", "canonicalize.total",
    "pipeline.build_kg", "pipeline.delta_commit", "validate", "bgp.query",
    "expire",
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size; tiny is for the benchmark's own tests",
    )
    return ap.parse_args(argv)


def declared_units(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def start_session(work: str, trace: bool):
    """local[4] session whose scratch space is inside the checkout.  Spark's
    Python workers inherit PYTHONPATH, which must name the repository root
    or they cannot import node_feedparser_spark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # both JVMs (spark-submit's launcher and the driver): temp files in the
    # checkout, and no hsperfdata file, which the JVM always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}"]
    ).strip()
    tempfile.tempdir = None
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # smaller log, less tracing overhead: one-line plans in SQL
            # events, and no accumulator copies in every task-end event
            "spark.sql.ui.explainMode": "simple",
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    from node_feedparser_spark.session import get_spark

    return get_spark(
        app="kgbench", master=f"local[{PARALLELISM}]",
        shuffle_partitions=PARALLELISM, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Spark JVM plus that of this driver process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def check(
    workload: str, summary: dict, out: str, d: str, expected: dict, seed: int
) -> list[str]:
    problems = gates.check_counts(summary, gates.turns_from_output(out), expected)
    corpus = os.path.join(d, "corpus.parquet")
    if workload == "fresh_build":
        convs = gates.sample_convs(corpus, seed)
        problems += gates.check_triples(
            gates.output_triples(out, convs), gates.reference_triples(corpus, convs)
        )
    else:
        with open(os.path.join(d, "groups.json")) as f:
            groups = json.load(f)
        problems += gates.check_entity_groups(
            gates.surface_ids_from_output(out), groups
        )
    return problems


def output_size(out: str) -> tuple[int, int]:
    """(parquet data files, bytes of every file) under a KG output dir."""
    files = size = 0
    for root, _, names in os.walk(out):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def run(args, d: str, work: str, gen_s: float) -> int:
    from node_feedparser_spark.plans.pipeline import build_kg

    with open(os.path.join(d, "expected.json")) as f:
        expected = json.load(f)
    corpus = os.path.join(d, "corpus.parquet")
    t0 = time.monotonic()
    spark = start_session(work, bool(args.trace))
    session_s = time.monotonic() - t0
    setup_s = time.monotonic() - T_START - gen_s
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark.sparkContext)
    m: dict[str, float] = {}
    walls: list[float] = []
    failed = attempted = 0
    out = None
    try:
        loop_start = time.monotonic()
        while True:
            if out is not None:
                shutil.rmtree(out, ignore_errors=True)
            out = os.path.join(work, f"kg-{attempted}")
            attempted += 1
            try:
                if tracer is None:
                    t = time.perf_counter()
                    summary = build_kg(spark, corpus, out, n_buckets=N_BUCKETS)
                    walls.append(time.perf_counter() - t)
                else:
                    with tracer.span("pipeline.build_kg") as s:
                        summary = build_kg(spark, corpus, out, n_buckets=N_BUCKETS)
                    walls.append(s["seconds"])
                    m["pipeline.build_kg.peak_rss_mb"] = peak_rss_mb(spark)
                    for phase, sec in summary["phases"].items():
                        tracer.child(s, f"pipeline.build_kg.{phase}", sec)
                        m[f"pipeline.{phase}_s"] = sec
                    files, size = output_size(out)
                    m["pipeline.files_written"] = files
                    m["pipeline.bytes_written_per_input_byte"] = (
                        size / os.path.getsize(corpus)
                    )
                problems = check(args.workload, summary, out, d, expected, args.seed)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                failed += 1
                print(
                    f"build {attempted} failed its gates:", *problems,
                    sep="\n  ", file=sys.stderr,
                )
            if time.monotonic() - loop_start >= args.seconds:
                break
        if not walls:
            return 1
        if tracer is None:
            m["setup_s"] = setup_s
            m["turns_per_s"] = expected["n_turns"] / statistics.median(walls)
        else:
            import probe

            m["session.start_s"] = session_s
            m["pipeline.build_kg_s"] = statistics.median(walls)
            probe.operators(spark, tracer, corpus, N_BUCKETS, m)
            delta = os.path.join(d, "delta.parquet")
            probe.read_side(spark, tracer, out, delta, N_BUCKETS, m)
    finally:
        stop_session(spark)

    if tracer is not None:
        from tracing import COUNTERS, span_counters

        events = os.path.join(work, "events")
        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        counters = span_counters(tracer.spans, log)
        unattributed = [
            s for s in COUNTER_SPANS if not counters.get(s, {}).get("stages")
        ]
        if unattributed:
            raise RuntimeError(f"no Spark stage attributed to spans {unattributed}")
        for span in COUNTER_SPANS:
            for k in COUNTERS:
                m[f"{span}.{k}"] = counters[span][k]
        dump = os.path.join(ROOT, ".bench_out")
        os.makedirs(dump, exist_ok=True)
        tracer.dump(os.path.join(dump, f"{args.workload}-s{args.seed}-spans.json"))

    units = declared_units(bool(args.trace))
    if set(m) != set(units):
        raise RuntimeError(
            "metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(units) - set(m))}, "
            f"undeclared {sorted(set(m) - set(units))}"
        )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    t = time.monotonic()
    d = inputs.prepare(ROOT, args.workload, args.seed, args.size)
    gen_s = time.monotonic() - t
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, d, work, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the KG pipeline, driven from outside the library.

    python3 perfbench/run.py --workload build_distinct --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. One closed-loop client on local[4]
builds, stores and queries a seeded synthetic JS corpus through the
library's public functions, checks every operation independently, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans around each layer call. The full run record (host,
corpus shape and digest, every op with its host stamp, every span) goes
to stderr as one JSON line. See perfbench/README.md.
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

# the session is pinned, not sized by the library's defaults
HEAP = "3g"
CORES = min(4, os.cpu_count() or 4)

WORKLOADS = ("build_distinct", "serve_mixed")
CORPUS = {"n_repos": 12, "files_per_repo": 16}  # both workloads
WARMUP_BUILDS = 3  # build_distinct: the cold first build, then two more
INGEST_FILES = 20  # files in each repo serve_mixed ingests
# triples each commit must store: fixed by the corpus sizes above, whatever
# the seed (the seed draws names only)
TRIPLES = {"build": 307_776, "ingest": 31_980}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_library():
    """The library and the test-side oracle come from the checkout; a
    directory without them cannot run the benchmark."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import codeontology_spark.pipeline  # noqa: F401
        import oracle_emit  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the library from {ROOT}: {e}")


def pin_environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_DRIVER_MEM=HEAP,
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )


def plan(workload: str, seconds: int) -> dict:
    """Op counts from the run length alone: a slower program runs the same
    ops, so its queries scan the same store."""
    if workload == "build_distinct":
        return {"builds": max(3, round(seconds / 4.5))}
    return {"rounds": max(2, round(seconds / 7))}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    import_library()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    try:
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


def setup(src_path: str):
    """`session.get_spark` plus registering the source table, as a CLI run
    pays it: the JVM launches inside `get_spark`, and the first read runs
    in a cold JVM."""
    from codeontology_spark.session import get_spark
    from workloads import SRC_VIEW

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES)
    t1 = time.perf_counter()
    spark.read.parquet(src_path).createOrReplaceTempView(SRC_VIEW)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_jvm() -> None:
    """Shut the JVM down and wait for it: its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict]:
    import corpus as C
    import workloads as W
    from host import PythonPeakMemory, host_record, jvm_peak_mb
    from trace import Tracer

    entities: dict = {}
    rows = C.distinct_corpus(args.seed, CORPUS["n_repos"], CORPUS["files_per_repo"],
                             expect=entities)
    shape = C.shape_stats(rows)
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    W.write_source(rows, os.path.join(src_dir, "base.parquet"))
    ops = plan(args.workload, args.seconds)
    ingest_entities: dict = {}
    ingests = C.ingest_repos(args.seed, ops.get("rounds", 0) + 1, INGEST_FILES,
                             expect=ingest_entities)

    t_start = time.perf_counter()
    with PythonPeakMemory() as mem:
        # one set-up per run: each launches a JVM, which costs about 10 s
        spark, *setup_s = setup(src_dir)
        from pyspark import SparkContext

        tracer = Tracer(spark, bool(args.trace), SparkContext._gateway.proc.pid)
        client = W.Client(spark, tracer, src_dir, os.path.join(work, "store"), rows,
                          entities, TRIPLES)
        targets = W.read_targets(rows)

        # warm-up: the cold first op pays the Python worker start and the
        # JIT, and the next ops are still faster each time; warm-up ops are
        # kept in the record only
        repos = sorted(client.by_repo)
        if args.workload == "build_distinct":
            for i in range(WARMUP_BUILDS):
                client.build(False, [repos[i]])
            for i in range(ops["builds"]):
                # the oracle re-lowers one repo after the last build
                client.build(True, [repos[-1]] if i == ops["builds"] - 1 else [])
            client.resume_dry_run(True)
            for name, params in targets["lookups"]:
                client.lookup(name, params, True)
        else:
            client.build(False, [repos[0]])
            for r, repo_rows in enumerate(ingests):
                if r:
                    for name, params in targets["lookups"]:
                        client.lookup(name, params, True)
                client.ingest(repo_rows, ingest_entities[repo_rows[0][0]], r > 0)
        if args.trace:
            # the traced run adds the traversals at the end, after every op
            # the untraced run also makes
            for name, params in targets["traversals"]:
                client.traversal(name, params, True)
        host = host_record(spark, HEAP, CORES)
        jvm_mb = jvm_peak_mb(spark)
        spark.stop()
        stop_jvm()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "plan": ops,
        "host": host,
        "corpus": shape | {"triples": next(
            (o.info.get("triples_committed") for o in client.ops if o.kind == "build"), None)},
        "setup_s": setup_s,
        "peak_mem_mb": {"jvm_pools": jvm_mb, "python_pss": mem.peak_mb},
        "run_s": time.perf_counter() - t_start,
        "ops": [vars(o) for o in client.ops],
        "spans": [s.as_dict() for s in tracer.spans],
    }
    import metrics

    values = (
        metrics.per_layer(client, tracer, setup_s, rows)
        if args.trace
        else metrics.end_to_end(client, setup_s, jvm_mb + mem.peak_mb)
    )
    attempted = len(client.ops)
    failed = sum(not o.ok for o in client.ops)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": values,
    }
    record["errors"] = [e for o in client.ops for e in o.errors]
    return result, record


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

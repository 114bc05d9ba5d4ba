"""Self-tests of the benchmark harness (not of the library).

    python3 perfbench/selftest.py

Checks that the corpus shape depends on the size only and the content on
the seed, and that the independent checks catch a corrupted store: one
mutated stored name fails the oracle check and the check against the
generator's declared entities, and one dropped lookup or traversal row
fails the DuckDB or networkx check. Builds one small store
with the library on local[2]; takes about a minute.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from collections import Counter  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import corpus as C  # noqa: E402
import workloads as W  # noqa: E402
from codeontology_spark.jsparse import extract_file  # noqa: E402
from oracle_emit import oracle_triples  # noqa: E402
from run import pin_environment, stop_jvm  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("PASS " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def oracle_count(rows: list[tuple]) -> int:
    return sum(len(oracle_triples(r[1], extract_file(r[1], r[4]))) for r in rows)


def test_corpus() -> None:
    a, a2, b = (C.distinct_corpus(s, 4, 6) for s in (1, 1, 2))
    sa, sb = C.shape_stats(a), C.shape_stats(b)
    expect(a == a2 and sa == C.shape_stats(a2), "same seed, same corpus and digest")
    expect(sa["digest"] != sb["digest"], "another seed, another digest")
    expect({k: v for k, v in sa.items() if k != "digest"}
           == {k: v for k, v in sb.items() if k != "digest"},
           "another seed, same files, bytes and distinct bodies")
    expect(oracle_count(a) == oracle_count(b), "another seed, same triple count")
    ea, eb = {}, {}
    C.distinct_corpus(1, 4, 6, expect=ea), C.distinct_corpus(2, 4, 6, expect=eb)
    classes = lambda e: sum((Counter(k for k, _ in c.elements())  # noqa: E731
                             for c in e.values()), Counter())
    expect(classes(ea) == classes(eb), "another seed, same declared entity classes")
    ia, ib = C.ingest_repos(1, 2, 5), C.ingest_repos(2, 2, 5)
    expect(C.shape_stats(ia[0] + ia[1])["bytes"] == C.shape_stats(ib[0] + ib[1])["bytes"],
           "ingest repos: another seed, same bytes")
    bodies = {r[4] for r in a}
    expect(not bodies & {r[4] for rows in ia for r in rows},
           "ingest bodies differ from the base corpus")


def _mutate_one_triple(base: str, pred_dir: str) -> None:
    path = sorted(glob.glob(f"{base}/snap=latest/{pred_dir}/*.parquet"))[0]
    t = pq.read_table(path)
    objs = t.column("obj").to_pylist()
    # an entity's name, not an export's: the entity check ignores export names
    i = next(i for i, o in enumerate(objs) if not o.startswith("export_"))
    objs[i] = objs[i] + "_mutated"
    pq.write_table(t.set_column(t.schema.get_field_index("obj"), "obj",
                                [objs]), path)


def test_checks(work: str) -> None:
    from codeontology_spark.session import get_spark
    from trace import Tracer

    entities: dict = {}
    rows = C.distinct_corpus(7, 2, 4, expect=entities)
    src = os.path.join(work, "src")
    os.makedirs(src)
    W.write_source(rows, os.path.join(src, "base.parquet"))
    spark = get_spark("perfbench-selftest", cores=2)
    try:
        spark.read.parquet(src).createOrReplaceTempView(W.SRC_VIEW)
        client = W.Client(spark, Tracer(spark, False, 0), src,
                          os.path.join(work, "store"), rows, entities)
        repos = sorted(client.by_repo)
        op = client.build(False, repos)
        expect(op.ok, f"clean store passes the oracle check {op.errors[:1]}")
        targets = W.read_targets(rows)
        name, params = targets["lookups"][0]
        got = [tuple(r) for r in W.LOOKUPS[name](client.t, *params).collect()]
        g = client._graph()
        expect(not checks.check_lookup(g, name, params, got), "clean lookup matches DuckDB")
        expect(bool(got) and bool(checks.check_lookup(g, name, params, got[1:])),
               "one dropped lookup row fails the DuckDB check")
        cyc = [tuple(r) for r in W.TRAVERSALS["circular"](client.t).collect()]
        expect(not checks.check_circular(g, cyc), "clean traversal matches networkx")
        expect(bool(checks.check_circular(g, cyc[1:])),
               "one dropped traversal row fails the networkx check")
        _mutate_one_triple(client.base, "pred=code%3AhasName")
        g2 = checks.StoredGraph(client.base)
        bad = [e for r in repos for e in checks.oracle_repo(g2, client.by_repo[r])]
        expect(len(bad) == 1, "one mutated stored triple fails the oracle check")
        bad = [e for r in repos for e in checks.entity_names(g2, r, entities[r])]
        expect(len(bad) == 1, "one mutated stored name fails the generator's entity check")
        g2.close()
    finally:
        spark.stop()
        stop_jvm()


def main() -> int:

    test_corpus()
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest_", dir=os.path.join(ROOT, ".bench_work"))
    pin_environment(work)
    try:
        test_checks(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())

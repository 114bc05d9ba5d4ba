"""The benchmark's operations and the two workload programs.

Each workload is one closed-loop client: it issues an operation, waits for
it, checks it, and only then issues the next. The sequence of operations
is fixed by the workload and the run length alone, never by the clock.
"""

from __future__ import annotations

import glob
import hashlib
import re
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import checks
from codeontology_spark import queries as Q
from codeontology_spark.jsparse import mint_uri
from codeontology_spark.pipeline import build_graph, graph_stats, verify_content_invariant
from codeontology_spark.store import (
    read_triples,
    resume_pending,
    write_file_lineage,
    write_triples,
)

INPUT_COLS = ["repo", "path", "commit", "lang", "content"]
SRC_VIEW = "bench_src"
OP_LIMIT_S = 120.0  # an op slower than this counts as failed


def write_source(rows: list[tuple], path: str) -> None:
    """The user's input table: one parquet file of (repo, path, commit,
    lang, content) rows, written without Spark."""
    cols = list(zip(*rows))
    pq.write_table(pa.table({k: list(v) for k, v in zip(INPUT_COLS, cols)}), path)


@dataclass
class Op:
    kind: str
    wall_s: float
    measured: bool
    ok: bool = True
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    host: dict = field(default_factory=dict)
    check_s: float = 0.0


class Client:
    """Runs ops against one Spark session and checks each one."""

    def __init__(self, spark, tracer, src_dir: str, base: str, corpus: list[tuple],
                 entities: dict, triples: dict | None = None):
        """``entities``: repo -> the (class, name) multiset the generator
        declared; ``triples``: the fixed triple count of a full build
        (``build``) and of one ingest (``ingest``), when known."""
        self.spark = spark
        self.entities = entities
        self.triples = triples or {}
        self.tr = tracer
        self.src_dir = src_dir
        self.base = base
        self.by_repo: dict[str, list[tuple]] = {}
        for r in corpus:
            self.by_repo.setdefault(r[0], []).append(r)
        self.ops: list[Op] = []
        self.t = None  # the stored triple table, reopened after every commit
        self._g: checks.StoredGraph | None = None
        # store state after the last commit: triples, ledger rows, table files
        self.stored = self.ledger = self.table_files = 0

    # ---------------------------------------------------------- plumbing

    def _run(self, kind: str, measured: bool, fn, check) -> Op:
        from host import HostStamp

        op = Op(kind, 0.0, measured)
        try:
            with HostStamp() as hs:
                t0 = time.perf_counter()
                with self.tr.span(kind):
                    result = fn()
                op.wall_s = time.perf_counter() - t0
            op.host = hs.as_dict()
            t0 = time.perf_counter()
            op.errors += check(result, op)
            op.check_s = time.perf_counter() - t0
            if op.wall_s > OP_LIMIT_S:
                op.errors.append(f"{kind} overran: {op.wall_s:.1f} s > {OP_LIMIT_S} s")
        except Exception as e:  # an op that raises counts as failed
            op.errors.append(f"{kind} raised {type(e).__name__}: {str(e)[:300]}")
        op.ok = not op.errors
        self.ops.append(op)
        return op

    def _graph(self) -> checks.StoredGraph:
        """DuckDB over the store as the last commit left it."""
        if self._g is None:
            self._g = checks.StoredGraph(self.base)
        return self._g

    def _stored_changed(self) -> None:
        if self._g is not None:
            self._g.close()
            self._g = None

    # ------------------------------------------------------------ commits

    def _commit(self, src, mode: str, base: str | None = None) -> dict:
        """One `build` in CLI shape: build_graph -> verify_content_invariant
        -> write_triples -> write_file_lineage. The persisted entity table
        is materialized first in its own step so extraction and the
        invariant are timed apart."""
        tr, base = self.tr, base or self.base
        with tr.span("pipeline.build_graph"):
            res = build_graph(src)
        try:
            with tr.span("extract") as sp:
                sp.counts["rows_out"] = res.raw_entities.count()
                if tr.enabled:
                    sp.counts["persist_mb"] = _persisted_mb(self.spark)
            with tr.span("pipeline.invariant"):
                bad = verify_content_invariant(src, res.entities).count()
            with tr.span("emit_write"):
                write_triples(res.triples, base, write_mode=mode)
            with tr.span("store.lineage"):
                write_file_lineage(res.entities, base, write_mode=mode)
        finally:
            res.unpersist()
        return {"invariant_violations": bad}

    def _check_commit(self, result: dict, op: Op, files: list[tuple],
                      sample_repos: list[str]) -> list[str]:
        """Untimed: invariant empty, oracle parity of sampled repos, every
        source file in the ledger; records the commit's counts."""
        errs = []
        if result["invariant_violations"]:
            errs.append(f"content invariant violated on {result['invariant_violations']} files")
        append = op.kind == "ingest"
        self._stored_changed()
        g = self._graph()
        n = g.count()
        ledger = g.rows("SELECT count(*) FROM lineage")[0][0]
        table_files = len(glob.glob(f"{self.base}/snap=latest/*/*.parquet"))
        op.info.update(
            triples_committed=n - (self.stored if append else 0),
            files_in=len(files),
            distinct_files=len({(f[1], f[4]) for f in files}),
            failed_files=len(files) - (ledger - (self.ledger if append else 0)),
            files_written=table_files - (self.table_files if append else 0),
        )
        self.stored, self.ledger, self.table_files = n, ledger, table_files
        if op.kind in self.triples:
            errs += checks.triple_count(op.kind, self.triples[op.kind],
                                        op.info["triples_committed"])
        if not append:
            first = next(o for o in self.ops + [op] if o.kind == "build")
            if n != first.info["triples_committed"]:
                errs.append(f"build committed {n} triples, the first build "
                            f"{first.info['triples_committed']}")
        for repo in sample_repos:
            errs += checks.oracle_repo(g, self.by_repo[repo])
            errs += checks.entity_names(g, repo, self.entities[repo])
        errs += checks.lineage_covers(g, _file_keys(self.files()))
        self.t = read_triples(self.spark, self.base)
        return errs

    def files(self) -> list[tuple]:
        return [r for rows in self.by_repo.values() for r in rows]

    def build(self, measured: bool, sample_repos: list[str]) -> Op:
        files = self.files()
        return self._run(
            "build", measured,
            lambda: self._commit(self.spark.table(SRC_VIEW), "overwrite"),
            lambda res, op: self._check_commit(res, op, files, sample_repos),
        )

    def ingest(self, rows: list[tuple], entities, measured: bool) -> Op:
        """Append one new repo to the source table, then `build --resume`:
        resume_pending -> build -> invariant -> append write and lineage.
        ``entities`` is the repo's declared (class, name) multiset."""
        repo = rows[0][0]
        self.entities[repo] = entities
        write_source(rows, f"{self.src_dir}/{hashlib.sha1(repo.encode()).hexdigest()}.parquet")
        self.by_repo[repo] = rows

        def fn() -> dict:
            with self.tr.span("store.resume") as sp:
                src = self.spark.read.parquet(self.src_dir)
                pending = resume_pending(self.spark, src, self.base)
                sp.counts["pending"] = pending.count()
            return self._commit(pending, "append") | {"pending": sp.counts["pending"]}

        def check(res: dict, op: Op) -> list[str]:
            errs = self._check_commit(res, op, rows, [repo])
            if res["pending"] != len(rows):
                errs.append(f"resume found {res['pending']} pending files, expected {len(rows)}")
            return errs

        return self._run("ingest", measured, fn, check)

    def resume_dry_run(self, measured: bool) -> Op:
        """`build --resume --dry-run`: after a build nothing is pending."""

        def fn() -> int:
            with self.tr.span("store.resume") as sp:
                src = self.spark.table(SRC_VIEW)
                sp.counts["pending"] = resume_pending(self.spark, src, self.base).count()
            return sp.counts["pending"]

        return self._run(
            "resume_dry_run", measured, fn,
            lambda n, op: [f"{n} files pending after a full build"] if n else [],
        )

    # ------------------------------------------------------------- reads

    def lookup(self, name: str, params: tuple, measured: bool) -> Op:
        fn = LOOKUPS[name]

        def run() -> list:
            with self.tr.span("queries.lookup") as sp:
                rows = fn(self.t, *params).collect()
                sp.counts["rows_out"] = len(rows)
            return rows

        def check(rows: list, op: Op) -> list[str]:
            op.info.update(template=name, rows=len(rows))
            return checks.check_lookup(self._graph(), name, params, [tuple(r) for r in rows])

        return self._run(f"lookup.{name}", measured, run, check)

    def traversal(self, name: str, params: tuple, measured: bool) -> Op:
        def run() -> list:
            with self.tr.span(f"queries.{name}") as sp:
                rows = TRAVERSALS[name](self.t, *params).collect()
                sp.counts["rows_out"] = len(rows)
            return rows

        def check(rows: list, op: Op) -> list[str]:
            op.info.update(rows=len(rows))
            if name == "context":
                rows = [tuple(r.asDict()[c] for c in checks.TRIPLE_COLS) for r in rows]
            return CHECKS[name](self._graph(), *params, [tuple(r) for r in rows])

        return self._run(name, measured, run, check)


LOOKUPS = {
    "calls": Q.functions_calling,
    "called_by": Q.functions_called_by,
    "in_module": Q.functions_in_module,
    "implements": Q.classes_implementing,
    "accesses": Q.variables_accessed_by,
    "unused": lambda t: Q.unused_functions(t),
    "high_complexity": Q.high_complexity_functions,
    "many_params": Q.functions_with_many_parameters,
    "db_ops": lambda t: Q.database_operations(t),
    "entity_counts": lambda t: graph_stats(t),
}
TRAVERSALS = {
    "circular": lambda t: Q.circular_dependencies(t),
    "chain": Q.call_chain_between,
    "context": lambda t, uri, depth: Q.get_context(t, uri, depth=depth),
}
CHECKS = {
    "circular": checks.check_circular,
    "chain": checks.check_chain,
    "context": checks.check_context,
}


def _persisted_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def _file_keys(rows) -> set[tuple]:
    return {(r[0], r[1], hashlib.sha256(r[4].encode()).hexdigest()) for r in rows}


def read_targets(corpus: list[tuple]) -> dict:
    """Lookup and traversal arguments, taken from fixed positions of the
    corpus so that every seed asks for the same shape of answer."""
    repo, path, _, _, body = corpus[0]
    mod = path.rsplit("/", 1)[1][:-3]
    steps = re.findall(r"^function (step_\d+)\(", body, re.M)
    base = re.search(r"^class (Base_\d+) ", body, re.M).group(1)
    return {
        "lookups": [
            ("calls", ("validate",)),
            ("called_by", ("handle",)),
            ("in_module", (mod,)),
            ("implements", (base,)),
            ("accesses", (f"{mod}_entry",)),
            ("unused", ()),
            ("high_complexity", (5,)),
            ("many_params", (4,)),
            ("db_ops", ()),
            ("entity_counts", ()),
        ],
        "traversals": [
            ("circular", ()),
            ("chain", (f"{mod}_entry", steps[-1])),
            ("context", (mint_uri(path, "module", "", 0), 2)),
        ],
    }

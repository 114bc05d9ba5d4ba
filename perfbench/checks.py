"""Correctness checks that do not go through the code under test.

The stored triple table is read back with DuckDB straight from its parquet
files. Lookups are re-answered in SQL, traversals in networkx, and sampled
repos are re-lowered by the test-side oracle emitter
(``tests/oracle_emit.py``) from the harness's own copy of the corpus. The
oracle lowers the library parser's entities, so sampled repos are also
held to the entities the corpus generator declared, and every commit to a
fixed triple count. Each check returns a list of mismatch descriptions;
empty means it passed.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

import duckdb
import networkx as nx

from codeontology_spark.compare import canonicalize, diff
from codeontology_spark.jsparse import extract_file
from oracle_emit import oracle_triples

TRIPLE_COLS = ("repo", "subj", "pred", "obj", "is_uri", "dtype")


class StoredGraph:
    """One stored graph loaded into DuckDB: tables ``t`` (triples) and
    ``lineage`` (the file completion ledger)."""

    def __init__(self, base: str, snapshot: str = "latest"):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            "CREATE TABLE t AS SELECT repo, subj, replace(pred, '%3A', ':') AS pred,"
            " obj, is_uri, dtype FROM read_parquet("
            f"'{base}/snap={snapshot}/*/*.parquet', hive_partitioning = true)"
        )
        self.con.execute(
            "CREATE TABLE lineage AS SELECT repo, path, content_sha256 FROM "
            f"read_parquet('{base}/lineage/snap={snapshot}/*.parquet', "
            "hive_partitioning = true)"
        )

    def rows(self, sql: str, params: Iterable = ()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def count(self) -> int:
        return self.rows("SELECT count(*) FROM t")[0][0]

    def close(self) -> None:
        self.con.close()


def _multiset_diff(what: str, expected: Iterable, actual: Iterable) -> list[str]:
    e, a = Counter(map(tuple, expected)), Counter(map(tuple, actual))
    if e == a:
        return []
    missing = list((e - a).elements())[:3]
    extra = list((a - e).elements())[:3]
    return [f"{what}: expected {sum(e.values())} rows, got {sum(a.values())}; "
            f"missing {missing} extra {extra}"]


# --------------------------------------------------------------- lookups
# One SQL twin per lookup template, written from the query catalog's
# documented semantics (queries.py docstrings), not from its DataFrame code.

_NAMES = "SELECT repo, subj AS uri, obj AS name FROM t WHERE pred = 'code:hasName'"


def _typed(cls: str) -> str:
    return f"SELECT repo, subj AS uri FROM t WHERE pred = 'rdf:type' AND obj = '{cls}'"


def _edge(pred: str) -> str:
    return f"SELECT repo, subj AS src, obj AS dst FROM t WHERE pred = '{pred}'"


LOOKUP_SQL = {
    "calls": (
        f"SELECT e.repo, e.src, cn.name FROM ({_edge('code:calls')}) e"
        f" JOIN ({_NAMES}) tn ON tn.repo = e.repo AND tn.uri = e.dst AND tn.name = ?"
        f" JOIN ({_NAMES}) cn ON cn.repo = e.repo AND cn.uri = e.src"
    ),
    "called_by": (
        f"SELECT e.repo, e.dst, cn.name FROM ({_edge('code:calls')}) e"
        f" JOIN ({_NAMES}) sn ON sn.repo = e.repo AND sn.uri = e.src AND sn.name = ?"
        f" JOIN ({_NAMES}) cn ON cn.repo = e.repo AND cn.uri = e.dst"
    ),
    "in_module": (
        f"SELECT e.repo, e.dst, fn.name FROM ({_edge('code:defines')}) e"
        f" JOIN ({_NAMES}) mn ON mn.repo = e.repo AND mn.uri = e.src AND mn.name = ?"
        f" JOIN ({_typed('code:Function')}) f"
        "   ON f.repo = e.repo AND f.uri = e.dst"
        f" JOIN ({_NAMES}) fn ON fn.repo = e.repo AND fn.uri = e.dst"
    ),
    "implements": (
        f"SELECT e.repo, e.src, cn.name FROM ({_edge('code:implements')}) e"
        f" JOIN ({_NAMES}) inn ON inn.repo = e.repo AND inn.uri = e.dst AND inn.name = ?"
        f" JOIN ({_NAMES}) cn ON cn.repo = e.repo AND cn.uri = e.src"
    ),
    "accesses": (
        f"SELECT e.repo, e.dst, vn.name FROM ({_edge('code:references')}) e"
        f" JOIN ({_NAMES}) fn ON fn.repo = e.repo AND fn.uri = e.src AND fn.name = ?"
        f" JOIN ({_typed('code:Variable')}) v"
        "   ON v.repo = e.repo AND v.uri = e.dst"
        f" JOIN ({_NAMES}) vn ON vn.repo = e.repo AND vn.uri = e.dst"
    ),
    "unused": (
        f"SELECT f.repo, f.uri, n.name FROM ({_typed('code:Function')}) f"
        f" JOIN ({_NAMES}) n ON n.repo = f.repo AND n.uri = f.uri"
        " WHERE NOT EXISTS (SELECT 1 FROM t x WHERE x.pred = 'code:isExported'"
        "   AND x.obj = 'true' AND x.repo = f.repo AND x.subj = f.uri)"
        " AND NOT EXISTS (SELECT 1 FROM t c WHERE c.pred = 'code:calls'"
        "   AND c.repo = f.repo AND c.obj = f.uri)"
    ),
    "high_complexity": (
        "SELECT a.repo, a.uri, a.n, nm.name FROM (SELECT repo, src AS uri,"
        f" count(*) AS n FROM ({_edge('code:calls')}) GROUP BY repo, src"
        " HAVING count(*) > ?) a"
        f" JOIN ({_NAMES}) nm ON nm.repo = a.repo AND nm.uri = a.uri"
    ),
    "many_params": (
        "SELECT a.repo, a.uri, a.n, nm.name FROM (SELECT repo, src AS uri,"
        f" count(*) AS n FROM ({_edge('code:hasParameter')}) GROUP BY repo, src"
        " HAVING count(*) > ?) a"
        f" JOIN ({_NAMES}) nm ON nm.repo = a.repo AND nm.uri = a.uri"
    ),
    "db_ops": (
        f"SELECT e.repo, e.src, cn.name, dn.name FROM ({_edge('code:calls')}) e"
        f" JOIN ({_NAMES}) dn ON dn.repo = e.repo AND dn.uri = e.dst"
        f" JOIN ({_NAMES}) cn ON cn.repo = e.repo AND cn.uri = e.src"
        " WHERE regexp_matches(lower(dn.name), 'query|select|insert|update|delete|find|save')"
    ),
    "entity_counts": (
        "SELECT obj, count(*) FROM t WHERE pred = 'rdf:type' GROUP BY obj"
    ),
}


def check_lookup(g: StoredGraph, name: str, params: tuple, actual: list) -> list[str]:
    return _multiset_diff(f"lookup {name}", g.rows(LOOKUP_SQL[name], params), actual)


# ------------------------------------------------------------ traversals


def _digraph(g: StoredGraph, pred: str, repos: list[str] | None = None) -> nx.DiGraph:
    sql = f"SELECT repo, subj, obj FROM t WHERE pred = '{pred}'"
    if repos is not None:
        sql += " AND repo IN (SELECT unnest(?))"
    G = nx.DiGraph()
    for repo, s, o in g.rows(sql, [repos] if repos is not None else []):
        G.add_edge((repo, s), (repo, o))
    return G


def check_circular(g: StoredGraph, actual: list) -> list[str]:
    """Modules on an import cycle: members of an SCC of size > 1, plus
    self-importing modules."""
    G = _digraph(g, "code:imports")
    on_cycle = {v for c in nx.strongly_connected_components(G) if len(c) > 1 for v in c}
    on_cycle |= {u for u, v in G.edges if u == v}
    return _multiset_diff("circular", sorted(on_cycle), actual)


def _reach(G: nx.DiGraph, seeds: set) -> set:
    """Nodes reachable from ``seeds`` in one or more hops."""
    out: set = set()
    todo = [v for s in seeds if s in G for v in G.successors(s)]
    while todo:
        v = todo.pop()
        if v not in out:
            out.add(v)
            todo.extend(G.successors(v))
    return out


def check_chain(g: StoredGraph, start: str, end: str, actual: list) -> list[str]:
    """Functions on some call path start ->+ mid ->+ end."""
    names = g.rows(_NAMES + " AND obj IN (?, ?)", [start, end])
    starts = {(r, u) for r, u, n in names if n == start}
    ends = {(r, u) for r, u, n in names if n == end}
    repos = sorted({r for r, _ in starts | ends})
    G = _digraph(g, "code:calls", repos)
    mid = _reach(G, starts) & _reach(G.reverse(copy=False), ends)
    name_of: dict = {}
    for r, u, n in g.rows(_NAMES + " AND repo IN (SELECT unnest(?))", [repos]):
        name_of.setdefault((r, u), []).append(n)
    expected = [(r, u, n) for r, u in mid for n in name_of.get((r, u), [])]
    return _multiset_diff("chain", expected, actual)


def check_context(g: StoredGraph, uri: str, depth: int, actual: list) -> list[str]:
    """All triples whose subject is within ``depth`` undirected hops of
    ``uri`` over URI- and blank-node-valued triples, per repo."""
    repos = [r for (r,) in g.rows(
        "SELECT DISTINCT repo FROM t WHERE subj = ? OR obj = ?", [uri, uri])]
    rows = g.rows(
        f"SELECT {', '.join(TRIPLE_COLS)} FROM t WHERE repo IN (SELECT unnest(?))",
        [repos],
    )
    G = nx.Graph()
    for repo, s, _, o, is_uri, dtype in rows:
        G.add_node((repo, s))
        if is_uri or dtype == "bnode":
            G.add_edge((repo, s), (repo, o))
    seeds = [(r, uri) for r in repos if (r, uri) in G]
    reached: set = set()
    for s in seeds:
        reached |= set(nx.single_source_shortest_path_length(G, s, cutoff=depth))
    expected = {r for r in rows if (r[0], r[1]) in reached}
    return _multiset_diff("context", sorted(expected), sorted(set(actual)))


# ---------------------------------------------------------------- oracle


def oracle_repo(g: StoredGraph, repo_rows: list[tuple]) -> list[str]:
    """Stored triples of one repo == oracle lowering of its files."""
    repo = repo_rows[0][0]
    expected = []
    for _, path, _, _, content in repo_rows:
        expected += oracle_triples(path, extract_file(path, content))
    actual = g.rows(
        "SELECT subj, pred, obj, is_uri, dtype FROM t WHERE repo = ?", [repo]
    )
    e, a = canonicalize(expected), canonicalize(actual)
    if e == a:
        return []
    d = diff(e, a, limit=3)
    return [f"oracle {repo}: {sum(e.values())} expected, {sum(a.values())} stored; {d}"]


def entity_names(g: StoredGraph, repo: str, expected: Counter) -> list[str]:
    """Stored entities of one repo, as (class, name), == the entities the
    corpus generator declared (``corpus.module_source``)."""
    actual = g.rows(
        "SELECT ty.obj, CASE WHEN ty.obj = 'code:Export' THEN '' ELSE n.obj END"
        " FROM t ty LEFT JOIN t n ON n.repo = ty.repo AND n.subj = ty.subj"
        "   AND n.pred = 'code:hasName'"
        " WHERE ty.repo = ? AND ty.pred = 'rdf:type' AND ty.obj <> 'code:SourceLocation'",
        [repo],
    )
    return _multiset_diff(f"entities of {repo}", expected.elements(), actual)


def triple_count(what: str, expected: int, actual: int) -> list[str]:
    """A commit's triple count == the fixed figure of its corpus."""
    return [] if actual == expected else [
        f"{what} committed {actual} triples, the corpus yields {expected}"]


def lineage_covers(g: StoredGraph, keys: set[tuple]) -> list[str]:
    """Every (repo, path, sha256) of the source is in the completion ledger,
    i.e. a resumed build would find nothing pending."""
    done = set(g.rows("SELECT repo, path, content_sha256 FROM lineage"))
    missing = keys - done
    return [f"{len(missing)} source files pending after ingest"] if missing else []

"""Seeded source corpora for the benchmark workloads.

Every corpus is a list of ``(repo, path, commit, lang, content)`` rows, the
library's input table shape. Structure (how many repos, files per repo,
which functions call which) is fixed by the corpus size alone. The seed draws identifiers only, and every drawn
identifier has a fixed width, so two seeds give the same file count, byte
count, distinct-body count and triple count with different content.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

NAME_SPACE = 10**6  # identifiers are <stem>_<6 digits>, drawn without replacement


class Names:
    """Distinct fixed-width identifiers drawn from one seeded permutation."""

    def __init__(self, seed: int, salt: str, n: int):
        rng = random.Random(f"{salt}:{seed}")
        self._ids = rng.sample(range(NAME_SPACE), n)
        self._next = 0

    def take(self, stem: str) -> str:
        i = self._ids[self._next]
        self._next += 1
        return f"{stem}_{i:06d}"


# upper bound on identifiers one generated module consumes
NAMES_PER_MODULE = 64


def module_source(
    names: Names, idx: int, mod: str, peer: str | None
) -> tuple[str, Counter]:
    """One JS module named ``mod``; ``idx`` fixes its shape, ``names`` its
    identifiers. ``peer`` is the stem of another module of the same repo
    that this one imports (an import cycle when two modules name each
    other). Every parameter gets a drawn name: parameter URIs carry no
    file path, so a name shared by two files of a repo would collide.

    Returns the source and the entities it declares, as a multiset of
    (class, name): every module, import, function (arrows are named
    ``<arrow_function>``), parameter of a function or arrow, class, call
    (``call_<callee>``) and export (unnamed). The checks hold the stored
    graph to this, so the expectation comes from the generator, not from
    the parser under test."""
    p = lambda: names.take("p")  # noqa: E731
    ents: Counter = Counter()

    def fn(name: str, params: list[str], calls: list[str]) -> None:
        ents["code:Function", name] += 1
        ents.update(("code:Parameter", x) for x in params)
        ents.update(("code:CallExpression", f"call_{c}") for c in calls)

    n_workers = 3 + idx % 4
    chain = [names.take("step") for _ in range(3 + idx % 3)]
    workers = [names.take("work") for _ in range(n_workers)]
    store_fn, query_fn = names.take("saveRow"), names.take("queryRows")
    cls, base = names.take("Store"), names.take("Base")
    var, arrow = names.take("limit"), names.take("scale")
    entry = [p() for _ in range(5)]
    lines = [
        "/**",
        f" * {mod}: request handling for one resource.",
        " */",
    ]
    ents["code:Module", mod] += 1
    if peer is not None:
        lines.append(f"import {{ {peer}_entry }} from './{peer}.js';")
        ents["code:Import", f"import_{peer}"] += 1
    lines += [
        f"const {var} = {100 + idx % 50};",
        "let counter = 0;",
        "",
        "// entry point: validates, then walks the step chain",
        f"export function {mod}_entry({', '.join(entry)}) {{",
        f"    const first = {chain[0]}({entry[0]}, {entry[1]});",
        f"    counter += {entry[2]} + {entry[3]} + {entry[4]};",
        "    return validate(first);",
        "}",
        "",
    ]
    fn(f"{mod}_entry", entry, [chain[0], "validate"])
    for i, step in enumerate(chain):
        x, y = p(), p()
        nxt = chain[i + 1] if i + 1 < len(chain) else None
        body = f"return {nxt}({x}, {y} + {i});" if nxt else f"return {x} * {y} + {var};"
        lines += [f"function {step}({x}, {y}) {{", f"    {body}", "}", ""]
        fn(step, [x, y], [nxt] if nxt else [])
    v, db1, key, db2, row, db3, req = (p() for _ in range(7))
    fn("validate", [v], [])  # `new Error(...)` constructs, it is no call
    fn(query_fn, [db1, key], [f"{db1}.select"])
    fn(store_fn, [db2, row], [query_fn, f"{db2}.update", f"{db2}.insert"])
    fn("handle", [db3, req], [query_fn, store_fn, *workers, "validate"])
    lines += [
        f"function validate({v}) {{",
        f"    if ({v} === undefined) {{ throw new Error('missing'); }}",
        f"    return {v};",
        "}",
        "",
        f"async function {query_fn}({db1}, {key}) {{",
        f"    return await {db1}.select('rows', {key});",
        "}",
        "",
        f"async function {store_fn}({db2}, {row}) {{",
        f"    const found = await {query_fn}({db2}, {row}.id);",
        f"    return found ? {db2}.update({row}) : {db2}.insert({row});",
        "}",
        "",
        f"export async function handle({db3}, {req}) {{",
        f"    const rows = await {query_fn}({db3}, {req}.id);",
        f"    await {store_fn}({db3}, {req}.body);",
    ]
    lines += [f"    {w}(rows);" for w in workers]
    lines += ["    return validate(rows);", "}", ""]
    for i, w in enumerate(workers):
        items, it = p(), p()
        lines += [
            f"function {w}({items}) {{",
            f"    // worker {i}",
            f"    return {items}.map(({it}) => {it} + {i});",
            "}",
            "",
        ]
        fn(w, [items], [f"{items}.map"])
        fn("<arrow_function>", [it], [])
    n = p()
    ents["code:Class", base] += 1
    ents["code:Class", cls] += 1
    fn("constructor", [], [])
    fn("constructor", [], ["super"])  # method parameters are not entities
    fn("load", [], [query_fn])
    fn("save", [], [store_fn])
    fn("<arrow_function>", [n], [])
    # exported: the entry function, handle, the class, the arrow, the default
    ents["code:Export", ""] += 5
    lines += [
        f"class {base} {{",
        "    constructor(name) {",
        "        this.name = name;",
        "    }",
        "}",
        "",
        f"export class {cls} extends {base} {{",
        "    constructor(name, db) {",
        "        super(name);",
        "        this.db = db;",
        "    }",
        "",
        "    load(id) {",
        f"        return {query_fn}(this.db, id);",
        "    }",
        "",
        "    save(row) {",
        f"        return {store_fn}(this.db, row);",
        "    }",
        "}",
        "",
        f"export const {arrow} = ({n}) => {n} * {1 + idx % 7};",
        f"export default {cls};",
        "",
    ]
    return "\n".join(lines), ents


def _commit_for(repo: str) -> str:
    return hashlib.sha256(repo.encode()).hexdigest()[:12]


def _repo_rows(repo: str, files: list[tuple[str, str]]) -> list[tuple]:
    commit = _commit_for(repo)
    return [(repo, path, commit, "javascript", body) for path, body in files]


def distinct_repo(
    names: Names, first_idx: int, n_files: int, repo: str, expect: dict | None
) -> list[tuple]:
    """One repo of ``n_files`` modules, every body distinct. Modules are
    paired so that 2k and 2k+1 import each other (one import cycle per
    pair); an odd last module imports its predecessor. The repo's declared
    entities go to ``expect[repo]`` when ``expect`` is given."""
    src_dir = names.take("pkg")
    mods = [names.take("mod") for _ in range(n_files)]
    files, ents = [], Counter()
    for j, mod in enumerate(mods):
        peer = mods[j ^ 1] if (j ^ 1) < n_files else (mods[j - 1] if j else None)
        body, declared = module_source(names, first_idx + j, mod, peer)
        files.append((f"{src_dir}/{mod}.js", body))
        ents += declared
    if expect is not None:
        expect[repo] = ents
    return _repo_rows(repo, files)


def distinct_corpus(
    seed: int, n_repos: int, files_per_repo: int, expect: dict | None = None
) -> list[tuple]:
    """``n_repos`` repos of distinct modules."""
    names = Names(seed, "distinct", n_repos * (files_per_repo * (NAMES_PER_MODULE + 1) + 2))
    rows: list[tuple] = []
    for r in range(n_repos):
        repo = names.take("org") + "/" + names.take("app")
        rows += distinct_repo(names, r * files_per_repo, files_per_repo, repo, expect)
    return rows


def ingest_repos(
    seed: int, n_repos: int, files_per_repo: int, expect: dict | None = None
) -> list[list[tuple]]:
    """Repos the serve workload appends one at a time; their bodies are
    distinct from every base-corpus body (a separate name draw). Every
    ingest repo has the same shape, so every ingest commits as many
    triples."""
    names = Names(seed, "ingest", n_repos * (files_per_repo * (NAMES_PER_MODULE + 1) + 2))
    out = []
    for _ in range(n_repos):
        repo = names.take("new") + "/" + names.take("app")
        out.append(distinct_repo(names, 0, files_per_repo, repo, expect))
    return out


def shape_stats(rows: list[tuple]) -> dict:
    """Seed-independent shape of a corpus, and a digest of its content."""
    h = hashlib.sha256()
    keys = set()
    n_bytes = 0
    for repo, path, commit, _, body in rows:
        data = body.encode()
        n_bytes += len(data)
        keys.add((path, hashlib.sha256(data).hexdigest()))
        h.update(f"{repo}\0{path}\0{commit}\0".encode())
        h.update(data)
    return {
        "repos": len({r[0] for r in rows}),
        "files": len(rows),
        "bytes": n_bytes,
        "distinct_files": len(keys),
        "digest": h.hexdigest()[:16],
    }

"""Turn a run's ops and spans into the reported metrics."""

from __future__ import annotations

import glob
import os
import statistics
import time

from trace import Span, task_skew
from workloads import LOOKUPS

ROUND = 6  # digits kept: values are reported as measured


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _measured(client, kinds: tuple[str, ...]) -> list:
    return [o for o in client.ops if o.measured and o.ok and o.kind.startswith(kinds)]


def _table_files(base: str) -> list[str]:
    return glob.glob(f"{base}/snap=latest/*/*.parquet")


def _m(value: float, unit: str) -> dict:
    return {"value": round(float(value), ROUND), "unit": unit}


def end_to_end(client, setup_s: list[float], peak_mb: float) -> dict:
    """``setup_s``: the run's get_spark and registration times; ``peak_mb``:
    peak memory of the JVM and the Python processes."""
    commits = _measured(client, ("build", "ingest"))
    lookups = [o.wall_s for o in _measured(client, ("lookup.",))]
    store_bytes = sum(os.path.getsize(f) for f in _table_files(client.base))
    committed = sum(o.info["triples_committed"] for o in commits)
    return {
        "setup_s": _m(sum(setup_s), "s"),
        "build_p50_s": _m(_median([o.wall_s for o in commits]), "s"),
        "triples_per_s": _m(committed / max(1e-9, sum(o.wall_s for o in commits)), "1/s"),
        "lookup_p50_s": _m(_median(lookups), "s"),
        "peak_mem_mb": _m(peak_mb, "MB"),
        "store_bytes_per_triple": _m(store_bytes / max(1, client.stored), "B"),
    }


def jsparse_probe(rows: list[tuple]) -> dict:
    """Single-process parse of every distinct file of the workload."""
    from codeontology_spark.jsparse import extract_file

    files = {(r[1], r[4]) for r in rows}
    n_ents = 0
    t0 = time.perf_counter()
    for path, content in files:
        n_ents += len(extract_file(path, content))
    dt = time.perf_counter() - t0
    kb = sum(len(c.encode()) for _, c in files) / 1024.0
    return {
        "jsparse.us_per_file": _m(dt / len(files) * 1e6, "us"),
        "jsparse.us_per_kb": _m(dt / kb * 1e6, "us"),
        "jsparse.entities_per_file": _m(n_ents / len(files), "count"),
    }


def _sum(spans: list[Span], attr: str) -> float:
    return sum(sum(getattr(st, attr) for st in sp.stages) for sp in spans)


def _commit_layers(op, span: Span) -> dict:
    """Layer values of one build or ingest, from its span tree."""
    ext = span.child("extract")
    inv = span.child("pipeline.invariant")
    ew = span.child("emit_write")
    lin = span.child("store.lineage")
    graph = span.child("pipeline.build_graph")
    # write_triples is one action: its map stages run the emission explode
    # and shuffle by (pred, bucket); the stages that write files are the store
    writes = [st for st in ew.stages if st.output_mb > 0]
    emits = [st for st in ew.stages if st.output_mb == 0]
    emit_end = max((st.end_ms for st in emits), default=0) / 1e3
    emit_wall = max(0.0, emit_end - ew.epoch_start) if emits else 0.0
    join = max(ext.stages, key=lambda st: st.run_s) if ext.stages else None
    children = [c.wall_s for c in span.children]
    return {
        "extract.wall_s": ext.wall_s,
        "extract.task_cpu_s": _sum([ext], "cpu_s"),
        "extract.py_worker_cpu_s": ext.py_worker_cpu_s,
        "extract.files_in": op.info["files_in"],
        "extract.distinct_files": op.info["distinct_files"],
        "extract.rows_out": ext.counts["rows_out"],
        "extract.failed_files": op.info["failed_files"],
        "extract.shuffle_write_mb": _sum([ext], "shuffle_write_mb"),
        "extract.persist_mb": ext.counts["persist_mb"],
        "extract.join_task_skew": task_skew(join) if join else 1.0,
        "emit.wall_s": emit_wall,
        "emit.task_cpu_s": sum(st.cpu_s for st in emits),
        "emit.triples_out": sum(st.output_rows for st in writes),
        "emit.shuffle_write_mb": sum(st.shuffle_write_mb for st in emits),
        "pipeline.build_graph_s": graph.wall_s,
        "pipeline.invariant_s": inv.wall_s,
        "store.write_s": ew.wall_s - emit_wall,
        "store.task_cpu_s": sum(st.cpu_s for st in writes) + _sum([lin], "cpu_s"),
        "store.shuffle_write_mb": _sum([lin], "shuffle_write_mb"),
        "store.spill_mb": _sum([ew, lin], "spill_mb"),
        "store.files_written": op.info["files_written"],
        "store.bytes_written_mb": sum(st.output_mb for st in writes),
        "store.lineage_s": lin.wall_s,
        "trace.attributed_pct": 100.0 * sum(children) / span.wall_s,
        "trace.commit_s": span.wall_s,
    }


UNITS = {
    "_s": "s", "_mb": "MB", "_pct": "%", "_skew": "ratio",
}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _query_metrics(name: str, spans: list[Span], per: float) -> dict:
    p = f"queries.{name}."
    return {
        p + "wall_s": _m(sum(s.wall_s for s in spans) / per, "s"),
        p + "jobs": _m(sum(s.jobs for s in spans) / per, "count"),
        p + "stages": _m(sum(len(s.stages) for s in spans) / per, "count"),
        p + "task_cpu_s": _m(_sum(spans, "cpu_s") / per, "s"),
        p + "rows_out": _m(sum(s.counts["rows_out"] for s in spans) / per, "count"),
    }


def per_layer(client, tracer, setup_s: list[float], rows: list[tuple]) -> dict:
    pairs = list(zip(client.ops, tracer.spans))
    commits = [(o, s) for o, s in pairs
               if o.measured and o.ok and o.kind in ("build", "ingest")]
    layers: dict[str, list[float]] = {}
    for op, span in commits:
        for k, v in _commit_layers(op, span).items():
            layers.setdefault(k, []).append(v)
    resumes = [c for o, s in pairs if o.measured and o.ok
               for c in [s, *s.children] if c.name == "store.resume"]
    lookups = [s for o, s in pairs if o.measured and o.ok and o.kind.startswith("lookup.")]
    out = {
        "session.start_s": _m(setup_s[0], "s"),
        "session.register_s": _m(setup_s[1], "s"),
        **jsparse_probe(rows),
    }
    for k, vs in layers.items():
        out[k] = _m(_median(vs), _unit(k))
    out["store.resume_s"] = _m(_median([s.wall_s for s in resumes]), "s")
    out["store.table_files"] = _m(len(_table_files(client.base)), "count")
    # lookups: per pass over the templates (each template once)
    lk = [c for s in lookups for c in s.children]
    out |= _query_metrics("lookup", lk, max(1.0, len(lk) / len(LOOKUPS)))
    for name in ("circular", "chain", "context"):
        spans = [c for o, s in pairs if o.kind == name for c in s.children]
        out |= _query_metrics(name, spans, max(1, len(spans)))
    out["trace.read_s"] = _m(tracer.read_s, "s")
    return out

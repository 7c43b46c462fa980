"""Per-layer metrics of a traced iteration.

Every traced run reports every metric in :data:`PER_LAYER`; a layer the
workload bypasses reads 0. Times are seconds summed over the iteration's
spans of that name, jobs and tasks are Spark jobs and completed tasks
launched while the span (or a span below it) was open.
"""

from __future__ import annotations

import statistics

from spans import self_times, useful_ratio

OPERATOR_MODULES = ("relational", "chunked", "dedup", "similarity", "text", "bpe")

#: (name, unit) of every per-layer metric, in report order.
PER_LAYER = (
    [("session.start_s", "s")]
    + [
        ("chunker.range_s", "s"),
        ("chunker.execute_s", "s"),
        ("chunker.self_s", "s"),
        ("chunker.dispatch_s", "s"),
        ("chunker.sleep_s", "s"),
        ("chunker.chunks", "count"),
        ("chunker.decisions", "count"),
        ("chunker.useful_ratio", "ratio"),
        ("chunker.loop_jobs", "count"),
        ("chunker.dispatch_jobs", "count"),
        ("chunker.resizes", "count"),
        ("chunker.retries", "count"),
        ("sink.bytes", "bytes"),
        ("sink.files", "count"),
        ("gram_store.onboard_s", "s"),
        ("gram_store.ingest_p50_s", "s"),
        ("gram_store.ingest_jobs", "count"),
        ("gram_store.max_real_batch_s", "s"),
        ("gram_store.purge_s", "s"),
        ("gram_store.compact_s", "s"),
        ("gram_store.readback_s", "s"),
        ("gram_store.bytes", "bytes"),
        ("gram_store.files", "count"),
        ("gram_store.bytes_per_input_byte", "ratio"),
        ("similarity.store_save_s", "s"),
        ("similarity.store_append_s", "s"),
        ("similarity.store_compact_s", "s"),
        ("similarity.store_load_s", "s"),
        ("similarity.store_pairs_s", "s"),
        ("similarity.store_jobs", "count"),
        ("similarity.store_bytes", "bytes"),
    ]
    + [
        (f"{m}.{k}", u)
        for m in OPERATOR_MODULES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"))
    ]
    + [
        ("jvm.gc_s", "s"),
        ("trace.overhead_ratio", "ratio"),
        ("trace.unattributed_s", "s"),
        ("trace.layer_self_ratio", "ratio"),
    ]
)

_STORE_SPANS = tuple(
    f"similarity.store_{k}" for k in ("save", "append", "compact", "load", "pairs")
)


class SpanIndex:
    def __init__(self, spans) -> None:
        self.spans = spans
        self.kids: dict = {}
        for i, s in enumerate(spans):
            if s.parent is not None:
                self.kids.setdefault(s.parent, []).append(i)

    def ids(self, *names: str) -> list:
        return [i for i, s in enumerate(self.spans) if s.name in names]

    def dur(self, *names: str) -> float:
        return sum(self.spans[i].dur for i in self.ids(*names))

    def subtree_jobs(self, ids) -> list:
        jobs, todo = set(), list(ids)
        while todo:
            i = todo.pop()
            jobs.update(self.spans[i].jobs)
            todo += self.kids.get(i, [])
        return sorted(jobs)


def _layer(name: str) -> str:
    head = name.split(".", 1)[0]
    return "bench" if head in ("bench", "query") else head


def per_layer(ctx, wl, state, traced: dict, untraced: dict, session_s: float):
    tracer = traced["tracer"]
    spans = tracer.spans
    idx = SpanIndex(spans)
    selfs = self_times(spans)
    counters = traced["counters"]
    v: dict = {name: 0 for name, _ in PER_LAYER}

    v["session.start_s"] = session_s
    execs = idx.ids("chunker.execute")
    dispatch = idx.ids("chunker.dispatch")
    chunks = len(dispatch)
    decisions = sum(c.decisions for c in counters)
    v.update(
        {
            "chunker.range_s": idx.dur("chunker.range"),
            "chunker.execute_s": idx.dur("chunker.execute"),
            "chunker.self_s": sum(selfs[i] for i in execs),
            "chunker.dispatch_s": idx.dur("chunker.dispatch"),
            "chunker.sleep_s": idx.dur("chunker.sleep"),
            "chunker.chunks": chunks,
            "chunker.decisions": decisions,
            "chunker.useful_ratio": useful_ratio(chunks, decisions),
            "chunker.loop_jobs": sum(len(spans[i].jobs) for i in execs),
            "chunker.dispatch_jobs": len(idx.subtree_jobs(dispatch)),
            "chunker.resizes": sum(c.resizes for c in counters),
            "chunker.retries": sum(c.counts["retries"] for c in counters),
        }
    )

    ingest = idx.ids("gram_store.ingest_batch")
    v.update(
        {
            "gram_store.onboard_s": idx.dur("gram_store.onboard"),
            "gram_store.ingest_p50_s": statistics.median(spans[i].dur for i in ingest) if ingest else 0,
            "gram_store.ingest_jobs": len(idx.subtree_jobs(ingest)),
            "gram_store.max_real_batch_s": idx.dur("gram_store.max_real_batch"),
            "gram_store.purge_s": idx.dur("gram_store.purge"),
            "gram_store.compact_s": idx.dur("gram_store.compact"),
            "gram_store.readback_s": idx.dur("gram_store.readback"),
        }
    )
    for name in _STORE_SPANS:
        v[name + "_s"] = idx.dur(name)
    v["similarity.store_jobs"] = len(idx.subtree_jobs(idx.ids(*_STORE_SPANS)))

    queries = []
    for m in OPERATOR_MODULES:
        ids = idx.ids(f"{m}.build", f"{m}.exec")
        jobs = idx.subtree_jobs(ids)
        v[f"{m}.build_s"] = idx.dur(f"{m}.build")
        v[f"{m}.exec_s"] = idx.dur(f"{m}.exec")
        v[f"{m}.jobs"] = len(jobs)
        v[f"{m}.tasks"] = tracer.tasks(jobs)
    for i in (i for i, s in enumerate(spans) if s.name.startswith("query.")):
        kids = {spans[k].name.rsplit(".", 1)[1]: spans[k].dur for k in idx.kids.get(i, [])}
        jobs = idx.subtree_jobs([i])
        queries.append(
            {
                "query": spans[i].name.split(".", 1)[1],
                "build_s": kids.get("build", 0),
                "exec_s": kids.get("exec", 0),
                "jobs": len(jobs),
                "tasks": tracer.tasks(jobs),
            }
        )

    for name, (value, _unit) in wl.layer_extras(ctx, state).items():
        v[name] = value

    untraced_wall = statistics.median(untraced["walls"])
    root = idx.ids("bench.iteration")[0]
    by_layer: dict = {}
    for s, st in zip(spans, selfs):
        by_layer[_layer(s.name)] = by_layer.get(_layer(s.name), 0.0) + st
    layer_sum = sum(t for k, t in by_layer.items() if k != "bench")
    v["jvm.gc_s"] = traced["gc_s"]
    v["trace.overhead_ratio"] = traced["wall"] / untraced_wall - 1
    v["trace.unattributed_s"] = by_layer.get("bench", 0.0)
    v["trace.layer_self_ratio"] = layer_sum / untraced_wall

    all_jobs = idx.subtree_jobs([root])
    detail = {
        "traced_wall_s": traced["wall"],
        "untraced_wall_s": untraced_wall,
        "layer_self_s": by_layer,
        "unattributed_is": "benchmark code between calls into the program (root span self time)",
        "jobs": len(all_jobs),
        "spans": len(spans),
        "queries": queries,
    }
    units = dict(PER_LAYER)
    return {name: (v[name], units[name]) for name, _ in PER_LAYER}, detail

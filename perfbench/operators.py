"""Workload ``operators``: the operator layer, both persisted stores and one
registered query per batch-operator module.

One iteration is the store lifecycles of :mod:`stores` (the gram postings
store and the embedding store, on fresh stores) followed by two passes
over the registered queries of :mod:`queries`. One op is one ``ingest_batch``
call or one query (build call through the noop write); items are ops
completed. The chunk loop runs only with probes off: inside
``onboard_corpus_serial`` and inside the chunked queries.
"""

from __future__ import annotations

import queries
import stores

#: Timed iterations per run (at least; see run.measure). One iteration
#: is 14 ops and 17-24 s on a 4-core box; after the 25-35 s warm iteration
#: in set-up, one is what the run budget allows for.
MIN_ITERATIONS = 1
#: The median op is a query, and the six queries' latencies differ, so
#: each query is timed twice per iteration.
QUERY_PASSES = 2


class State:
    def __init__(self, ctx) -> None:
        self.stores = stores.State(ctx)
        self.queries = queries.State(ctx)


def setup(ctx) -> State:
    """Inputs, then one warm iteration whose query pass collects the rows
    the check compares."""
    st = State(ctx)
    stores.iteration(ctx, st.stores, "warm")
    queries.warm_pass(ctx, st.queries)
    return st


def iteration(ctx, st: State, k):
    ops = stores.iteration(ctx, st.stores, k)
    for _ in range(QUERY_PASSES):
        ops += queries.iteration(ctx, st.queries, k)
    return ops, len(ops)


def check(ctx, st: State):
    stores_ok, stores_detail = stores.check(ctx, st.stores)
    queries_ok, queries_detail = queries.check(ctx, st.queries)
    return stores_ok and queries_ok, {"stores": stores_detail, "queries": queries_detail}


def layer_extras(ctx, st: State) -> dict:
    return stores.layer_extras(ctx, st.stores)

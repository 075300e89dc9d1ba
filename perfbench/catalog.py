"""The catalog pass: a fixed slice of the query catalog, run beside the
ingest cycles.

The queries read the repository's sf0.01 test corpus (TPC-H-like tables,
events, documents, embeddings), a copy of which is kept in
``perfbench/data/sf0.01`` so a run reads only its checkout. A warm-up pass
runs every query once, collects its rows and compares them with the query's
DuckDB oracle; that pass is not timed. A timed pass clears Spark's cache,
then builds each query with ``all_queries()[name].build`` and forces it with
the noop sink, in a fixed order. Only a traced run runs the catalog: the
oracle pass, then two timed passes after the ingest rounds. The Spark job
count of every query is kept per timed pass, and a query whose count
changes between passes is flagged.
"""

from __future__ import annotations

import hashlib
import math
import os

from spans import quantile

# one query per family, drawn from bench.py's HEADLINE;
# q_doc_incremental_dedup is one of the queries whose job count changed
# between a cold and a warm pass when the cache was not cleared
QUERIES = ("q_pricing_summary", "q_evt_asof_join", "q_doc_incremental_dedup",
           "q_emb_cosine_topk", "q_acid_incremental_mv")
FAMILIES = ("relational", "evt", "doc", "emb", "acid")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")
CORPUS_SHA1 = "d028dd15f77583c5e2e417cc75c54616a53102bd"
KIND = "query"
PASSES_PER_ROUND = 2


def family(name: str) -> str:
    prefix = name.split("_")[1]
    return prefix if prefix in FAMILIES else "relational"


class State:
    def __init__(self):
        from backtest_crew_datalake_spark.queries import all_queries

        self.dir = DATA
        self.registry = all_queries()
        self.jobs: dict[str, list[int]] = {q: [] for q in QUERIES}
        self.passes: list[float] = []


def setup(bench) -> State:
    return State()


def digest(st: State) -> str:
    """SHA-1 over the corpus files, in table order."""
    h = hashlib.sha1()
    for t in TABLES:
        with open(f"{st.dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_pass(bench, st: State) -> None:
    """Untimed: every query's rows against its DuckDB oracle, compared as
    the repository's oracle gate compares them."""
    import duckdb

    from tools.check_oracles import normalize

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{st.dir}/{t}.parquet')")
    for name in QUERIES:
        with bench.request("warm.query") as rq:
            sdf = st.registry[name].build(bench.spark, st.dir)
            cols = [c.lower() for c in sdf.columns]
            rows = [tuple(r) for r in sdf.collect()]
        if not rq.ok:
            continue
        res = con.execute(st.registry[name].oracle)
        dcols = [d[0].lower() for d in res.description]
        bench.check(sorted(cols) == sorted(dcols)
                    and normalize(rows, cols) == normalize(res.fetchall(),
                                                           dcols),
                    f"{name} differs from its DuckDB oracle")
    con.close()


def timed_passes(bench, st: State) -> None:
    """Two passes, each after clearing Spark's cache, so a query whose job
    count depends on what an earlier pass left cached shows."""
    for _ in range(PASSES_PER_ROUND):
        bench.spark.catalog.clearCache()
        t0 = len(bench.tracer.requests)
        for name in QUERIES:
            bench.pair(lambda traced: _query(bench, st, name, traced))
        done = [r for r in bench.tracer.requests[t0:] if not r.get("twin")]
        st.passes.append(sum(r["s"] for r in done))
        for r in done:
            st.jobs[r["query"]].append(r["jobs"])


def _query(bench, st: State, name: str, traced: bool) -> None:
    span, tr = bench.tracer.span, bench.tracer
    j0 = tr.jobs_started()
    with bench.request(KIND, traced):
        with span("queries.build"):
            df = st.registry[name].build(bench.spark, st.dir)
        with span("queries.exec", action=True):
            df.write.format("noop").mode("overwrite").save()
    tr.requests[-1].update(query=name, jobs=tr.jobs_started() - j0)


def report(bench, st: State) -> None:
    reqs = [r for r in bench.tracer.requests
            if r["kind"] == KIND and not r.get("twin")]
    per_query = {q: quantile([r["s"] for r in reqs if r["query"] == q], 0.5)
                 for q in QUERIES}
    bench.detail.update({
        "passes": len(st.passes),
        "catalog_pass_s": quantile(st.passes, 0.5),
        "catalog_geomean_s": math.exp(
            sum(math.log(s) for s in per_query.values()) / len(per_query)),
        "query_s": per_query,
        "query_jobs_per_pass": st.jobs,
        "job_count_changed": sorted(q for q, j in st.jobs.items()
                                    if len(set(j)) > 1),
    })
    n_pass = len(st.passes)
    for fam in FAMILIES:
        rs = [r for r in reqs if family(r["query"]) == fam]
        bench.layer[f"queries.family.{fam}.s"] = \
            sum(r["s"] for r in rs) / n_pass
        bench.layer[f"queries.family.{fam}.jobs"] = \
            sum(r["spark.jobs"] for r in rs) / n_pass

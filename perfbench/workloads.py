"""The benchmark's workloads. Each one generates its inputs from the seed,
loads them through the system's public load entry points, then runs a
closed loop (one client: the next operation starts only after the previous
one finished) of SPARQL queries and ``append_load`` deltas until the run
time is spent, and ends with ``compact_store``.

Expected answers are computed outside the timed region: by DuckDB over the
same generated tables for ``sparql_mix`` (the registry's oracle SQL for the
same query shapes, with the seed's constants substituted), and by the
chain graph's closed form for ``paths_dist``.
"""

from __future__ import annotations

import os
import re
import time
from collections import Counter

import numpy as np

from harness import Run, Tracer, dir_usage, wrapped_load_functions

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25

# SCALES[scale][workload]: input sizes. "full" is what BENCHMARK.json runs;
# "tiny" is the smoke test's.
SCALES = {
    "full": {
        "sparql_mix": {"customers": 15_000, "delta_customers": 100, "deltas": 4},
        "paths_dist": {"blocks": 2_000, "delta_blocks": 100, "deltas": 4},
    },
    "tiny": {
        "sparql_mix": {"customers": 150, "delta_customers": 2, "deltas": 4},
        "paths_dist": {"blocks": 100, "delta_blocks": 5, "deltas": 4},
    },
}

_BAL = "CAST(printf('%.2f', c_acctbal) AS DOUBLE)"


class Context:
    """One run's state: the session, tracer, run record, seeded RNG and
    scratch directory."""

    def __init__(self, spark, tracer: Tracer, run: Run, seed: int, work: str,
                 seconds: float, sizes: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.run = run
        self.rng = np.random.default_rng(seed)
        self.work = work
        self.seconds = seconds
        self.sizes = sizes


# --- comparing answers ---------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return round(v, 4)
    return v


def arrow_rows(tbl) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return [tuple(_norm(v) for v in row) for row in zip(*cols)]


def same_rows(got: list[tuple], want: list[tuple], ordered: bool) -> tuple[bool, str]:
    want = [tuple(_norm(v) for v in row) for row in want]
    if ordered:
        ok = got == want
    else:
        ok = Counter(got) == Counter(want)
    if ok:
        return True, ""
    return False, f"got {len(got)} rows {got[:3]}..., want {len(want)} rows {want[:3]}..."


# --- operations ------------------------------------------------------------------


def query_op(ctx: Context, engine, shape: str, text: str, check, sample: bool) -> None:
    """One query, consumed in full (``toArrow``) inside the timed region,
    then checked by ``check(table) -> (ok, detail)``. In a traced run the
    query runs twice back to back, untraced then traced, so the trace
    overhead is measured on the same warm state."""
    run, tr = ctx.run, ctx.tracer
    try:
        t0 = time.perf_counter()
        tbl = engine.query(text).toArrow()
        ms = (time.perf_counter() - t0) * 1000.0
        if not run.check(f"{shape} query", *check(tbl)):
            return
        if tr.enabled:
            traced = _traced_query(ctx, engine, shape, text)
            run.check(f"{shape} query (traced)", *check(traced.pop("table")))
            if sample:
                run.add("traced_query", untraced_ms=ms, **traced)
        elif sample:
            run.add("query", ms=ms, shape=shape)
    except Exception:
        run.error(f"{shape} query")


def _traced_query(ctx: Context, engine, shape: str, text: str) -> dict:
    from d_sparq_spark.plans.parser import parse_sparql

    tr = ctx.tracer
    with tr.span("query", shape=shape) as op:
        with tr.span("parse") as parse:
            parse_sparql(text)
        with tr.span("translate", group=True) as translate:
            df = engine.query(text)
        with tr.span("plan", group=True) as plan:
            physical = df._jdf.queryExecution().executedPlan().toString()
        with tr.span("exec", group=True) as exe:
            tbl = df.toArrow()

    def ms(sp):
        return (sp["end"] - sp["start"]) * 1000.0

    groups = (translate, plan, exe)
    return {
        "table": tbl,
        "shape": shape,
        "ms": ms(op),
        "parse_ms": ms(parse),
        "translate_ms": ms(translate),
        "plan_ms": ms(plan),
        "exec_ms": ms(exe),
        "translate_jobs": translate["jobs"],
        "exec_jobs": exe["jobs"],
        "layout_scan": "/ptable" in physical or "/extvp" in physical,
        "py_cpu_ms": op["py_cpu_ms"],
        "jvm_cpu_ms": op["jvm_cpu_ms"],
        **{k: sum(g[k] for g in groups) for k in (
            "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "executor_run_ms", "gc_ms")},
    }


def load_op(ctx: Context, kind: str, fn, check) -> None:
    """A bulk_load/append_load call, timed and checked; in a traced run its
    phases are attributed by the wrapped load functions."""
    run, tr = ctx.run, ctx.tracer
    try:
        with wrapped_load_functions(tr), tr.load_phases(kind) as span:
            t0 = time.perf_counter()
            info = fn()
            s = time.perf_counter() - t0
        ok, detail = check(info)
    except Exception:
        run.error(kind)
        return
    sample = {"s": s}
    if span is not None:
        phases = [sp for sp in tr.spans if sp["id"] in span["phases"]]
        for sp in phases:
            key = f"{sp['phase']}_s"
            sample[key] = sample.get(key, 0.0) + sp["end"] - sp["start"]
        sample["jobs"] = sum(sp["jobs"] for sp in phases)
    run.add(kind, **sample)
    run.check(kind, ok, detail)


def open_op(ctx: Context, store: str):
    from d_sparq_spark.load_pipeline import open_store

    run, tr = ctx.run, ctx.tracer
    try:
        with tr.span("open_store", group=True) as span:
            t0 = time.perf_counter()
            engine = open_store(ctx.spark, store)
            ms = (time.perf_counter() - t0) * 1000.0
    except Exception:
        run.error("open_store")
        return None
    run.add("open_store", ms=ms, jobs=span["jobs"] if span else 0)
    return engine


def compact_op(ctx: Context, store: str, n_triples: int) -> None:
    """compact_store, timed, and checked to be content-neutral: the
    stored triple count and an order-free checksum of the encoded store
    are the same before and after, and the count is the ledger's."""
    from pyspark.sql import functions as F

    from d_sparq_spark.load_pipeline import compact_store, store_triples

    def digest():
        row = store_triples(ctx.spark, store).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("s", "p", "o"), F.lit(1 << 31))).alias("h")).first()
        return row["n"], row["h"]

    try:
        before = digest()
        with ctx.tracer.span("compact_store", group=True):
            t0 = time.perf_counter()
            compact_store(ctx.spark, store)
            ctx.run.values["compact_s"] = time.perf_counter() - t0
        after = digest()
        ctx.run.check("compact_store", before == after and after[0] == n_triples,
                      f"(count, checksum) before {before}, after {after}, "
                      f"expected count {n_triples}")
    except Exception:
        ctx.run.error("compact_store")
    files, nbytes = dir_usage(store)
    ctx.run.values["store_files"] = files
    ctx.run.values["store_bytes"] = nbytes


class TermLedger:
    """Distinct terms and triples loaded so far: the expected results of
    bulk_load/append_load (``n_terms``/``n_new_terms``, ``n_triples``)."""

    def __init__(self) -> None:
        self.terms: set = set()
        self.n_triples = 0

    def add(self, triples: list[tuple]) -> int:
        before = len(self.terms)
        for t in triples:
            self.terms.update(t)
        self.n_triples += len(triples)
        return len(self.terms) - before

    def check_bulk(self, info) -> tuple[bool, str]:
        got = (info["n_terms"], info["n_triples"])
        want = (len(self.terms), self.n_triples)
        return got == want, f"(n_terms, n_triples) {got} != {want}"

    def check_append(self, n_new: int):
        def check(info) -> tuple[bool, str]:
            got = (info["n_new_terms"], info["n_triples"])
            want = (n_new, self.n_triples)
            return got == want, f"(n_new_terms, n_triples) {got} != {want}"
        return check


_IRI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")  # sources.ntriples' IRI test


def _iri_or_literal(term: str) -> str:
    """N-Triples spelling of a store term, as sources.ntriples formats it:
    a prefixed name is an IRI, anything else a plain literal."""
    if _IRI.match(term):
        return f"<{term}>"
    return '"' + term.replace("\\", "\\\\").replace('"', '\\"') + '"'


def write_ntriples(path: str, triples: list[tuple]) -> None:
    with open(path, "w") as f:
        for t in triples:
            f.write(" ".join(_iri_or_literal(x) for x in t) + " .\n")


def write_stages(ctx: Context, stages: list[list[tuple]]) -> list[tuple[str, list]]:
    """One N-Triples file per stage: the initial load, then each delta."""
    inputs = os.path.join(ctx.work, "nt")
    os.makedirs(inputs)
    staged = []
    for k, triples in enumerate(stages):
        path = os.path.join(inputs, f"stage{k}.nt")
        write_ntriples(path, triples)
        staged.append((path, triples))
    return staged


def lifecycle(ctx: Context, generate, materialize: tuple = ()) -> None:
    """The run shared by the workloads. ``generate()`` makes the inputs and
    returns (staged, query_round, advance): the stages from write_stages,
    ``query_round(engine, sample)`` running one round of every query shape,
    and ``advance(k)`` told when stage k has been appended.

    Set-up (timed as setup_s): session (already started), input
    generation, bulk_load of stage 0, open_store. Then an untimed warm-up
    query round, then rounds until ctx.seconds have passed (at least
    one): append_load of the next stage, open_store, a sampled query
    round. Then compaction."""
    from d_sparq_spark.load_pipeline import append_load, bulk_load

    run = ctx.run
    t0 = time.perf_counter()
    staged, query_round, advance = generate()
    ledger = TermLedger()
    ledger.add(staged[0][1])
    store = os.path.join(ctx.work, "store")
    load_op(ctx, "bulk_load",
            lambda: bulk_load(ctx.spark, staged[0][0], store, materialize=materialize),
            ledger.check_bulk)
    engine = open_op(ctx, store)
    run.values["setup_s"] = run.values["session_s"] + time.perf_counter() - t0
    run.values["bulk_triples"] = len(staged[0][1])

    t0 = time.perf_counter()
    query_round(engine, sample=False)  # checked, not sampled
    run.values["warmup_s"] = time.perf_counter() - t0

    # the measured phase: an append_load of the next stage (new terms), a
    # fresh open_store and a sampled query round that checks the append;
    # repeated until ctx.seconds have passed
    start = time.perf_counter()
    for k in range(1, len(staged)):
        path, triples = staged[k]
        n_new = ledger.add(triples)
        load_op(ctx, "append_load", lambda: append_load(ctx.spark, path, store),
                ledger.check_append(n_new))
        advance(k)
        engine = open_op(ctx, store)
        query_round(engine, sample=True)
        if time.perf_counter() - start >= ctx.seconds:
            break
    run.values["n_triples"] = ledger.n_triples
    compact_op(ctx, store, ledger.n_triples)


# --- sparql_mix ------------------------------------------------------------------


def _derived_tables(ctx: Context, n: int):
    """TPC-H-shaped customer/nation/region columns drawn from the seed."""
    rng = ctx.rng
    customer = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, N_NATIONS, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    }
    nation = {
        "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": (np.arange(N_NATIONS) % len(REGIONS)).astype(np.int32),
    }
    region = {
        "r_regionkey": np.arange(len(REGIONS), dtype=np.int32),
        "r_name": REGIONS,
    }
    return customer, nation, region


class DerivedOracle:
    """DuckDB over the generated tables. ``customer`` is a view of the
    customers loaded so far (stage <= the current one), and ``triples`` is
    the derived RDF view, sources.derived_rdf.TRIPLES_SQL, over them."""

    def __init__(self, ctx: Context, sizes: dict) -> None:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from d_sparq_spark.sources.derived_rdf import TRIPLES_SQL

        n = sizes["customers"]
        customer, nation, region = _derived_tables(ctx, n)
        # held-back customers, picked by the seed, arrive as the deltas
        stage = np.zeros(n, dtype=np.int32)
        held = ctx.rng.permutation(n)[: sizes["deltas"] * sizes["delta_customers"]]
        stage[held] = 1 + np.arange(len(held)) // sizes["delta_customers"]
        customer["stage"] = stage
        tables = os.path.join(ctx.work, "tables")
        os.makedirs(tables, exist_ok=True)
        self.con = duckdb.connect()
        for name, cols in (("customer_all", customer), ("nation", nation), ("region", region)):
            path = os.path.join(tables, f"{name}.parquet")
            pq.write_table(pa.table(cols), path)
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
        self.triples_sql = TRIPLES_SQL
        self.stage = 0
        self.set_stage(0)

    def _views(self, where: str) -> None:
        self.con.execute(
            "CREATE OR REPLACE VIEW customer AS SELECT c_custkey, c_name, "
            f"c_nationkey, c_acctbal, c_mktsegment FROM customer_all WHERE {where}"
        )
        self.con.execute(f"CREATE OR REPLACE VIEW triples AS {self.triples_sql}")

    def set_stage(self, stage: int) -> None:
        self.stage = stage
        self._views(f"stage <= {int(stage)}")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def stage_triples(self, stage: int) -> list[tuple]:
        """The triples a stage adds: everything for stage 0, the stage's
        customers' triples for a delta."""
        self._views(f"stage = {int(stage)}")
        sql = "SELECT s, p, o FROM triples"
        if stage:
            sql += " WHERE s LIKE 'c:%'"
        out = self.rows(sql)
        self.set_stage(self.stage)
        return out


def _mix_queries(ctx: Context, oracle: DerivedOracle) -> list[tuple]:
    """One round: the eight query shapes in a seeded order, each with
    seeded constants, as (shape, sparql, oracle_sql, ordered)."""
    rng = ctx.rng
    seg = SEGMENTS[rng.integers(len(SEGMENTS))]
    region = REGIONS[rng.integers(len(REGIONS))]
    threshold = int(rng.integers(10, 20)) * 500
    counts = [r[0] for r in oracle.rows("SELECT COUNT(*) FROM customer GROUP BY c_nationkey")]
    having = int(counts[rng.integers(len(counts))])
    limit = int(rng.integers(5, 21))
    s1, s2 = (SEGMENTS[i] for i in rng.choice(len(SEGMENTS), 2, replace=False))
    nation = int(rng.integers(N_NATIONS))
    keys = oracle.rows("SELECT c_custkey FROM customer")
    point = int(keys[rng.integers(len(keys))][0])
    start = int(rng.integers(N_NATIONS - 1))
    shapes = [
        ("star",
         f'SELECT ?c ?name ?bal WHERE {{ ?c foaf:name ?name ; ex:acctbal ?bal ; ex:mktsegment "{seg}" }}',
         f"SELECT 'c:' || c_custkey, c_name, printf('%.2f', c_acctbal) FROM customer "
         f"WHERE c_mktsegment = '{seg}'", False),
        ("path3",
         "SELECT ?c ?cname ?r WHERE { ?c ex:nation ?n ; foaf:name ?cname . "
         f'?n ex:region ?r . ?r foaf:name "{region}" }}',
         "SELECT 'c:' || c_custkey, c_name, 'r:' || r_regionkey FROM customer "
         "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
         f"WHERE r_name = '{region}'", False),
        ("optional_filter",
         "SELECT ?c ?seg ?big WHERE { ?c ex:mktsegment ?seg "
         f"OPTIONAL {{ ?c ex:acctbal ?big FILTER(?big > {threshold}) }} }}",
         f"SELECT 'c:' || c_custkey, c_mktsegment, CASE WHEN {_BAL} > {threshold} "
         "THEN printf('%.2f', c_acctbal) END FROM customer", False),
        ("group_having",
         "SELECT ?n (COUNT(*) AS ?n_cust) (AVG(?bal) AS ?avg_bal) "
         "WHERE { ?c ex:nation ?n ; ex:acctbal ?bal } GROUP BY ?n "
         f"HAVING (?n_cust >= {having})",
         f"SELECT 'n:' || c_nationkey, COUNT(*), CAST(SUM(CAST({_BAL} AS DECIMAL(25,6))) "
         f"AS DOUBLE) / COUNT(*) FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= {having}",
         False),
        ("order_limit",
         "SELECT ?name ?bal WHERE { ?c foaf:name ?name ; ex:acctbal ?bal } "
         f"ORDER BY DESC(xsd:double(?bal)) ?name LIMIT {limit}",
         f"SELECT c_name, printf('%.2f', c_acctbal) FROM customer "
         f"ORDER BY {_BAL} DESC, c_name LIMIT {limit}", True),
        ("union_minus",
         f'SELECT ?c WHERE {{ {{ ?c ex:mktsegment "{s1}" }} UNION {{ ?c ex:mktsegment "{s2}" }} '
         f"MINUS {{ ?c ex:nation n:{nation} }} }}",
         f"SELECT 'c:' || c_custkey FROM customer WHERE c_mktsegment IN ('{s1}', '{s2}') "
         f"AND c_nationkey <> {nation}", False),
        ("point",
         f"SELECT ?p ?o WHERE {{ c:{point} ?p ?o }}",
         f"SELECT p, o FROM triples WHERE s = 'c:{point}'", False),
        ("next_plus",
         f"SELECT ?y WHERE {{ n:{start} ex:next+ ?y }}",
         f"SELECT 'n:' || n_nationkey FROM nation WHERE n_nationkey > {start}", False),
    ]
    return [shapes[i] for i in rng.permutation(len(shapes))]


def sparql_mix(ctx: Context) -> None:
    """Load once (property-table layout materialized), then query many:
    rounds of the eight shapes, each round after an append_load of
    held-back customers (new terms) and a fresh open_store."""

    def generate():
        oracle = DerivedOracle(ctx, ctx.sizes)
        staged = write_stages(ctx, [oracle.stage_triples(k)
                                    for k in range(ctx.sizes["deltas"] + 1)])

        def query_round(engine, sample: bool) -> None:
            for shape, text, sql, ordered in _mix_queries(ctx, oracle):
                want = oracle.rows(sql)
                query_op(ctx, engine, shape, text,
                         lambda tbl, w=want, o=ordered: same_rows(arrow_rows(tbl), w, o),
                         sample)

        return staged, query_round, oracle.set_stage

    lifecycle(ctx, generate, materialize=("ptable",))


# --- paths_dist --------------------------------------------------------------------

BLOCK = 16  # sources.synth_graph.BLOCK: nodes per chain block


def _node_ids(col) -> np.ndarray:
    import pyarrow.compute as pc

    return pc.cast(pc.utf8_slice_codeunits(col, 4), "int64").to_numpy()


def _pairs(tbl) -> np.ndarray:
    if tbl.num_rows == 0:
        return np.zeros(0, dtype=np.int64)
    x = _node_ids(tbl.column(0))
    y = _node_ids(tbl.column(1))
    return np.sort((x << 32) | y)


def _closure_pairs(heads: np.ndarray, lens: np.ndarray, from_head: bool) -> np.ndarray:
    """Closed form of p+ over chain blocks (synth_graph): in a block of
    length ln, node i reaches exactly the nodes i < j < ln. The unbound
    closure has the C(ln, 2) pairs of every block; ``from_head`` keeps
    only the pairs that start at the block's head (the seeded closure)."""
    out = []
    for ln in np.unique(lens):
        if ln < 2:
            continue
        if from_head:
            i = np.zeros(ln - 1, dtype=np.int64)
            j = np.arange(1, ln, dtype=np.int64)
        else:
            i, j = np.triu_indices(int(ln), k=1)
        h = heads[lens == ln][:, None]
        out.append((((h + i) << 32) | (h + j)).ravel())
    return np.sort(np.concatenate(out)) if out else np.zeros(0, dtype=np.int64)


def paths_dist(ctx: Context) -> None:
    """Distributed property-path closures (every driver fast path off):
    rounds of the unbound and the seeded ``ex:next+`` closure over the
    chain graph, each round after an append_load of new chain blocks, some
    carrying new ``ex:seed`` marks, and a fresh open_store."""
    from d_sparq_spark.sources.synth_graph import synth_chain_edges_int

    os.environ["D_SPARQ_DRIVER_GATE_SCALE"] = "0"
    sizes, rng = ctx.sizes, ctx.rng
    loaded = [0]  # highest stage loaded

    def generate():
        n_blocks = sizes["blocks"] + sizes["deltas"] * sizes["delta_blocks"]
        edges = synth_chain_edges_int(ctx.spark, n_blocks).toArrow()
        src = edges.column("src").to_numpy()
        dst = edges.column("dst").to_numpy()
        # block length = 1 + the furthest in-block position an edge reaches
        lens = np.ones(n_blocks, dtype=np.int64)
        np.maximum.at(lens, dst // BLOCK, dst % BLOCK + 1)
        heads = np.arange(n_blocks, dtype=np.int64) * BLOCK
        # the seed picks the chain heads that carry ex:seed: ~1 in 50 of
        # the short chains (2 <= ln <= 8, as synth_chain_triples marks
        # them, so the seeded walk is bounded by the seeds' depth), at
        # least one of them in the initial load
        short = (lens >= 2) & (lens <= 8)
        seeded = short & (rng.random(n_blocks) < 0.02)
        seeded[rng.choice(np.flatnonzero(short[: sizes["blocks"]]))] = True
        blocks = np.arange(n_blocks)
        block_stage = np.where(blocks < sizes["blocks"], 0,
                               1 + (blocks - sizes["blocks"]) // sizes["delta_blocks"])
        edge_stage = block_stage[src // BLOCK]
        stages = []
        for k in range(sizes["deltas"] + 1):
            m = edge_stage == k
            triples = [(f"ex:n{a}", "ex:next", f"ex:n{b}") for a, b in zip(src[m], dst[m])]
            triples += [(f"ex:n{h}", "ex:seed", "y") for h in heads[seeded & (block_stage == k)]]
            stages.append(triples)

        def check(shape: str):
            m = block_stage <= loaded[0]
            if shape == "seeded_closure":
                m &= seeded
            want = _closure_pairs(heads[m], lens[m], from_head=shape == "seeded_closure")

            def f(tbl):
                got = _pairs(tbl)
                ok = got.shape == want.shape and bool(np.array_equal(got, want))
                return ok, f"got {got.size} pairs, want {want.size}"
            return f

        queries = [
            ("unbound_closure", "SELECT ?x ?y WHERE { ?x ex:next+ ?y }"),
            ("seeded_closure", "SELECT ?x ?y WHERE { ?x ex:seed ?s . ?x ex:next+ ?y }"),
        ]

        def query_round(engine, sample: bool) -> None:
            # a sampled round runs each closure twice: once would give a
            # single latency per shape, too few to be steady
            reps = 2 if sample else 1
            for i in rng.permutation(reps * len(queries)) % len(queries):
                shape, text = queries[i]
                query_op(ctx, engine, shape, text, check(shape), sample)

        def advance(k: int) -> None:
            loaded[0] = k

        return write_stages(ctx, stages), query_round, advance

    lifecycle(ctx, generate)


WORKLOADS = {"sparql_mix": sparql_mix, "paths_dist": paths_dist}

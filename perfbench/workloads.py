"""The benchmark's workloads. Each measured phase is one closed loop with one
client: the next step starts when the previous one has finished.

- `headline`: a fixed subset of `bench.BENCH_QUERIES`, run from the query
  registry into the noop sink; the seed shuffles the order of every pass.
  The warm-up is one cold pass at the measured scale that collects every
  result, one thread per core, and checks it against the DuckDB oracle.
- `lifecycle`: scheduled cycles, each in a fresh store — the retail,
  facebook (seed, then incremental) and dimension-sync pipelines, a write
  of `orders` followed by a seeded COW merge and delete, point reads,
  compaction and vacuum, then ingestion of seeded halves of `documents`.
  The warm-up is one cold cycle whose four independent chains run on
  their own threads; measured cycles run every step in order.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from spans import tree_bytes

# Subset of bench.BENCH_QUERIES: every group of the historical headline
# (core relational, sync, reference-domain, LLM ops, warehouse), sized so
# the cold warm-up pass and two measured passes fit one run.
HEADLINE = [
    "q1_pricing_summary",
    "q21_sole_returning_supplier",
    "merge_upsert_orders",
    "retail_fct_invoices",
    "fb_ads_transformed",
    "dedup_ngram_jaccard",
    "dedup_lsh_verified_pairs",
    "dedup_canonical_keepers",
    "contamination_check",
    "scd2_customer_orders",
]
LLM_QUERIES = {
    "dedup_ngram_jaccard", "dedup_lsh_verified_pairs", "dedup_canonical_keepers",
    "contamination_check",
}
# Fixture tables the lifecycle cycle reads (store_bytes_ratio's base).
LIFECYCLE_INPUTS = ("lineitem", "orders", "customer", "nation", "part", "region", "events", "documents")
CHAINS = ("retail", "facebook", "orders", "ingest")
FB_DIMS = ["channel", "publisher", "media_type", "media_cluster"]
MERGE_KEYS, DELETE_KEYS = 500, 200  # one contiguous seeded key window each
# `orders` is written in this many key-range files; the merge and the delete
# each hit a different one, so every seed rewrites the same number of files
ORDERS_FILES = 4
INGEST_BATCHES = 2  # seeded halves of `documents`: the second probes a stored corpus


@dataclass
class Step:
    name: str
    kind: str
    seconds: float
    ok: bool = True
    build_s: float = 0.0
    py4j_calls: int = 0
    probe: dict = field(default_factory=dict)


@dataclass
class Pass:
    seconds: float
    traced: bool
    steps: list[Step]
    prefix: str  # step-id prefix of the pass's spans
    probe_s: float = 0.0  # tracer bookkeeping time inside the pass


@dataclass
class Outcome:
    passes: list[Pass] = field(default_factory=list)
    warmup_s: float = 0.0
    warmup_passes: list[float] = field(default_factory=list)
    checks: dict[str, bool] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Context:
    def __init__(self, spark, data_dir, run_dir, seed, seconds, tracer, probe):
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.probe = probe  # StepProbe in traced runs, else None

    def timed(self, step_id: str, name: str, kind: str, layer: str | None, fn,
              traced: bool) -> tuple[Step, object]:
        """Run one non-query step; a failure is recorded, not raised.
        `layer` names the package layer the call enters directly, if the
        tracer does not already wrap it."""
        groups = [self.probe.begin(step_id, "run")] if traced else []
        out, ok = None, True
        # untraced steps may run on several threads (the lifecycle warm-up);
        # they must not touch the tracer's current step
        with self.tracer.step(step_id) if traced else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                with self.tracer.span("step", name), (
                    self.tracer.span(layer, name) if layer else contextlib.nullcontext()
                ):
                    out = fn()
            except Exception as e:  # keep the loop going; counted as failed
                print(f"step {name} failed: {e!r}", flush=True)
                ok = False
            step = Step(name, kind, time.perf_counter() - t0, ok)
        if traced:
            step.probe = self.probe.collect(step_id, groups)
        return step, out


# -- headline ------------------------------------------------------------


def headline(ctx: Context) -> Outcome:
    from bench import BENCH_QUERIES
    from taico_data_integration_spark.queries import all_queries

    missing = [n for n in HEADLINE if n not in BENCH_QUERIES]
    if missing:
        raise ValueError(f"not in bench.BENCH_QUERIES: {missing}")
    qs = all_queries()
    rng = random.Random(ctx.seed)
    out = Outcome()

    # Warm-up at the measured scale, the same in every run: one cold,
    # concurrent pass that collects and verifies every result.
    verify_s, out.checks = _verify_queries(ctx, qs, rng.sample(HEADLINE, len(HEADLINE)))
    out.warmup_passes.append(verify_s)
    out.warmup_s = verify_s

    traced_run = ctx.probe is not None
    t0 = time.perf_counter()
    while len(out.passes) < 2 or time.perf_counter() - t0 < ctx.seconds:
        n = len(out.passes)
        # a traced run alternates untraced and traced passes so tracing
        # overhead is a paired difference within one process
        traced = traced_run and n % 2 == 1
        ctx.tracer.active = traced
        out.passes.append(_query_pass(ctx, qs, rng, n, traced))
    ctx.tracer.active = traced_run
    untraced = [p for p in out.passes if not p.traced]
    steps = [s for p in untraced for s in p.steps]
    q = [s.seconds for s in steps]
    out.detail = {
        "queries": len(HEADLINE),
        "query_samples": len(q),
        "query_p50_s": statistics.median(q),
        "query_p90_s": _p90(q),
        "llm_s": statistics.median(
            sum(s.seconds for s in p.steps if s.name in LLM_QUERIES) for p in untraced
        ),
        "query_s": {n: statistics.median(s.seconds for s in steps if s.name == n) for n in HEADLINE},
    }
    return out


def _query_pass(ctx: Context, qs, rng: random.Random, n: int, traced: bool) -> Pass:
    spark, tracer, probe = ctx.spark, ctx.tracer, ctx.probe
    steps = []
    probe_s0 = tracer.self_s
    t_pass = time.perf_counter()
    for name in rng.sample(HEADLINE, len(HEADLINE)):
        sid = f"p{n}:{name}"
        with tracer.step(sid), tracer.span("step", name):
            groups = [probe.begin(sid, "build")] if traced else []
            calls0 = tracer.py4j_calls if traced else 0
            df, ok = None, True
            t0 = t1 = t2 = time.perf_counter()
            try:
                with tracer.span("queries", name), tracer.counting_py4j():
                    df = qs[name](spark, ctx.data_dir)
                t1 = time.perf_counter()
                if traced:
                    groups.append(probe.group(sid, "exec"))
                t2 = time.perf_counter()
                with tracer.span("exec", "noop_write"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # keep the loop going; counted as failed
                print(f"query {name} failed: {e!r}", flush=True)
                ok = False
            t3 = time.perf_counter()
        step = Step(name, "query", (t1 - t0) + (t3 - t2), ok, build_s=t1 - t0)
        if traced:
            step.py4j_calls = tracer.py4j_calls - calls0
            step.probe = probe.collect(sid, groups, df if ok else None)
        steps.append(step)
    seconds = time.perf_counter() - t_pass
    if traced:  # the probe's own work is not part of the pass
        seconds = sum(s.seconds for s in steps)
    return Pass(seconds, traced, steps, f"p{n}:", tracer.self_s - probe_s0)


def _verify_queries(ctx: Context, qs, names: list[str]) -> tuple[float, dict[str, bool]]:
    """Collect every query and compare it with its DuckDB oracle: row count,
    columns and an order-insensitive value hash. This is the cold warm-up
    pass, so the collects run one thread per core: JVM warm-up
    (class loading, JIT, codegen) is largely single-threaded driver work
    and overlaps well. Returns the Spark-side seconds and the per-query
    verdicts; the oracle side is not timed."""
    import duckdb

    from taico_data_integration_spark.queries import all_oracles
    from tools.compare_oracle import table_hash

    from fixtures import TABLES

    def collect(name):
        df = qs[name](ctx.spark, ctx.data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    t0 = time.perf_counter()
    results = {}
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        futures = {name: pool.submit(collect, name) for name in names}
        for name, fut in futures.items():
            try:
                results[name] = fut.result()
            except Exception as e:  # a query that fails is a failed check
                print(f"query {name} failed: {e!r}", flush=True)
    spark_s = time.perf_counter() - t0

    oracles = all_oracles()
    con = duckdb.connect()
    verdicts = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.data_dir}/{t}.parquet')")
        for name in names:
            if name not in results:
                verdicts[name] = False
                continue
            cols, rows = results[name]
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            verdicts[name] = (
                len(rows) == len(orows)
                and sorted(cols) == sorted(ocols)
                and table_hash(cols, rows) == table_hash(ocols, orows)
            )
            if not verdicts[name]:
                print(f"oracle mismatch: {name} ({len(rows)} vs {len(orows)} rows)", flush=True)
    finally:
        con.close()
    return spark_s, verdicts


# -- lifecycle -----------------------------------------------------------


def lifecycle(ctx: Context) -> Outcome:
    from pyspark.sql import functions as F

    from taico_data_integration_spark.catalog import load_table
    from taico_data_integration_spark.ops.incremental import TableStore
    from taico_data_integration_spark.pipelines.etl_pipeline import run_etl_pipeline
    from taico_data_integration_spark.pipelines.facebook_pipeline import run_facebook_pipeline
    from taico_data_integration_spark.pipelines.ingestion_pipeline import ingest_batch
    from taico_data_integration_spark.pipelines.retail_pipeline import run_retail_pipeline

    spark, d = ctx.spark, ctx.data_dir
    rng = random.Random(ctx.seed)
    traced_run = ctx.probe is not None
    out = Outcome()
    orders = load_table(spark, d, "orders")
    docs = load_table(spark, d, "documents")
    n_orders = pq.ParquetFile(os.path.join(d, "orders.parquet")).metadata.num_rows
    doc_ids = pq.read_table(os.path.join(d, "documents.parquet"), columns=["doc_id"])[0].to_pylist()
    input_bytes = sum(os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in LIFECYCLE_INPUTS)

    def window(f: int, keys: int) -> int:
        """Start of a `keys`-long key window inside range file `f` of
        `orders`, away from its edges."""
        per = n_orders // ORDERS_FILES
        slack = per - keys
        return f * per + slack // 2 + rng.randint(-slack // 4, slack // 4)

    # exact quarters of the key space, one file each
    quarters = orders.repartitionByRange(
        ORDERS_FILES, F.floor(F.col("o_orderkey") * ORDERS_FILES / n_orders))

    def cycle(n: int, traced: bool, concurrent: bool = False) -> tuple[Pass, dict]:
        """One cycle into a fresh store under `store<n>`, then its untimed
        checks, folded into `out.checks`; the store is removed after. The
        cycle is four independent chains (retail; facebook, its incremental
        run and the dimension sync; the orders mutations and maintenance;
        ingestion), run one after another into one store, or each on its
        own thread into its own store when `concurrent`."""
        base = os.path.join(ctx.run_dir, f"store{n}")
        roots = {c: os.path.join(base, c) if concurrent else base for c in CHAINS}
        by_root = {r: TableStore(spark, r) for r in set(roots.values())}
        stores = {c: by_root[r] for c, r in roots.items()}
        steps: list[Step] = []
        results: dict[str, object] = {}
        point_hits: list[bool] = []

        def run(name: str, kind: str, layer: str | None, fn):
            step, res = ctx.timed(f"c{n}:{name}", name, kind, layer, fn, traced)
            steps.append(step)
            results[name] = res
            return res

        ids = doc_ids[:]
        rng.shuffle(ids)
        batches = [sorted(ids[i::INGEST_BATCHES]) for i in range(INGEST_BATCHES)]
        f_merge, f_delete = rng.sample(range(ORDERS_FILES), 2)
        m_lo, d_lo = window(f_merge, MERGE_KEYS), window(f_delete, DELETE_KEYS)
        doomed = list(range(d_lo, d_lo + DELETE_KEYS))
        expected = set(range(n_orders)) - set(doomed)
        probes = [rng.randrange(n_orders) for _ in range(3)]

        def retail_chain():
            run("retail", "pipeline", "pipelines", lambda: run_retail_pipeline(spark, d, roots["retail"]))

        def facebook_chain():
            root = roots["facebook"]
            run("facebook", "pipeline", "pipelines", lambda: run_facebook_pipeline(spark, d, root))
            run("facebook_incr", "pipeline", "pipelines", lambda: run_facebook_pipeline(spark, d, root))
            run("etl", "pipeline", "pipelines", lambda: run_etl_pipeline(
                spark, stores["facebook"].read("fb_production").select(*FB_DIMS), FB_DIMS, root))

        def orders_chain():
            store = stores["orders"]
            run("write", "mutation", None, lambda: store.write("orders", quarters))
            upd = orders.where(F.col("o_orderkey").between(m_lo, m_lo + MERGE_KEYS - 1)).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            run("merge", "mutation", None, lambda: store.merge_in("orders", upd, "o_orderkey"))
            run("delete", "mutation", None, lambda: store.delete_in("orders", "o_orderkey", doomed))
            for i, k in enumerate(probes, 1):
                rows = run(f"point_{i}", "point_read", None,
                           lambda: store.read_point("orders", "o_orderkey", k)[0].collect())
                point_hits.append((rows is not None and len(rows) == 1) == (k in expected))
            run("compact", "maintenance", None, lambda: store.compact("orders"))
            run("vacuum", "maintenance", None, lambda: store.vacuum("orders", keep_latest=1))

        def ingest_chain():
            for i, batch_ids in enumerate(batches, 1):
                batch = docs.where(F.col("doc_id").isin(batch_ids))
                run(f"ingest_{i}", "ingest", "pipelines", lambda: ingest_batch(spark, stores["ingest"], batch))

        chains = (retail_chain, facebook_chain, orders_chain, ingest_chain)
        ctx.tracer.active = traced
        probe_s0 = ctx.tracer.self_s
        t0 = time.perf_counter()
        if concurrent:
            with ThreadPoolExecutor(max_workers=len(chains)) as pool:
                for fut in [pool.submit(c) for c in chains]:
                    fut.result()
        else:
            for c in chains:
                c()
        seconds = time.perf_counter() - t0
        if traced:  # the probe's own work is not part of the cycle
            seconds = sum(s.seconds for s in steps)
        ctx.tracer.active = False
        probe_s = ctx.tracer.self_s - probe_s0

        final = stores["orders"].read("orders").agg(F.count("*"), F.sum("o_orderkey")).first()
        ingests = [results[f"ingest_{i}"] for i in range(1, INGEST_BATCHES + 1)]
        checks = {f"{p}_ok": bool(results[p] and results[p]["ok"])
                  for p in ("retail", "facebook", "facebook_incr", "etl")}
        checks["orders_final_rows"] = (final[0], final[1]) == (len(expected), sum(expected))
        checks["point_reads"] = all(point_hits)
        checks["ingest_accounting"] = all(ingests) and _ingest_ok(ingests, len(doc_ids))
        checks["fb_production_rows"] = stores["facebook"].read("fb_production").count() > 0
        for k, v in checks.items():
            out.checks[k] = out.checks.get(k, True) and v
        store_bytes = tree_bytes(base)
        shutil.rmtree(base, ignore_errors=True)

        def p50(kind: str) -> float:
            return statistics.median(s.seconds for s in steps if s.kind == kind)

        figures = {
            "pipeline_s": sum(s.seconds for s in steps if s.kind == "pipeline"),
            "mutation_p50_s": p50("mutation"),
            "point_read_p50_s": p50("point_read"),
            "ingest_batch_p50_s": p50("ingest"),
            "store_bytes_ratio": store_bytes / input_bytes,
            "accepted_docs": sum(s["n_accepted"] for s in ingests if s),
            "files_rewritten": sum(results[m][1]["files_rewritten"] for m in ("merge", "delete")
                                   if results[m]),
        }
        return Pass(seconds, traced, steps, f"c{n}:", probe_s), figures

    # Warm-up: the cold cycle (class loading, JIT, codegen) with its chains
    # overlapped, which costs about one warm sequential cycle instead of
    # nearly two; then measured cycles, each into a fresh store so every
    # cycle does the same work.
    warm, _ = cycle(0, traced=False, concurrent=True)
    out.warmup_passes.append(warm.seconds)
    out.warmup_s = warm.seconds
    figures = []
    t0 = time.perf_counter()
    # at least one cycle, and in a traced run one untraced and one traced
    while (not out.passes or time.perf_counter() - t0 < ctx.seconds
           or (traced_run and len(out.passes) < 2)):
        n = len(out.passes) + 1
        # a traced run alternates untraced and traced cycles so tracing
        # overhead is a paired difference within one process
        traced = traced_run and n % 2 == 0
        p, f = cycle(n, traced)
        out.passes.append(p)
        if not traced:
            figures.append(f)
    ctx.tracer.active = traced_run
    out.detail = {
        "cycles": len(out.passes),
        **{k: statistics.median(f[k] for f in figures) for k in figures[0]},
        "input_bytes": input_bytes,
        "steps_s": {s.name: statistics.median(t.seconds for p in out.passes if not p.traced
                                              for t in p.steps if t.name == s.name)
                    for s in out.passes[0].steps},
    }
    return out


def _ingest_ok(summaries: list[dict], n_docs: int) -> bool:
    corpus = 0
    for s in summaries:
        parts = (s["n_exact_dup"] + s["n_near_dup"] + s["n_embed_near_dup"]
                 + s["n_curation_reject"] + s["n_accepted"])
        corpus += s["n_accepted"]
        if not s["ok"] or parts != s["n_in"] or s["corpus_rows"] != corpus:
            return False
    return sum(s["n_in"] for s in summaries) == n_docs


def _p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


WORKLOADS = {"headline": headline, "lifecycle": lifecycle}

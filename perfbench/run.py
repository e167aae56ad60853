#!/usr/bin/env python3
"""Benchmark of the firmographic pipeline and of the query library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --refresh-oracles

Run from the repository root. Workloads:

- ``nightly_full``: an initial load, then nights that re-land every company
  in both sources (``plans.firmographics.GRAPH.run`` per night).
- ``nightly_delta``: a large initial load, then nights that land ~1 % of
  the companies changed plus a few new ones.
- ``query_mix``: one warm, read-only pass over a fixed set of library
  queries (``plans.driver_queries.QUERIES``).

Each run starts one ``local[N]`` session, builds its inputs from the seed,
makes one full-size warm-up pass (all of it reported as ``setup_s``), then
repeats whole measured passes until ``--seconds`` have gone by. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics of a
traced pass with ``--trace 1``). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

from checks import compare_rows, normalize_rows, run_pipeline_checks
from firmgen import FORTUNE_SOURCE, WIKI_SOURCE, FirmGen
from tablegen import TABLES, generate
from tracing import Engine, Tracer, tree_cpu_s, tree_peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ORACLE_DIR = os.path.join(HERE, "oracles")

PIPELINES = {
    # shape, companies in the initial load, nights per pass
    "nightly_full": {"shape": "full", "companies": 8000, "nights": 1},
    "nightly_delta": {"shape": "delta", "companies": 40000, "nights": 2},
}
QUERY_SF, QUERY_SEED = 0.01, 1
QUERY_MIX = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q09_product_profit", "q13_order_count_distribution", "q18_large_volume_orders",
    "q21_sole_late_supplier", "window_topn_per_group", "sessionization_30m",
    "asof_purchase_last_click", "json_extract_props", "dedup_exact_documents",
    "neardup_jaccard_unigram", "simhash_near_pairs_md5", "rp_projection_topk",
    "ann_cosine_topk", "entity_resolution_incremental", "triangle_stats_copurchase",
    "pagerank_copurchase_top20", "scd2_point_in_time_lookup",
]
WORKLOADS = [*PIPELINES, "query_mix"]
MODELS = [
    "stg_fortune500", "stg_wiki_sp500", "cr_company_complete", "company_location_snapshot",
    "fortune_metrics_snapshot", "dim_company", "dim_location", "dim_fortune_metrics",
    "fact_company_performance",
]
SPARK_LAYER = ("stages", "tasks", "shuffle_read_bytes", "spill_bytes", "executor_run_s", "gc_s")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def since_start() -> float:
    """Seconds since this process started (kernel start time, /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# -- session -----------------------------------------------------------------


def start_session(run_dir: str):
    from unified_firmographic_data_pipeline_spark.session import get_spark

    n = min(4, len(os.sched_getaffinity(0)))
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            # the package defaults to 8g; 2g is ample here. A fixed heap
            # (-Xms = -Xmx) steadies the resident set but made the query
            # pass ~1.5x slower (large young generation), so it is not set
            "spark.driver.memory": "2g",
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


# -- measured passes ---------------------------------------------------------


def measure(engine, ops) -> dict:
    """Run ``ops`` (callables, one per operation) as one measured pass."""
    cpu0, j0 = tree_cpu_s(), engine.jobs()
    t0 = time.perf_counter()
    lat, failed = [], 0
    for op in ops:
        s = time.perf_counter()
        try:
            op()
        except Exception as e:  # noqa: BLE001 - counted, reported, and the run goes on
            failed += 1
            log(f"operation failed: {type(e).__name__}: {str(e)[:300]}")
        lat.append(time.perf_counter() - s)
    wall = time.perf_counter() - t0
    j1 = engine.jobs()
    cpu = tree_cpu_s() - cpu0
    st = engine.stage_totals(j0, j1)
    return {"wall_s": wall, "cpu_s": cpu, "ops": lat, "failed": failed, "spark_jobs": j1 - j0,
            "shuffle_bytes": st["shuffle_write_bytes"], "jobs": (j0, j1)}


def timed_passes(engine, make_ops, seconds: float, before=None) -> list[dict]:
    """Whole measured passes until ``seconds`` have gone by (at least one)."""
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        if before is not None:
            before()
        passes.append(measure(engine, make_ops()))
    return passes


def end_to_end(passes: list[dict]) -> dict:
    med = lambda k: statistics.median(p[k] for p in passes)  # noqa: E731
    return {
        "setup_s": None,  # filled by the caller
        "wall_s": med("wall_s"),
        "cpu_s": med("cpu_s"),
        "op_p50_s": statistics.median(x for p in passes for x in p["ops"]),
        "spark_jobs": med("spark_jobs"),
        "shuffle_bytes": med("shuffle_bytes"),
        "peak_rss_mb": tree_peak_rss_mb(),
    }


UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_s": "s", "spark_jobs": "count",
         "shuffle_bytes": "bytes", "peak_rss_mb": "MB"}


def per_layer_names() -> list[tuple[str, str]]:
    names = []
    for m in MODELS:
        names += [(f"model.{m}.wall_s", "s"), (f"model.{m}.jobs", "count"),
                  (f"model.{m}.shuffle_bytes", "bytes")]
    names += [("sources.catalog_write_s", "s"), ("sources.catalog_writes", "count"),
              ("sources.bytes_written", "bytes"), ("sources.catalog_reads", "count"),
              ("sources.warehouse_bytes", "bytes"),
              ("operators.upsert_s", "s"), ("operators.scd2_apply_s", "s"),
              ("operators.high_watermark_s", "s"), ("operators.high_watermark_calls", "count"),
              ("quality.expect_s", "s"), ("quality.expect_jobs", "count"),
              ("quality.checks_run", "count"), ("plans.graph_self_s", "s"),
              ("query.construct_s", "s"), ("query.plan_s", "s"), ("query.execute_s", "s"),
              ("query.jobs", "count")]
    for q in QUERY_MIX:
        names += [(f"query.{q}.construct_s", "s"), (f"query.{q}.execute_s", "s"),
                  (f"query.{q}.jobs", "count")]
    names += [(f"spark.{k}", "bytes" if k.endswith("bytes") else "s" if k.endswith("_s") else "count")
              for k in SPARK_LAYER]
    names.append(("trace.overhead_pct", "%"))
    return names


# -- pipeline workloads ------------------------------------------------------


class Pipeline:
    def __init__(self, spark, run_dir: str, cfg: dict, seed: int) -> None:
        from unified_firmographic_data_pipeline_spark.plans.firmographics import GRAPH
        from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog

        self.spark, self.graph = spark, GRAPH
        self.wh = os.path.join(run_dir, "warehouse")
        self.pristine = os.path.join(run_dir, "pristine")
        landing = os.path.join(run_dir, "landing")
        self.catalog = Catalog(spark, self.wh)
        gen = FirmGen(seed, cfg["companies"])
        self.land(gen.initial(landing))
        t0 = time.perf_counter()
        GRAPH.run(spark, self.catalog)  # the initial load: the state every pass starts from
        self.cold_s = time.perf_counter() - t0
        shutil.copytree(self.wh, self.pristine)
        step = gen.full_night if cfg["shape"] == "full" else gen.delta_night
        self.nights = [step(landing) for _ in range(cfg["nights"])]
        self.truth = gen.truth()

    def land(self, paths: dict) -> None:
        """COPY INTO analogue: the night's RAW files join the RAW tables."""
        for src, table in ((WIKI_SOURCE, "wiki_sp500"), (FORTUNE_SOURCE, "fortune_500")):
            d = self.catalog.path("raw", table)
            os.makedirs(d, exist_ok=True)
            shutil.copyfile(paths[src], os.path.join(d, os.path.basename(paths[src])))

    def reset(self) -> None:
        shutil.rmtree(self.wh)
        shutil.copytree(self.pristine, self.wh)

    def ops(self, per_model=None) -> list:
        def night(paths):
            def op():
                self.land(paths)
                if per_model is None:
                    self.graph.run(self.spark, self.catalog)
                else:
                    for m in self.graph.topo_order():
                        per_model(m)
            return op

        return [night(p) for p in self.nights]

    def check(self) -> dict[str, list[str]]:
        return run_pipeline_checks(self.wh, self.truth)

    def traced_pass(self, engine, tracer) -> tuple[dict, dict]:
        """One pass, model by model, with every layer boundary spanned."""
        import unified_firmographic_data_pipeline_spark.plans.firmographics as firm
        import unified_firmographic_data_pipeline_spark.plans.graph as graph_mod
        from unified_firmographic_data_pipeline_spark.quality.expect import Expectation
        from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog

        def written(rec, args, kwargs, out):
            rec["bytes"] = _bytes_under(args[0].path(args[2], args[3]))

        def checks_run(rec, args, kwargs, out):
            rec["checks"] = len(args[0].checks)

        tracer.wrap(graph_mod.ModelGraph, "run", "graph.run")
        tracer.wrap(graph_mod, "upsert", "operators.upsert")
        tracer.wrap(graph_mod, "scd2_apply", "operators.scd2_apply")
        tracer.wrap(firm, "high_watermark", "operators.high_watermark")
        tracer.wrap(Catalog, "overwrite", "sources.write", on_exit=written)
        tracer.wrap(Catalog, "read", "sources.read")
        tracer.wrap(Catalog, "exists", "sources.exists")
        tracer.wrap(Expectation, "run", "quality.expect", on_exit=checks_run)
        for spec in self.graph.models.values():
            tracer.wrap(spec, "fn", "model.build")
            if spec.tests is not None:
                tracer.wrap(spec, "tests", "model.tests")

        def per_model(m):
            with tracer.span(f"model.{m}"):
                self.graph.run(self.spark, self.catalog, select=[m])

        try:
            p = measure(engine, self.ops(per_model))
        finally:
            tracer.unwrap()
        out = {}
        for m in MODELS:
            spans = [r for r in tracer.spans if r["name"] == f"model.{m}"]
            out[f"model.{m}.wall_s"] = sum(r["end"] - r["start"] for r in spans)
            out[f"model.{m}.jobs"] = sum(r["job1"] - r["job0"] for r in spans)
            out[f"model.{m}.shuffle_bytes"] = sum(
                engine.stage_totals(r["job0"], r["job1"])["shuffle_write_bytes"] for r in spans)
        out.update({
            "sources.catalog_write_s": tracer.total("sources.write"),
            "sources.catalog_writes": tracer.total("sources.write", "n"),
            "sources.bytes_written": tracer.total("sources.write", "bytes"),
            "sources.catalog_reads": tracer.total("sources.read", "n"),
            "sources.warehouse_bytes": _bytes_under(self.wh),
            "operators.upsert_s": tracer.total("operators.upsert"),
            "operators.scd2_apply_s": tracer.total("operators.scd2_apply"),
            "operators.high_watermark_s": tracer.total("operators.high_watermark"),
            "operators.high_watermark_calls": tracer.total("operators.high_watermark", "n"),
            "quality.expect_s": tracer.total("quality.expect"),
            "quality.expect_jobs": tracer.total("quality.expect", "jobs"),
            "quality.checks_run": tracer.total("quality.expect", "checks"),
            "plans.graph_self_s": tracer.self_time("graph.run"),
        })
        return p, out


# -- query workload ----------------------------------------------------------


def query_tables(run_dir: str) -> tuple[str, dict]:
    d = os.path.join(run_dir, "tables")
    paths = generate(d, QUERY_SF, QUERY_SEED)
    return d, {t: _file_digest(p) for t, p in sorted(paths.items())}


def oracle_key(digests: dict, sql: str) -> str:
    return hashlib.sha256(json.dumps([digests, sql], sort_keys=True).encode()).hexdigest()


def oracle_rows(name: str, data_dir: str, digests: dict, con=None) -> list[tuple]:
    """The DuckDB oracle's normalized rows for ``name``, from the cache when
    its key (table digests + oracle SQL) matches, else computed and cached."""
    from unified_firmographic_data_pipeline_spark.plans.driver_queries import ORACLES

    key = oracle_key(digests, ORACLES[name])
    path = os.path.join(ORACLE_DIR, f"{name}.json.gz")
    if os.path.exists(path):
        with gzip.open(path, "rt") as fh:
            cached = json.load(fh)
        if cached["key"] == key:
            return [tuple(_detuple(v) for v in r) for r in cached["rows"]]
    log(f"oracle cache miss for {name}: computing it with DuckDB")
    if con is None:
        con = duckdb_views(data_dir)
    rows = normalize_rows(con.execute(ORACLES[name]).df())
    os.makedirs(ORACLE_DIR, exist_ok=True)
    with gzip.GzipFile(path, "wb", mtime=0) as fh:
        fh.write(json.dumps({"key": key, "rows": rows}).encode())
    return rows


def _detuple(v):
    return tuple(_detuple(x) for x in v) if isinstance(v, list) else v


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


class QueryMix:
    def __init__(self, spark, run_dir: str) -> None:
        from unified_firmographic_data_pipeline_spark.plans.driver_queries import QUERIES

        self.spark, self.queries = spark, QUERIES
        self.data, self.digests = query_tables(run_dir)
        self.out: dict[str, object] = {}

    def ops(self, tracer=None) -> list:
        def run(name):
            def op():
                self.out.pop(name, None)
                if tracer is None:
                    self.out[name] = self.queries[name](self.spark, self.data).toPandas()
                    return
                with tracer.span(f"query.{name}.construct"):
                    df = self.queries[name](self.spark, self.data)
                with tracer.span(f"query.{name}.plan"):
                    qe = df._jdf.queryExecution()
                    qe.optimizedPlan()
                    qe.executedPlan()
                with tracer.span(f"query.{name}.execute"):
                    self.out[name] = df.toPandas()
            return op

        return [run(q) for q in QUERY_MIX]

    def check(self) -> dict[str, list[str]]:
        res = {}
        for q in QUERY_MIX:
            if q not in self.out:
                res[f"oracle.{q}"] = ["no output"]
                continue
            res[f"oracle.{q}"] = compare_rows(
                normalize_rows(self.out[q]), oracle_rows(q, self.data, self.digests))
        return res

    def traced_pass(self, engine, tracer) -> tuple[dict, dict]:
        p = measure(engine, self.ops(tracer))
        out = {}
        for k in ("construct", "plan", "execute"):
            out[f"query.{k}_s"] = sum(tracer.total(f"query.{q}.{k}") for q in QUERY_MIX)
        out["query.jobs"] = sum(tracer.total(f"query.{q}.{k}", "jobs")
                                for q in QUERY_MIX for k in ("construct", "plan", "execute"))
        for q in QUERY_MIX:
            out[f"query.{q}.construct_s"] = tracer.total(f"query.{q}.construct")
            out[f"query.{q}.execute_s"] = tracer.total(f"query.{q}.execute")
            out[f"query.{q}.jobs"] = sum(tracer.total(f"query.{q}.{k}", "jobs")
                                         for k in ("construct", "plan", "execute"))
        return p, out


# -- entry point -------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, f"run-{run_id}")
    os.makedirs(run_dir)
    spark = start_session(run_dir)
    try:
        engine = Engine(spark)
        # warm-up: one full-size pass, reported inside setup_s. A pipeline's
        # initial load runs every model over the whole universe and is its
        # warm-up; the query mix runs one unmeasured pass.
        if workload in PIPELINES:
            w = Pipeline(spark, run_dir, PIPELINES[workload], seed)
            reset = w.reset
        else:
            w = QueryMix(spark, run_dir)
            reset = None
            w.cold_s = measure(engine, w.ops())["wall_s"]
        setup_s = since_start()
        log(f"setup {setup_s:.1f}s, cold first pass {w.cold_s:.2f}s")
        if not trace:
            passes = timed_passes(engine, w.ops, seconds, before=reset)
            metrics = end_to_end(passes)
            metrics["setup_s"] = setup_s
            units = UNITS
        else:
            if reset:
                reset()
            plain = measure(engine, w.ops())
            if reset:
                reset()
            tracer = Tracer(run_id, engine.jobs)
            traced, metrics = w.traced_pass(engine, tracer)
            passes = [plain, traced]
            st = engine.stage_totals(*traced["jobs"])
            metrics.update({f"spark.{k}": st[k] for k in SPARK_LAYER})
            metrics["trace.overhead_pct"] = 100.0 * (traced["wall_s"] / plain["wall_s"] - 1.0)
            tracer.dump(os.path.join(WORK, f"spans-{run_id}.json"))
            units = dict(per_layer_names())
            metrics = {k: metrics.get(k, 0) for k in units}
            layer_jobs = sum(v for k, v in metrics.items()
                             if k.endswith(".jobs") and k.startswith(("model.", "query.")) and k.count(".") == 2)
            log(f"traced pass {traced['wall_s']:.2f}s vs untraced {plain['wall_s']:.2f}s; "
                f"jobs summed over models/queries {layer_jobs} vs untraced spark_jobs {plain['spark_jobs']}")
        checks = w.check()
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = {k: v for k, v in checks.items() if v}
    for k, v in bad.items():
        log(f"CHECK FAILED {k}: {v}")
    log(f"{len(checks) - len(bad)}/{len(checks)} output checks passed")
    return {
        "correct": not bad,
        "attempted": sum(len(p["ops"]) for p in passes),
        "failed": sum(p["failed"] for p in passes),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def refresh_oracles() -> int:
    """Recompute every oracle of the mix on freshly generated tables."""
    run_dir = os.path.join(WORK, "oracles")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, digests = query_tables(run_dir)
    con = duckdb_views(data)
    for q in QUERY_MIX:
        path = os.path.join(ORACLE_DIR, f"{q}.json.gz")
        if os.path.exists(path):
            os.remove(path)
        t = time.perf_counter()
        rows = oracle_rows(q, data, digests, con)
        log(f"{q}: {len(rows)} rows in {time.perf_counter() - t:.1f}s")
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--refresh-oracles", action="store_true")
    args = ap.parse_args()

    # everything the run writes stays under this directory
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    sys.path.insert(0, ROOT)
    import unified_firmographic_data_pipeline_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"the package under test must come from {ROOT}, not {pkg.__file__}")
    if args.self_test:
        from selftest import self_test

        return self_test()
    if args.refresh_oracles:
        return refresh_oracles()
    if not args.workload:
        ap.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The repository benchmark: config-driven HTTP ingest and OLAP queries.

    python3 perfbench/run.py --workload api_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (closed loop, one client):

- ``api_ingest``: both ingest paths over a seeded fake API, one op
  being ``engine.run_config`` over four sources (page-number, cursor,
  Link, single object; in-process staging) followed by ``engine.run(...,
  via_datasource=True)`` over one 16-page source (page-per-partition
  executor fetch). The printed grids are checked against DuckDB over
  the same rows;
- ``olap_sequential``: registry queries over seeded parquet tables in a
  seed-shuffled order each pass, each op a plan build plus a noop
  write inside ``pin_scope()`` (``bench.py``'s protocol).

Set-up (session start, query registry, one warm-up op or
``WARM_PASSES`` warm-up passes) runs twice in the process: the first
launches the JVM and imports the engine, the second stops and restarts
the Spark context in it.
``setup_s`` is their median, so work added to either start shows. The
timed phase then runs whole passes until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs half
the time untraced and half with spans around the calls into each
engine module, and prints the per-layer metrics and the tracing
overhead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; lines before it
starting with ``#`` are a readable summary.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import re
import statistics
import subprocess
import sys
import time
import traceback
import urllib.request
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
SETUP_ROUNDS = 2
MB = 1e6


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine package."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Every JVM, the spark-submit launcher too: no /tmp/hsperfdata, temp files under WORK.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


SPARK_CONF = {
    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    "spark.ui.showConsoleProgress": "false",
}


@dataclass
class OpRecord:
    key: str
    seconds: float
    ok: bool
    rows: int


def grid(columns: list[str], rows: list[tuple]) -> str:
    """The text ``engine.show_all`` prints for a result."""
    cells = [["NULL" if v is None else str(v) for v in r] for r in rows]
    widths = [max(len(c), *(len(r[i]) for r in cells)) if cells else len(c) for i, c in enumerate(columns)]
    sep = "+" + "+".join("-" * w for w in widths) + "+"
    lines = [sep, "|" + "|".join(c.ljust(w) for c, w in zip(columns, widths)) + "|", sep]
    lines += ["|" + "|".join(v.ljust(w) for v, w in zip(r, widths)) + "|" for r in cells]
    lines.append(sep)
    return "\n".join(lines) + "\n"


def storage(spark) -> tuple[int, float]:
    """(cached blocks, cached MB) held by the context's storage."""
    blocks, size = 0, 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / MB


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase from the DataFrame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[f"catalyst.{name}_s"] = opt.get().durationMs() / 1000
    return out


# --- api workloads -------------------------------------------------------


class ApiWorkload:
    """Both ingest paths over the fake API, which runs in its own process.

    One op runs the four-source config with ``engine.run_config``
    (in-process staging), then the scale-out config with ``engine.run(...,
    via_datasource=True)`` (page-per-partition executor fetch).
    """

    name = "api_ingest"

    def __init__(self, seed: int) -> None:
        import apidata

        self.rows_per_op = apidata.CONFIG_ROWS_PER_OP + apidata.SCALEOUT_ROWS_PER_OP
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fakeapi.py"), "--seed", str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("port "):
            self.close()
            raise RuntimeError(f"fake API did not start: {line!r}")
        self.base = f"http://127.0.0.1:{int(line.split()[1])}"
        self.config_path = os.path.join(WORK, "api_config.yaml")
        self.scaleout_path = os.path.join(WORK, "api_scaleout.yaml")
        for path, text in ((self.config_path, apidata.config_yaml), (self.scaleout_path, apidata.scaleout_yaml)):
            with open(path, "w", encoding="utf-8") as f:
                f.write(text(self.base))
        self.expected = expected_config(seed) + expected_scaleout(seed)

    def api(self, route: str) -> dict:
        with urllib.request.urlopen(self.base + route, timeout=30) as r:
            return json.loads(r.read())

    def op(self, spark, key: str, tracer=None) -> tuple[bool, int]:
        from http_datafusion_spark import engine

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            engine.run_config(self.config_path, spark, show=True)
            with tracer.span("datasource") if tracer else contextlib.nullcontext():
                engine.run(engine.load_config(self.scaleout_path), spark, show=True, via_datasource=True)
        return buf.getvalue() == self.expected, self.rows_per_op

    def warm(self, spark) -> None:
        ok, _rows = self.op(spark, self.name)
        if not ok:
            raise RuntimeError(f"{self.name}: warm-up output differs from the expected rows")

    def pass_ops(self, rng: random.Random) -> list[str]:
        return [self.name]

    def verify(self, spark) -> set[str]:
        return set()  # every op's output is checked as it completes

    def install(self, tracer, spark) -> None:
        """Spans on the engine's module attributes. ``run_source`` and
        ``show_all`` inside the op's ``datasource`` span are the
        datasource path and are named for it."""
        from http_datafusion_spark import engine
        from http_datafusion_spark.sources import http_json

        for fn in ("fetch_rows", "fetch_rows_cursor", "fetch_rows_link"):
            tracer.wrap(http_json, fn, "http_json.fetch", count_rows=True)
        tracer.wrap(http_json, "json_rows_to_df", "http_json.stage")
        tracer.wrap(engine, "register_http_table", "http_json.register")
        tracer.wrap(engine, "load_config", "config.load")
        run_source, show_all = engine.run_source, engine.show_all

        def traced_run_source(*args, **kwargs):
            with tracer.span("datasource.plan" if tracer.inside("datasource") else "engine.run_source"):
                return run_source(*args, **kwargs)

        def traced_show_all(df):
            with tracer.span("datasource.exec" if tracer.inside("datasource") else "engine.show_all"):
                show_all(df)
            for k, v in catalyst_phases(df).items():
                tracer.add(k, v)

        tracer.patch(engine, "run_source", traced_run_source)
        tracer.patch(engine, "show_all", traced_show_all)

    def after_op(self, tracer, before: dict) -> dict:
        import apidata

        now = self.api("/_stats")
        for k in ("requests", "bytes", "retried", "rows_served"):
            tracer.add(f"api.{k}", now[k] - before[k])
        events = now["by_route"].get("/events", 0) - before["by_route"].get("/events", 0)
        if events < apidata.EVENTS_FULL_WALK:
            tracer.add("engine.limit_pushdowns", 1)
        return now

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def _duck(tables: dict, sqls: list[str]) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for name, t in tables.items():
            con.register(name, t)
        out = []
        for sql in sqls:
            cur = con.execute(sql)
            out.append(grid([d[0] for d in cur.description], cur.fetchall()))
        return "".join(out)
    finally:
        con.close()


def expected_config(seed: int) -> str:
    """The four grids api_config prints, computed by DuckDB over the
    rows the fake API serves (with the engine's ``{}``/``[]`` -> null)."""
    import apidata
    import pyarrow as pa

    orders = [r for p in range(1, apidata.ORDERS_PAGES + 1) for r in apidata.orders_page(seed, p)]
    orders_t = pa.Table.from_pylist(
        [{**r, "amount": float(r["amount"]), "promo": r["promo"] or None, "note": r.get("note")} for r in orders],
        schema=pa.schema([
            ("order_id", pa.int64()), ("cust_id", pa.int64()), ("qty", pa.int64()),
            ("amount", pa.float64()),
            ("ship", pa.struct([("mode", pa.string()), ("region", pa.string())])),
            ("promo", pa.struct([("code", pa.string())])), ("note", pa.string()),
        ]),
    )
    customers_t = pa.Table.from_pylist(
        [{**r, "tags": r["tags"] or None} for r in apidata.customers(seed)],
        schema=pa.schema([
            ("cust_id", pa.int64()), ("name", pa.string()), ("tier", pa.string()),
            ("score", pa.int64()), ("tags", pa.list_(pa.string())),
        ]),
    )
    events_t = pa.Table.from_pylist(list(apidata.events(seed)))
    meta_t = pa.Table.from_pylist([apidata.meta(seed)])
    return _duck(
        {"orders": orders_t, "customers": customers_t, "events": events_t, "meta": meta_t},
        [apidata.ORDERS_SQL, apidata.CUSTOMERS_SQL, apidata.EVENTS_SQL, apidata.META_SQL],
    )


def expected_scaleout(seed: int) -> str:
    import apidata
    import pyarrow as pa

    items = [r for p in range(1, apidata.ITEMS_PAGES + 1) for r in apidata.items_page(seed, p)]
    return _duck({"items": pa.Table.from_pylist(items)}, [apidata.ITEMS_SQL])


# --- olap workload -------------------------------------------------------

# One headline query per family, so a cold pass fits the run budget
# (a cold pass over the 27-query headline set takes ~30 s on 4 cores).
OLAP_QUERIES = (
    "q1_pricing_summary",
    "q_agg_basic",
    "events_sessionize",
    "text_token_stats",
    "dedup_minhash_signature",
    "sim_bruteforce_topk",
    "ts_ewma",
)
# Passes per set-up round. The Spark JVM's JIT keeps speeding passes up
# for about the first six; timing them would measure how fast the JIT
# warms, which the machine's load moves far more than the queries do.
WARM_PASSES = 3
FAMILIES = {
    "operators.text": ("operators.text", "operators.pipeline"),
    "operators.dedup": ("operators.dedup",),
    "operators.similarity": ("operators.similarity",),
    "operators.timeseries": ("operators.timeseries", "operators.asof"),
    "plans.tpch": ("plans.relational", "plans.extra", "plans.tpch_tail"),
    "plans.sql_surface": ("plans.aggregates", "plans.scalar_funcs", "plans.windows"),
    "plans.events": ("plans.events",),
}


def family_of(module: str) -> str | None:
    short = module.removeprefix("http_datafusion_spark.")
    return next((f for f, mods in FAMILIES.items() if short in mods), None)


class OlapWorkload:
    name = "olap_sequential"

    def __init__(self, seed: int) -> None:
        import olapdata

        self.dir = os.path.join(WORK, "olap")
        self.table_rows = olapdata.write(seed, self.dir)
        self._rows: dict[str, int] = {}

    def spec(self, key: str):
        from http_datafusion_spark.plans.registry import all_queries

        return all_queries()[key]

    def rows(self, key: str) -> int:
        """Source rows the query reads: the generator's row counts of the
        tables its oracle SQL names."""
        if key not in self._rows:
            sql = self.spec(key).oracle or ""
            self._rows[key] = sum(
                n for t, n in self.table_rows.items() if re.search(rf"\b{t}\b", sql)
            )
        return self._rows[key]

    def run_query(self, spark, key: str, tracer=None) -> None:
        from http_datafusion_spark.functions.pinning import pin_scope

        spec = self.spec(key)
        with pin_scope():
            if tracer is None:
                spec.spark(spark, self.dir).write.format("noop").mode("overwrite").save()
                return
            with tracer.span("plans.build"):
                df = spec.spark(spark, self.dir)
            # Forces optimization and planning on the DataFrame's own
            # QueryExecution so its tracker holds every phase; the write
            # plans again. That second planning is tracing overhead.
            df._jdf.queryExecution().executedPlan()
            for k, v in catalyst_phases(df).items():
                tracer.add(k, v)
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()

    def op(self, spark, key: str, tracer=None) -> tuple[bool, int]:
        self.run_query(spark, key, tracer)
        return True, self.rows(key)

    def warm(self, spark) -> None:
        for _ in range(WARM_PASSES):
            for key in OLAP_QUERIES:
                self.run_query(spark, key)

    def pass_ops(self, rng: random.Random) -> list[str]:
        keys = list(OLAP_QUERIES)
        rng.shuffle(keys)
        return keys

    def verify(self, spark) -> set[str]:
        """Queries whose result differs from the DuckDB oracle."""
        from http_datafusion_spark.plans.compare import compare_query, duckdb_connection

        con = duckdb_connection(self.dir)
        bad = set()
        try:
            for key in OLAP_QUERIES:
                res = compare_query(spark, self.spec(key), self.dir, con)
                if not res.ok:
                    print(f"# {key}: {res.detail}", file=sys.stderr)
                    bad.add(key)
        finally:
            con.close()
        return bad

    def install(self, tracer, spark) -> None:
        pass  # plans.build and exec spans are opened by run_query

    def after_op(self, tracer, before):
        return before

    def close(self) -> None:
        pass


# --- measurement ---------------------------------------------------------


def start_session():
    from http_datafusion_spark.session import get_spark

    return get_spark("perfbench", cpus=CPUS, extra_conf=SPARK_CONF)


def setup(wl) -> tuple[object, list[float], list[float]]:
    """SETUP_ROUNDS set-ups; -> (session, set-up seconds, session-start seconds)."""
    from http_datafusion_spark.plans.registry import all_queries

    spark, setup_s, session_s = None, [], []
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        all_queries()
        wl.warm(spark)
        setup_s.append(time.perf_counter() - t0)
        session_s.append(t1 - t0)
    return spark, setup_s, session_s


def timed_phase(wl, spark, seconds: float, rng: random.Random, tracer=None) -> tuple[list[OpRecord], float]:
    """Closed loop, one client: whole passes until ``seconds`` have passed."""
    records: list[OpRecord] = []
    sc = spark.sparkContext
    stats = wl.api("/_stats") if tracer is not None and isinstance(wl, ApiWorkload) else None
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for key in wl.pass_ops(rng):
            n = len(records)
            group = f"perfbench-op-{n}"
            ok, rows = False, 0
            t = time.perf_counter()
            try:
                if tracer is None:
                    ok, rows = wl.op(spark, key)
                else:
                    sc.setJobGroup(group, key)
                    with tracer.span("op", op=n):
                        ok, rows = wl.op(spark, key, tracer)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t
            if tracer is not None:
                with tracer.span("probe", op=n):
                    sched_counts(tracer, sc, group)
                    blocks, mb = storage(spark)
                    tracer.add("pinning.blocks_after_op", blocks)
                    tracer.add("storage.cached_mb", mb)
                    if stats is not None:
                        stats = wl.after_op(tracer, stats)
            records.append(OpRecord(key, dt, ok, rows if ok else 0))
    return records, time.perf_counter() - t0


def sched_counts(tracer, sc, group: str) -> None:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si and si.numCompletedTasks:  # skipped stages ran no tasks
                stages += 1
                tasks += si.numCompletedTasks
    tracer.add("sched.jobs", len(jobs))
    tracer.add("sched.stages", stages)
    tracer.add("sched.tasks", tasks)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(records: list[OpRecord], wall: float, setup_s: list[float]) -> dict[str, float]:
    ok = [r for r in records if r.ok]
    lat = [r.seconds for r in records]
    return {
        "setup_s": statistics.median(setup_s),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
        "ops_per_s": len(ok) / wall,
        "rows_per_s": sum(r.rows for r in ok) / wall,
    }


def per_layer(
    wl, tracer, plain: list[OpRecord], traced: list[OpRecord], session_s: list[float], mb_before: float
) -> dict[str, float]:
    """Per-layer metrics: medians over traced passes of per-pass sums."""
    per_op = tracer.per_op()
    n_pass = len(wl.pass_ops(random.Random(0)))  # the timed phase runs whole passes
    passes = [
        [per_op.get(i, {}) for i in range(start, start + n_pass)] for start in range(0, len(traced), n_pass)
    ]

    def med(key: str) -> float:
        return statistics.median(sum(op.get(key, 0.0) for op in p) for p in passes)

    m = {
        "session.start_s": statistics.median(session_s),
        "config.load_s": med("config.load"),
        "http_json.fetch_s": med("http_json.fetch"),
        "http_json.stage_s": med("http_json.stage"),
        "http_json.register_s": med("http_json.register"),
        "http_json.rows": med("http_json.fetch.rows"),
        "datasource.plan_s": med("datasource.plan"),
        "datasource.exec_s": med("datasource.exec"),
        "engine.run_source_s": med("engine.run_source"),
        "engine.show_all_s": med("engine.show_all"),
        "engine.limit_pushdowns": med("engine.limit_pushdowns"),
        "api.requests": med("api.requests"),
        "api.bytes": med("api.bytes"),
        "api.retried": med("api.retried"),
        "catalyst.sql_s": med("catalyst.sql"),
        "catalyst.analysis_s": med("catalyst.analysis_s"),
        "catalyst.optimization_s": med("catalyst.optimization_s"),
        "catalyst.planning_s": med("catalyst.planning_s"),
        "plans.build_s": med("plans.build"),
        "plans.py4j_calls": med("plans.build.py4j"),
        "sched.jobs": med("sched.jobs"),
        "sched.stages": med("sched.stages"),
        "sched.tasks": med("sched.tasks"),
        "exec.s": med("exec"),
    }
    last = per_op.get(len(traced) - 1, {})
    m["pinning.blocks_after_op"] = last.get("pinning.blocks_after_op", 0.0)
    m["storage.cached_mb"] = last.get("storage.cached_mb", 0.0)
    m["storage.cached_mb_per_op"] = (m["storage.cached_mb"] - mb_before) / len(traced)

    m["api.useful_row_frac"] = m["api.max_inflight"] = 0.0
    if isinstance(wl, ApiWorkload):
        served = sum(op.get("api.rows_served", 0.0) for op in per_op.values())
        m["api.useful_row_frac"] = wl.rows_per_op * len(traced) / served
        m["api.max_inflight"] = float(wl.api("/_stats")["max_inflight"])

    by_family: dict[str, float] = {f: 0.0 for f in FAMILIES}
    if isinstance(wl, OlapWorkload):
        for key in OLAP_QUERIES:
            fam = family_of(wl.spec(key).spark.__module__)
            lat = [r.seconds for r in plain if r.key == key]
            if fam and lat:
                by_family[fam] += statistics.median(lat)
    for fam, v in by_family.items():
        m[f"{fam}.s"] = v

    m["trace.overhead_frac"] = (
        statistics.fmean(r.seconds for r in traced) / statistics.fmean(r.seconds for r in plain) - 1
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("api_ingest", "olap_sequential"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _prepare_env()
    import http_datafusion_spark  # noqa: F401 — fail before starting anything if absent

    from spans import Tracer

    clock = [("start", time.perf_counter())]
    wl = OlapWorkload(args.seed) if args.workload == "olap_sequential" else ApiWorkload(args.seed)
    spark = None
    try:
        clock.append(("inputs", time.perf_counter()))
        spark, setup_s, session_s = setup(wl)
        clock.append(("setup", time.perf_counter()))
        rng = random.Random(args.seed)
        api = isinstance(wl, ApiWorkload)
        if api:
            wl.api("/_reset")
        if not args.trace:
            plain, wall = timed_phase(wl, spark, args.seconds, rng)
            traced = []
            blocks, cached_mb = storage(spark)
        else:
            plain, _ = timed_phase(wl, spark, args.seconds / 2, rng)
            tracer = Tracer()
            tracer.wrap(spark, "sql", "catalyst.sql")
            tracer.count_gateway_calls(spark.sparkContext._gateway._gateway_client)
            wl.install(tracer, spark)
            if api:
                wl.api("/_reset")
            _blocks, mb_before = storage(spark)
            try:
                traced, wall = timed_phase(wl, spark, args.seconds / 2, rng, tracer)
            finally:
                tracer.uninstall()
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        records = plain + traced
        clock.append(("timed", time.perf_counter()))
        bad = wl.verify(spark)
        clock.append(("verify", time.perf_counter()))
        for r in records:
            r.ok = r.ok and r.key not in bad
        failed = sum(not r.ok for r in records)

        if args.trace:
            metrics = per_layer(wl, tracer, plain, traced, session_s, mb_before)
            units = declared_units("per_layer")
        else:
            metrics = end_to_end(records, wall, setup_s)
            units = declared_units("end_to_end")
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
        if not args.trace:
            _value, pct = tail([r.seconds for r in records])
            print(
                f"# {args.workload}: " + " ".join(f"{k}={metrics[k]:.4g} {units[k]}" for k in metrics)
                + f" failed_frac={failed / len(records):.4g} ratio cached_mb_end={cached_mb:.4g} MB"
                f" (cached_blocks={blocks}; op_tail_s is p{pct:.1f} of {len(records)} ops;"
                f" setup rounds {', '.join(f'{s:.2f}' for s in setup_s)} s)"
            )
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)
        clock.append(("stop", time.perf_counter()))
        print(
            "# phase seconds: "
            + " ".join(f"{b[0]}={b[1] - a[1]:.1f}" for a, b in zip(clock, clock[1:])),
            file=sys.stderr,
        )


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())

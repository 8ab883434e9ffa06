"""The three workloads. Each reaches the engine only through its public
functions (``session.get_spark``, ``plans.taxi_pipeline.run_pipeline``,
``checks.taxi_suite.taxi_check_suite``,
``streaming.ingest.run_bronze_to_silver`` and the registry's query
functions), runs one cold pass inside the measured set-up, then warm
passes until ``--seconds`` have elapsed, then checks every output of
the run against a computation made apart from the engine.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen
import verify
from ledger import EventLog, TreeSampler

# Input sizes. A cold pass is dominated by JIT and class loading, not
# by data, so sizes are chosen to keep a warm pass in the seconds range
# while one round of all workloads stays near two minutes.
MEDALLION_ROWS = 20_000
STREAM_EVENTS = 25_000
STREAM_FILES = 5
CORPUS = {"n_orders": 150_000, "n_docs": 1_500, "n_vecs": 600}

MARTS = ("fct_trips", "mart_daily_revenue", "mart_hourly_demand", "mart_location_performance")
GOLD_MODELS = MARTS + ("export_daily_revenue",)
ANALYTICS = {"q1": "q1_daily_revenue", "q2": "q2_top_nations", "q3": "q3_hourly_demand", "q4": "q4_priority_share"}
LADDER = {"d2": "d2_ngram_jaccard_topk", "d5": "d5_minhash_lsh", "d14": "d14_decontamination", "d15": "d15_dup_clusters"}


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    fails: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _files(path: str) -> tuple[int, int]:
    """Parquet data files under ``path`` and their total bytes."""
    n = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


def _window(seconds: float, one_pass) -> None:
    """Warm passes until ``seconds`` have elapsed (at least one)."""
    t0 = time.perf_counter()
    i = 1
    while True:
        one_pass(i)
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return


# ---------------------------------------------------------------------------
# medallion_batch
# ---------------------------------------------------------------------------


def medallion_batch(ctx) -> Outcome:
    t = time.perf_counter()
    table, truth = gen.taxi_trips(ctx.seed, MEDALLION_ROWS)
    bronze = os.path.join(ctx.work, "bronze")
    gen.write_bronze(table, bronze)
    ctx.excluded_s += time.perf_counter() - t

    sampler = TreeSampler()
    sampler.start()
    spark = ctx.start_spark()
    from real_time_data_engineering_spark.checks.taxi_suite import taxi_check_suite
    from real_time_data_engineering_spark.plans.taxi_pipeline import run_pipeline

    raw = spark.read.parquet(bronze)
    out = Outcome()
    passes: list[dict] = []

    def one_pass(i: int) -> None:
        wh = os.path.join(ctx.work, f"warehouse{i}")
        with ctx.tracer.span("plans.dag", index=i) as build_span:
            t0 = time.perf_counter()
            res = run_pipeline(spark, raw, warehouse_dir=wh)
            for name in MARTS:
                res.built[name].write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
        with ctx.tracer.span("checks", index=i) as check_span:
            summary, results = taxi_check_suite(res.built, min_rows=MEDALLION_ROWS // 10)
            t2 = time.perf_counter()
        errors = sum(1 for r in results if not r.passed and r.severity == "error")
        out.attempted += len(res.order) + len(results)
        out.failed += errors
        rec = {"build_s": t1 - t0, "checks_s": t2 - t1, "timings": dict(res.timings),
               "errors": errors, "summary": summary, "build_span": build_span, "check_span": check_span}
        if ctx.tracer.enabled:
            rec["output_files"], rec["output_bytes"] = _files(wh)
        passes.append(rec)
        if i > 0:
            shutil.rmtree(wh, ignore_errors=True)

    one_pass(0)
    ctx.mark_setup()
    _window(ctx.seconds, one_pass)
    peak = sampler.stop()
    ctx.stop_spark()

    warm = passes[1:]
    out.e2e = {
        "stage1_s": _median([p["build_s"] for p in warm]),
        "stage2_s": _median([p["checks_s"] for p in warm]),
        "peak_pss_mb": peak,
    }
    out.notes = {"passes": len(passes), "check_summary": passes[0]["summary"], "truth": truth}

    con = verify.connect(os.path.join(ctx.work, "duckdb"))
    expected = verify.medallion_expected(con, os.path.join(bronze, "*.parquet"))
    observed = verify.medallion_observed(con, os.path.join(ctx.work, "warehouse0"))
    out.fails += verify.check_medallion(observed, expected, truth, sum(p["errors"] for p in passes))
    con.close()

    if ctx.tracer.enabled:
        log = ctx.event_log()
        out.layers.update(_medallion_layers(log, warm, ctx.cores))
    return out


def _medallion_layers(log: EventLog, warm: list[dict], cores: int) -> dict:
    per_pass: list[dict] = []
    for p in warm:
        b, c = p["build_span"], p["check_span"]
        dag = log.totals(log.jobs_between(b["start"], b["end"]))
        chk = log.totals(log.jobs_between(c["start"], c["end"]))
        silver = log.totals([j for j in log.writes_to("stg_yellow_trips")
                             if b["start"] <= log.jobs[j].submit <= b["end"]])
        rec = {
            "operators.silver.stg_build_s": p["timings"]["stg_yellow_trips"],
            "operators.silver.shuffle_write_bytes": silver["shuffle_write_bytes"],
            "checks.jobs": chk["jobs"],
            "checks.executor_run_s": chk["executor_run_s"],
            "checks.sched_floor_s": (c["end"] - c["start"]) - chk["executor_run_s"] / cores,
            "plans.dag.sched_floor_s": (b["end"] - b["start"]) - dag["executor_run_s"] / cores,
            "plans.dag.output_files": p["output_files"],
            "plans.dag.output_bytes": p["output_bytes"],
        }
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s"):
            rec[f"plans.dag.{k}"] = dag[k]
        for m in GOLD_MODELS:
            rec[f"operators.gold.build_s.{m}"] = p["timings"][m]
        per_pass.append(rec)
    return {k: _median([r[k] for r in per_pass]) for k in per_pass[0]}


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class _Progress:
    """Collects streaming progress through a StreamingQueryListener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.started: list[str] = []
        self.terminated: list[str] = []
        self.progress: dict[str, list] = {}
        self._cv = threading.Condition()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.started.append(str(event.id))

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.progress.setdefault(str(p.id), []).append({
                        "rows": p.numInputRows,
                        "duration_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                        "sink": p.sink.description,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated.append(str(event.id))
                    outer._cv.notify_all()

        self.listener = _L()

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        with self._cv:
            if not self._cv.wait_for(lambda: len(self.terminated) >= n, timeout):
                raise RuntimeError("streaming queries did not report termination")


def stream_ingest(ctx) -> Outcome:
    t = time.perf_counter()
    landing = os.path.join(ctx.work, "landing")
    truth = gen.stream_landing(ctx.seed, STREAM_EVENTS, STREAM_FILES, landing)
    expected_keys = verify.key_frame(truth.pop("silver_keys"))
    ctx.excluded_s += time.perf_counter() - t

    sampler = TreeSampler()
    sampler.start()
    spark = ctx.start_spark()
    from real_time_data_engineering_spark.streaming.ingest import run_bronze_to_silver

    progress = _Progress()
    spark.streams.addListener(progress.listener)
    out = Outcome()
    drains: list[dict] = []

    def drain(i: int, tag: str = "") -> dict:
        d = os.path.join(ctx.work, f"drain{tag}{i}")
        src = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(landing)
        n0 = len(progress.started)
        with ctx.tracer.span("streaming.ingest", index=i) as sp:
            t0 = time.perf_counter()
            run_bronze_to_silver(spark, src, f"{d}/bronze", f"{d}/silver", f"{d}/dlq", f"{d}/checkpoint")
            wall = time.perf_counter() - t0
        progress.wait_terminated(n0 + 2)
        ids = progress.started[n0 : n0 + 2]
        main = next(q for q in ids if any("ForeachBatch" in p["sink"] for p in progress.progress.get(q, [])))
        batches = [p for p in progress.progress[main] if p["rows"] > 0]
        rec = {"dir": d, "wall_s": wall, "batch_s": [p["duration_s"] for p in batches], "span": sp,
               "main": main, "dlq": next(q for q in ids if q != main), "n_batches": len(batches),
               "state_rows": progress.progress[main][-1]["state_rows"]}
        out.attempted += truth["lines"]
        return rec

    drains.append(drain(0))
    ctx.mark_setup()
    _window(ctx.seconds, lambda i: drains.append(drain(i)))
    peak = sampler.stop()

    warm = drains[1:]
    out.e2e = {
        "stage1_s": _median([d["wall_s"] for d in warm]),
        "stage2_s": _median([b for d in warm for b in d["batch_s"]]),
        "peak_pss_mb": peak,
    }
    local1 = None
    if ctx.tracer.enabled:
        # single-threaded baseline: one drain in a local[1] context
        spark.stop()
        spark = ctx.start_spark(master="local[1]", event_log=False)
        spark.streams.addListener(progress.listener)
        local1 = drain(0, tag="local1-")
        drains.append(local1)
    ctx.stop_spark()

    con = verify.connect(os.path.join(ctx.work, "duckdb"))
    for d in drains:
        obs = verify.stream_observed(con, d["dir"], expected_keys)
        out.fails += verify.check_stream(obs, truth)
        # each silver row beyond one per natural key is a failed event:
        # the engine dedups within a micro-batch only
        out.failed += obs["silver_rows"] - obs["silver_keys"]
    con.close()
    out.notes = {"drains": len(drains), "truth": truth, "events_per_s": [STREAM_EVENTS / d["wall_s"] for d in warm]}

    if ctx.tracer.enabled:
        log = ctx.event_log()
        per: list[dict] = []
        for d in warm:
            main = log.totals(log.jobs_where("sql.streaming.queryId", d["main"]))
            dlq = log.totals(log.jobs_where("sql.streaming.queryId", d["dlq"]))
            per.append({
                "streaming.ingest.jobs_per_batch": main["jobs"] / max(1, d["n_batches"]),
                "streaming.ingest.main_executor_run_s": main["executor_run_s"],
                "streaming.ingest.dlq_executor_run_s": dlq["executor_run_s"],
                "streaming.ingest.input_bytes_read": main["input_bytes"] + dlq["input_bytes"],
                "streaming.ingest.shuffle_write_bytes": main["shuffle_write_bytes"] + dlq["shuffle_write_bytes"],
                "streaming.ingest.silver_files": _files(d["dir"] + "/silver")[0],
                "streaming.ingest.bronze_files": _files(d["dir"] + "/bronze")[0],
                "streaming.ingest.gc_s": main["gc_s"] + dlq["gc_s"],
                "streaming.ingest.state_rows": d["state_rows"],
            })
        out.layers = {k: _median([r[k] for r in per]) for k in per[0]}
        out.layers["streaming.ingest.events_per_s_local1"] = STREAM_EVENTS / local1["wall_s"]
    return out


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


def query_suite(ctx) -> Outcome:
    t = time.perf_counter()
    corpus = os.path.join(ctx.work, "corpus")
    gen.query_corpus(ctx.seed, corpus, **CORPUS)
    ctx.excluded_s += time.perf_counter() - t

    sampler = TreeSampler()
    sampler.start()
    spark = ctx.start_spark()
    from real_time_data_engineering_spark.registry import get

    queries = {**ANALYTICS, **LADDER}
    specs = {q: get(name) for q, name in queries.items()}
    out = Outcome()
    cold: dict[str, object] = {}
    cold_s: dict[str, float] = {}
    times: dict[str, list[float]] = {q: [] for q in queries}
    spans: dict[str, list[dict]] = {q: [] for q in queries}

    def one_pass(i: int) -> None:
        for q, spec in specs.items():
            # no CacheManager reuse: each query pays for its own
            # persisted intermediates every time
            spark.catalog.clearCache()
            with ctx.tracer.span(f"registry.{q}", index=i) as sp:
                t0 = time.perf_counter()
                df = spec.spark(spark, corpus)
                if i == 0:
                    cold[q] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
            out.attempted += 1
            if i == 0:
                cold_s[q] = elapsed
            else:
                times[q].append(elapsed)
                spans[q].append(sp)

    one_pass(0)
    ctx.mark_setup()
    _window(ctx.seconds, one_pass)
    peak = sampler.stop()
    ctx.stop_spark()

    med = {q: _median(ts) for q, ts in times.items()}
    out.e2e = {
        "stage1_s": sum(med[q] for q in ANALYTICS),
        "stage2_s": sum(med[q] for q in LADDER),
        "peak_pss_mb": peak,
    }
    out.notes = {"passes": 1 + len(times["q1"]), "warm_s": med, "cold_s": cold_s}

    from real_time_data_engineering_spark.registry.dedup_text import _lsh_pairs_oracle

    con = verify.connect(os.path.join(ctx.work, "duckdb"))
    for name in ("region", "nation", "customer", "orders", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{corpus}/{name}.parquet')")
    for q in queries:
        if q == "d15":
            # the registry's recursive-CTE oracle is slow; its pair stage
            # plus a union-find here gives the same components
            pairs = con.execute(f"SELECT v1, v2 FROM ({_lsh_pairs_oracle(0.35, 64, 8)})").fetchall()
            want = verify.union_find_clusters(pairs)
        else:
            want = con.execute(specs[q].oracle).fetchdf()
        out.fails += verify.frame_diff(queries[q], cold[q], want)
    con.close()

    if ctx.tracer.enabled:
        log = ctx.event_log()
        for q in queries:
            per = [log.totals(log.jobs_between(s["start"], s["end"])) for s in spans[q]]
            exch = [log.exchanges(log.jobs_between(s["start"], s["end"])) for s in spans[q]]
            out.layers[f"registry.{q}.warm_s"] = med[q]
            out.layers[f"registry.{q}.cold_s"] = cold_s[q]
            out.layers[f"registry.{q}.jobs"] = _median([p["jobs"] for p in per])
            out.layers[f"registry.{q}.exchanges"] = _median(exch)
            out.layers[f"registry.{q}.executor_run_s"] = _median([p["executor_run_s"] for p in per])
            out.layers[f"registry.{q}.shuffle_write_bytes"] = _median([p["shuffle_write_bytes"] for p in per])
            if q in LADDER:
                out.layers[f"registry.{q}.spill_disk_bytes"] = _median([p["spill_disk_bytes"] for p in per])
    return out


WORKLOADS = {"medallion_batch": medallion_batch, "stream_ingest": stream_ingest, "query_suite": query_suite}

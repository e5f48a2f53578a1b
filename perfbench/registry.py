"""``registry_mix``: registered queries back to back, closed loop, one client.

The mix is a scan, a join and two operator-family queries (dedup, bloom)
at sf0.1 scale.  A run:

1. generates the fixture tables (once per checkout) and opens the DuckDB
   oracle over them, before the session starts;
2. starts the session and imports the registry;
3. check pass: every query against its DuckDB oracle through
   ``tests/oracle_compare.py``; this is also the first warm-up pass;
4. passes of ``noop`` writes, each in an order drawn from the seed.  The
   first ``WARM_PASSES`` of them are warm-up, on top of the check pass;
   the measured region runs whole passes after them until ``--seconds``
   have elapsed.  A sample is one ``queries[name](spark, sf)`` call plus its
   consuming ``noop`` write; ``latency_ms`` is the geometric mean of each
   query's median sample, ``tail_latency_ms`` the highest query tail.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

import fixtures
import harness
import stats
from harness import metric

MIX = [
    "pricing_summary",  # scan and aggregate
    "q3_shipping_priority",  # three-way join, shuffle
    "dedup_exact",  # operators.dedup
    "bloom_prefilter_dedup",  # operators.bloom
]
# A fixed warm-up, so every run measures the same stretch of the JVM's
# warm-up curve.  Pass times fall steeply over the first five passes after
# the check pass (medians 5.0, 3.9, 3.6, 3.5, 3.3 s on 4 cores), then by
# about 3 % a pass for at least five more; warming until they stop falling
# would not fit a run in its time budget, so the measured passes carry
# that drift.
WARM_PASSES = 5
PKG = harness.PACKAGE


def _tables_read(spark, con, sf: str, names: list[str]) -> tuple[dict[str, set], dict[str, list]]:
    """The check pass: run each query against its oracle and record which
    fixture tables it loads.  Returns (tables per query, problems per query)."""
    from odni_apache_beam_consumer_spark import catalog
    from tests.oracle_compare import run_one

    import tracing as tr

    current: set = set()

    def wrap(fn):
        def load_table(spark_, sf_dir, name):
            current.add(name)
            return fn(spark_, sf_dir, name)

        return load_table

    tables: dict[str, set] = {}
    problems: dict[str, list] = {}
    undo = tr.patch_functions(catalog, tr.package_modules(PKG), wrap, {"load_table"})
    try:
        for name in names:
            current.clear()
            try:
                problems[name] = run_one(spark, con, name, sf)
            except Exception as e:  # a failing query is a measured error, not a crash
                problems[name] = [f"raised {type(e).__name__}: {e}"]
            tables[name] = set(current)
            spark.catalog.clearCache()
    finally:
        tr.restore(undo)
    return tables, problems


def _execute(spark, fn, sf: str) -> None:
    fn(spark, sf).write.format("noop").mode("overwrite").save()


def run(env: harness.Environment, args, process_start: float) -> dict:
    env.prepare()
    t_gen = time.time()
    sf = fixtures.ensure_fixtures(env.data)
    from tests.oracle_compare import duckdb_con

    con = duckdb_con(sf)
    table_rows = {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf, f)).metadata.num_rows
        for f in os.listdir(sf) if f.endswith(".parquet")
    }
    gen_s = time.time() - t_gen
    env.preread(sf)

    t = time.time()
    spark = env.start_spark()
    launch_s = time.time() - t
    t = time.time()
    from odni_apache_beam_consumer_spark.plans.registry import all_queries

    queries = all_queries()
    import_s = time.time() - t
    rng = random.Random(args.seed)

    t_warm = time.time()
    tables, problems = _tables_read(spark, con, sf, MIX)
    con.close()
    failed_names = {n for n, p in problems.items() if p}
    for n in sorted(failed_names):
        harness.log(f"check failed: {n}: {problems[n][:2]}")
    rows_read = {n: sum(table_rows[t] for t in tables[n]) for n in MIX}
    runnable = [n for n in MIX if n not in failed_names]

    tracer = ledger = None
    group = {"name": None}
    if args.trace:
        import tracing as tr
        from odni_apache_beam_consumer_spark import catalog

        ledger = tr.JobLedger(spark)
        tracer = tr.Tracer(
            "warmup", job_count=lambda: len(ledger.job_ids(group["name"])) if group["name"] else 0,
        )
        binders = tr.package_modules(PKG)
        undo = tr.patch_functions(catalog, binders, tr.span_wrapper(tracer, "catalog.load_table"),
                                  {"load_table"})
        for m in tr.OPERATOR_MODULES:
            mod = __import__(f"{PKG}.operators.{m}", fromlist=[m])
            undo += tr.patch_functions(mod, binders, tr.span_wrapper(tracer, f"operators.{m}"))

    def traced_execute(tag: str, name: str) -> dict:
        fn = queries[name]
        stamps = {}
        for phase in ("construct", "execute"):
            group["name"] = f"perfbench-{tag}-{name}-{phase}"
            spark.sparkContext.setJobGroup(group["name"], name)
            t = time.perf_counter()
            with tracer.span(f"plans.{phase}"):
                if phase == "construct":
                    df = fn(spark, sf)
                else:
                    df.write.format("noop").mode("overwrite").save()
            stamps[phase] = time.perf_counter() - t
        group["name"] = None
        spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        return {
            "name": name, "construct_s": stamps["construct"], "execute_s": stamps["execute"],
            **{p: ledger.summarize(ledger.job_ids(f"perfbench-{tag}-{name}-{p}"))
               for p in ("construct", "execute")},
            "leaked_cached": ledger.persisted_rdds(),
        }

    def one_pass(tag: str) -> tuple[list, list, int]:
        """Run every runnable query once, in a seeded order."""
        order = list(runnable)
        rng.shuffle(order)
        samples, ledgers, errors = [], [], 0
        for name in order:
            t = time.perf_counter()
            try:
                if tracer is None:
                    _execute(spark, queries[name], sf)
                else:
                    ledgers.append(traced_execute(tag, name))
                samples.append((name, time.perf_counter() - t))
            except Exception as e:  # counted in the error rate
                errors += 1
                harness.log(f"{name} raised {type(e).__name__}: {e}")
            spark.catalog.clearCache()
        return samples, ledgers, errors

    pass_times: list[float] = []
    samples: list[tuple[str, float]] = []
    ledgers: list[dict] = []
    errors = passes = 0
    t_measure = None
    while True:
        tag = f"pass{len(pass_times)}"
        if tracer is not None:
            tracer.run_id = tag
        t_pass = time.time()
        got, led, err = one_pass(tag)
        pass_times.append(time.time() - t_pass)
        errors += err
        if len(pass_times) <= WARM_PASSES:
            continue
        if t_measure is None:
            t_measure = t_pass
        samples += got
        ledgers += led
        passes += 1
        if time.time() - t_measure >= args.seconds:
            break
    setup_s = t_measure - process_start - gen_s
    warmup_s = t_measure - t_warm
    harness.log(f"pass times {[round(x, 2) for x in pass_times]}; measured from pass{WARM_PASSES}")

    per_query: dict[str, list[float]] = {}
    for name, sec in samples:
        per_query.setdefault(name, []).append(sec * 1000.0)
    per_query = per_query or {"none": [float("inf")]}
    latency_ms = stats.mix_latency(per_query)
    tail_ms = stats.mix_tail(per_query)
    attempted = len(MIX) + len(runnable) * len(pass_times)
    failed = len(failed_names) + errors
    correct = failed == 0 and bool(samples)
    query_s = sum(s for _, s in samples)
    rows_per_s = sum(rows_read[n] for n, _ in samples) / query_s if query_s else 0.0
    harness.log(f"{passes} measured passes, {len(samples)} samples")

    if tracer is None:
        return harness.result(correct, attempted, failed, {
            "setup_s": metric(setup_s, "s"),
            "latency_ms": metric(latency_ms, "ms"),
            "tail_latency_ms": metric(tail_ms, "ms"),
            "rows_per_s": metric(rows_per_s, "rows/s"),
            "success_share": metric(1.0 - stats.error_rate(failed, attempted), "share"),
        })

    # ---- traced run: per-layer metrics, per measured pass ----
    tr.restore(undo)
    measured_runs = {f"pass{i}" for i in range(len(pass_times) - passes, len(pass_times))}
    selfs = tracer.self_times(measured_runs)
    per = 1.0 / passes

    def total(key: str, phase: str | None = None) -> float:
        phases = [phase] if phase else ["construct", "execute"]
        return sum(led[p][key] for led in ledgers for p in phases)

    construct_s = sum(led["construct_s"] for led in ledgers)
    execute_s = sum(led["execute_s"] for led in ledgers)
    jobs = total("jobs")
    values = {
        "session.launch_s": launch_s,
        "session.registry_import_s": import_s,
        "session.warmup_s": warmup_s,
        "catalog.load_table_calls": selfs.get("catalog.load_table", {}).get("calls", 0) * per,
        "catalog.load_table_s": selfs.get("catalog.load_table", {}).get("total_s", 0.0) * per,
        "plans.construct_s": construct_s * per,
        "plans.jobs": jobs * per,
        "plans.jobs_in_construct": total("jobs", "construct") * per,
        "plans.ms_per_job": 1000.0 * (construct_s + execute_s) / jobs if jobs else 0.0,
        "plans.stages": total("stages") * per,
        "plans.leaked_cached": sum(led["leaked_cached"] for led in ledgers) * per,
        "plans.execute_s": execute_s * per,
        "plans.tasks": total("tasks") * per,
        "plans.shuffle_read_bytes": total("shuffle_read_bytes") * per,
        "plans.shuffle_write_bytes": total("shuffle_write_bytes") * per,
        "plans.spill_bytes": total("spill_bytes") * per,
        "plans.task_busy_share": total("run_time_ms") / (1000.0 * (construct_s + execute_s) * env.cores),
        "trace.latency_ms": latency_ms,
        "trace.tail_latency_ms": tail_ms,
    }
    for m in tr.OPERATOR_MODULES:
        s = selfs.get(f"operators.{m}", {"calls": 0, "self_s": 0.0, "jobs": 0})
        values[f"operators.{m}.calls"] = s["calls"] * per
        values[f"operators.{m}.self_s"] = s["self_s"] * per
        values[f"operators.{m}.jobs"] = s["jobs"] * per
    tracer.write(
        os.path.join(env.traces, f"registry_mix-{args.seed}-{os.getpid()}.json"),
        {"environment": env.describe(), "ledgers": ledgers, "pass_times_s": pass_times,
         "samples": samples},
    )
    return harness.result(correct, attempted, failed, tr.layer_metrics(values, env.per_layer(), harness.log))

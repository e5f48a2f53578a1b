"""Benchmark harness: time every registered query at a given scale factor.

Usage:
    python bench.py                 # all queries at $SPARK_GRAFT_SF_DIR
    python bench.py q1 q2 ...       # just the named queries

Emits exactly ONE JSON line on stdout:
    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"pricing_summary": 0.41, ...}, "sf": 0.1}
All progress/log output goes to stderr so stdout stays machine-parseable.

Each query's full physical plan is executed JVM-side via a ``noop``-format
write (no rows cross the Py4J bridge, no driver collect) — the same shape
as a production job writing to a sink, which is what the 100 TB story
cares about.  A warmup pass of the flagship query first absorbs JVM/codegen
one-time costs so per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)


# Canary normalization: three pinned queries whose code has been untouched
# since round 10, with their quiet-window times from the round-10 bench
# (bench_out.json as committed at 8f4f5c2, sf0.1, local[32]).  A shared box
# running slow inflates all three together; ``canary_factor`` (median of
# min(pre,post)/base) tells a reader how much of a bench delta is machine
# state rather than code — round 11's 437 s vs 240 s total was a 1.9-2.7x
# canary slowdown, not a regression.  Only meaningful at sf0.1.
CANARY_BASE_SF01 = {
    "q6_forecast_revenue": 0.212,
    "pricing_summary": 0.359,
    "triangle_count": 3.035,
}
# Core count the base times were recorded at; also the $SPARK_GRAFT_CPUS
# default, so an unset variable reads as "at the base's scale".
CANARY_BASE_CPUS = 32


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from odni_apache_beam_consumer_spark.session import get_spark
    from odni_apache_beam_consumer_spark.plans.registry import all_queries

    holder = {"spark": get_spark(app_name="odni-spark-bench")}
    queries = all_queries()
    names = argv or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        _log(f"unknown queries: {unknown}; available: {sorted(queries)}")
        return 2

    def run_plan(name: str) -> float:
        spark = holder["spark"]
        t0 = time.monotonic()
        df = queries[name](spark, sf_dir)
        # noop sink: executes every stage of the plan, discards rows JVM-side.
        df.write.format("noop").mode("overwrite").save()
        sec = time.monotonic() - t0
        # Drop caches some operators persist (dedup self-join inputs) so
        # each query's number is independent of what ran before it.
        spark.catalog.clearCache()
        return sec

    # Warmup: absorb session/codegen/parquet-footer one-time costs.
    warm = "pricing_summary" if "pricing_summary" in queries else names[0]
    _log(f"warmup: {warm}")
    run_plan(warm)

    def run_canaries(tag: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for cname, base in CANARY_BASE_SF01.items():
            if cname not in queries:
                continue
            try:
                sec = round(min(run_plan(cname), run_plan(cname)), 3)
            except Exception as exc:
                # One broken canary must not abort the bench (and all
                # timings gathered so far) — skip it; the factor uses
                # whichever canaries survive on both sides.
                _log(f"canary[{tag}] {cname} FAIL (skipped): {exc}")
                continue
            out[cname] = sec
            _log(f"canary[{tag}] {cname}: {sec:.3f}s (base {base:.3f}s)")
        return out

    def _median(vals: list[float]) -> float:
        s = sorted(vals)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0

    def _factor_of(c: dict[str, float]) -> float | None:
        vals = [c[n] / CANARY_BASE_SF01[n] for n in c if n in CANARY_BASE_SF01]
        return _median(vals) if vals else None

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", CANARY_BASE_CPUS))
    canaries_apply = abs(_sf_from_dir(sf_dir) - 0.1) < 1e-9
    canary_pre = run_canaries("pre") if canaries_apply else {}
    # Degraded-box guard (r13 verdict item 2): BENCH_r13 started on a box
    # running 3.5x slower than the canary base and the whole cross-round
    # comparison was unusable.  If the pre-canary says the box is >1.5x
    # degraded, pause once and re-measure — a transient neighbor (another
    # bench, a GC storm) often clears; a genuinely slow box stays slow and
    # the artifact records both readings so the reader can adjudicate.
    # Arm the retry only at the canary base's own core count: the base
    # times were recorded at CANARY_BASE_CPUS, so at a lower $SPARK_GRAFT_CPUS a
    # factor > 1.5 is parallelism, not degradation, and sleeping would
    # just slow the driver's scaling run (the factor itself is still
    # recorded for the reader at any core count).
    canary_pre_first: dict[str, float] = {}
    pre_f0 = _factor_of(canary_pre)
    if (
        pre_f0 is not None
        and pre_f0 > 1.5
        and cpus >= CANARY_BASE_CPUS
    ):
        _log(
            f"WARNING: degraded box — canary_factor_pre {pre_f0:.3f} > 1.5;"
            " sleeping 60s and re-measuring the pre-canaries once"
        )
        time.sleep(60)
        retry = run_canaries("pre2")
        if retry:
            canary_pre_first = canary_pre
            canary_pre = retry
            pre_f1 = _factor_of(retry)
            _log(
                f"pre-canary retry: factor {pre_f0:.3f} -> {pre_f1:.3f}"
                + ("" if pre_f1 and pre_f1 <= 1.5 else
                   " — STILL DEGRADED; treat this run's numbers accordingly")
            )

    def restart_session() -> None:
        # Long bench sessions accumulate JVM state (codegen cache, shuffle
        # files, state-store dirs, GC heap history) — the aged-JVM stall
        # class that produced 5x-outlier cells in rounds 3-11.  Stopping the
        # SparkContext mid-run and re-warming resets that accumulation; the
        # py4j JVM itself persists, which is why SPARK_GRAFT_GC_LOG in
        # session.py exists for the deeper forensics.
        _log("mid-run session restart")
        holder["spark"].stop()
        holder["spark"] = get_spark(app_name="odni-spark-bench")
        run_plan(warm)
        # Mid-run canary (r13 verdict item 2): BENCH_r13's box recovered
        # from 3.5x to 1.05x *sometime* during the run; a third reading at
        # the restart lets a reader see when.  Record-only — the reported
        # canary_factor stays the pre/post mean so it remains comparable
        # with earlier rounds.
        if canaries_apply:
            canary_mid.update(run_canaries("mid"))

    restart_at = len(names) // 2 if len(names) > 100 else -1
    canary_mid: dict[str, float] = {}

    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        if i == restart_at:
            restart_session()
        try:
            sec = run_plan(name)
        except Exception as exc:  # keep benching; a broken query reports -1
            _log(f"FAIL {name}: {exc}")
            timings[name] = -1.0
            continue
        timings[name] = round(sec, 3)
        _log(f"{name}: {timings[name]:.3f}s")

    # Second pass for slow outliers: a query's first run can absorb a
    # noisy neighbor's cleanup (e.g. Python worker reaping from a prior
    # mapInPandas query) — re-run anything over threshold and keep the
    # min, so reported numbers reflect the query, not the schedule.
    for name, sec in list(timings.items()):
        if sec > 1.5:
            try:
                timings[name] = round(min(sec, run_plan(name)), 3)
                _log(f"{name} (rerun): {timings[name]:.3f}s")
            except Exception as exc:
                _log(f"rerun FAIL {name}: {exc}")

    canary_post = run_canaries("post") if canaries_apply else {}

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    result = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "n_queries": len(timings),
        "cpus": cpus,
    }
    if canary_pre and canary_post:
        # Honest estimator (r12 verdict): min(pre, post) understates a
        # mid-run box degradation; per canary use the mean of the two
        # factors (== the 2-point median), and report pre/post medians
        # separately so a drift is visible in the artifact itself.
        both = [
            c for c in CANARY_BASE_SF01
            if c in canary_pre and c in canary_post
        ]
        pre_f = _median([canary_pre[c] / CANARY_BASE_SF01[c] for c in both])
        post_f = _median([canary_post[c] / CANARY_BASE_SF01[c] for c in both])
        factor = _median(
            [
                (canary_pre[c] + canary_post[c]) / (2.0 * CANARY_BASE_SF01[c])
                for c in both
            ]
        )
        result["canary_pre"] = canary_pre
        result["canary_post"] = canary_post
        result["canary_base"] = CANARY_BASE_SF01
        if canary_mid:
            result["canary_mid"] = canary_mid
        if canary_pre_first:
            result["canary_pre_first"] = canary_pre_first
        result["canary_factor_pre"] = round(pre_f, 3)
        result["canary_factor_post"] = round(post_f, 3)
        result["canary_factor"] = round(factor, 3)
        _log(
            f"canary_factor: {factor:.3f}"
            f" (pre {pre_f:.3f}, post {post_f:.3f})"
        )

    def _fit_stdout_line(full: dict, budget: int = 1900) -> str:
        """Last stdout line must stay parseable under the driver's capture.

        The driver keeps only the final ~2000 chars of stdout (BENCH_r07/r08
        recorded a 2000-char ``tail`` with ``"parsed": null`` because the
        212-query line is ~6 KB and lost its head).  Emit the full map when
        it fits; otherwise keep the slowest queries that do fit and point at
        bench_out.json (committed, digest-stamped) for the complete map.
        """
        line = json.dumps(full)
        if len(line) <= budget:
            return line
        by_cost = sorted(
            full["queries"].items(), key=lambda kv: kv[1], reverse=True
        )
        for keep in range(len(by_cost), 0, -1):
            slim = dict(full, queries=dict(by_cost[:keep]))
            slim["queries_truncated_to_slowest"] = keep
            slim["queries_full"] = "bench_out.json"
            line = json.dumps(slim)
            if len(line) <= budget:
                return line
        return json.dumps(
            {k: v for k, v in full.items() if k != "queries"}
        )
    # Truncation-proof side artifact: the driver tail-captures stdout and
    # has lost the head of the one-line JSON before (BENCH_r02 kept only
    # the last ~71 of 126 queries).  The full result always lands in
    # bench_out.json at the repo root as well — but ONLY for full-registry
    # runs: a named-subset debug run must not clobber the committed
    # artifact (tests/test_artifacts.py gates it against the registry).
    if set(timings) == set(queries):
        try:
            from odni_apache_beam_consumer_spark.plans.registry import (
                registry_digest,
            )

            # The committed artifact (not the driver's stdout line) also
            # stamps the registry digest so test_artifacts.py can fail
            # loudly when a query/oracle changes without a bench rerun.
            with open(os.path.join(_REPO_DIR, "bench_out.json"), "w") as f:
                json.dump(
                    dict(result, registry_digest=registry_digest()),
                    f,
                    indent=2,
                    sort_keys=True,
                )
        except OSError as exc:
            _log(f"could not write bench_out.json: {exc}")
    print(_fit_stdout_line(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

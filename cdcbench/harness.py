"""Runs one workload end to end: contained session, set-up, inputs, warm-up,
timed rounds, the optional traced phase, checks, and the result record.

Everything the run writes stays under `<root>/.cdcbench/`: inputs, tables,
Spark's local and temporary directories and its event log live in a
per-process work directory that is removed at the end; result records,
span files and per-layer tables are kept in `.cdcbench/results/`.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import signal
import statistics
import time

from cdcbench.host import RssSampler, cpu_ticks, descendants, host_block, nproc, process_age_s

DRIVER_MEMORY = "2g"

# the end-to-end metrics BENCHMARK.json bounds; tails and lookup latency,
# whose run-to-run spread exceeds any bound this host allows, go to the
# record only
E2E_UNITS = {
    "apply_events_per_s": "events/s",
    "batch_latency_s_p50": "s",
    "bytes_written_per_event": "B/event",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def _contain(work: str) -> None:
    """Point every scratch directory Spark, the JVM and Python use into the
    work directory, before the JVM is launched."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "KMW_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "KMW_DRIVER_MEMORY": DRIVER_MEMORY,
    })


def _session(name: str, work: str, trace: bool):
    from kafka_mongo_watcher_spark.session import spark_session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
        })
    n = nproc()
    master = f"local[{n}]"
    return spark_session(app_name=f"cdcbench-{name}", cores=n, master=master, extra_conf=conf), master


def _first_udf_job(spark) -> None:
    """One row through the content fingerprint's pandas UDF (non-ASCII, so
    the UDF branch runs), checked against the plain-Python normalization."""
    from pyspark.sql import functions as F

    from kafka_mongo_watcher_spark.functions.content import normalize_content_py, sha256_hex_py
    from kafka_mongo_watcher_spark.operators.envelope import fingerprint_content

    raw = "café  \r\n"
    row = fingerprint_content(spark.range(1).select(F.lit(raw).alias("content_raw"))).first()
    if row["content_sha256"] != sha256_hex_py(normalize_content_py(raw)):
        raise RuntimeError("set-up UDF job returned a wrong fingerprint")


def _stop(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.time() < deadline + 10:
        time.sleep(0.1)


def _timed_rounds(wl, budget_s: float, label: str) -> list:
    """Rounds until `budget_s` of round time (apply + lookups) is spent; at
    least one. Each round is checked against the oracle outside the budget."""
    rounds, spent = [], 0.0
    while not rounds or spent < budget_s:
        wl.tracer.trace_id = f"{wl.name}/{label}{len(rounds)}"
        t0 = time.time()
        r = wl.round()
        spent += time.time() - t0
        try:
            wl.check(r)
        except Exception as e:  # noqa: BLE001 — an unreadable table matches no key
            print(f"check failed: {e!r}", flush=True)
            r.check = {"error": repr(e), "oracle_mismatch_keys": max(wl.expected.live_rows, 1)}
        rounds.append(r)
    return rounds


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10 samples
    beyond it; with 10 samples or fewer, the maximum."""
    s, n = sorted(xs), len(xs)
    if n > 10:
        return s[n - 11], round(100 * (n - 10) / n, 1)
    return s[-1], 100.0


def _p(xs: list[float], q: int) -> float | None:
    """q-th percentile (statistics.quantiles, exclusive method)."""
    if len(xs) < 2:
        return xs[0] if xs else None
    return statistics.quantiles(xs, n=100)[q - 1]


def _med(xs: list[float]) -> float | None:
    # None when every call it would summarize failed: the run still reports
    return statistics.median(xs) if xs else None


def end_to_end(rounds, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """End-to-end metrics (medians over rounds, percentiles over the
    pooled batches and lookups) and the detail behind them."""
    evps = [r.events / r.apply_s for r in rounds if r.apply_s > 0]
    batches = [b for r in rounds for b in r.batch_s]
    looks = [x for r in rounds for x in r.lookup_ms]
    bpe = [sum(sum(v) for v in r.files_by_kind.values()) / r.log_events for r in rounds]
    t_val, t_pct = tail(batches) if batches else (None, None)
    values = {
        "apply_events_per_s": _med(evps),
        "batch_latency_s_p50": _med(batches),
        "bytes_written_per_event": _med(bpe),
        "peak_rss_mb": peak_rss / 1e6,
        "setup_s": setup_s,
    }
    detail = {
        "rounds": len(rounds),
        "apply_events_per_s_per_round": evps,
        "batch_samples": len(batches),
        "batch_latency_s_tail": t_val,
        "batch_latency_tail_percentile": t_pct,
        "lookup_samples": len(looks),
        "lookup_ms_p50": _med(looks),
        "lookup_ms_p90": _p(looks, 90),
        "dedup_strategies": dict(collections.Counter(s for r in rounds for s in r.strategies)),
    }
    return values, detail


def tracing_overhead(results: str, name: str, seed: int, traced_evps: float | None) -> dict:
    """(untraced - traced) / untraced `apply_events_per_s`, the untraced
    figure taken from this seed's `--trace 0` record when one exists: both
    are then the first round of a fresh process on the same inputs."""
    path = os.path.join(results, f"{name}-seed{seed}-trace0.json")
    try:
        with open(path) as f:
            untraced = json.load(f)["end_to_end"]["apply_events_per_s"]["value"]
    except (OSError, ValueError, KeyError):
        untraced = None
    out = {"untraced_apply_events_per_s": untraced, "traced_apply_events_per_s": traced_evps}
    if untraced and traced_evps:
        out["overhead_ratio"] = (untraced - traced_evps) / untraced
    else:
        out["overhead_ratio"] = None
        out["note"] = f"not measured: run --trace 0 with seed {seed} first"
    return out


def run(name: str, seed: int, seconds: int, trace: bool, root: str) -> dict:
    """Run workload `name` and return its result record (also written to
    `.cdcbench/results/`)."""
    state = os.path.join(root, ".cdcbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    _contain(work)
    try:
        return _run(name, seed, seconds, trace, root, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(name: str, seed: int, seconds: int, trace: bool, root: str, work: str, results: str) -> dict:
    from cdcbench.trace import Tracer
    from cdcbench.workloads import WORKLOADS

    sampler = RssSampler().start()
    ticks0 = cpu_ticks()
    timeline = {}  # process age (s) at the end of each phase
    spark = None
    try:
        spark, master = _session(name, work, trace)
        timeline["session"] = process_age_s()
        _first_udf_job(spark)
        setup_s = timeline["setup"] = process_age_s()
        host = host_block(root, spark, master)

        tracer = Tracer(enabled=False)
        wl = WORKLOADS[name](spark, work, seed, tracer)
        wl.prepare()
        timeline["prepare"] = process_age_s()
        probe = {}
        if trace:
            # one traced round: the same first-round state `--trace 0` measures
            from cdcbench import layers
            from cdcbench.trace import install_wrappers

            tracer.enabled = True
            uninstall = install_wrappers(tracer)
            try:
                rounds = _timed_rounds(wl, 0, "t")
            finally:
                uninstall()
                tracer.enabled = False
            timeline["rounds"] = process_age_s()
            strategies = [s for r in rounds for s in r.strategies]
            plain = [s for s in strategies if s and not s.startswith("patch")]
            src, patch_src = wl.probe_batches()
            probe = layers.probes(spark, src, plain[0] if plain else "window", patch_src)
            timeline["probes"] = process_age_s()
        else:
            rounds = _timed_rounds(wl, seconds, "r")
            timeline["rounds"] = process_age_s()
        _stop(spark)
        spark = None
        timeline["stop"] = process_age_s()
    finally:
        if spark is not None:
            _stop(spark)
        sampler.stop()
    ticks1 = cpu_ticks()
    # timings of a run with a large steal share are suspect
    host["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)

    attempted = sum(r.attempted for r in rounds)
    failed = sum(r.failed for r in rounds)
    mismatches = sum(r.check["oracle_mismatch_keys"] for r in rounds)
    e2e, detail = end_to_end(rounds, setup_s, sampler.peak_bytes)
    record = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "host": host,
        "counts": {
            "log_events": rounds[0].log_events,
            "timed_events_per_round": rounds[0].events,
            "valid_events_per_round": rounds[0].valid_events,
            "log_valid_events": wl.expected.valid_events,
            "expected_live_rows": wl.expected.live_rows,
        },
        "timeline_s": timeline,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "detail": detail,
        "warmup": {
            "shape": wl.warmup_shape,
            # a cold first timed batch would stand out against the warm-up
            # batch of its shape and the timed batches after it
            "warm_batch_s_per_round": [r.warm_batch_s for r in rounds],
            "timed_batch_s_per_round": [r.batch_s for r in rounds],
        },
        "correctness": {
            "oracle_mismatch_keys": mismatches,
            "failed_op_ratio": failed / max(attempted, 1),
            "attempted": attempted,
            "failed": failed,
            "per_round": [r.check for r in rounds],
        },
    }
    if trace:
        from cdcbench import layers
        from cdcbench.eventlog import by_group, read_jobs

        spans = tracer.with_self_times()
        jobs = read_jobs(os.path.join(work, "eventlog"))
        overhead = tracing_overhead(results, name, seed, e2e["apply_events_per_s"])
        pl = layers.per_layer(
            rounds, spans, jobs, probe,
            events=sum(r.events for r in rounds),
            valid_events=sum(r.valid_events for r in rounds),
            warm_batches=wl.warm_batches, mismatches=mismatches,
            failed_ratio=failed / max(attempted, 1),
        )
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in pl.items()}
        record["trace"] = {
            "dedup_strategies": detail["dedup_strategies"],
            "tracing_overhead": overhead,
            "job_groups": by_group(jobs),
            "span_self_s": _self_by_name(spans),
        }
        with open(os.path.join(results, f"{name}-seed{seed}.spans.json"), "w") as f:
            json.dump(spans, f)
        with open(os.path.join(results, f"{name}-seed{seed}.layers.txt"), "w") as f:
            f.write(f"# {name} seed {seed}: per-layer metrics of the traced round\n")
            for k, (v, u) in pl.items():
                f.write(f"{k:<44} {v:>16.4f} {u}\n")
            o = overhead["overhead_ratio"]
            f.write(f"# tracing overhead (apply_events_per_s vs --trace 0, same seed): "
                    f"{'%.4f' % o if o is not None else overhead['note']}\n")
    with open(os.path.join(results, f"{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def _self_by_name(spans: list[dict]) -> dict:
    """Total duration and self time per span name."""
    out: dict = {}
    for s in spans:
        e = out.setdefault(s["name"], {"count": 0, "dur_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["dur_s"] += s["dur_s"]
        e["self_s"] += s["self_s"]
    return out

"""Per-layer metrics of the traced run: probes of single operators, the
benchmark's spans and Spark's event log grouped by job description.

Each metric is named `<module>.<metric>` after the engine module it
measures; README.md lists the end-to-end metric and workload each one
should move.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.operators import dedup, envelope, patch

from cdcbench.eventlog import by_group

# job groups (eventlog.job_group) reported per round, by metric-name slug
JOB_GROUPS = {
    "tuple_agg": "tuple+lineage agg",
    "mor_write": "MOR fused dedup+delta write",
    "cow_winners": "dedup winners + bucket counts",
    "cow_write": "COW write",
    "compact": "compact",
}
JOB_METRICS = {
    "cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "fetch_wait_s": "s", "spill_mb": "MB", "tasks": "count",
}

PAYLOAD = ("commit", "lang", "content", "content_sha256")


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0) -> float:
    return sum(xs) / len(xs) if xs else default


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _best_of_2(spark, name: str, make) -> float:
    """Warm, then timed: the smaller of two noop-sink runs of `make()`."""
    spark.sparkContext.setJobDescription(f"cdcbench probe: {name}")
    try:
        return min(_noop(make()), _noop(make()))
    finally:
        spark.sparkContext.setJobDescription(None)


def _prepare(src):
    prepared = envelope.transform_events(src, fingerprint=False)
    if "patch_mask" not in prepared.columns:
        prepared = prepared.withColumn("patch_mask", F.lit(None).cast("array<string>"))
    return prepared


def probes(spark, src, strategy: str, patch_src=None) -> dict:
    """Time single layers through a noop sink: scan, envelope, key tuples
    and the dedup strategy merge chose on one batch `src` of raw events;
    the content fingerprint and the patch fold on `patch_src`, a batch of
    partial updates, when the workload has one, else on `src`."""
    prepared = _prepare(src)
    out = {"scan_s": _best_of_2(spark, "scan", lambda: src)}
    out["transform_s"] = max(_best_of_2(spark, "transform", lambda: prepared) - out["scan_s"], 0.0)
    out["tuples_s"] = _best_of_2(spark, "tuples", lambda: dedup.key_order_tuples(
        prepared, dedup.KEY_COLS, dedup.ORDER_COLS, extra_cols=("partition_id",)))
    plain = prepared.drop("patch_mask")
    if strategy == "salted":
        out["dedup_s"] = _best_of_2(spark, "dedup", lambda: dedup.lww_dedup_salted(plain))
    elif strategy == "semijoin":
        out["dedup_s"] = _best_of_2(spark, "dedup", lambda: dedup.lww_dedup_semijoin(plain, has_dups=False))
    else:
        out["dedup_s"] = _best_of_2(spark, "dedup", lambda: dedup.lww_dedup(plain))

    patched = _prepare(patch_src) if patch_src is not None else prepared
    is_patch = (F.col("op") == "update") & F.col("patch_mask").isNotNull()
    writes_content = (~is_patch) | F.array_contains(F.col("patch_mask"), F.lit("content"))
    # the merge fingerprints post-dedup winners, or, for patch batches,
    # every row that writes content (before the fold)
    if patch_src is not None:
        to_fp = patched.where(writes_content)
    else:
        to_fp = dedup.lww_dedup(plain)
    to_fp = to_fp.where(F.col("content_raw").isNotNull()).persist()
    try:
        agg = to_fp.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.octet_length("content_raw") != F.length("content_raw")).cast("int")).alias("udf"),
        ).first()
        out["fingerprint_s"] = _best_of_2(spark, "fingerprint", lambda: envelope.fingerprint_content(to_fp))
        out["udf_rows_ratio"] = (agg["udf"] or 0) / max(agg["n"], 1)
    finally:
        to_fp.unpersist()

    fp = envelope.fingerprint_content(
        patched.withColumn("content_raw", F.when(writes_content, F.col("content_raw"))))
    cols = [c for c in PAYLOAD if c in fp.columns]
    out["fold_s"] = _best_of_2(spark, "fold", lambda: patch.fold_patch_batch(
        fp, cols, mask_aliases={"content_sha256": "content"}))
    return out


def _overlap(a0, a1, intervals) -> float:
    """Length of [a0, a1] covered by the union of `intervals`."""
    covered, cur = 0.0, None
    for lo, hi in sorted((max(lo, a0), min(hi, a1)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur is None or lo > cur[1]:
            if cur:
                covered += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    return covered + (cur[1] - cur[0] if cur else 0.0)


def per_layer(rounds, spans, jobs, probe: dict, *, events: int, valid_events: int,
              warm_batches, mismatches: int, failed_ratio: float) -> dict:
    """Every per-layer metric as {name: (value, unit)} from the traced
    rounds, their spans (with self times), the event log's jobs and the
    probes."""
    n_rounds = max(len(rounds), 1)
    round_spans = [s for s in spans if s["name"] == "bench.round"]
    in_rounds = [j for j in jobs
                 if j.end_ms and any(r["start"] <= j.start_ms / 1000 <= r["end"] for r in round_spans)]
    intervals = [(j.start_ms / 1000, j.end_ms / 1000) for j in in_rounds]

    warm = {str(b) for b in warm_batches}

    def timed(name: str) -> list[dict]:
        # the warm-up batches (or epoch 0) of every round are untimed
        return [s for s in spans if s["name"] == name
                and s["trace_id"].rsplit("/", 1)[-1] not in warm]

    epochs = timed("streaming.run.epoch") or timed("bench.batch")
    merges = timed("plans.lake.merge")
    merge_jobs = [[j for j in in_rounds if sp["start"] <= j.start_ms / 1000 <= sp["end"]] for sp in merges]

    m: dict[str, tuple[float, str]] = {
        "streaming.run.epoch_s": (_median([s["dur_s"] for s in epochs]), "s"),
        "streaming.run.self_s": (_median([s["self_s"] for s in epochs]), "s"),
        "sources.events.scan_s": (probe["scan_s"], "s"),
        "operators.envelope.transform_s": (probe["transform_s"], "s"),
        "operators.envelope.malformed_ratio": (1 - valid_events / max(events, 1), "ratio"),
        "operators.dedup.tuples_s": (probe["tuples_s"], "s"),
        "operators.dedup.dedup_s": (probe["dedup_s"], "s"),
        "operators.dedup.winner_ratio": (
            sum(r.merged_rows for r in rounds) / max(sum(r.valid_events for r in rounds), 1), "ratio"),
        "operators.patch.fold_s": (probe["fold_s"], "s"),
        "functions.content.fingerprint_s": (probe["fingerprint_s"], "s"),
        "functions.content.udf_rows_ratio": (probe["udf_rows_ratio"], "ratio"),
        "plans.lake.merge_s": (_median([s["dur_s"] for s in merges]), "s"),
        "plans.lake.merge_driver_s": (_median([
            s["dur_s"] - _overlap(s["start"], s["end"], intervals) for s in merges]), "s"),
        "plans.lake.jobs_per_merge": (_mean([len(js) for js in merge_jobs]), "count"),
        "plans.lake.stages_per_merge": (_mean([sum(j.stages_run for j in js) for js in merge_jobs]), "count"),
    }
    groups = by_group(in_rounds)
    for slug, group in JOB_GROUPS.items():
        g = groups.get(group, {})
        for k, unit in JOB_METRICS.items():
            m[f"plans.lake.{slug}.{k}"] = (g.get(k, 0.0) / n_rounds, unit)

    compacts = [s for s in spans if s["name"] == "plans.lake.compact_buckets"]
    for kind in ("merge", "compact"):
        sizes = [x for r in rounds for x in r.files_by_kind.get(kind, [])]
        n = sum(r.commits.get(kind, 0) for r in rounds)
        m[f"plans.lake.{kind}_files_written"] = (len(sizes) / max(n, 1), "count")
        m[f"plans.lake.{kind}_bytes_written"] = (sum(sizes) / max(n, 1), "B")
    m["plans.lake.compact_s"] = (sum(s["dur_s"] for s in compacts) / n_rounds, "s")
    # warm-up merges included: the cap may be reached in one
    m["plans.lake.auto_compactions"] = (
        sum(1 for s in spans if s["name"] == "plans.lake.merge"
            and (s.get("compacted_buckets") or 0) > 0) / n_rounds, "count")
    m["plans.lake.compact_bytes_rewritten"] = (
        groups.get("compact", {}).get("input_mb", 0.0) * 1e6 / n_rounds, "B")
    looks = [x for r in rounds for x in r.lookup_files]
    m["plans.lake.lookup_files_scanned"] = (_mean([x["scanned"] for x in looks]), "count")
    m["plans.lake.lookup_files_candidate"] = (_mean([x["candidate"] for x in looks]), "count")
    m["plans.lake.delta_chain_len"] = (_mean([x["delta_chain"] for x in looks]), "count")
    m["plans.lake.masked_lookup_share"] = (_mean([float(x["masked"]) for x in looks]), "ratio")
    m["check.oracle_mismatch_keys"] = (mismatches, "count")
    m["check.failed_op_ratio"] = (failed_ratio, "ratio")
    return m

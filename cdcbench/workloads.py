"""The benchmark's workloads. Each drives the engine only through its public
entry points: `datagen.generate_events` / `write_event_log`,
`operators.envelope.transform_events`, `LakeTable.create` / `merge` /
`compact` / `lookup` / `history` and `streaming.run.run_replay_stream`.

A workload writes its inputs once (`prepare`, untimed) and then runs rounds.
A round applies the whole log to a fresh table: the first batch of each
batch shape (or the stream's first epoch) and the first lookups are an
untimed warm-up that compiles every plan the rest reuses; the remaining
batches, the compaction and a closed loop of point lookups are timed.
`check` then compares the table with the oracle. Engine modules are looked
up at call time, so the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kafka_mongo_watcher_spark import datagen
from kafka_mongo_watcher_spark.operators import envelope
from kafka_mongo_watcher_spark.plans import lake
from kafka_mongo_watcher_spark.sources.events import read_event_log
from kafka_mongo_watcher_spark.streaming import run as srun

from cdcbench.oracles import Expected, collect_events


@dataclass
class Round:
    table_path: str
    events: int  # events the apply time covers
    log_events: int  # every event applied to the table
    valid_events: int  # of `events`, those with a valid key
    apply_s: float = 0.0
    batch_s: list = field(default_factory=list)  # per micro-batch: merge call or epoch interval
    strategies: list = field(default_factory=list)
    merged_rows: int = 0
    warm_batch_s: list = field(default_factory=list)  # each untimed warm-up merge or epoch
    lookup_ms: list = field(default_factory=list)
    lookup_files: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    lookup_mismatch: int = 0
    check: dict = field(default_factory=dict)
    files_by_kind: dict = field(default_factory=dict)  # commit kind -> file sizes
    commits: dict = field(default_factory=dict)  # commit kind -> count


def _entry_count(entry) -> int:
    # manifest bucket entries are inline file lists or {"ref", "n"} pointers
    return entry["n"] if isinstance(entry, dict) else len(entry)


class Workload:
    name = ""
    warm_batches = frozenset({0})  # batch ids merged as untimed warm-up
    n_lookups = 12  # timed lookups per round

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.in_dir = os.path.join(work, "inputs")
        self._tables = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def _new_table_path(self) -> str:
        self._tables += 1
        return os.path.join(self.work, "tables", f"t{self._tables:03d}")

    def _merge(self, table, batch_df, batch_id: int, r: Round, **kw) -> None:
        t0 = time.time()
        r.attempted += 1
        with self.tracer.span("bench.batch", batch=batch_id):
            try:
                s = table.merge(
                    envelope.transform_events(batch_df, fingerprint=False),
                    source_id="bench", batch_id=batch_id, **kw,
                )
            except Exception as e:  # noqa: BLE001 — counted, the run goes on
                print(f"merge {batch_id} failed: {e!r}", flush=True)
                r.failed += 1
                return
        r.batch_s.append(time.time() - t0)
        r.strategies.append(s.get("dedup_strategy"))
        r.merged_rows += int(s.get("merged_rows") or 0)

    def _compact(self, table, r: Round) -> None:
        r.attempted += 1
        try:
            table.compact()
        except Exception as e:  # noqa: BLE001
            print(f"compact failed: {e!r}", flush=True)
            r.failed += 1

    def lookups(self, table, r: Round, expected=None) -> None:
        """Closed loop of timed point reads, `lookup(repo, path).collect()`
        each, over the seeded key mix of `expected` (the oracle of the log
        the table holds; by default the whole log), after one untimed read
        of each kind of key: present, deleted and never-seen keys take
        different plans, and each plan's first read is cold. Every answer
        is checked against the oracle."""
        expected = expected or self.expected
        m = table.manifest
        warm = len(expected.warm_keys)
        for i, (repo, path) in enumerate(expected.warm_keys + expected.lookup_keys):
            r.attempted += 1
            with self.tracer.span("bench.lookup") as sp:
                t0 = time.time()
                try:
                    df = table.lookup(repo, path)
                    rows = df.collect()
                except Exception as e:  # noqa: BLE001
                    print(f"lookup failed: {e!r}", flush=True)
                    r.failed += 1
                    continue
                if i >= warm:
                    r.lookup_ms.append(1000 * (time.time() - t0))
            if not expected.lookup_ok((repo, path), rows):
                r.lookup_mismatch += 1
            if sp is not None and i >= warm:
                b = str(table.bucket_of(repo, path))
                deltas = _entry_count(m["deltas"].get(b, []))
                r.lookup_files.append({
                    "scanned": len(df.inputFiles()),
                    "candidate": _entry_count(m["buckets"].get(b, [])) + deltas,
                    "delta_chain": deltas,
                    "masked": b in set(m.get("masked_buckets", [])),
                })

    def check(self, r: Round) -> None:
        """Oracle check of the round's final table, and an inventory of every
        parquet data file written under it, by the kind of the commit
        (merge / compact) that wrote it."""
        table = lake.LakeTable(self.spark, r.table_path)
        r.check = self.expected.check_table(table)
        r.check["lookup_mismatch_keys"] = r.lookup_mismatch
        r.check["oracle_mismatch_keys"] += r.lookup_mismatch
        kinds = {h["version"]: h["commit_kind"] for h in table.history()}
        for kind in kinds.values():
            r.commits[kind] = r.commits.get(kind, 0) + 1
        data = os.path.join(r.table_path, "data")
        for d in os.listdir(data):
            kind = kinds.get(int(d[1:].split("_", 1)[0]), "other")
            for base, _, files in os.walk(os.path.join(data, d)):
                for fn in files:
                    if fn.endswith(".parquet"):
                        r.files_by_kind.setdefault(kind, []).append(
                            os.path.getsize(os.path.join(base, fn)))


class ReplayBulk(Workload):
    """Catch-up replay, then the live tail of partial updates, into one
    64-bucket MOR table.

    The catch-up is `generate_events` defaults as full-row upserts, merged
    with the CLI's `--salted` (two-phase LWW for the hot-repo skew). The
    tail continues the same log, but every update arrives as an
    updateDescription delta (`patch_mask`: content on even commit_seq, lang
    on odd) and ~5% of its bodies are non-ASCII, so `merge` takes the
    deferred masked-delta write and the pandas UDF. Lookups read the
    masked delta chains after tail batch 0; the delta cap is lowered so
    that tail batch 1 then auto-compacts every chain, which stands in for
    the explicit `compact()` that would otherwise follow."""

    name = "replay_bulk"
    warmup_shape = ("catch-up batch 0 and tail batch 0 merged into the round's table, "
                    "and one lookup of each key kind on its masked delta chains, untimed")
    # commit_seq bounds of the four batches: catch-up 0 (warm-up) and 1,
    # tail 0 (warm-up) and 1. A warm-up batch only has to compile its
    # shape's plans, so it is small.
    bounds = (0, 1_000, 5_000, 6_000, 7_000)
    tail_start = 5_000
    warm_batches = frozenset({0, 2})
    # batches 0-2 leave 3 deltas per bucket, one of them masked; batch 3
    # adds a fourth, one over the cap, and auto-compacts every bucket
    max_deltas_per_bucket = 3
    non_ascii_pct = 5
    # every present or deleted key's read resolves a masked chain, ~3x the
    # cost of a pruned read: fewer lookups, to fit the run
    n_lookups = 8

    def prepare(self) -> None:
        self.spark.conf.set("kmw.mor.maxDeltasPerBucket", str(self.max_deltas_per_bucket))
        ev = datagen.generate_events(self.spark, self.bounds[-1], seed=self.seed,
                                     gen_parallelism=4).persist()
        seq = F.col("commit_seq")
        # ~5% of tail bodies gain a decomposed "é" (e + U+0301): non-ASCII,
        # so they take the pandas UDF, and NFC changes their bytes
        non_ascii = F.pmod(F.xxhash64(F.lit(self.seed), F.lit("nonascii"), seq),
                           F.lit(100)) < F.lit(self.non_ascii_pct)
        tail = ev.where(seq >= self.tail_start).withColumn(
            "content_raw",
            F.when(non_ascii & F.col("content_raw").isNotNull(),
                   F.concat(F.col("content_raw"), F.lit("# café  \r\n")))
            .otherwise(F.col("content_raw")),
        ).withColumn(
            "patch_mask",
            F.when(F.col("op") == "update",
                   F.when(seq % 2 == 0, F.array(F.lit("content")))
                   .otherwise(F.array(F.lit("lang")))),
        )
        # two logs: `merge` takes the patch path for any batch that has a
        # patch_mask column, so the catch-up log has none
        self.logs = (self._write(ev.where(seq < self.tail_start), "catchup"),
                     self._write(tail, "tail"))
        ev.unpersist()
        self.events = collect_events(self.logs[0]) + collect_events(self.logs[1])
        self.expected = Expected(self.events, self.seed, patched=True, n_lookups=self.n_lookups)
        # the lookups run before batch 3: they see the log up to there
        self.at_lookups = Expected([e for e in self.events if e["commit_seq"] < self.bounds[3]],
                                   self.seed, patched=True, n_lookups=self.n_lookups)

    def _write(self, df, name: str):
        path = os.path.join(self.in_dir, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def _batch(self, b: int):
        lo, hi = self.bounds[b], self.bounds[b + 1]
        log = self.logs[lo >= self.tail_start]
        return log.where((F.col("commit_seq") >= lo) & (F.col("commit_seq") < hi))

    def probe_batches(self):
        """(the timed catch-up batch, the timed tail batch) for the layer probes."""
        return self._batch(1), self._batch(3)

    def round(self) -> Round:
        """Batches 0 and 2 and the first lookups are the untimed warm-up of
        their plans; `apply_s` is batches 1 and 3, the last with its
        auto-compaction, lookups left out."""
        timed = [e for e in self.events
                 if any(self.bounds[b] <= e["commit_seq"] < self.bounds[b + 1] for b in (1, 3))]
        r = Round(self._new_table_path(), events=len(timed), log_events=len(self.events),
                  valid_events=sum(1 for e in timed if e.get("repo") and e.get("path")))
        warm = Round(r.table_path, 0, 0, 0)
        with self.tracer.span("bench.round"):
            table = lake.LakeTable.create(self.spark, r.table_path, n_buckets=64, write_mode="mor")
            self._merge(table, self._batch(0), 0, warm, salted=True)
            self._merge(table, self._batch(1), 1, r, salted=True)
            self._merge(table, self._batch(2), 2, warm)
            self.lookups(table, r, expected=self.at_lookups)
            self._merge(table, self._batch(3), 3, r)
            r.apply_s = sum(r.batch_s)
        r.attempted += warm.attempted
        r.failed += warm.failed
        r.warm_batch_s = warm.batch_s
        return r


class _Stamped(list):
    """metrics_sink for run_replay_stream: stamps each committed epoch."""

    def append(self, s):
        s["_done"] = time.time()
        super().append(s)


class WatchTrickle(Workload):
    name = "watch_trickle"
    warmup_shape = "the stream's epoch 0 and one lookup of each key kind, untimed"
    chunk_events = 2_000
    n_chunks = 3  # chunk 0 is the stream's untimed warm-up epoch

    def prepare(self) -> None:
        n = self.chunk_events * self.n_chunks
        # `lang` evolves at the end of chunk 0: generate_events nulls it
        # before that point, and write_event_log writes chunk 0 without the
        # column, so the stream reads a physically older schema first and
        # the oracle sees the same nulls
        ev = datagen.generate_events(self.spark, n, seed=self.seed, gen_parallelism=4,
                                     evolution_frac=self.chunk_events / n).persist()
        self.log_dir = os.path.join(self.in_dir, "log")
        datagen.write_event_log(ev, self.log_dir, n_chunks=self.n_chunks,
                                evolution_seq=self.chunk_events)
        self.events = collect_events(ev)
        ev.unpersist()
        self.expected = Expected(self.events, self.seed, patched=False,
                                 n_lookups=self.n_lookups)
        self.timed_valid = sum(1 for e in self.events if e["commit_seq"] >= self.chunk_events
                               and e.get("repo") and e.get("path"))

    def probe_batches(self):
        return read_event_log(self.spark, os.path.join(self.log_dir, "chunk_0001")), None

    def round(self) -> Round:
        """The stream over every chunk; its first epoch is the untimed
        warm-up, and so are the first 2 lookups."""
        n = self.chunk_events * self.n_chunks
        r = Round(self._new_table_path(), events=n - self.chunk_events, log_events=n,
                  valid_events=self.timed_valid)
        sink = _Stamped()
        with self.tracer.span("bench.round") as round_span:
            lake.LakeTable.create(self.spark, r.table_path)  # the CLI's defaults
            t_start = time.time()
            r.attempted += self.n_chunks
            try:
                srun.run_replay_stream(
                    self.spark, log_dir=self.log_dir, table_path=r.table_path,
                    checkpoint_dir=r.table_path + "_ckpt", metrics_sink=sink,
                )
            except Exception as e:  # noqa: BLE001
                print(f"stream failed: {e!r}", flush=True)
            committed = [s for s in sink if not s.get("skipped")]
            r.failed += self.n_chunks - len(committed)
            done = [t_start] + [s["_done"] for s in committed]
            # epoch 0 warms the stream: every timing starts at its commit
            r.warm_batch_s = [done[1] - done[0]] if len(done) > 1 else []
            r.batch_s = [b - a for a, b in zip(done[1:], done[2:])]
            r.apply_s = done[-1] - done[1] if len(done) > 2 else 0.0
            for s in committed[1:]:
                r.strategies.append(s.get("dedup_strategy"))
                r.merged_rows += int(s.get("merged_rows") or 0)
            if round_span is not None:
                for i, (a, b) in enumerate(zip(done, done[1:])):
                    ep = self.tracer.add("streaming.run.epoch", a, b, parent=round_span["id"], batch=i)
                    self.tracer.adopt(ep, ("plans.lake.merge", "operators.envelope.transform_events"))
            self.lookups(lake.LakeTable(self.spark, r.table_path), r)
        return r


WORKLOADS = {w.name: w for w in (ReplayBulk, WatchTrickle)}

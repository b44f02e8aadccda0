"""Correctness gate: the final table against a sequential oracle.

The whole event log is replayed in plain Python — `oracle.replay_oracle`
for row-level upserts, `patch_oracle` below for logs whose updates carry a
`patch_mask` — and every key of the table is compared with it on (commit,
lang, content_sha256), together with the exact live-row count. The logs
are small enough that every key, not a sample, is checked. A mismatch is
counted, never hidden: the run still reports it.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.functions.content import normalize_content_py, sha256_hex_py
from kafka_mongo_watcher_spark.oracle import replay_oracle

COMPARE_COLS = ("commit", "lang", "content_sha256")


def patch_oracle(events: list[dict]) -> dict[tuple[str, str], tuple]:
    """Sequential per-column replay (tests/test_patch.py's oracle, over the
    event-log schema): an update with a non-null `patch_mask` writes only
    the masked columns ("content" also writes content_sha256); every other
    event writes every column; a delete writes NULLs and tombstones the
    key, and a later patch revives it with only the patched columns set."""
    state: dict = {}
    alive: dict = {}
    for e in sorted(events, key=lambda e: (e["commit_seq"], e.get("offset", 0))):
        if not e.get("repo") or not e.get("path"):
            continue
        key = (e["repo"], e["path"])
        vals = {
            "commit": e.get("commit"),
            "lang": e.get("lang"),
            "content_sha256": sha256_hex_py(normalize_content_py(e.get("content_raw"))),
        }
        mask = e.get("patch_mask")
        if e["op"] == "delete":
            state[key] = dict.fromkeys(COMPARE_COLS)
            alive[key] = False
        elif e["op"] == "update" and mask is not None:
            cur = dict(state.get(key) or dict.fromkeys(COMPARE_COLS))
            for c in mask:
                cur["content_sha256" if c == "content" else c] = vals[
                    "content_sha256" if c == "content" else c
                ]
            state[key] = cur
            alive[key] = True
        else:
            state[key] = vals
            alive[key] = True
    return {k: tuple(v[c] for c in COMPARE_COLS) for k, v in state.items() if alive[k]}


def row_oracle(events: list[dict]) -> dict[tuple[str, str], tuple]:
    return {k: tuple(v[c] for c in COMPARE_COLS) for k, v in replay_oracle(events).items()}


class Expected:
    """Oracle state of one event log (every key), its exact live-row count,
    and a seeded mix of lookup keys: present, deleted and never-seen."""

    def __init__(self, events: list[dict], seed: int, *, patched: bool, n_lookups: int):
        self.n_events = len(events)
        self.valid_events = sum(1 for e in events if e.get("repo") and e.get("path"))
        self.state = patch_oracle(events) if patched else row_oracle(events)
        seen = sorted({(e["repo"], e["path"]) for e in events if e.get("repo") and e.get("path")})
        # a fixed share of each kind: a present key's lookup scans a file,
        # an absent one is mostly pruned, and the median must not move with
        # the mix
        n_deleted = n_unseen = round(0.15 * n_lookups)
        rng = random.Random(seed)
        kinds = (
            rng.sample([k for k in seen if k in self.state], n_lookups - n_deleted - n_unseen),
            rng.sample([k for k in seen if k not in self.state], n_deleted),
            [(f"org-9999/absent-{i:04d}", f"src/none/file_{i:03d}.py") for i in range(n_unseen)],
        )
        self.warm_keys = [keys[0] for keys in kinds]  # one key of each kind
        self.lookup_keys = [k for keys in kinds for k in keys]
        rng.shuffle(self.lookup_keys)

    @property
    def live_rows(self) -> int:
        return len(self.state)

    def lookup_ok(self, key, rows) -> bool:
        want = self.state.get(key)
        if want is None:
            return len(rows) == 0
        return len(rows) == 1 and tuple(rows[0][c] for c in COMPARE_COLS) == want

    def check_table(self, table) -> dict:
        """Keys whose row differs from the oracle (missing, extra or
        different) plus |live rows - expected live rows|."""
        snap = table.snapshot()
        sel = [F.col(c) if c in snap.columns else F.lit(None).alias(c) for c in COMPARE_COLS]
        rows = snap.select("repo", "path", *sel).collect()
        got = {(r["repo"], r["path"]): tuple(r[c] for c in COMPARE_COLS) for r in rows}
        bad_keys = sum(1 for k in got.keys() | self.state.keys() if got.get(k) != self.state.get(k))
        return {
            "keys_compared": len(got.keys() | self.state.keys()),
            "mismatch_keys": bad_keys,
            "live_rows": len(rows),
            "expected_live_rows": self.live_rows,
            "oracle_mismatch_keys": bad_keys + abs(len(rows) - self.live_rows),
        }


def collect_events(log: DataFrame) -> list[dict]:
    """Every event of `log` as a dict, for the plain-Python oracles."""
    cols = [c for c in ("partition_id", "offset", "op", "repo", "path", "commit",
                        "lang", "content_raw", "commit_seq", "patch_mask") if c in log.columns]
    return [r.asDict() for r in log.select(*cols).collect()]

"""The lakehouse lifecycle the benchmark measures, through the public API.

One run walks the lifecycle of a transcripts table in one driver process:

1. ingest_maintain: append the staged input as micro-batches to an empty
   table, then compact -> Z-order cluster -> rewrite manifests -> expire.
2. late_corrections: MERGE INTO steps that correct every turn of a few
   dozen skew-drawn conversations (plus one new conversation each), each
   followed by read-your-writes point lookups at head.
3. read_mix: rounds of head point lookups, lookups pinned to older
   snapshots, and one training-data export pinned to the maintained
   snapshot.

Every run builds its table through phase 1, so the ingest and
maintenance metrics exist on every workload. The workload named on the
command line (late_corrections or read_mix) gets the measurement window:
its phase runs as many units of work as ``--seconds`` buys at the nominal
unit costs below, and the other phase runs one unit, so every metric
exists on every workload while the named one carries most samples. The
amount of work is fixed by (workload, seconds), never by the clock, so
every run with the same arguments does the same work.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import sys
import time
import traceback

from pyspark.sql import Observation
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import (
    cluster,
    compact,
    expire_snapshots,
    merge_into,
    rewrite_manifests,
)
from e_commerce_lakehouse_spark.operators import transcripts as tx
from e_commerce_lakehouse_spark.synth import SKEW_P, transcripts_df
from e_commerce_lakehouse_spark.table.meta import Table
from e_commerce_lakehouse_spark.table.scan import planned_entries, scan
from e_commerce_lakehouse_spark.table.writer import append_dataframe

import reference
from reference import COST_COLS, SFT_COLS, TRANSCRIPT_COLS, checksum_aggs
from spans import Tracer, median, tail

N_TURNS = 40_000
AVG_TURNS_PER_CONV = 20  # synth default
N_BATCHES = 8
ROWS_PER_FILE = N_TURNS // N_BATCHES // 16  # ~16 small files per micro-batch
COMPACT_TARGET_BYTES = 256 * 1024
CLUSTER_TARGET_BYTES = 64 * 1024
MERGE_TARGET_BYTES = 256 * 1024
CONV_DRAWS_PER_STEP = 24
NEW_TURNS_PER_STEP = 4
READBACKS_PER_STEP = 6  # corrected conversations read back after each merge
LOOKUPS_PER_ROUND = 8  # head lookups; as many time-travel lookups
SETUP_REPS = 3
WARMUP_CONVS = 8

# nominal seconds per unit of work on 4 cores; they only turn --seconds
# into a fixed amount of work
STEP_S, ROUND_S = 3.5, 5.0

# operation types that run Spark jobs (manifest rewrite and expire run none)
JOB_OPS = ("append", "compact", "cluster", "merge", "lookup", "timetravel", "export")


def plan(workload: str, seconds: int) -> dict:
    """Units of work per phase: the named workload's phase gets the window."""
    units = {"steps": 1, "rounds": 1}
    if workload in ("late_corrections", "all"):
        units["steps"] = max(1, round(seconds / STEP_S))
    if workload in ("read_mix", "all"):
        units["rounds"] = max(1, round(seconds / ROUND_S))
    return units


def marker(step: int) -> str:
    return f"[fix {step:02d}] "


def conv_name(rank: int) -> str:
    return "conv-%012d" % rank


def new_conv_name(step: int) -> str:
    return "conv-new-%04d" % step


def parquet_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def lookup_aggs(mark: str) -> list:
    """Per-conversation read-back facts: with turn indexes 0..n-1 the
    sums of idx and idx^2 expose duplicate or missing keys."""
    idx = F.col("turn_idx").cast("long")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("text").cast("long")).alias("chars"),
        F.sum(idx).alias("s1"),
        F.sum(idx * idx).alias("s2"),
        F.sum(F.col("text").startswith(mark).cast("long")).alias("marked"),
    ]


def consume(df, aggs) -> dict:
    """Run ``df`` to completion into the noop sink (every column is
    produced) while an observation computes ``aggs`` over the rows."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return {k: (int(v) if v is not None else 0) for k, v in obs.get.items()}


def expected_lookup(n: int, chars: int, mark: str) -> dict:
    return {"rows": n, "chars": chars + n * len(mark), "s1": n * (n - 1) // 2,
            "s2": (n - 1) * n * (2 * n - 1) // 6, "marked": n}


class Lifecycle:
    def __init__(self, spark, workdir: str, seed: int, workload: str, seconds: int,
                 tracer: Tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.units = plan(workload, seconds)
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.n_convs = max(4, N_TURNS // AVG_TURNS_PER_CONV)

    # ---------- bookkeeping ----------

    def _add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def _layer(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _op(self, kind: str, fn, check=None):
        """One attempted operation: timed wall (seconds), failures and a
        failed correctness check both count against it."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.operation(kind):
                out = fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {kind} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None, None
        wall = time.perf_counter() - t0
        if check is not None and not check(out):
            self.failed += 1
            print(f"[perfbench] {kind}: wrong result {out!r}", file=sys.stderr)
        return out, wall

    def _verify(self, name: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            print(f"[perfbench] check {name} failed: got {got!r}, want {want!r}", file=sys.stderr)

    def _skew_conv(self, rng: random.Random) -> str:
        return conv_name(int(self.n_convs * rng.random() ** SKEW_P))

    # ---------- warm-up and set-up ----------

    def warm_up(self) -> None:
        """Untimed pass over every timed code path on a table of a few
        staged conversations, so codegen, class loading and Python-worker
        forks are paid before timing. (Set-up runs first; its median
        absorbs the cold first staging.)"""
        spark, root = self.spark, os.path.join(self.workdir, "warmup")
        convs = sorted(self.conv_stats)[-WARMUP_CONVS:]
        src = spark.read.parquet(self.ref["input_dir"]).where(F.col("conv_id").isin(convs))
        tbl = Table.create(os.path.join(root, "table"))
        bucket = F.pmod(F.xxhash64("conv_id", "turn_idx"), 2)
        for b in range(2):
            append_dataframe(spark, tbl, src.where(bucket == b), rows_per_file=100)
        compact(spark, tbl, target_bytes=COMPACT_TARGET_BYTES)
        cluster(spark, tbl, curve="zorder", target_bytes=8 * 1024)
        rewrite_manifests(tbl)
        expire_snapshots(tbl)
        sid = tbl.current_snapshot_id()
        conv = convs[0]
        merge_into(spark, tbl, src.where(F.col("conv_id") == conv)
                   .withColumn("text", F.concat(F.lit(marker(0)), "text")),
                   target_bytes=MERGE_TARGET_BYTES)
        consume(scan(spark, tbl, conv_id=conv), lookup_aggs(marker(0)))
        consume(scan(spark, tbl, snapshot_id=sid, conv_id=conv), lookup_aggs(""))
        planned_entries(tbl, sid, conv_id=conv)
        pinned = scan(spark, tbl, snapshot_id=sid)
        consume(tx.sft_examples(pinned), checksum_aggs(SFT_COLS))
        consume(tx.conversation_cost(pinned), checksum_aggs(COST_COLS))
        shutil.rmtree(root, ignore_errors=True)

    def _schedule(self) -> list[list[str]]:
        """Conversations each correction step rewrites, drawn from the
        synth skew (hot conversations come back); index 0 is unused."""
        rng = random.Random(self.seed * 1_000_003 + 17)
        steps: list[list[str]] = [[]]
        for _ in range(self.units["steps"]):
            drawn = {self._skew_conv(rng) for _ in range(CONV_DRAWS_PER_STEP)}
            steps.append(sorted(c for c in drawn if c in self.conv_stats))
        return steps

    def _stage(self, rep_dir: str) -> dict:
        """Stage the seeded input (synth.transcripts_df) and the correction
        batches as plain parquet, and build every reference answer."""
        input_dir = os.path.join(rep_dir, "input")
        tmp_dir = os.path.join(rep_dir, "tmp")
        transcripts_df(self.spark, N_TURNS, seed=self.seed).write.parquet(input_dir)
        ref = reference.build(input_dir, tmp_dir)
        self.conv_stats = ref.pop("conv_stats")
        ref["input_dir"] = input_dir
        ref["input_bytes"] = parquet_bytes(input_dir)
        ref["steps"] = self._schedule()
        ref["step_dirs"] = reference.stage_corrections(
            input_dir, os.path.join(rep_dir, "corrections"), tmp_dir, self.seed,
            ref["steps"], NEW_TURNS_PER_STEP)
        ref["step_bytes"] = {k: parquet_bytes(d) for k, d in ref["step_dirs"].items()}
        return ref

    def setup(self) -> None:
        """Stage inputs and references SETUP_REPS times, each into a fresh
        directory; setup_s is the median, the last staging is used."""
        walls = []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(self.workdir, f"setup-{rep}")
            t0 = time.perf_counter()
            with self.tracer.span("bench.setup"):
                ref = self._stage(rep_dir)
            walls.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(rep_dir, ignore_errors=True)
        self.ref = ref
        self._add("setup_s", median(walls))

    # ---------- phase 1: ingest + maintain ----------

    def _new_files(self, tbl: Table) -> int:
        """Bytes of data files that became live since the last call."""
        live = {e.path: e.bytes for e in tbl.entries()}
        added = sum(b for p, b in live.items() if p not in self.live)
        self.live = live
        return added

    def ingest_maintain(self) -> None:
        spark, tr = self.spark, self.tracer
        tbl = self.table = Table.create(os.path.join(self.workdir, "table"))
        self.live = {}
        src = spark.read.parquet(self.ref["input_dir"])
        bucket = F.pmod(F.xxhash64("conv_id", "turn_idx"), N_BATCHES)
        append_wall = 0.0
        for b in range(N_BATCHES):
            def append(b=b):
                with tr.span("table.writer.append_dataframe"):
                    return append_dataframe(spark, tbl, src.where(bucket == b),
                                            rows_per_file=ROWS_PER_FILE)
            _, wall = self._op("append", append)
            if wall is not None:
                append_wall += wall
                self._layer("table.writer.append_s", wall)
            self.written += self._new_files(tbl)
        self.delivered += self.ref["input_bytes"]
        self._add("ingest_turns_per_s", N_TURNS / append_wall)

        # (op type, span / layer prefix, call, layer metrics from its result)
        steps = (
            ("compact", "operators.compact.compact",
             lambda: compact(spark, tbl, target_bytes=COMPACT_TARGET_BYTES),
             lambda m: {"task_read_s": m["phase"]["task_read_sec"],
                        "task_write_s": m["phase"]["task_write_sec"],
                        "groups": m["planned_groups"]}),
            ("cluster", "operators.cluster.cluster",
             lambda: cluster(spark, tbl, curve="zorder", target_bytes=CLUSTER_TARGET_BYTES),
             lambda m: {"output_files": m["output_files"]}),
            ("rewrite_manifests", "operators.manifest_rewrite.rewrite_manifests",
             lambda: rewrite_manifests(tbl),
             lambda m: {"manifests_after": m["manifests_after"]}),
            ("expire", "operators.expire.expire",
             lambda: expire_snapshots(tbl),
             lambda m: {"deleted_files": m["deleted_data_files"]}),
        )
        maintain_wall = 0.0
        for kind, name, call, facts in steps:
            def run(name=name, call=call):
                with tr.span(name):
                    return call()
            m, wall = self._op(kind, run)
            if wall is None:
                continue
            maintain_wall += wall
            layer = name.rsplit(".", 1)[0]
            self._layer(f"{name}_s", wall)
            for k, v in facts(m).items():
                self._layer(f"{layer}.{k}", v)
            self.written += self._new_files(tbl)
        self._add("maintain_turns_per_s", tbl.total_rows() / maintain_wall)

        # north rule: the maintained table holds exactly the staged turns
        with tr.span("bench.verify"):
            got = consume(scan(spark, tbl), checksum_aggs(TRANSCRIPT_COLS))
        self._verify("maintained table == staged input", got, self.ref["input"])
        self.maintained_sid = tbl.current_snapshot_id()

    # ---------- phase 2: late corrections ----------

    def _lookup(self, kind: str, conv: str, sid: int | None, state: dict) -> None:
        """Timed point lookup of ``conv`` at ``sid`` (None = head),
        checked against the corrections applied up to that snapshot."""
        spark, tbl, tr = self.spark, self.table, self.tracer
        if tr.enabled:
            t0 = time.perf_counter()
            with tr.span("table.scan.planned_entries"):
                files = len(planned_entries(tbl, sid, conv_id=conv))
            self._layer("table.scan.plan_ms", (time.perf_counter() - t0) * 1000)
            self._layer("table.scan.files_planned", files)
        mark = state.get(conv, "")
        n, chars = self.conv_stats[conv]
        want = expected_lookup(n, chars, mark)

        def run():
            with tr.span("table.scan.scan"):
                df = scan(spark, tbl, snapshot_id=sid, conv_id=conv)
            with tr.span("spark.write_noop"):
                return consume(df, lookup_aggs(mark))
        _, wall = self._op(kind, run, check=lambda got: got == want)
        if wall is not None:
            self._add("lookup_ms" if kind == "lookup" else "timetravel_ms", wall * 1000)

    def _probe_entries(self, sid: int | None) -> None:
        """Traced only: cost of a cold metadata read (fresh Table.load +
        entries) at ``sid``; None = head."""
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        with self.tracer.span("table.meta.entries"):
            Table.load(self.table.root).entries(sid)
        name = "table.meta.entries_ms" if sid is None else "table.meta.entries_pinned_ms"
        self._layer(name, (time.perf_counter() - t0) * 1000)

    def late_corrections(self) -> None:
        spark, tbl, tr = self.spark, self.table, self.tracer
        rng = random.Random(self.seed * 1_000_003 + 23)
        state: dict[str, str] = {}
        # snapshots retained by expire hold the staged input unchanged
        self.history = [(sid, {}) for sid in tbl.snapshot_ids()]
        inserted = 0
        for k in range(1, self.units["steps"] + 1):
            src = spark.read.parquet(self.ref["step_dirs"][k]).select(*TRANSCRIPT_COLS)
            n_live = len(self.live)

            def run():
                with tr.span("operators.merge.merge_into"):
                    return merge_into(spark, tbl, src, target_bytes=MERGE_TARGET_BYTES)
            m, wall = self._op("merge", run)
            self.delivered += self.ref["step_bytes"][k]
            rewritten = self._new_files(tbl)
            self.written += rewritten
            if m:
                self._add("merge_s", wall)
                self._layer("operators.merge.touched_file_ratio", m["touched_files"] / n_live)
                self._layer("operators.merge.rewritten_bytes", rewritten)
            new = new_conv_name(k)
            # each inserted turn's text is the marker + a 32-char md5 hex
            self.conv_stats[new] = (NEW_TURNS_PER_STEP, NEW_TURNS_PER_STEP * 32)
            inserted += NEW_TURNS_PER_STEP
            for conv in self.ref["steps"][k] + [new]:
                state[conv] = marker(k)
            self.history.append((tbl.current_snapshot_id(), dict(state)))
            self._probe_entries(None)
            fixed = self.ref["steps"][k]
            for conv in rng.sample(fixed, min(READBACKS_PER_STEP, len(fixed))) + [new]:
                self._lookup("lookup", conv, None, state)
        self.state = state
        with tr.span("bench.verify"):
            rows = consume(scan(spark, tbl), [F.count(F.lit(1)).alias("rows")])["rows"]
            keys = consume(scan(spark, tbl).select("conv_id", "turn_idx").distinct(),
                           [F.count(F.lit(1)).alias("rows")])["rows"]
        self._verify("rows == base + inserted", rows, N_TURNS + inserted)
        self._verify("no duplicate keys", keys, rows)

    # ---------- phase 3: read mix ----------

    def _export(self) -> None:
        """Training-data export pinned to the maintained snapshot."""
        spark, tbl, tr, sid = self.spark, self.table, self.tracer, self.maintained_sid
        if tr.enabled:
            t0 = time.perf_counter()
            with tr.span("table.scan.read_noop"):
                got = consume(scan(spark, tbl, snapshot_id=sid), checksum_aggs(TRANSCRIPT_COLS))
            self._layer("table.scan.read_s", time.perf_counter() - t0)
            self._verify("pinned full scan == staged input", got, self.ref["input"])
        walls = {}

        def run():
            pinned = scan(spark, tbl, snapshot_id=sid)
            for name, op, cols in (("sft_examples", tx.sft_examples, SFT_COLS),
                                   ("conversation_cost", tx.conversation_cost, COST_COLS)):
                t0 = time.perf_counter()
                with tr.span(f"operators.transcripts.{name}"):
                    got = consume(op(pinned), checksum_aggs(cols))
                walls[name] = time.perf_counter() - t0
                if got != self.ref["sft" if name == "sft_examples" else "cost"]:
                    return False
            return True
        _, wall = self._op("export", run, check=lambda ok: ok)
        if wall is not None:
            self._add("export_s", wall)
            self._layer("operators.transcripts.sft_examples_s", walls["sft_examples"])
            self._layer("operators.transcripts.conversation_cost_s", walls["conversation_cost"])

    def read_mix(self) -> None:
        rng = random.Random(self.seed * 1_000_003 + 29)
        older = self.history[:-1]
        base_convs = sorted(c for c in self.conv_stats if not c.startswith("conv-new-"))
        pinned = itertools.count()  # older snapshots in turn: the same mix every run
        for _ in range(self.units["rounds"]):
            with self.tracer.span("phase.read_round"):
                self._export()
                self._probe_entries(older[0][0])
                for _ in range(LOOKUPS_PER_ROUND):
                    conv = self._skew_conv(rng)
                    if conv not in self.conv_stats:
                        conv = rng.choice(base_convs)
                    self._lookup("lookup", conv, None, self.state)
                    sid, state = older[next(pinned) % len(older)]
                    conv = self._skew_conv(rng)
                    if conv not in self.conv_stats:
                        conv = rng.choice(base_convs)
                    self._lookup("timetravel", conv, sid, state)

    # ---------- the whole run ----------

    def run(self) -> None:
        self.written = 0
        self.delivered = 0
        self.phase_s = {}
        for name, phase in (("setup", self.setup), ("warm_up", self.warm_up),
                            ("ingest_maintain", self.ingest_maintain),
                            ("late_corrections", self.late_corrections),
                            ("read_mix", self.read_mix)):
            t0 = time.perf_counter()
            with self.tracer.span(f"phase.{name}"):
                phase()
            self.phase_s[name] = round(time.perf_counter() - t0, 3)
        tbl = self.table
        live = tbl.entries()
        self._add("write_amp", self.written / self.delivered)
        stored = sum(e.bytes for e in live) + dir_bytes(tbl.metadata_dir)
        self._add("stored_bytes_per_turn", stored / tbl.total_rows())
        self._layer("table.meta.manifests", len(tbl.snapshot().manifests))

    def end_to_end(self) -> dict:
        """Metric name -> (value, unit, note)."""
        s = self.samples
        out = {
            "setup_s": (s["setup_s"][0], "s", f"median of {SETUP_REPS} set-ups"),
            "ingest_turns_per_s": (s["ingest_turns_per_s"][0], "turns/s",
                                   f"{N_TURNS} turns in {N_BATCHES} appends"),
            "maintain_turns_per_s": (s["maintain_turns_per_s"][0], "turns/s",
                                     "compact + cluster + rewrite_manifests + expire"),
            "merge_s.p50": (median(s.get("merge_s", [])), "s", f"n={len(s.get('merge_s', []))}"),
        }
        look = s.get("lookup_ms", [])
        p, v = tail(look)
        out["lookup_ms.p50"] = (median(look), "ms", f"n={len(look)}")
        out["lookup_ms.tail"] = (v, "ms", f"p{p:.1f} of n={len(look)}")
        tt = s.get("timetravel_ms", [])
        out["timetravel_ms.p50"] = (median(tt), "ms", f"n={len(tt)}")
        out["export_s.p50"] = (median(s.get("export_s", [])), "s", f"n={len(s.get('export_s', []))}")
        out["write_amp"] = (s["write_amp"][0], "ratio", "engine data bytes / staged bytes")
        out["stored_bytes_per_turn"] = (s["stored_bytes_per_turn"][0], "B/turn", "live data + metadata")
        return out

    def per_layer(self) -> dict:
        out = {}
        units = {"_s": "s", "_ms": "ms", "_ratio": "ratio", "_bytes": "B"}
        for name, vals in self.layer.items():
            unit = next((u for suf, u in units.items() if name.endswith(suf)), "count")
            out[name] = (median(vals), unit, f"median of n={len(vals)}")
        for op in JOB_OPS:
            counts = self.tracer.jobs.get(op, [])
            out[f"spark.jobs_per_op.{op}"] = (median(counts), "count", f"median of n={len(counts)}")
        for name, (v, unit, note) in self.end_to_end().items():
            if unit in ("s", "ms", "turns/s"):
                out[f"traced.{name}"] = (v, unit, "e2e value under tracing")
        return out

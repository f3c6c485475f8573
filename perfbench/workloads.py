"""The benchmark's workloads.

Each workload materialises its seeded fixture during set-up, runs one
untimed warm-up pass (JIT, codegen and Python-worker start-up are set-up
cost, not ingest cost), then repeats a fixed unit of work, each time into a
fresh table, as often as ``seconds`` allow. Every repetition's final table
is checked against the DuckDB oracle after the timed region.

In a traced run the repetitions alternate untraced / traced, so the
tracing overhead is measured inside one process and one host state.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

from embulk_output_bigquery_java_spark.config import IngestConfig, Mode
from embulk_output_bigquery_java_spark.engine import CdcEngine
from embulk_output_bigquery_java_spark.lake import LakeTable
from embulk_output_bigquery_java_spark.schemas import REPOS_SCHEMA
from embulk_output_bigquery_java_spark.sources.debezium import encode_debezium
from embulk_output_bigquery_java_spark.sources.generator import gen_changes
from embulk_output_bigquery_java_spark.streaming.stream import (
    start_cdc_stream,
    stream_debezium_from_dir,
)

from . import gate, trace

#: generator shape shared by every workload (FIXTURES.md defaults with the
#: key space of bench.py): zipf alpha 3, 5% hot repos, I/U/D 25/70/5
GEN = dict(n_repos=500, paths_per_repo=100)

BACKFILL_BATCH = 200_000
BACKFILL_BATCHES = 3
BACKFILL_UNIT_S = 7.0  # one repetition's wall-clock on 4 cores
#: the warm-up replay: two pipelined half-size batches run every code path
#: of the timed replay (prefetch thread included) at a third of its cost
BACKFILL_WARM_BATCH = 100_000

WAL_SEGMENT = 2_000
#: host slow spells last ~10 s and stretch every epoch inside them; ten
#: epochs (~18 s) keep one spell to a minority of a run's batches
WAL_SEGMENTS = 10
WAL_WARM_SEGMENTS = 2
WAL_UNIT_S = 18.0

#: events the corrupted oracle leaves out (the gate self-test)
CORRUPT_TAIL = 100


@dataclass
class Rep:
    traced: bool
    wall_s: float
    mono: tuple[float, float]  # time.monotonic() bounds
    window_ms: tuple[float, float]  # epoch milliseconds, for the event log
    events: int
    batches: int
    latencies_s: list[float]
    ledger: list[dict]
    table_root: str
    progress: list[dict] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    rundir: str
    seed: int
    seconds: float
    cores: int
    traced: bool
    corrupt_oracle: bool
    t_process0: float
    rec: trace.Recorder = field(default_factory=trace.Recorder)
    info: dict = field(default_factory=dict)
    first_timed: float | None = None


def _cfg() -> IngestConfig:
    # mor + pipelining, no compaction: bench.py's replay configuration
    return IngestConfig(
        table="repos", mode=Mode.MERGE, merge_keys=["repo", "path"],
        num_buckets=32, merge_strategy="mor", pipeline=True,
        compact_every_batches=0,
    )


def _engine(ctx: Ctx, tag: str) -> CdcEngine:
    root = os.path.join(ctx.rundir, f"{tag}-table")
    eng = CdcEngine(
        ctx.spark, _cfg(), root,
        ledger_path=os.path.join(ctx.rundir, f"{tag}-ledger.jsonl"),
        checkpoint_path=os.path.join(ctx.rundir, f"{tag}-ck.json"),
    )
    eng.ensure_table(REPOS_SCHEMA)
    return eng


def _read_ledger(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _gen(ctx: Ctx, n_events: int, parts: int):
    return gen_changes(ctx.spark, n_events, seed=ctx.seed, num_partitions=parts, **GEN)


def _repeat(ctx: Ctx, run_unit, unit_s: float) -> list[Rep]:
    """Run ``run_unit(i, traced)`` as often as ``seconds`` of timed work
    allow at ``unit_s`` per repetition. The count depends on ``seconds``
    alone, so every run does the same work and a faster engine shows as a
    higher rate, not as more repetitions. A traced run makes at least three
    and alternates untraced / traced, so each traced repetition sits
    between two untraced ones and the warm-up trend cancels out of the
    overhead."""
    n = max(3 if ctx.traced else 1, round(ctx.seconds / unit_s))
    reps = []
    for i in range(n):
        traced = ctx.traced and i % 2 == 1
        wrap = (
            trace.installed(ctx.rec, ctx.spark.sparkContext, trace.engine_targets())
            if traced else nullcontext()
        )
        with wrap:
            reps.append(run_unit(i, traced))
    return reps


def _timed(ctx: Ctx):
    """(monotonic start, wall-clock start) of a timed region."""
    m0 = time.monotonic()
    if ctx.first_timed is None:
        ctx.first_timed = m0
    return m0, time.time()


def _check(ctx: Ctx, changelog: str, hi: int, reps: list[Rep]) -> list[dict]:
    """Gate every repetition, or in a traced run the traced ones: the
    untraced repetitions there only time the tracing overhead, and untraced
    runs gate that same code path."""
    t = time.monotonic()
    reps = [r for r in reps if r.traced] or reps
    lo_hi = (0, hi - CORRUPT_TAIL if ctx.corrupt_oracle else hi)
    # the DuckDB oracle runs beside the Spark digests: both are untimed, and
    # DuckDB releases the GIL
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(
            gate.oracle_digest, changelog, *lo_hi, threads=ctx.cores,
            temp_dir=os.path.join(ctx.rundir, "duckdb"),
        )
        got = [gate.spark_digest(LakeTable(ctx.spark, r.table_root).read()) for r in reps]
        expect = oracle.result()
    out = []
    for r, g in zip(reps, got):
        table = LakeTable(ctx.spark, r.table_root)
        snap = table.snapshot()
        out.append({
            "rows": g[0], "oracle_rows": expect[0], "ok": g == expect,
            "table_bytes": sum(f["bytes"] for f in snap["files"]),
            "live_files": len(snap["files"]),
            "delta_groups": len({f.get("seq") for f in snap["files"]
                                 if f.get("kind") == "delta"}),
            "snapshot_json_bytes": os.path.getsize(
                os.path.join(table.meta_dir, f"v{snap['version']}.json")),
        })
    ctx.info["check_s"] = time.monotonic() - t
    return out


# ----------------------------------------------------------------- backfill
def backfill(ctx: Ctx):
    n = BACKFILL_BATCH * BACKFILL_BATCHES
    t = time.monotonic()
    changelog = os.path.join(ctx.rundir, "changelog")
    # the before-image is validation-only (FIXTURES.md section 2): the
    # engine's projection prunes it from the changelog scan, so leaving it
    # out of the fixture changes no timed work and halves the generation
    _gen(ctx, n, 2 * ctx.cores).drop("before_content").write.parquet(changelog)
    changes = ctx.spark.read.parquet(changelog)
    ctx.info["fixture_s"] = time.monotonic() - t

    # warm-up: one untimed pipelined replay. The first pass is still on the
    # JIT curve and ~15% slower, and how much slower depends on the host's
    # load, so timing it would mostly time the host.
    t = time.monotonic()
    _engine(ctx, "warm").replay(
        changes, n_events=2 * BACKFILL_WARM_BATCH, batch_size=BACKFILL_WARM_BATCH)
    ctx.info["warmup_s"] = time.monotonic() - t

    def unit(i: int, traced: bool) -> Rep:
        tag = f"bf{i}"
        eng = _engine(ctx, tag)
        m0, w0 = _timed(ctx)
        st = eng.replay(changes, n_events=n, batch_size=BACKFILL_BATCH)
        wall = time.monotonic() - m0
        ledger = _read_ledger(eng.ledger_path)
        return Rep(
            traced, wall, (m0, m0 + wall), (w0 * 1000, (w0 + wall) * 1000),
            st.events, st.batches,
            [row["merge_latency_s"] for row in ledger], ledger, eng.table_root,
        )

    reps = _repeat(ctx, unit, BACKFILL_UNIT_S)
    return reps, _check(ctx, changelog, n, reps)


# ----------------------------------------------------------------- wal_tail
def _land_segments(ctx: Ctx, n_segments: int, out_dir: str) -> tuple[str, list[str]]:
    """One Debezium JSONL file per WAL_SEGMENT events, landed in offset
    order with strictly increasing mtimes (the file source's order)."""
    n = n_segments * WAL_SEGMENT
    changelog = os.path.join(out_dir, "changelog")
    # one range partition per segment: partition i holds offsets
    # [i*WAL_SEGMENT, (i+1)*WAL_SEGMENT), so each text part is one segment
    changes = _gen(ctx, n, n_segments).cache()
    changes.write.parquet(changelog)
    raw = os.path.join(out_dir, "jsonl-raw")
    encode_debezium(changes).write.text(raw)
    changes.unpersist()
    parts = sorted(glob.glob(os.path.join(raw, "part-*")))
    if len(parts) != n_segments:
        raise RuntimeError(f"expected {n_segments} segments, got {len(parts)}")
    segs = []
    base = time.time() - 10 * n_segments
    for i, p in enumerate(parts):
        dst = os.path.join(out_dir, f"segment-{i:05d}.jsonl")
        shutil.move(p, dst)
        os.utime(dst, (base + 2 * i, base + 2 * i))
        segs.append(dst)
    shutil.rmtree(raw)
    return changelog, segs


def _landing(dirname: str, segs: list[str]) -> str:
    os.makedirs(dirname, exist_ok=True)
    for s in segs:
        dst = os.path.join(dirname, os.path.basename(s))
        shutil.copy2(s, dst)
    return dirname


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _epoch_start(p: dict) -> float:
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp()


def wal_tail(ctx: Ctx):
    t = time.monotonic()
    fixture = os.path.join(ctx.rundir, "wal")
    changelog, segs = _land_segments(ctx, WAL_SEGMENTS, fixture)
    landing = _landing(os.path.join(ctx.rundir, "landing"), segs)
    ctx.info["fixture_s"] = time.monotonic() - t

    def drain(eng: CdcEngine, src: str, ck: str, traced: bool):
        rec = ctx.rec if traced else None
        with rec.span("streaming.start") if rec else nullcontext():
            q = start_cdc_stream(
                eng,
                stream_debezium_from_dir(ctx.spark, src, max_files_per_trigger=1),
                checkpoint_dir=ck, available_now=True,
            )
        with rec.span("streaming.drain") if rec else nullcontext():
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return [p for p in _progress(q) if p.get("numInputRows", 0) > 0]

    t = time.monotonic()
    warm = _landing(os.path.join(ctx.rundir, "landing-warm"), segs[:WAL_WARM_SEGMENTS])
    drain(_engine(ctx, "warm"), warm, os.path.join(ctx.rundir, "warm-stream-ck"), False)
    ctx.info["warmup_s"] = time.monotonic() - t

    def unit(i: int, traced: bool) -> Rep:
        tag = f"wal{i}"
        eng = _engine(ctx, tag)
        ck = os.path.join(ctx.rundir, f"{tag}-stream-ck")
        m0, w0 = _timed(ctx)
        progress = drain(eng, landing, ck, traced)
        wall = time.monotonic() - m0
        ledger = _read_ledger(eng.ledger_path)
        if traced:
            # epochs as spans: trigger start -> triggerExecution, mapped onto
            # the monotonic clock the wrappers use
            shift = time.monotonic() - time.time()
            for p in progress:
                s = _epoch_start(p) + shift
                ctx.rec.add("streaming.epoch", s, s + p["durationMs"]["triggerExecution"] / 1000)
        return Rep(
            traced, wall, (m0, m0 + wall), (w0 * 1000, (w0 + wall) * 1000),
            sum(r["input_rows"] for r in ledger), len(ledger),
            [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            ledger, eng.table_root, progress,
        )

    reps = _repeat(ctx, unit, WAL_UNIT_S)
    return reps, _check(ctx, changelog, WAL_SEGMENTS * WAL_SEGMENT, reps)


WORKLOADS = {"backfill": backfill, "wal_tail": wal_tail}

"""Turn repetitions, spans and the event log into the reported metrics."""

from __future__ import annotations

from . import eventlog
from .stats import median
from .trace import Recorder, self_time, union_length

#: wrapper spans that enclose a whole repetition; span coverage counts the
#: time explained by everything below them
ROOT_SPANS = {"engine.replay", "streaming.drain"}


def end_to_end(ctx, reps, checks) -> dict[str, tuple[float, str]]:
    events = sum(r.events for r in reps)
    wall = sum(r.wall_s for r in reps)
    lat = [x for r in reps for x in r.latencies_s]
    return {
        "setup_s": (ctx.first_timed - ctx.t_process0, "s"),
        "ingest_events_per_s": (events / wall, "events/s"),
        "batch_latency_p50_s": (median(lat), "s"),
        "storage_bytes_per_live_row": (
            median([c["table_bytes"] / max(1, c["rows"]) for c in checks]), "bytes"),
        "peak_rss_mb": (ctx.info["peak_rss_mb"], "MB"),
    }


def coverage(rec: Recorder, rep) -> float:
    """Share of the repetition's wall-clock inside at least one non-root
    span, on any thread."""
    lo, hi = rep.mono
    iv = [(max(s.start, lo), min(s.end, hi)) for s in rec.spans
          if s.name not in ROOT_SPANS and s.end > lo and s.start < hi]
    return union_length([i for i in iv if i[1] > i[0]]) / rep.wall_s


def per_layer(ctx, reps, checks, log_dir: str | None) -> tuple[dict, dict]:
    rec = ctx.rec
    traced = [r for r in reps if r.traced]
    plain = [r for r in reps if not r.traced]
    batches = max(1, sum(r.batches for r in traced))
    events = max(1, sum(r.events for r in traced))
    wall = sum(r.wall_s for r in traced)

    def durs(name):
        return [s.dur for s in rec.named(name)]

    replays = rec.named("engine.replay")
    progress = [p for r in reps for p in r.progress]
    ledger = [row for r in reps for row in r.ledger]
    final = checks[-1]  # the last gated (traced) repetition's final snapshot

    by_group, tot = {}, eventlog.totals({})
    if log_dir:
        by_group = eventlog.attribute(
            eventlog.read_events(log_dir), [r.window_ms for r in traced]
        )
        tot = eventlog.totals(by_group)

    if progress:
        # checkpoint = offset WAL + commit log writes; loop overhead = the
        # epoch outside foreachBatch (source listing, planning, both logs)
        ck_store = median([(p["durationMs"].get("walCommit", 0)
                            + p["durationMs"].get("commitOffsets", 0)) / 1000
                           for p in progress])
        loop = [(p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0))
                / 1000 for p in progress]
    else:
        # replay checkpoint file; loop overhead = the replay span outside
        # its main-thread children (prefetch wait and bookkeeping), per batch
        ck_store = median(durs("streaming.checkpoint_store"))
        loop = [self_time(s, rec.spans) / r.batches for s, r in zip(replays, traced)]
    m = {
        "engine.apply_batch_s": (median(durs("engine.apply_batch")), "s"),
        "engine.loop_overhead_s": (median(loop), "s"),
        "engine.spark_jobs_per_batch": (tot["jobs"] / batches, "count"),
        "lake.write_delta_files_s": (median(durs("lake.write_delta_files")), "s"),
        "lake.commit_s": ((sum(durs("lake.commit_delta_files"))
                           + sum(durs("lake.mark_batch_applied"))) / batches, "s"),
        "lake.snapshot_calls_per_batch": (len(durs("lake.snapshot")) / batches, "count"),
        "lake.snapshot_s_per_batch": (sum(durs("lake.snapshot")) / batches, "s"),
        "lake.version_globs_per_batch": (len(durs("lake.current_version")) / batches, "count"),
        "lake.snapshot_json_bytes": (final["snapshot_json_bytes"], "bytes"),
        "lake.live_files": (final["live_files"], "count"),
        "lake.delta_groups": (final["delta_groups"], "count"),
        "lake.bytes_written_per_event": (
            sum(row["bytes_written"] or 0 for row in ledger)
            / max(1, sum(row["input_rows"] for row in ledger)), "bytes"),
        "streaming.ledger_append_s": (median(durs("streaming.ledger_append")), "s"),
        "streaming.checkpoint_store_s": (ck_store, "s"),
        "sources.input_bytes_per_event": (tot["input_bytes"] / events, "bytes"),
        "sources.input_records_per_event": (tot["input_records"] / events, "count"),
        "operators.shuffle_bytes_per_event": (tot["shuffle_write_bytes"] / events, "bytes"),
        "sources.fixture_s": (ctx.info["fixture_s"], "s"),
        "session.spark_start_s": (ctx.info["spark_start_s"], "s"),
        "session.executor_busy_frac": (
            tot["run_ms"] / max(1e-9, wall * 1000 * ctx.cores), "fraction"),
        "session.gc_frac": (tot["gc_ms"] / max(1, tot["run_ms"]), "fraction"),
        "trace.span_coverage_frac": (median([coverage(rec, r) for r in traced]), "fraction"),
        "trace.overhead_frac": (
            median([r.wall_s for r in traced]) / median([r.wall_s for r in plain]) - 1,
            "fraction"),
    }
    spans = {}
    for s in rec.spans:
        acc = spans.setdefault(s.name, [0, 0.0])
        acc[0] += 1
        acc[1] += s.dur
    detail = {
        "spans": {k: {"n": n, "total_s": round(t, 4)} for k, (n, t) in sorted(spans.items())},
        "job_groups": by_group,
    }
    return m, detail

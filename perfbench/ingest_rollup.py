"""Workload `ingest_rollup`: a multi-tenant day of JSON payloads replayed
into `streaming.pipeline.start_ingest` (discovery catalog on), chained
into `start_streaming_rollup`. Both streams run on the default
processing-time trigger (interval 0: the next micro-batch starts as soon
as the last one ends and new input exists), the only trigger
`start_ingest` exposes besides availableNow.

A pass lands the generated files in three phases, each of which ends
once both streams have caught up (every valid row rolled up, the rollup
watermark at the last sample's event time minus the delay, the ingest
stream idle):

- warm-up (set-up): WARM_BURSTS bursts;
- bursts (timed): BURSTS times, a lead file and then BURST_FILES files
  at once land into idle streams. Throughput, the ingest capacity, is
  measured here: the burst's samples over the time its batch takes;
- open loop (timed): files land on a fixed schedule of gen.FILES_PER_S
  for the run's seconds. Freshness is measured here. It comes last
  because it is the phase most sensitive to how far JIT compilation
  has settled (freshness compounds the time of each micro-batch).

Freshness and burst times are read back after the run from the streams'
own checkpoints: `sources/0/*` names the batch of every input file, and
the mtime of `commits/<batch>` is the moment that batch committed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from perfbench import gen, harness

BURST_FILES = 100  # 20,000 samples at once
LEAD_S = 0.1  # the file source polls every 10 ms when idle; a batch takes over 1 s
WARM_BURSTS = 1
BURSTS = 3
CATCH_UP_TIMEOUT_S = 60.0
ROLLUP_DELAY_MS = 300_000
WINDOW_MS = 300_000
# Stamps start this long before the run and move forward FILE_EVENT_MS a
# file; validate accepts [now - 3 d, now + 10 min].
REPLAY_BACK_MS = 3 * gen.DAY_MS - 3_600_000


def n_files(seconds: float) -> int:
    return (WARM_BURSTS + BURSTS) * (1 + BURST_FILES) + open_files(seconds)


def open_files(seconds: float) -> int:
    return int(round(seconds * gen.FILES_PER_S))


@dataclass
class State:
    seed: int
    start_ms: int
    seconds: float
    replay: gen.Replay
    stage: Path
    root: Path


def _replay(seed: int, start_ms: int, seconds: float) -> gen.Replay:
    n = n_files(seconds)
    if n * gen.FILE_EVENT_MS > REPLAY_BACK_MS - 600_000:
        raise ValueError(f"{seconds:g} s of replay runs past the run's start in event time")
    return gen.replay_day(seed, start_ms - REPLAY_BACK_MS, n)


def _stage(replay: gen.Replay, d: Path) -> Path:
    d.mkdir(parents=True)
    for k, body in enumerate(replay.files):
        (d / f"p{k:06d}.json").write_bytes(body)
    return d


def make_generate(seed: int, start_ms: int, seconds: float):
    def generate(spark, d: Path) -> State:
        replay = _replay(seed, start_ms, seconds)
        return State(seed, start_ms, seconds, replay, _stage(replay, d / "stage"), d)

    return generate


# ---------------------------------------------------------------------------
# one pass: start both streams, land files phase by phase, stop
# ---------------------------------------------------------------------------


@dataclass
class PassResult:
    replay: gen.Replay
    out: Path
    landed: np.ndarray  # landing time per file, epoch seconds (NaN: never landed)
    due: np.ndarray  # scheduled time per open-loop file, epoch seconds (NaN elsewhere)
    open_window: tuple  # (open loop start, both streams caught up after it)
    bursts: list  # (first file, end file) per timed burst
    ingest_progress: list
    rollup_progress: list
    ingest_id: str
    error: str | None


def _watermark_ms(progress: dict) -> int | None:
    wm = (progress.get("eventTime") or {}).get("watermark")
    return None if wm is None else round(_epoch_s(wm) * 1000)


class Pass:
    """Both streams on one replay. `warm` is the set-up warm-up; `finish`
    runs the timed bursts and open loop, stops and checks."""

    def __init__(self, spark, state: State, pass_no: int, tracer: harness.Tracer | None):
        from blueflood_spark.operators import granularity as G
        from blueflood_spark.streaming import pipeline as P

        self.replay, self.stage = state.replay, state.stage
        if pass_no > 0:  # a later pass of the traced run stages its own files, untimed
            self.replay = _replay(state.seed + pass_no, state.start_ms, state.seconds)
            self.stage = _stage(self.replay, state.root / f"stage{pass_no}")
        self.seconds = state.seconds
        self.out = out = state.root / f"pass{pass_no}"
        d = {k: out / k for k in ("input", "raw", "rejected", "delayed", "catalog", "rollup", "events",
                                  "ckpt_ingest", "ckpt_rollup")}
        d["input"].mkdir(parents=True)
        d["raw"].mkdir(parents=True)
        self.inbox = d["input"]
        self.restore = []
        if tracer is not None:
            self.restore = [tracer.wrap(P, "discovery_upsert", "discovery_upsert"),
                            tracer.wrap(P, "validate", "validate")]
        self.qi = P.start_ingest(
            spark, str(d["input"]), str(d["raw"]), str(d["rejected"]), str(d["delayed"]),
            str(d["ckpt_ingest"]), available_now=False, catalog_path=str(d["catalog"]),
        )
        self.qr = P.start_streaming_rollup(
            spark, str(d["raw"]), str(d["rollup"]), str(d["ckpt_rollup"]), G.MIN_5,
            available_now=False, events_path=str(d["events"]),
        )
        n = len(self.replay.files)
        self.landed = np.full(n, np.nan)
        self.due = np.full(n, np.nan)
        self.cursor = 0  # files landed so far
        valid = self.replay.kind == gen.VALID
        per_file = valid.reshape(n, -1)
        self.valid_upto = np.concatenate([[0], np.cumsum(per_file.sum(axis=1))])
        self.max_ts_upto = np.maximum.accumulate(_file_max_valid_ts(self.replay))

    def _land(self, k: int) -> None:
        name = f"p{k:06d}.json"
        os.rename(self.stage / name, self.inbox / name)
        self.landed[k] = time.time()

    def _burst(self) -> tuple[int, int]:
        """Land a lead file, then BURST_FILES files at once while the
        micro-batch the lead file started runs, so that the next listing
        of the file source sees the whole burst: one backlogged batch."""
        lo, hi = self.cursor, self.cursor + 1 + BURST_FILES
        self._land(lo)
        time.sleep(LEAD_S)
        for k in range(lo + 1, hi):
            self._land(k)
        self.cursor = hi
        self._catch_up()
        return lo, hi

    def _catch_up(self) -> None:
        """Wait until both streams have processed every landed file."""
        valid = int(self.valid_upto[self.cursor])
        wm = int(self.max_ts_upto[self.cursor - 1]) - ROLLUP_DELAY_MS
        deadline = time.time() + CATCH_UP_TIMEOUT_S
        while True:
            # every valid row rolled up means every file reached raw; an
            # idle ingest stream then has committed its last batch too
            rolled = sum(p["numInputRows"] for p in self.qr.recentProgress)
            last, status = self.qr.lastProgress, self.qi.status
            idle = not status["isTriggerActive"] and not status["isDataAvailable"]
            if idle and rolled >= valid and last and _watermark_ms(last) == wm:
                return
            for q in (self.qi, self.qr):
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"catch-up timed out: rolled {rolled}/{valid} valid rows, ingest {status['message']}")
            time.sleep(0.05)

    def warm(self) -> None:
        for _ in range(WARM_BURSTS):
            self._burst()

    def stop(self) -> None:
        self.qi.stop()
        self.qr.stop()
        for r in self.restore:
            r()

    def finish(self) -> dict:
        error, bursts, open_window = None, [], (np.nan, np.nan)
        try:
            for _ in range(BURSTS):
                bursts.append(self._burst())
            lo, hi = self.cursor, self.cursor + open_files(self.seconds)
            t0 = time.time() + 0.05
            self.due[lo:hi] = t0 + np.arange(hi - lo) / gen.FILES_PER_S
            for k in range(lo, hi):
                time.sleep(max(0.0, self.due[k] - time.time()))
                self._land(k)
            self.cursor = hi
            self._catch_up()
            open_window = (t0, time.time())
        except RuntimeError as exc:
            error = str(exc)
        self.stop()
        res = PassResult(
            self.replay, self.out, self.landed, self.due, open_window, bursts,
            [json.loads(p.json) for p in self.qi.recentProgress],
            [json.loads(p.json) for p in self.qr.recentProgress],
            str(self.qi.id), error,
        )
        wb = window_batches(res.out) if res.error is None else {}
        attempted, failed, problems = check_pass(res, wb)
        metrics, detail = end_to_end(res, wb) if res.error is None else ({}, {})
        return {"metrics": metrics, "detail": detail, "attempted": attempted, "failed": failed,
                "problems": problems, "result": res}


# ---------------------------------------------------------------------------
# freshness and burst throughput from the checkpoints
# ---------------------------------------------------------------------------


def file_batches(ckpt: Path) -> dict[str, int]:
    """Input file name -> batch id, from a file source's metadata log."""
    out = {}
    for p in (ckpt / "sources" / "0").iterdir():
        if p.name.startswith("."):
            continue
        for line in p.read_text().splitlines()[1:]:
            if line.strip():
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_times(ckpt: Path) -> dict[int, float]:
    """Batch id -> commit time (epoch seconds), from the commit log."""
    return {
        int(p.name): p.stat().st_mtime_ns / 1e9
        for p in (ckpt / "commits").iterdir()
        if p.name.isdigit()
    }


def ingest_freshness_ms(due: np.ndarray, names: list, batches: dict, commits: dict) -> list[float]:
    """Per file with a due time: its batch's commit time minus that time."""
    return [(commits[batches[n]] - t) * 1e3 for n, t in zip(names, due) if not np.isnan(t)]


def rollup_freshness_ms(window_batch: dict[int, int], commits: dict, due: np.ndarray, file_max_ts: np.ndarray) -> list[float]:
    """Per emitted 5m window: commit time of the batch that wrote it, minus
    the due time of the first file whose samples carry event time at or
    past the window's end + the rollup delay. Windows closed by a file
    without a due time are left out."""
    reach = np.maximum.accumulate(file_max_ts)
    out = []
    for w, b in sorted(window_batch.items()):
        k = int(np.searchsorted(reach, w + WINDOW_MS + ROLLUP_DELAY_MS, side="left"))
        if k < len(due) and not np.isnan(due[k]):
            out.append((commits[b] - due[k]) * 1e3)
    return out


def burst_throughput(valid_rows: np.ndarray, file_batch: np.ndarray, commits: dict, lo: int, hi: int) -> float:
    """Valid samples per second of a burst whose lead file is lo: the
    burst files outside the lead's batch, over the time from that batch's
    commit to the commit of the last batch holding one of them."""
    lead = file_batch[lo]
    rest = np.arange(lo + 1, hi)[file_batch[lo + 1:hi] != lead]
    done = max(commits[b] for b in file_batch[rest].tolist())
    return float(valid_rows[rest].sum() / (done - commits[lead]))


def _epoch_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _file_max_valid_ts(replay: gen.Replay) -> np.ndarray:
    ts = np.where(replay.kind == gen.VALID, replay.ts, np.iinfo(np.int64).min)
    return ts.reshape(len(replay.files), -1).max(axis=1)


# ---------------------------------------------------------------------------
# output checks (DuckDB over the generated samples)
# ---------------------------------------------------------------------------


def _generated(replay: gen.Replay):
    import pandas as pd

    return pd.DataFrame(
        {
            "file": replay.file_idx,
            "tenant_id": [f"t{t}" for t in replay.tenant],
            "metric_name": [
                "" if k == gen.NO_NAME else gen.metric_name(m) for m, k in zip(replay.name, replay.kind)
            ],
            "ts": replay.ts,
            "value": replay.value,
            "valid": replay.kind == gen.VALID,
        }
    )


def check_pass(res: PassResult, window_batch: dict[int, int]) -> tuple[int, int, list[str]]:
    """Returns (attempted, failed, problems). Operations are the payload
    files generated and the 5m windows the final watermark closed."""
    import duckdb

    out = res.out
    con = duckdb.connect()
    con.register("gen_df", _generated(res.replay))
    con.execute("CREATE TABLE g AS SELECT * FROM gen_df")
    con.execute(f"CREATE VIEW raw AS SELECT tenant_id, metric_name, ts, value FROM read_parquet('{out}/raw/*/*/*.parquet', hive_partitioning=true)")
    con.execute(f"CREATE VIEW rej AS SELECT tenant_id, metric_name, ts, value FROM read_parquet('{out}/rejected/*/*.parquet', hive_partitioning=true)")
    problems = []
    bad_files = set()
    for side, view, flag in (("raw", "raw", "valid"), ("rejected", "rej", "NOT valid")):
        con.execute(
            f"CREATE TEMP TABLE miss AS SELECT tenant_id, metric_name, ts, value FROM g WHERE {flag}"
            f" EXCEPT ALL SELECT tenant_id, metric_name, ts, value FROM {view}"
        )
        missing = con.execute(
            f"SELECT DISTINCT file FROM g JOIN miss USING (tenant_id, metric_name, ts, value) WHERE {flag}"
        ).fetchall()
        n_missing = con.execute("SELECT count(*) FROM miss").fetchone()[0]
        con.execute("DROP TABLE miss")
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT tenant_id, metric_name, ts, value FROM {view}"
            f" EXCEPT ALL SELECT tenant_id, metric_name, ts, value FROM g WHERE {flag})"
        ).fetchone()[0]
        bad_files.update(f for (f,) in missing)
        if n_missing or extra:
            problems.append(f"{side}: {n_missing} generated rows missing, {extra} unexpected or duplicated rows")
    n_cat, n_cat_distinct = con.execute(
        f"SELECT count(*), count(DISTINCT (tenant_id, metric_name)) FROM read_parquet('{out}/catalog/*.parquet')"
    ).fetchone()
    n_locs = con.execute("SELECT count(*) FROM (SELECT DISTINCT tenant_id, metric_name FROM g WHERE valid)").fetchone()[0]
    cat_diff = con.execute(
        f"SELECT count(*) FROM ((SELECT DISTINCT tenant_id, metric_name FROM g WHERE valid)"
        f" EXCEPT SELECT tenant_id, metric_name FROM read_parquet('{out}/catalog/*.parquet'))"
    ).fetchone()[0]
    if n_cat != n_locs or n_cat_distinct != n_cat or cat_diff:
        problems.append(f"catalog: {n_cat} rows ({n_cat_distinct} distinct) for {n_locs} locators, {cat_diff} missing")
    final_wm = _watermark_ms(res.rollup_progress[-1]) if res.rollup_progress else None
    expected = con.execute(
        f"SELECT tenant_id, metric_name, (ts // {WINDOW_MS}) * {WINDOW_MS} AS w, count(*) AS n,"
        f" sum(value) AS s, min(value) AS lo, max(value) AS hi FROM g WHERE valid GROUP BY 1, 2, 3"
        f" HAVING w + {WINDOW_MS} <= {final_wm if final_wm is not None else -1}"
    ).fetchdf()
    con.register("expected_df", expected)
    con.execute(f"CREATE VIEW r5 AS SELECT * FROM read_parquet('{out}/rollup/*/*.parquet', hive_partitioning=true)")
    bad_windows = con.execute(
        "SELECT DISTINCT w FROM ("
        " (SELECT tenant_id, metric_name, w, n, s, lo, hi FROM expected_df"
        "  EXCEPT ALL SELECT tenant_id, metric_name, window_start, num_points, sum, min, max FROM r5)"
        " UNION ALL"
        " (SELECT tenant_id, metric_name, window_start, num_points, sum, min, max FROM r5"
        "  EXCEPT ALL SELECT tenant_id, metric_name, w, n, s, lo, hi FROM expected_df))"
    ).fetchall()
    n_windows = len(set(expected["w"].tolist()))
    if bad_windows:
        problems.append(f"rollup: {len(bad_windows)} of {n_windows} closed 5m windows differ from DuckDB")
    if set(window_batch) != set(expected["w"].tolist()):
        problems.append("rollup: emitted windows differ from the windows the final watermark closed")
    con.close()
    attempted = len(res.replay.files) + n_windows
    failed = len(bad_files) + len(bad_windows)
    if res.error:
        problems.append(res.error)
    if problems and failed == 0:
        failed = 1
    return attempted, failed, problems


def window_batches(out: Path) -> dict[int, int]:
    """Emitted 5m window start -> first rollup batch that wrote it."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT window_start, min(batch_id) FROM read_parquet('{out}/rollup/*/*.parquet',"
        " hive_partitioning=true) GROUP BY 1"
    ).fetchall()
    return {int(w): int(b) for w, b in rows}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(res: PassResult, window_batch: dict) -> tuple[dict, dict]:
    """Freshness over the open-loop files, throughput over the bursts."""
    out = res.out
    names = [f"p{k:06d}.json" for k in range(len(res.replay.files))]
    ib = file_batches(out / "ckpt_ingest")
    ic = commit_times(out / "ckpt_ingest")
    rc = commit_times(out / "ckpt_rollup")
    fresh_i = ingest_freshness_ms(res.due, names, ib, ic)
    fresh_r = rollup_freshness_ms(window_batch, rc, res.due, _file_max_valid_ts(res.replay))
    si, sr = harness.timing_summary(fresh_i), harness.timing_summary(fresh_r)
    valid_rows = np.bincount(res.replay.file_idx[res.replay.kind == gen.VALID], minlength=len(names))
    file_batch = np.array([ib[n] for n in names])
    file_commit = np.array([ic[b] for b in file_batch.tolist()])
    per_burst = [burst_throughput(valid_rows, file_batch, ic, lo, hi) for lo, hi in res.bursts]
    # the pipeline's end is a queryable 5m row: latency is rollup freshness
    metrics = {
        "latency_p50_ms": sr["p50"],
        "latency_p90_ms": harness.percentile(fresh_r, 90),
        "throughput_per_s": statistics.median(per_burst),
    }
    timed = ~np.isnan(res.due)
    landed = res.landed[timed]
    lateness = (landed - res.due[timed]) * 1e3
    backlog = [int(np.sum(res.landed <= t) - np.sum(file_commit <= t)) for t in landed]
    offered = gen.FILES_PER_S * gen.ROWS_PER_FILE * (1 - gen.INVALID_SHARE)
    detail = {
        "ingest_freshness": si,
        "rollup_freshness": sr,
        "offered_valid_samples_per_s": offered,
        "burst_samples_per_s": per_burst,
        "headroom": metrics["throughput_per_s"] / offered,
        "open_loop_files": int(timed.sum()),
        "open_loop_ingest_batches": len(_open_loop(res.ingest_progress, res)),
        "ingest_freshness_p90_ms": harness.percentile(fresh_i, 90),
        "generator_lateness_p90_ms": harness.percentile(lateness, 90),
        "generator_backlog_files_max": max(backlog),
    }
    return metrics, detail


def _open_loop(progress: list, res: PassResult) -> list:
    """Data batches that started during the open loop."""
    lo, hi = res.open_window
    return [p for p in progress if p["numInputRows"] > 0 and lo <= _epoch_s(p["timestamp"]) <= hi]


def per_layer(run: dict, tracer: harness.Tracer, log: harness.EventLog) -> dict:
    """Layer metrics of the open-loop batches."""
    res, detail = run["result"], run["detail"]
    ingest, rollup = _open_loop(res.ingest_progress, res), _open_loop(res.rollup_progress, res)

    def mean_phase(progress, key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(np.mean(vals)) if vals else 0.0

    ingest_batches = {str(p["batchId"]) for p in ingest}
    n_batches = max(1, len(ingest_batches))
    lo, hi = res.open_window
    span_ms: dict = {}
    for sp in tracer.spans:
        if lo <= sp.start <= hi:
            span_ms[sp.name] = span_ms.get(sp.name, 0.0) + sp.duration * 1e3
    state = [op for p in rollup for op in p.get("stateOperators", [])]
    by_batch: dict = {}
    for job in log.jobs_where("sql.streaming.queryId").get(res.ingest_id, []):
        batch = log.job_props[job].get("streaming.sql.batchId")
        if batch in ingest_batches:
            by_batch.setdefault(batch, []).append(job)
    batch_totals = [log.totals(jobs) for jobs in by_batch.values()]

    def mean_total(key):
        return float(np.mean([t[key] for t in batch_totals])) if batch_totals else 0.0

    shares = []
    for p in ingest + rollup:
        d = p["durationMs"]
        total = d.get("triggerExecution", 0)
        if total > 0:
            parts = sum(v for k, v in d.items() if k != "triggerExecution")
            shares.append(max(0.0, (total - parts) / total))
    return {
        "streaming.pipeline.ingest.freshness_p50_ms": detail["ingest_freshness"]["p50"],
        "streaming.pipeline.ingest.freshness_p90_ms": detail["ingest_freshness_p90_ms"],
        "streaming.pipeline.ingest.latest_offset_ms": mean_phase(ingest, "latestOffset"),
        "streaming.pipeline.ingest.add_batch_ms": mean_phase(ingest, "addBatch"),
        "streaming.pipeline.ingest.wal_commit_ms": mean_phase(ingest, "walCommit"),
        "streaming.pipeline.ingest.commit_offsets_ms": mean_phase(ingest, "commitOffsets"),
        "streaming.pipeline.discovery_upsert_ms": span_ms.get("discovery_upsert", 0.0) / n_batches,
        "sources.ingest.validate_ms": span_ms.get("validate", 0.0) / n_batches,
        "streaming.pipeline.rollup.add_batch_ms": mean_phase(rollup, "addBatch"),
        "streaming.pipeline.rollup.state_rows": float(max((op["numRowsTotal"] for op in state), default=0)),
        "streaming.pipeline.rollup.state_memory_bytes": float(
            max((op["memoryUsedBytes"] for op in state), default=0)
        ),
        "generator.lateness_p90_ms": detail["generator_lateness_p90_ms"],
        "generator.backlog_files_max": float(detail["generator_backlog_files_max"]),
        "spark.task_cpu_ms": mean_total("task_cpu_ms"),
        "spark.jobs": mean_total("jobs"),
        "spark.output_files": mean_total("output_files"),
        "trace.unaccounted_share_p50": harness.percentile(shares, 50) if shares else 0.0,
    }

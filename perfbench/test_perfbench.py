"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, harness
from perfbench import ingest_rollup as IR

ROOT = Path(__file__).resolve().parents[1]


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_replay_is_byte_identical_for_a_seed():
    a = gen.replay_day(7, 1_700_000_000_000, 20)
    b = gen.replay_day(7, 1_700_000_000_000, 20)
    c = gen.replay_day(8, 1_700_000_000_000, 20)
    assert a.files == b.files
    assert a.files != c.files
    assert len(a.files) == 20 and len(a.ts) == 20 * gen.ROWS_PER_FILE


def test_replay_stamps_follow_the_speedup_and_invalid_share():
    base = 1_700_000_000_000
    r = gen.replay_day(3, base, 500)
    valid = r.kind == gen.VALID
    assert gen.FILE_EVENT_MS == gen.SPEEDUP * 1000 // gen.FILES_PER_S
    # file k carries event time base + k * FILE_EVENT_MS, minus less than the jitter
    lag = base + r.file_idx * gen.FILE_EVENT_MS - r.ts
    assert np.all((lag[valid] >= 0) & (lag[valid] < gen.JITTER_MS))
    assert abs((1 - valid.mean()) - gen.INVALID_SHARE) < 0.005
    assert set(np.unique(r.kind)) == {gen.VALID, gen.BAD_TTL, gen.NO_NAME, gen.TOO_OLD}
    lines = r.files[0].decode().splitlines()
    assert len(lines) == gen.ROWS_PER_FILE
    first = json.loads(lines[0])
    assert set(first) == {"tenantId", "metricName", "metricValue", "collectionTime", "ttlInSeconds", "unit"}
    # the fast writer matches json.dumps byte for byte
    m, k = int(r.name[0]), int(r.kind[0])
    assert lines[0] == json.dumps(
        {
            "tenantId": f"t{r.tenant[0]}",
            "metricName": "" if k == gen.NO_NAME else gen.metric_name(m),
            "metricValue": float(r.value[0]),
            "collectionTime": int(r.ts[0]),
            "ttlInSeconds": 0 if k == gen.BAD_TTL else 172800,
            "unit": gen.metric_unit(m),
        },
        separators=(",", ":"),
    )


def test_replay_of_a_run_stays_inside_the_validate_window():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    span = IR.n_files(spec["run_seconds"]) * gen.FILE_EVENT_MS
    # stamps run from start - REPLAY_BACK_MS towards start, never past it
    assert span < IR.REPLAY_BACK_MS < 3 * gen.DAY_MS


def test_corpus_is_byte_identical_for_a_seed():
    a = gen.metric_corpus(5, 1_700_000_000_000)
    assert len(a.series) == gen.CORPUS_SERIES
    assert len(a.ts) == gen.CORPUS_SERIES * gen.CORPUS_DAYS * gen.DAY_MS // gen.CORPUS_STEP_MS
    assert a.payload() == gen.metric_corpus(5, 1_700_000_000_000).payload()
    assert a.payload() != gen.metric_corpus(6, 1_700_000_000_000).payload()


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_leaves_ten_samples_beyond(n, expected):
    assert harness.highest_supported_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = list(np.random.default_rng(1).normal(size=101))
    for q in (50, 90, 99):
        assert harness.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


# ---------------------------------------------------------------------------
# freshness from a recorded commit / progress sequence
# ---------------------------------------------------------------------------


def _write_ckpt(ckpt: Path, batches: dict, commits: dict) -> None:
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    for b, names in batches.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///in/{n}", "timestamp": 0, "batchId": b}) for n in names]
        (ckpt / "sources" / "0" / str(b)).write_text("\n".join(lines) + "\n")
    for b, t in commits.items():
        p = ckpt / "commits" / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))


def test_ingest_freshness_from_checkpoint(tmp_path):
    _write_ckpt(tmp_path, {0: ["p0", "p1"], 1: ["p2"]}, {0: 1000.5, 1: 1002.0})
    batches = IR.file_batches(tmp_path)
    commits = IR.commit_times(tmp_path)
    assert batches == {"p0": 0, "p1": 0, "p2": 1}
    due = np.array([1000.0, 1000.25, 1001.0])
    got = IR.ingest_freshness_ms(due, ["p0", "p1", "p2"], batches, commits)
    assert got == pytest.approx([500.0, 250.0, 1000.0])
    # files without a due time (warm-up, bursts) are left out
    due[1] = np.nan
    assert IR.ingest_freshness_ms(due, ["p0", "p1", "p2"], batches, commits) == pytest.approx([500.0, 1000.0])


def test_rollup_freshness_starts_at_the_file_that_closes_the_window():
    w = IR.WINDOW_MS
    close = w + IR.ROLLUP_DELAY_MS  # event time that closes window [0, w)
    # file 2 is the first whose max event time reaches `close`; file 3 closes [w, 2w)
    file_max_ts = np.array([close - 2, close - 1, close, close + w])
    due = np.array([10.0, 11.0, 12.0, 13.0])
    commits = {4: 12.75, 6: 14.0}
    got = IR.rollup_freshness_ms({0: 4, w: 6}, commits, due, file_max_ts)
    assert got == pytest.approx([750.0, 1000.0])
    # a window closed by a file without a due time (not open loop) is left out
    due[2] = np.nan
    assert IR.rollup_freshness_ms({0: 4, w: 6}, commits, due, file_max_ts) == pytest.approx([1000.0])


def test_burst_throughput_runs_from_the_lead_batch_commit():
    # file 0 leads; files 1-4 form the burst, file 1 slipped into the lead's batch
    file_batch = np.array([5, 5, 6, 6, 7])
    valid_rows = np.array([100, 90, 200, 180, 150])
    commits = {5: 10.0, 6: 12.0, 7: 13.0}
    # files 2-4 (530 rows) committed 3 s after the lead's batch
    assert IR.burst_throughput(valid_rows, file_batch, commits, 0, 5) == pytest.approx(530 / 3.0)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        harness.Span("root", 0.0, 10.0, None, "r", sid=0),
        harness.Span("a", 1.0, 4.0, 0, "r", sid=1),
        harness.Span("b", 3.0, 6.0, 0, "r", sid=2),  # overlaps a
        harness.Span("c", 9.0, 12.0, 0, "r", sid=3),  # runs past the parent
        harness.Span("a.child", 2.0, 3.0, 1, "r", sid=4),
    ]
    selfs = harness.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(1.0)
    assert harness.unaccounted_share(spans, "root") == pytest.approx([0.4])


def test_tracer_nests_spans_per_thread():
    tr = harness.Tracer()
    with tr.span("request", rid="x"):
        with tr.span("inner"):
            pass
    root, inner = tr.spans
    assert inner.parent == root.sid and inner.rid == "x" and root.parent is None


# ---------------------------------------------------------------------------
# BENCHMARK.json and the layer map
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_layer_map():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    assert names == ["ingest_rollup", "dashboard_reads"]
    for w in spec["workloads"]:
        assert w["why"] == layers["workloads"][w["name"]]["why"]
        assert layers["workloads"][w["name"]]["load"]
    e2e = [m["name"] for m in spec["end_to_end"]]
    assert e2e == list(layers["end_to_end"])
    assert "setup_s" in e2e and max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
    per = [m["name"] for m in spec["per_layer"]]
    assert per == list(layers["per_layer"])
    for name, entry in layers["per_layer"].items():
        assert entry["workload"] in names + ["all"], name
        assert any(m in entry["moves"] for m in e2e) or entry["moves"].startswith(("none", "explains")), name

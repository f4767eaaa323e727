"""Seeded input generators. Every function here is a pure function of its
arguments: the same seed and base time give byte-identical output.

- `replay_day`: a multi-tenant day of JSON ingest payloads in the shape
  of the reference's ingest harness (`contrib/perf`: 200 metrics per
  request, BASELINE.md), replayed at a fixed speed-up.
- `metric_corpus`: two days of regular samples for the read workload.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

DAY_MS = 86_400_000

TENANTS = 40
NAMES_PER_TENANT = 120
GROUPS = ("cpu", "mem", "disk", "net", "http", "db")
_STATS = ("user", "system", "idle", "p99", "count", "bytes")
_UNITS = ("ms", "bytes", "percent", None)

# The replay. The reference harness's recorded 77 requests/s (15,388
# metrics/s, BASELINE.md) is more than the engine sustains with headroom on
# a 4-core host with the rollup chained. 8 files/s is about a fifth of the
# rate at which it drains a burst there: the nearer the rate comes to that
# capacity, the more every slowdown of the host lengthens each micro-batch,
# and with it the next one's input: at half of it, freshness swung about
# twice as much as the host's speed (perfbench/layers.json has the figures).
FILES_PER_S = 8
ROWS_PER_FILE = 200
SPEEDUP = 3600  # event seconds replayed per wall second: a 5m window closes every 83 ms
FILE_EVENT_MS = SPEEDUP * 1000 // FILES_PER_S  # event time between consecutive files
# A sample lags its file's event time by up to this: a file holds samples
# from the whole stretch since the previous file, so every 5m window of the
# replay has samples and closes.
JITTER_MS = FILE_EVENT_MS
INVALID_SHARE = 0.02

# The read corpus. No recorded source sizes it: 80 series keep the Zipf
# head hot while every series still has data at every granularity.
CORPUS_SERIES = 80
CORPUS_DAYS = 2
CORPUS_STEP_MS = 300_000

# row kinds; everything but VALID is rejected by sources.ingest.validate
VALID, BAD_TTL, NO_NAME, TOO_OLD = 0, 1, 2, 3


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def metric_name(i: int) -> str:
    return f"servers.host{i // 12}.{GROUPS[i % 6]}.{_STATS[(i // 6) % 6]}"


def metric_unit(i: int) -> str | None:
    return _UNITS[i % 4]


@dataclass
class Replay:
    """Payload files plus the samples they hold, as parallel arrays."""

    files: list  # bytes per file, in landing order
    file_idx: np.ndarray  # per row
    tenant: np.ndarray  # per row, int
    name: np.ndarray  # per row, int
    ts: np.ndarray  # per row, epoch ms
    value: np.ndarray  # per row
    kind: np.ndarray  # per row, VALID or a rejection kind


def replay_day(seed: int, base_ms: int, n_files: int) -> Replay:
    """`n_files` payload files; file k holds samples stamped at
    base_ms + k * FILE_EVENT_MS minus a seeded jitter. Tenants and metric
    names are Zipf-skewed."""
    rng = np.random.default_rng(seed)
    n = n_files * ROWS_PER_FILE
    file_idx = np.repeat(np.arange(n_files), ROWS_PER_FILE)
    tenant = rng.choice(TENANTS, size=n, p=zipf_weights(TENANTS))
    name = rng.choice(NAMES_PER_TENANT, size=n, p=zipf_weights(NAMES_PER_TENANT))
    ts = base_ms + file_idx * FILE_EVENT_MS - rng.integers(0, JITTER_MS, size=n)
    value = rng.integers(0, 4000, size=n) / 4.0  # quarters: sums stay exact
    kind = np.where(rng.random(n) < INVALID_SHARE, rng.integers(BAD_TTL, TOO_OLD + 1, size=n), VALID)
    ts = np.where(kind == TOO_OLD, base_ms - 4 * DAY_MS, ts)
    lines = _lines(tenant, name, ts, value, kind)
    files = [
        ("\n".join(lines[k * ROWS_PER_FILE:(k + 1) * ROWS_PER_FILE]) + "\n").encode() for k in range(n_files)
    ]
    return Replay(files, file_idx, tenant, name, ts, value, kind)


_NAME_JSON = [json.dumps(metric_name(i)) for i in range(NAMES_PER_TENANT)]
_UNIT_JSON = [json.dumps(metric_unit(i)) for i in range(NAMES_PER_TENANT)]
_LINE = '{"tenantId":"t%d","metricName":%s,"metricValue":%r,"collectionTime":%d,"ttlInSeconds":%d,"unit":%s}'


def _lines(tenant, name, ts, value, kind) -> list[str]:
    """One JSON object per sample, as `json.dumps(..., separators=(",", ":"))`
    writes it."""
    return [
        _LINE % (t, '""' if k == NO_NAME else _NAME_JSON[m], v, c, 0 if k == BAD_TTL else 172800, _UNIT_JSON[m])
        for t, m, c, v, k in zip(tenant.tolist(), name.tolist(), ts.tolist(), value.tolist(), kind.tolist())
    ]


@dataclass
class Corpus:
    """Regular samples of CORPUS_SERIES locators over CORPUS_DAYS days before base."""

    tenant: np.ndarray
    name: np.ndarray
    ts: np.ndarray
    value: np.ndarray
    series: list  # (tenant, name) per series, hottest first
    start_ms: int
    end_ms: int

    def payload(self) -> bytes:
        kind = np.zeros(len(self.ts), dtype=np.int64)
        return ("\n".join(_lines(self.tenant, self.name, self.ts, self.value, kind)) + "\n").encode()


def metric_corpus(seed: int, base_ms: int) -> Corpus:
    rng = np.random.default_rng(seed)
    locs = rng.permutation(TENANTS * NAMES_PER_TENANT)[:CORPUS_SERIES]
    series = [(int(x) // NAMES_PER_TENANT, int(x) % NAMES_PER_TENANT) for x in locs]
    end_ms = (base_ms // DAY_MS) * DAY_MS
    start_ms = end_ms - CORPUS_DAYS * DAY_MS
    steps = np.arange(start_ms, end_ms, CORPUS_STEP_MS, dtype=np.int64)
    k = len(steps)
    tenant = np.repeat([s[0] for s in series], k)
    name = np.repeat([s[1] for s in series], k)
    ts = np.tile(steps, CORPUS_SERIES) + rng.integers(0, CORPUS_STEP_MS // 2, size=k * CORPUS_SERIES)
    value = rng.integers(-2000, 6000, size=k * CORPUS_SERIES) / 8.0
    return Corpus(tenant, name, ts, value, series, start_ms, end_ms)

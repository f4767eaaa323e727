"""Workload `dashboard_reads`: a closed loop of one client per core on one
session, reading a rollup corpus that set-up builds with the engine's own
write path (sources.ingest -> operators.rollup.cascade ->
sources.tables.write_rollups, catalog.build_catalog).

Request mix (seeded per client): `get_view` at point budgets that select
each rollup granularity, FULL-resolution `get_view` on raw,
`get_views_multi` over one tenant's series, and `catalog.search_metrics`
globs. Series are drawn with Zipf skew, so some dashboards are hot.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import threading
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from perfbench import gen, harness

HOUR = 3_600_000
KINDS = ("view", "full", "multi", "search")
# No recorded read traffic of the reference exists (BASELINE.md has ingest
# only), so each read path gets the same share rather than a guessed one.
KIND_P = (0.25, 0.25, 0.25, 0.25)
# rollup granularity -> (range, point budget) that the GEOMETRIC
# selection maps to it
BUDGETS = {
    "5m": (6 * HOUR, 72),
    "20m": (24 * HOUR, 72),
    "60m": (36 * HOUR, 36),
    "240m": (48 * HOUR, 12),
    "1440m": (48 * HOUR, 2),
}
FULL_BUDGET = (HOUR // 2, 60)
CHECK_SHARE = 0.25
GLOBS = ("servers.host{h}.*", "servers.*.{g}.*", "servers.host{h}.{{{g},{g2}}}.*", "*.cpu.user")
WARM_REQUESTS = 8  # per client, in set-up: untimed and not measured


@dataclass
class State:
    seed: int
    seconds: float
    corpus: gen.Corpus
    hot: np.ndarray  # Zipf weights over corpus.series
    rollups: object
    raw: object
    catalog: object
    by_tenant: dict


def make_generate(seed: int, start_ms: int, seconds: float):
    base_ms = start_ms - gen.DAY_MS  # the corpus ends at the midnight before this

    def generate(spark, d: Path) -> State:
        from blueflood_spark import catalog as C
        from blueflood_spark.operators import rollup as R
        from blueflood_spark.sources import ingest as I
        from blueflood_spark.sources import tables as T

        corpus = gen.metric_corpus(seed, base_ms)
        (d / "payload.json").write_bytes(corpus.payload())
        valid, _rejected = I.validate(I.parse_ingest_json(spark, str(d / "payload.json")), base_ms)
        valid = valid.cache()
        T.write_raw(valid, str(d / "raw"), mode="overwrite")
        T.write_rollups(R.union_cascade(R.cascade(valid)), str(d / "rollups"), mode="overwrite")
        C.build_catalog(valid).write.mode("overwrite").parquet(str(d / "catalog"))
        valid.unpersist()
        by_tenant: dict = {}
        for t, m in corpus.series:
            by_tenant.setdefault(t, []).append(m)
        return State(
            seed, seconds, corpus, gen.zipf_weights(len(corpus.series)),
            spark.read.parquet(str(d / "rollups")),
            spark.read.parquet(str(d / "raw")),
            spark.read.parquet(str(d / "catalog")),
            by_tenant,
        )

    return generate


# ---------------------------------------------------------------------------
# requests
# ---------------------------------------------------------------------------


@dataclass
class Request:
    kind: str
    tenant: int
    names: list
    from_ms: int = 0
    to_ms: int = 0
    points: int = 0
    gran: str = ""
    glob: str = ""
    check: bool = False


def draw(rng: np.random.Generator, state: State) -> Request:
    c = state.corpus
    kind = KINDS[rng.choice(len(KINDS), p=KIND_P)]
    t, m = c.series[rng.choice(len(c.series), p=state.hot)]
    check = bool(rng.random() < CHECK_SHARE)
    if kind == "search":
        h, g, g2 = int(rng.integers(0, 10)), gen.GROUPS[rng.integers(0, 6)], gen.GROUPS[rng.integers(0, 6)]
        glob = GLOBS[rng.integers(0, len(GLOBS))].format(h=h, g=g, g2=g2)
        return Request(kind, t, [], glob=glob, check=check)
    if kind == "full":
        span, points, gran = FULL_BUDGET[0], FULL_BUDGET[1], "full"
    else:
        gran = list(BUDGETS)[rng.integers(0, len(BUDGETS))]
        span, points = BUDGETS[gran]
    to_ms = c.end_ms - int(rng.integers(0, c.end_ms - c.start_ms - span + 1))
    names = [m] if kind != "multi" else state.by_tenant[t][:5]
    return Request(kind, t, [gen.metric_name(x) for x in names], to_ms - span, to_ms, points, gran, check=check)


def params(req: Request):
    from blueflood_spark.plans import query_api as QA

    return QA.RollupsQueryParams(req.from_ms, req.to_ms, points=req.points)


def serve(spark, state: State, req: Request, tracer: harness.Tracer | None = None):
    """One request through the public read API; returns the response."""
    from blueflood_spark import catalog as C
    from blueflood_spark.plans import query_api as QA

    tenant = f"t{req.tenant}"
    if req.kind == "search":
        frame = C.search_metrics(state.catalog, tenant, req.glob)
        with tracer.span("collect") if tracer else contextlib.nullcontext():
            return [tuple(r) for r in frame.collect()]
    if req.kind == "multi":
        return QA.get_views_multi(state.rollups, tenant, req.names, params(req), raw=state.raw)
    return QA.get_view(state.rollups, tenant, req.names[0], params(req), raw=state.raw)


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


@dataclass
class Record:
    rid: str
    req: Request
    start: float
    end: float
    response: object = None
    error: str | None = None


@dataclass
class PassResult:
    records: list  # every request, warm-up included
    timed: list  # requests of the timed region
    wall_s: float  # timed region start -> last timed request done


class Pass:
    """One client thread per core, each sending its next request when the
    last one returns. `warm` has each client send WARM_REQUESTS requests;
    `finish` runs the timed region of state.seconds, then checks."""

    def __init__(self, spark, state: State, pass_no: int, tracer: harness.Tracer | None):
        from blueflood_spark import catalog as C
        from blueflood_spark.plans import query_api as QA

        self.restore = []
        if tracer is not None:
            self.restore = [
                tracer.wrap(QA, "series_frame", "series_frame", keep_result=True),
                tracer.wrap(QA, "series_frame_full", "series_frame", keep_result=True),
                tracer.wrap(QA, "shape_response", "shape_response"),
                tracer.wrap(QA, "get_view", "get_view"),
                tracer.wrap(QA, "get_views_multi", "get_view"),
                tracer.wrap(C, "search_metrics", "search_metrics", keep_result=True),
            ]
        self.spark, self.state, self.tracer, self.pass_no = spark, state, tracer, pass_no
        self.clients = int(spark.sparkContext.defaultParallelism)
        self.records: list = []
        self.lock = threading.Lock()
        self.rounds = 0

    def _round(self, count: int | None = None, deadline: float | None = None) -> list:
        """Run every client until it has sent `count` requests or the
        deadline has passed; returns this round's records."""
        out: list = []
        rnd, self.rounds = self.rounds, self.rounds + 1
        threads = [threading.Thread(target=self._client, args=(rnd, ci, count, deadline, out))
                   for ci in range(self.clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.records.extend(out)
        return out

    def _client(self, rnd: int, ci: int, count, deadline, out: list) -> None:
        spark, state, tracer = self.spark, self.state, self.tracer
        sc = spark.sparkContext
        rng = np.random.default_rng([state.seed, self.pass_no, rnd, ci])
        for n in itertools.count():
            if (count is not None and n >= count) or (deadline is not None and time.time() >= deadline):
                return
            req = draw(rng, state)
            rid = f"p{self.pass_no}-r{rnd}-c{ci}-{n}"
            sc.setLocalProperty("perfbench.rid", rid)
            rec = Record(rid, req, time.time(), 0.0)
            try:
                if tracer is None:
                    rec.response = serve(spark, state, req)
                else:
                    with tracer.span("request", rid=rid, kind=req.kind):
                        rec.response = serve(spark, state, req, tracer)
            except Exception as exc:  # a failed request is counted, not fatal
                rec.error = f"{type(exc).__name__}: {exc}"
            rec.end = time.time()
            sc.setLocalProperty("perfbench.rid", None)
            if not req.check:
                rec.response = None
            with self.lock:
                out.append(rec)

    def warm(self) -> None:
        self._round(count=WARM_REQUESTS)

    def stop(self) -> None:
        for r in self.restore:
            r()

    def finish(self) -> dict:
        t_from = time.time()
        timed = self._round(deadline=t_from + self.state.seconds)
        self.stop()
        if self.tracer is not None:
            self.tracer.resolve_frames()
        res = PassResult(self.records, timed, max(r.end for r in timed) - t_from)
        attempted, failed, problems = check_pass(self.state, res)
        ok = [(r.end - r.start) * 1e3 for r in timed if r.error is None]
        summary = harness.timing_summary(ok)
        metrics = {
            "latency_p50_ms": summary["p50"],
            "latency_p90_ms": harness.percentile(ok, 90),
            "throughput_per_s": len(ok) / res.wall_s,
        }
        detail = {"latency": summary, "requests": {k: sum(r.req.kind == k for r in timed) for k in KINDS},
                  "warm_requests": len(self.records) - len(timed), "clients": self.clients}
        return {"metrics": metrics, "detail": detail, "attempted": attempted, "failed": failed,
                "problems": problems, "result": res}


# ---------------------------------------------------------------------------
# checks against DuckDB over the generated samples
# ---------------------------------------------------------------------------


def _expand_braces(glob: str) -> list[str]:
    lo = glob.find("{")
    if lo < 0:
        return [glob]
    hi = glob.index("}", lo)
    return [x for alt in glob[lo + 1:hi].split(",") for x in _expand_braces(glob[:lo] + alt + glob[hi + 1:])]


def _same_values(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=lambda v: v["timestamp"]), want):
        if g["timestamp"] != w[0] or g["numPoints"] != w[1] or g["sum"] != w[2]:
            return False
        if not math.isclose(g["average"], w[3], rel_tol=1e-9, abs_tol=1e-9):
            return False
    return True


def check_pass(state: State, res: PassResult) -> tuple[int, int, list[str]]:
    import duckdb
    import pandas as pd

    from blueflood_spark.operators import granularity as G

    c = state.corpus
    con = duckdb.connect()
    con.register("s_df", pd.DataFrame({
        "tenant_id": [f"t{t}" for t in c.tenant], "metric_name": [gen.metric_name(m) for m in c.name],
        "ts": c.ts, "value": c.value,
    }))
    con.execute("CREATE TABLE s AS SELECT * FROM s_df")
    problems = []
    failed = 0
    for rec in res.records:
        if rec.error is not None:
            failed += 1
            if len(problems) < 5:
                problems.append(f"{rec.rid} {rec.req.kind}: {rec.error}")
            continue
        if not rec.req.check:
            continue
        req, tenant = rec.req, f"t{rec.req.tenant}"
        if req.kind == "search":
            pats = " OR ".join(f"metric_name GLOB '{p}'" for p in _expand_braces(req.glob))
            want = {m for (m,) in con.execute(
                f"SELECT DISTINCT metric_name FROM s WHERE tenant_id = '{tenant}' AND ({pats})").fetchall()}
            ok = {r[1] for r in rec.response} == want and len(rec.response) == len(want)
        else:
            sel = G.from_points_in_interval(req.from_ms, req.to_ms, req.points)
            ok = sel.name == req.gran
            responses = rec.response if req.kind == "multi" else {req.names[0]: rec.response}
            for name in req.names:
                if req.kind == "full":
                    q = (f"SELECT ts, 1, value, value FROM s WHERE tenant_id = '{tenant}' AND metric_name = '{name}'"
                         f" AND ts >= {req.from_ms} AND ts < {req.to_ms} ORDER BY ts")
                else:
                    ms = sel.milliseconds
                    q = (f"SELECT (ts // {ms}) * {ms} AS w, count(*), sum(value), avg(value) FROM s"
                         f" WHERE tenant_id = '{tenant}' AND metric_name = '{name}' GROUP BY 1"
                         f" HAVING w >= {sel.snap_millis(req.from_ms)} AND w < {req.to_ms} ORDER BY 1")
                ok = ok and _same_values(responses[name]["values"], con.execute(q).fetchall())
        if not ok:
            failed += 1
            if len(problems) < 5:
                problems.append(f"{rec.rid} {req.kind} response differs from DuckDB")
    con.close()
    return len(res.records), failed, problems


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def per_layer(run: dict, tracer: harness.Tracer, log: harness.EventLog) -> dict:
    res: PassResult = run["result"]
    kind_of = {r.rid: r.req.kind for r in res.timed}
    by_rid: dict = {}
    for sp in tracer.spans:
        by_rid.setdefault(sp.rid, []).append(sp)
    selfs = harness.self_times(tracer.spans)
    acc: dict = {}

    def add(kind, key, value):
        acc.setdefault((kind, key), []).append(value)

    for rid, spans in by_rid.items():
        kind = kind_of.get(rid)
        if kind is None:
            continue
        sums: dict = {}
        for sp in spans:
            ms = (selfs[sp.sid] if sp.name == "get_view" else sp.duration) * 1e3
            sums[sp.name] = sums.get(sp.name, 0.0) + ms
            for phase, (s, e) in sp.attrs.get("phases", {}).items():
                sums[f"catalyst.{phase}"] = sums.get(f"catalyst.{phase}", 0.0) + (e - s) * 1e3
        if kind == "search":
            add(kind, "catalog.search_metrics_ms", sums.get("search_metrics", 0.0))
            add(kind, "catalog.collect_ms", sums.get("collect", 0.0))
        else:
            add(kind, "plans.query_api.series_frame_ms", sums.get("series_frame", 0.0))
            add(kind, "plans.query_api.collect_ms", sums.get("get_view", 0.0))
            add(kind, "plans.query_api.shape_response_ms", sums.get("shape_response", 0.0))
        for phase in ("analysis", "optimization", "planning"):
            add(kind, f"catalyst.{phase}_ms", sums.get(f"catalyst.{phase}", 0.0))
    jobs = log.jobs_where("perfbench.rid")
    for rid, kind in kind_of.items():
        t = log.totals(jobs.get(rid, []))
        add(kind, "spark.jobs_per_request", t["jobs"])
        add(kind, "spark.files_read_per_request", t["files_read"])
        add(kind, "spark.input_bytes_per_request", t["input_bytes"])
        add(kind, "spark.task_cpu_ms_per_request", t["task_cpu_ms"])
    out = {f"{kind}.{key}": float(np.mean(v)) for (kind, key), v in acc.items()}
    shares = harness.unaccounted_share([sp for sp in tracer.spans if sp.rid in kind_of], "request")
    out["trace.unaccounted_share_p50"] = harness.percentile(shares, 50)
    return out

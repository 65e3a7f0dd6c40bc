"""The four workloads. Each fills the run's ``Ctx`` with metrics, the
attempted/failed counts and report details for ``run.py``.

Timed regions contain only engine work and HTTP traffic; output checks
run after them. Every failure is counted once, by class, and the first
message of each class is kept.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from urllib.parse import urlencode

import gen
import model
from layers import (
    CATALOG_QUERIES as CATALOG_SLICE,
    catalog_layers,
    feed_layers,
    ingest_layers,
    install_catalog_tracing,
    install_feed_tracing,
    install_ingest_tracing,
    set_group,
)
from stats import OpenLoopSchedule, bucket_deltas, percentile, summarize

SERVICE_DID = "did:web:feed.bench"
PUBLISHER_DID = "did:plc:publisher"
JWT_KEY = "perfbench-shared-secret"
#: open-loop rate: well under half of the closed-loop page capacity
#: (5.4-7.8 pages/s on 4 cores, see README), so slow spells of a shared
#: machine do not tip the queue into growth
RATE_RPS = 2.5
JVM_INITIAL_HEAP = "2g"
SETUP_BATCH = 1500
TICK_BATCH = 600
MAX_RUN_TICKS = 12
CLOSED_SECONDS = 3.0
#: the open loop's CPU is taken per bucket of this many seconds (5 arrivals
#: at RATE_RPS) and the median bucket reported, so a GC cycle or other
#: burst of background work in one bucket does not move it
OPEN_BUCKET_S = 2.0
PAGE_LIMITS = (50, 100)
#: the catalog slice's median pass is taken over at least this many passes
MIN_PASSES = 3
#: untimed warm-up before measuring. Four times as many pages and twice
#: the passes were tried: set-up grew by 5-10 s, and the spread of the
#: measured CPU did not shrink, since host contention dominates it
WARM_PAGES = 3
WARM_PASSES = 1


class Failures:
    def __init__(self):
        self.count = 0
        self.first: dict[str, str] = {}
        self.by_class: dict[str, int] = {}

    def add(self, cls: str, msg: str) -> None:
        self.count += 1
        self.by_class[cls] = self.by_class.get(cls, 0) + 1
        self.first.setdefault(cls, msg[:300])


class Ctx:
    def __init__(self, work, seed, seconds, tracer, nproc):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer = tracer
        self.nproc = nproc
        self.fail = Failures()
        self.attempted = 0
        self.metrics: dict = {}  # detail metrics; run.py maps some to end-to-end names
        self.layers: dict = {}  # per-layer metrics (traced run)
        self.info: dict = {}
        self.spark = None
        self.loadgen_pid = None
        self.meter = None  # procs.TreeSampler: CPU time and peak RSS of the run's tree


@contextmanager
def phase(ctx: Ctx, name: str):
    """Record a phase's wall time in the report (setup breakdown, checks)."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        ctx.info.setdefault("phases_s", {})[name] = round(time.perf_counter() - t0, 3)


# -- session -----------------------------------------------------------------


def settle(spark) -> None:
    """Drop cached blocks and collect garbage on both sides, outside any
    timed region, so one phase does not time the previous one's debris."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    spark.sparkContext._jvm.System.gc()


def start_session(ctx: Ctx):
    from starryskyqueryengine_spark.session import get_spark

    spark = get_spark("perfbench", extra_confs={
        "spark.ui.showConsoleProgress": "false",
        # start the driver heap at the size a run grows it to (2.2-2.7 GB
        # peak RSS): with the default small initial heap, a run whose heap
        # had not grown yet spent about twice the CPU per page on GC
        "spark.driver.extraJavaOptions": f"-Xms{JVM_INITIAL_HEAP}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


# -- the feed world ------------------------------------------------------------


class FeedWorld:
    """Conditions, profiles, generated batches, store and ingest job."""

    def __init__(self, ctx: Ctx):
        from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
        from starryskyqueryengine_spark.ingest import IngestJob
        from starryskyqueryengine_spark.schemas import INGEST_POST_SCHEMA, PROFILE_SCHEMA
        from starryskyqueryengine_spark.store import PostStore

        spark = ctx.spark
        self.ctx = ctx
        self.cond_dicts = gen.make_conditions()
        self.registry = ConditionsRegistry()
        for c in self.cond_dicts:
            self.registry.upsert(FeedCondition(**c).validate())
        self.profiles = spark.createDataFrame(gen.make_profiles(ctx.seed), PROFILE_SCHEMA)
        self.batches = gen.make_batches(ctx.seed, [SETUP_BATCH] + [TICK_BATCH] * MAX_RUN_TICKS)
        self.schema = INGEST_POST_SCHEMA
        self.store = PostStore(spark, os.path.join(ctx.work, "store"))
        self.job = IngestJob(spark, self.registry, self.store, profiles=self.profiles)
        self.delivered = 0  # batches handed to run_once so far
        self.caps = {c["key"]: c["limitCount"] for c in self.cond_dicts}
        self.position = {p[0]: (p[10], p[1]) for b in self.batches for p in b}

    def batch_df(self, i: int):
        return self.ctx.spark.createDataFrame(gen.to_spark_rows(self.batches[i]), self.schema)

    def tick(self, i: int, df) -> dict:
        inserted = self.job.run_once(df)
        self.delivered = max(self.delivered, i + 1)
        return inserted

    def accepted_by_key(self) -> dict[str, set]:
        """The naive model's input: per key, every delivered post that the
        key's own ``compile_condition`` accepts (one condition at a time,
        unioned, made distinct)."""
        from pyspark.sql import functions as F

        from starryskyqueryengine_spark.predicate import compile_condition

        spark = self.ctx.spark
        rows = [p for b in self.batches[: self.delivered] for p in b]
        df = spark.createDataFrame(gen.to_spark_rows(rows), self.schema)
        prof = self.profiles.select(
            F.col("did").alias("author_did"),
            F.concat_ws(" ", F.coalesce("displayName", F.lit("")), F.coalesce("description", F.lit(""))).alias(
                "author_profile_text"
            ),
        )
        df = df.join(F.broadcast(prof), "author_did", "left")
        # one filter per condition, evaluated side by side in one scan
        hits = F.array(*[F.when(compile_condition(c), F.lit(c.key)) for c in self.registry.all()])
        out: dict[str, set] = {}
        for r in df.select("uri", F.explode(hits).alias("key")).where("key IS NOT NULL").distinct().collect():
            p = self.position[r["uri"]]
            out.setdefault(r["key"], set()).add((r["uri"], p[0], p[1]))
        return out

    def store_rows(self) -> dict[str, list]:
        from pyspark.sql import functions as F

        out: dict[str, list] = {}
        for r in (
            self.store.read()
            .select("key", "uri", "cid", F.unix_micros("indexedAt").alias("us"))
            .collect()
        ):
            out.setdefault(r["key"], []).append((r["uri"], r["us"], r["cid"]))
        return out

    def check_store(self, ctx: Ctx, what: str, accepted: dict | None = None) -> None:
        ctx.attempted += 1
        actual = {k: {r[0] for r in v} for k, v in self.store_rows().items()}
        expected = model.model_store(accepted or self.accepted_by_key(), self.caps)
        problems = model.compare_store(actual, expected)
        if problems:
            ctx.fail.add(f"{what}_model_mismatch", "; ".join(problems[:3]))


# -- ingest ticks ----------------------------------------------------------------


def run_ticks(ctx: Ctx, world: FeedWorld, traced: bool, deadline: float | None = None,
              count: int | None = None) -> list[dict]:
    """Back-to-back ticks on the batches after the store's first one,
    until ``deadline`` (the tick in progress then finishes and counts)
    or for ``count`` ticks."""
    ticks = []
    spark = ctx.spark
    i = world.delivered
    while i < len(world.batches) and (
        (deadline is not None and time.time() < deadline) or (count is not None and len(ticks) < count)
    ):
        df = world.batch_df(i)
        rid = f"tick{i}"
        before = store_files(world.store.path) if traced else None
        if traced:
            ctx.tracer.set_request(rid)
            set_group(spark, rid)
        c0 = ctx.meter.cpu_s()
        t0 = time.perf_counter()
        err = None
        try:
            inserted = world.tick(i, df)
        except Exception as e:  # noqa: BLE001 - a failed tick is a result
            err = e
            inserted = {}
        wall = time.perf_counter() - t0
        cpu = ctx.meter.cpu_s() - c0
        if traced:
            set_group(spark, None)
            ctx.tracer.set_request(None)
        ctx.attempted += 1
        if err is not None:
            ctx.fail.add("tick_exception", f"{type(err).__name__}: {err}")
            world.delivered = max(world.delivered, i + 1)
        rec = {"i": i, "rid": rid, "ok": err is None, "wall_s": wall, "cpu_s": cpu, "rows": len(world.batches[i]),
               "inserted": sum(inserted.values())}
        if traced:
            after = store_files(world.store.path)
            rec["bytes_written"] = sum(sz for p, sz in after.items() if before.get(p) != sz)
        ticks.append(rec)
        i += 1
    return ticks


def store_files(path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def tick_metrics(ctx: Ctx, ticks: list[dict]) -> None:
    good = [t for t in ticks if t["ok"]]
    walls = [t["wall_s"] for t in good]
    if not walls:
        return
    ctx.metrics["ingest_tick_p50_s"] = {"value": percentile(walls, 50), "unit": "s", "n": len(walls)}
    ctx.metrics["ingest_tick_cpu_p50_s"] = {"value": percentile([t["cpu_s"] for t in good], 50), "unit": "s",
                                            "n": len(walls)}
    ctx.metrics["ingest_rows_per_s"] = {
        "value": sum(t["rows"] for t in good) / sum(walls),
        "unit": "rows/s",
        "n": len(walls),
    }
    ctx.info["ticks"] = [{k: t[k] for k in ("i", "ok", "wall_s", "cpu_s", "rows", "inserted")} for t in ticks]


# -- HTTP requests -------------------------------------------------------------


def feed_path(record_name: str, limit: int, cursor: str | None) -> str:
    q = {"feed": f"at://{PUBLISHER_DID}/app.bsky.feed.generator/{record_name}", "limit": limit}
    if cursor:
        q["cursor"] = cursor
    return "/xrpc/app.bsky.feed.getFeedSkeleton?" + urlencode(q)


def auth_headers(reader: str) -> dict:
    from starryskyqueryengine_spark.auth import sign_jwt_hs256

    return {"Authorization": "Bearer " + sign_jwt_hs256({"iss": reader, "aud": SERVICE_DID}, JWT_KEY)}


def quota(weights, n: int) -> list[int]:
    """Indices into ``weights`` repeated in proportion to them, ``n`` in
    all (largest remainder), so every run gets the same request mix."""
    total = sum(weights)
    exact = [w * n / total for w in weights]
    counts = [int(x) for x in exact]
    by_rem = sorted(range(len(weights)), key=lambda k: exact[k] - counts[k], reverse=True)
    for k in by_rem[: n - sum(counts)]:
        counts[k] += 1
    return [k for k, c in enumerate(counts) for _ in range(c)]


def plan_requests(seed: int, conds: list[dict], orders: dict, n: int, prefix: str) -> list[dict]:
    """The open-loop request list. Feed popularity is Zipf over the fixed
    feed order; 70% are first pages and the rest follow a cursor at a
    geometric depth; limit is 50 or 100; private feeds carry a valid
    token. Three are negative: an unknown feed, a malformed cursor and a
    tokenless private request. The mix is the same in every run, by
    quota; the seed orders it (and generated the posts). Cursors come
    from the set-up feed order."""
    r = gen.rng(seed, "requests-" + prefix)
    n_pos = n - 3
    feeds = quota([1.0 / (k + 1) ** 1.1 for k in range(len(conds))], n_pos)
    limits = quota([1, 1], n_pos)
    depths = quota([0.7, 0.15, 0.075, 0.0375, 0.0375], n_pos)
    for lst in (feeds, limits, depths):
        r.shuffle(lst)
    plan = [("page", conds[f], PAGE_LIMITS[lim], d) for f, lim, d in zip(feeds, limits, depths)]
    private = next(c for c in conds if c.get("privateFeed"))
    public = next(c for c in conds if not c.get("privateFeed"))
    plan += [("unknown_feed", public, 50, 0), ("bad_cursor", public, 50, 0), ("no_token", private, 50, 0)]
    r.shuffle(plan)
    out = []
    for i, (kind, c, limit, depth) in enumerate(plan):
        req = {"rid": f"{prefix}{i}", "feed": c["key"], "limit": limit, "kind": kind, "expect": 200}
        if kind == "unknown_feed":
            req.update(path=feed_path("no-such-feed", limit, None), expect=400)
        elif kind == "bad_cursor":
            req.update(path=feed_path(c["recordName"], limit, "not-a-cursor"), expect=400)
        elif kind == "no_token":
            req.update(path=feed_path(c["recordName"], limit, None), expect=401)
        else:
            order = orders.get(c["key"], [])
            cursor = None
            if depth:
                idx = min(depth * limit, len(order)) - 1
                cursor = model.encode_cursor(order[idx][1], order[idx][2]) if idx >= 0 else None
            headers = auth_headers(r.choice(gen.READERS)) if c.get("privateFeed") else {}
            req.update(path=feed_path(c["recordName"], limit, cursor), cursor=cursor, headers=headers)
        out.append(req)
    return out


def start_server(ctx: Ctx, world: FeedWorld):
    from starryskyqueryengine_spark.server import FeedGeneratorServer, ServerConfig
    from starryskyqueryengine_spark.serving import FeedServer

    cfg = ServerConfig(service_did=SERVICE_DID, publisher_did=PUBLISHER_DID, hostname="feed.bench")
    srv = FeedGeneratorServer(FeedServer(ctx.spark, world.registry, world.store), cfg, key_lookup=lambda iss: JWT_KEY)
    srv.start()
    return srv


def run_loadgen(ctx: Ctx, spec: dict) -> dict:
    spec_path = os.path.join(ctx.work, "loadgen-spec.json")
    res_path = os.path.join(ctx.work, "loadgen-result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.Popen([sys.executable, os.path.join(here, "loadgen.py"), spec_path, res_path])
    ctx.loadgen_pid = proc.pid
    try:
        rc = proc.wait(timeout=150)
    except subprocess.TimeoutExpired:
        rc = -9
    finally:
        if proc.poll() is None:  # timed out, or this process is being stopped
            proc.kill()
            proc.wait()
        ctx.loadgen_pid = None
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
    with open(res_path) as f:
        return json.load(f)


def check_response(ctx: Ctx, req: dict, res: dict, checker) -> bool:
    """Count one request; expected 400/401 answers to negative requests
    are successes. Returns whether the request succeeded."""
    ctx.attempted += 1
    status = res["status"]
    if status == -1:
        ctx.fail.add("timeout_or_connection", str(res["body"]))
        return False
    if status >= 500:
        ctx.fail.add("http_5xx", f"{status} {str(res['body'])[:200]}")
        return False
    if req["expect"] != 200:
        if status != req["expect"]:
            ctx.fail.add(f"negative_{req.get('kind')}", f"status {status} != {req['expect']}")
            return False
        return True
    msg = checker(req, res)
    if msg:
        ctx.fail.add("wrong_page", f"{req['rid']} {req['feed']}: {msg}")
        return False
    return True


def page_metrics(ctx: Ctx, reqs: list[dict], results: list[dict], checker) -> None:
    lat_ms, late_ms = [], []
    by_rid = {q["rid"]: q for q in reqs}
    for res in results:
        req = by_rid[res["rid"]]
        ok = check_response(ctx, req, res, checker)
        late_ms.append(OpenLoopSchedule.lateness(res["due"], res["sent"]) * 1000.0)
        if ok and req["expect"] == 200:
            lat_ms.append(OpenLoopSchedule.latency(res["due"], res["done"]) * 1000.0)
    if lat_ms:
        ctx.metrics["feed_p50_ms"] = {"value": percentile(lat_ms, 50), "unit": "ms", "n": len(lat_ms)}
        ctx.metrics["feed_p95_ms"] = {"value": percentile(lat_ms, 95), "unit": "ms", "n": len(lat_ms)}
        ctx.info["feed_latency"] = summarize(lat_ms, "ms")
    if late_ms:
        ctx.info["generator_lateness"] = summarize(late_ms, "ms")


def setup_feed(ctx: Ctx, traced_build: bool) -> tuple[FeedWorld, list[dict]]:
    """Build the store with the first ingest tick (1,500 posts, on a cold
    session) and warm the page path. Returns the world and that tick."""
    from starryskyqueryengine_spark.serving import FeedServer

    with phase(ctx, "inputs"):
        world = FeedWorld(ctx)
    if traced_build:
        install_feed_tracing(ctx)
    with phase(ctx, "store_build"):
        ticks = run_ticks(ctx, world, traced_build, count=1)
    with phase(ctx, "warm_pages"):
        fs = FeedServer(ctx.spark, world.registry, world.store)
        for k, c in enumerate(world.cond_dicts[:WARM_PAGES]):
            fs.get_feed_skeleton(c["recordName"], PAGE_LIMITS[k % 2], requester_did=gen.READERS[0])
    return world, ticks


def _feed(ctx: Ctx, mixed: bool) -> None:
    t0 = time.perf_counter()
    with phase(ctx, "session"):
        start_session(ctx)
    world, setup_ticks = setup_feed(ctx, traced_build=ctx.tracer is not None and not mixed)
    ctx.metrics["setup_s"] = {"value": time.perf_counter() - t0, "unit": "s", "n": 1}

    # the feed order each page is checked against, collected once
    orders = {k: model.newest_first(v) for k, v in world.store_rows().items()}
    pinned = {c["key"]: c.get("pinnedPost", []) for c in world.cond_dicts}
    n_open = int(RATE_RPS * ctx.seconds) + 1
    reqs = plan_requests(ctx.seed, world.cond_dicts, orders, n_open, "o")
    if ctx.tracer is not None and mixed:
        install_feed_tracing(ctx)
    settle(ctx.spark)
    srv = start_server(ctx, world)
    try:
        start = time.time() + 0.5
        base = {"host": "127.0.0.1", "port": srv.port, "threads": ctx.nproc}
        ticks: list[dict] = []
        writer = None
        if mixed:
            writer = threading.Thread(
                target=lambda: ticks.extend(run_ticks(ctx, world, ctx.tracer is not None, deadline=start + ctx.seconds))
            )
            time.sleep(max(0.0, start - time.time()))
            writer.start()
        # the open loop runs alone, so the CPU the server side used in it
        # is the pages' own (the load generator's is not counted)
        result = run_loadgen(ctx, {**base, "open": {"rate": RATE_RPS, "start": start, "seconds": ctx.seconds,
                                                    "requests": reqs}})
        open_cpu = bucket_deltas(list(ctx.meter.series), start, start + ctx.seconds, OPEN_BUCKET_S)
        if writer is not None:
            writer.join()
        rest = {}
        if not mixed:
            rest["closed"] = {"seconds": CLOSED_SECONDS, "chains": plan_chains(ctx.seed, world.cond_dicts)}
        if ctx.tracer is not None:
            rest["single"] = {"requests": single_pass_requests(world)}
        if rest:
            result.update(run_loadgen(ctx, {**base, **rest}))
    finally:
        srv.stop()

    # -- checks and metrics, outside the timed region --
    if mixed:
        with phase(ctx, "model"):
            accepted = world.accepted_by_key()

        def checker(req, res):
            return model.check_live_page(
                res["body"], pinned[req["feed"]], req.get("cursor") is None,
                {u for u, _us, _c in accepted.get(req["feed"], ())}, world.position,
            )
    else:
        def checker(req, res):
            return model.check_page(
                orders.get(req["feed"], []), pinned[req["feed"]], req["limit"], req.get("cursor"),
                res["status"], res["body"],
            )

    page_metrics(ctx, reqs, result["open"], checker)
    if not mixed and open_cpu:  # in feed_mixed the window also holds the ticks
        per_req = [c * 1000.0 / (RATE_RPS * OPEN_BUCKET_S) for c in open_cpu]
        ctx.metrics["feed_cpu_ms_per_req"] = {"value": percentile(per_req, 50), "unit": "ms", "n": len(per_req)}
        ctx.info["open_cpu_ms_per_req_by_bucket"] = [round(x, 1) for x in per_req]
    fc = sorted(world.store.file_counts().values())
    ctx.info["files_per_key"] = {"median": fc[len(fc) // 2], "max": fc[-1]} if fc else {}
    if mixed:
        with phase(ctx, "quiescent_check"):
            world.check_store(ctx, "quiescent", accepted)
    else:
        ticks = setup_ticks
        closed_metrics(ctx, result["closed"], orders, pinned)
        with phase(ctx, "model_check"):
            world.check_store(ctx, "store_build")
    tick_metrics(ctx, ticks)
    if ctx.tracer is not None:
        feed_layers(ctx, world, result, ticks)


def plan_chains(seed: int, conds: list[dict]) -> list[dict]:
    """Closed-loop cursor chains: every feed four times, with each limit
    and chain depth 0-3 in equal shares, in a seeded order."""
    chains = []
    for c in conds:
        for k in range(4):
            limit = PAGE_LIMITS[k % 2]
            headers = auth_headers(gen.READERS[0]) if c.get("privateFeed") else {}
            chains.append({"path": feed_path(c["recordName"], limit, None), "feed": c["key"], "limit": limit,
                           "depth": (k + conds.index(c)) % 4, "headers": headers})
    gen.rng(seed, "chains").shuffle(chains)
    return chains


def closed_metrics(ctx: Ctx, closed: dict, orders: dict, pinned: dict) -> None:
    good = 0
    chains: dict[int, list] = {}
    for res in closed["results"]:
        req = {"rid": res["rid"], "feed": res["feed"], "limit": res["limit"], "cursor": res["cursor"], "expect": 200}

        def checker(q, r):
            return model.check_page(orders.get(q["feed"], []), pinned[q["feed"]], q["limit"], q["cursor"],
                                    r["status"], r["body"])

        if check_response(ctx, req, res, checker):
            good += 1
            chains.setdefault(res["chain"], []).append((res["depth"], [i["post"] for i in res["body"]["feed"]], res["feed"]))
    for ci, pages in chains.items():
        pages.sort()
        msg = model.check_chain([p[1] for p in pages], pinned[pages[0][2]])
        if msg:
            ctx.attempted += 1
            ctx.fail.add("chain_overlap", f"chain {ci}: {msg}")
    ctx.metrics["feed_capacity_rps"] = {"value": good / closed["wall_s"], "unit": "1/s", "n": good}


def single_pass_requests(world: FeedWorld) -> list[dict]:
    """The traced run's fixed single-client pass: first pages of eight
    feeds (one private, with a token) and one tokenless private request."""
    reqs = []
    for k, c in enumerate(world.cond_dicts[:8]):
        headers = auth_headers(gen.READERS[0]) if c.get("privateFeed") else {}
        reqs.append({"rid": f"s{k}", "path": feed_path(c["recordName"], 50, None), "headers": headers})
    private = next(c for c in world.cond_dicts if c.get("privateFeed"))
    reqs.append({"rid": "s-noauth", "path": feed_path(private["recordName"], 50, None)})
    return reqs


def feed_read(ctx: Ctx) -> None:
    _feed(ctx, mixed=False)


def feed_mixed(ctx: Ctx) -> None:
    _feed(ctx, mixed=True)


def ingest_tick(ctx: Ctx) -> None:
    t0 = time.perf_counter()
    with phase(ctx, "session"):
        start_session(ctx)
    with phase(ctx, "inputs"):
        world = FeedWorld(ctx)
    with phase(ctx, "store_build"):
        run_ticks(ctx, world, False, count=1)  # warm-up tick, also the store's first contents
    ctx.metrics["setup_s"] = {"value": time.perf_counter() - t0, "unit": "s", "n": 1}
    if ctx.tracer is not None:
        install_ingest_tracing(ctx)
    settle(ctx.spark)
    ticks = run_ticks(ctx, world, ctx.tracer is not None, deadline=time.time() + ctx.seconds)
    tick_metrics(ctx, ticks)
    with phase(ctx, "model_check"):
        world.check_store(ctx, "final")
    if ctx.tracer is not None:
        ingest_layers(ctx, world, ticks)


# -- catalog slice ----------------------------------------------------------------


def catalog_slice(ctx: Ctx) -> None:
    from starryskyqueryengine_spark import catalog

    t0 = time.perf_counter()
    with phase(ctx, "session"):
        spark = start_session(ctx)
    sf_dir = os.path.join(ctx.work, "tables")
    with phase(ctx, "inputs"):
        ctx.info["catalog_rows"] = gen.write_catalog_tables(ctx.seed, sf_dir)
    queries = catalog.get_queries()
    missing = [q for q in CATALOG_SLICE if q not in queries]
    if missing:
        raise RuntimeError(f"catalog queries missing: {missing}")
    with phase(ctx, "check_pass"):
        # the first, cold pass collects every output and checks it
        # against the DuckDB oracle
        check_catalog(ctx, queries, sf_dir)
    with phase(ctx, "warm_pass"):
        # the noop sink plans its own final stage: warm it untimed
        for _ in range(WARM_PASSES):
            settle(spark)
            for q in CATALOG_SLICE:
                queries[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
    ctx.metrics["setup_s"] = {"value": time.perf_counter() - t0, "unit": "s", "n": 1}

    if ctx.tracer is not None:
        install_catalog_tracing(ctx)
    passes, pass_cpu, per_query = [], [], {q: [] for q in CATALOG_SLICE}
    deadline = time.time() + ctx.seconds
    while len(passes) < MIN_PASSES or time.time() < deadline:
        settle(spark)
        c0 = ctx.meter.cpu_s()
        p0 = time.perf_counter()
        for q in CATALOG_SLICE:
            q0 = time.perf_counter()
            run_catalog_query(ctx, queries[q], q, sf_dir, f"{q}#{len(passes)}")
            per_query[q].append(time.perf_counter() - q0)
        passes.append(time.perf_counter() - p0)
        pass_cpu.append(ctx.meter.cpu_s() - c0)
    ctx.attempted += len(passes) * len(CATALOG_SLICE)
    ctx.metrics["catalog_slice_s"] = {"value": percentile(passes, 50), "unit": "s", "n": len(passes)}
    # a slice query's mean time, per pass; the median over passes. (The
    # median over queries would pick one sub-100 ms query and track its noise.)
    q_ms = [p / len(CATALOG_SLICE) * 1000.0 for p in passes]
    ctx.metrics["query_mean_ms"] = {"value": percentile(q_ms, 50), "unit": "ms", "n": len(q_ms)}
    ctx.metrics["catalog_pass_cpu_s"] = {"value": percentile(pass_cpu, 50), "unit": "s", "n": len(pass_cpu)}
    ctx.metrics["query_cpu_mean_ms"] = {"value": percentile(pass_cpu, 50) / len(CATALOG_SLICE) * 1000.0,
                                        "unit": "ms", "n": len(pass_cpu)}
    ctx.info["query_ms"] = {q: [round(x * 1000, 1) for x in v] for q, v in per_query.items()}
    ctx.info["pass_cpu_s"] = [round(c, 2) for c in pass_cpu]
    if ctx.tracer is not None:
        catalog_layers(ctx)


def run_catalog_query(ctx: Ctx, fn, name: str, sf_dir: str, group: str) -> None:
    spark = ctx.spark
    tr = ctx.tracer
    if tr is None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return
    tr.set_request(group)
    set_group(spark, group)
    root = tr.start("catalog.query", query=name)
    try:
        b = tr.start("catalog.build")
        df = fn(spark, sf_dir)
        tr.end(b)
        e = tr.start("catalog.exec")
        df.write.format("noop").mode("overwrite").save()
        tr.end(e)
    finally:
        tr.end(root)
        set_group(spark, None)
        tr.set_request(None)


def check_catalog(ctx: Ctx, queries: dict, sf_dir: str) -> None:
    """Each slice query's output against its DuckDB oracle, with the
    repo's own comparison helpers."""
    import duckdb

    from starryskyqueryengine_spark import catalog
    from starryskyqueryengine_spark.sources.fixtures import TABLES
    from tools.compare import normalize, tolerant_rows_equal, type_drift

    oracles = catalog.get_oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    cold = ctx.info["cold_query_ms"] = {}
    for q in CATALOG_SLICE:
        ctx.attempted += 1
        try:
            q0 = time.perf_counter()
            sdf = queries[q](ctx.spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            cold[q] = round((time.perf_counter() - q0) * 1000, 1)
            res = con.execute(oracles[q])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            drift = type_drift(con.execute("DESCRIBE " + oracles[q]).fetchall(), sdf.dtypes)
            s_vals, s_cols = normalize(s_rows, sdf.columns)
            d_vals, d_cols = normalize(d_rows, d_cols)
            if drift or s_cols != d_cols or len(s_vals) != len(d_vals) or not tolerant_rows_equal(s_vals, d_vals):
                ctx.fail.add("oracle_mismatch", f"{q}: rows {len(s_vals)} vs {len(d_vals)}, drift {drift}")
        except Exception as e:  # noqa: BLE001 - a failed check is a result
            ctx.fail.add("oracle_error", f"{q}: {type(e).__name__}: {e}")
        ctx.spark.catalog.clearCache()


WORKLOADS = {
    "feed_read": feed_read,
    "ingest_tick": ingest_tick,
    "feed_mixed": feed_mixed,
    "catalog_slice": catalog_slice,
}

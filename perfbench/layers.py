"""Traced run: which engine functions are wrapped, and the per-layer
metrics computed from the recorded spans.

Timings are medians over pages, ticks or passes; counts (``*calls*``,
``*jobs*``, ``*stages*``, ``files_per_key``) come from single-client
work, so they repeat exactly for the same inputs.
"""

from __future__ import annotations

import time

from spans import DUE_HEADER, REQUEST_ID_HEADER, dur_ms, inclusive_py4j, measure_overhead, self_ms
from stats import percentile

PKG = "starryskyqueryengine_spark"

#: the catalog slice: one or more queries per family (README has the cut)
CATALOG_QUERIES = (
    "dedup_minhash_lsh", "bpe_tokenize_roundtrip", "text_pii_redact", "t2_keyset_page",
    "p4_regex_include", "f7_coalesce_defaults", "s11_feed_catalog",
)
#: every per-layer metric the traced run reports, with its unit; a layer
#: a workload does not exercise reports 0
PER_LAYER = {
    "server.queue_wait_ms": "ms", "server.handle_ms": "ms", "server.wire_ms": "ms",
    "auth.validate_ms": "ms", "auth.rejects": "count",
    "serving.self_ms": "ms", "topk.keyset_page_ms": "ms",
    "store.read_ms": "ms", "store.read_calls_per_page": "count",
    "spark.collect_ms": "ms", "spark.jobs_per_page": "count", "py4j.calls_per_page": "count",
    "predicate.compile_ms": "ms", "ingest.accepted_pairs_ms": "ms", "ingest.self_ms": "ms",
    "store.upsert_ms": "ms", "store.retention_ms": "ms",
    "store.rows_inserted_per_tick": "count", "store.keys_over_cap_per_tick": "count",
    "table_format.append_ms": "ms", "table_format.overwrite_ms": "ms",
    "table_format.bytes_written_per_tick": "bytes",
    "table_format.files_per_key_median": "count", "table_format.files_per_key_max": "count",
    "spark.write_ms": "ms", "spark.jobs_per_tick": "count", "spark.stages_per_tick": "count",
    "py4j.calls_per_tick": "count",
    "sources.load_table_ms": "ms", "sources.load_table_calls": "count",
    "trace.overhead_ms_per_op": "ms",
}
for _q in CATALOG_QUERIES:
    PER_LAYER[f"catalog.{_q}.build_ms"] = "ms"
    PER_LAYER[f"catalog.{_q}.exec_ms"] = "ms"
    PER_LAYER[f"catalog.{_q}.py4j_calls"] = "count"
    PER_LAYER[f"catalog.{_q}.jobs"] = "count"


def _med(values) -> float:
    values = list(values)
    return float(percentile(values, 50)) if values else 0.0


def job_counts(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, "perfbench")


# -- installation --------------------------------------------------------------


def _spark_classes(spark):
    df = spark.range(1)
    return type(df), type(df.write)


def install_common(ctx) -> None:
    tr = ctx.tracer
    df_cls, writer_cls = _spark_classes(ctx.spark)
    tr.wrap(df_cls, "collect", "spark.collect")
    tr.wrap(writer_cls, "parquet", "spark.write")
    tr.count_py4j_calls()


def install_feed_tracing(ctx) -> None:
    from starryskyqueryengine_spark import auth, serving
    from starryskyqueryengine_spark.server import FeedGeneratorServer
    from starryskyqueryengine_spark.serving import FeedServer

    tr = ctx.tracer
    spark = ctx.spark
    orig = FeedGeneratorServer.handle_get_feed_skeleton

    def handle(self, params, headers):
        # reads the request id and due time the load generator sent
        entry = time.time()
        rid = headers.get(REQUEST_ID_HEADER)
        tr.set_request(rid)
        set_group(spark, rid)
        span = tr.start("server.handle", due=float(headers.get(DUE_HEADER) or entry), entry=entry)
        try:
            return orig(self, params, headers)
        finally:
            tr.end(span)
            set_group(spark, None)
            tr.set_request(None)

    FeedGeneratorServer.handle_get_feed_skeleton = handle
    tr.wrap(FeedServer, "get_feed_skeleton_authed", "serving.authed")
    tr.wrap(FeedServer, "get_feed_skeleton", "serving.page")
    tr.wrap_everywhere(auth, "validate_auth", "auth.validate", PKG)
    tr.wrap(serving, "keyset_page", "topk.keyset_page")
    install_ingest_tracing(ctx)


def install_ingest_tracing(ctx) -> None:
    from starryskyqueryengine_spark import ingest
    from starryskyqueryengine_spark.ingest import IngestJob
    from starryskyqueryengine_spark.store import PostStore
    from starryskyqueryengine_spark.table_format import ParquetPartitionedFormat

    tr = ctx.tracer
    install_common(ctx)
    tr.wrap(IngestJob, "run_once", "ingest.run_once")
    tr.wrap(IngestJob, "accepted_pairs", "ingest.accepted_pairs")
    tr.wrap(ingest, "compile_all_conditions", "predicate.compile")
    tr.wrap(PostStore, "upsert", "store.upsert",
            on_call=lambda s, a, kw, res: s.update(rows=sum(res.values())))
    tr.wrap(PostStore, "apply_retention", "store.retention")
    tr.wrap(ParquetPartitionedFormat, "append", "table_format.append")
    tr.wrap(ParquetPartitionedFormat, "overwrite_partitions", "table_format.overwrite",
            on_call=lambda s, a, kw, res: s.update(keys=len(kw.get("expected_keys") or [])))
    tr.wrap(PostStore, "read", "store.read")


def install_catalog_tracing(ctx) -> None:
    from starryskyqueryengine_spark.sources import fixtures

    install_common(ctx)
    ctx.tracer.wrap_everywhere(fixtures, "load_table", "sources.load_table", PKG)


# -- metrics -------------------------------------------------------------------


def _by_rid(spans) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s["rid"], []).append(s)
    return out


def _sum(spans, name) -> float:
    return sum(dur_ms(s) for s in spans if s["name"] == name)


def feed_layers(ctx, world, result, ticks) -> None:
    tr = ctx.tracer
    kids = tr.children()
    rids = _by_rid(tr.spans)
    latency = {r["rid"]: (r["done"] - r["due"]) * 1000.0 for r in result["open"]}
    L = ctx.layers
    handles = [s for s in tr.spans if s["name"] == "server.handle" and s["rid"] in latency]
    waits = {s["rid"]: (s["entry"] - s["due"]) * 1000.0 for s in handles}
    L["server.queue_wait_ms"] = _med(waits.values())
    L["server.handle_ms"] = _med(dur_ms(s) for s in handles)
    L["server.wire_ms"] = _med(latency[s["rid"]] - waits[s["rid"]] - dur_ms(s) for s in handles)
    single = [r["rid"] for r in result.get("single", [])]
    auth = [s for s in tr.spans if s["name"] == "auth.validate" and s["rid"] in single]
    L["auth.validate_ms"] = _med(dur_ms(s) for s in auth)
    L["auth.rejects"] = sum(1 for s in auth if s.get("error"))
    page_rids = [r for r in rids if r and r[0] in "os"]
    L["serving.self_ms"] = _med(
        sum(self_ms(s, kids) for s in rids[r] if s["name"].startswith("serving.")) for r in page_rids
        if any(s["name"] == "serving.page" for s in rids[r])
    )
    in_pages = [s for r in page_rids for s in rids[r]]
    L["topk.keyset_page_ms"] = _med(dur_ms(s) for s in in_pages if s["name"] == "topk.keyset_page")
    L["store.read_ms"] = _med(dur_ms(s) for s in in_pages if s["name"] == "store.read")
    L["spark.collect_ms"] = _med(dur_ms(s) for s in in_pages if s["name"] == "spark.collect")
    pages = [r for r in single if any(s["name"] == "serving.page" for s in rids.get(r, ()))]
    L["store.read_calls_per_page"] = _med(
        sum(1 for s in rids[r] if s["name"] == "store.read") for r in pages)
    L["spark.jobs_per_page"] = _med(job_counts(ctx.spark, r)[0] for r in pages)
    roots = {s["rid"]: s for s in tr.spans if s["name"] == "server.handle"}
    L["py4j.calls_per_page"] = _med(inclusive_py4j(roots[r], kids) for r in pages)
    fc = list(world.store.file_counts().values())
    L["table_format.files_per_key_median"] = _med(fc)
    L["table_format.files_per_key_max"] = max(fc) if fc else 0
    ov = measure_overhead()
    L["trace.overhead_ms_per_op"] = _med(
        (len(rids[r]) * ov["span_us"] + inclusive_py4j(roots[r], kids) * ov["py4j_us"]) / 1000.0
        for r in pages
    )
    ctx.info["trace_overhead_us"] = ov
    if ticks:
        ingest_layers(ctx, world, ticks, overhead=ov)


def ingest_layers(ctx, world, ticks, overhead=None) -> None:
    tr = ctx.tracer
    kids = tr.children()
    rids = _by_rid(tr.spans)
    L = ctx.layers
    per = [rids.get(t["rid"], []) for t in ticks]
    L["predicate.compile_ms"] = _med(_sum(s, "predicate.compile") for s in per)
    L["ingest.accepted_pairs_ms"] = _med(_sum(s, "ingest.accepted_pairs") for s in per)
    runs = [s for s in tr.spans if s["name"] == "ingest.run_once" and s["rid"] in {t["rid"] for t in ticks}]
    L["ingest.self_ms"] = _med(
        self_ms(s, kids, only=("store.", "ingest.accepted_pairs", "predicate.")) for s in runs)
    L["store.upsert_ms"] = _med(_sum(s, "store.upsert") for s in per)
    L["store.retention_ms"] = _med(_sum(s, "store.retention") for s in per)
    L["store.rows_inserted_per_tick"] = _med(t["inserted"] for t in ticks)
    L["store.keys_over_cap_per_tick"] = _med(
        sum(x.get("keys", 0) for x in s if x["name"] == "table_format.overwrite") for s in per)
    L["table_format.append_ms"] = _med(_sum(s, "table_format.append") for s in per)
    L["table_format.overwrite_ms"] = _med(_sum(s, "table_format.overwrite") for s in per)
    L["table_format.bytes_written_per_tick"] = _med(t["bytes_written"] for t in ticks)
    L["spark.write_ms"] = _med(_sum(s, "spark.write") for s in per)
    counts = [job_counts(ctx.spark, t["rid"]) for t in ticks]
    L["spark.jobs_per_tick"] = _med(c[0] for c in counts)
    L["spark.stages_per_tick"] = _med(c[1] for c in counts)
    L["py4j.calls_per_tick"] = _med(inclusive_py4j(s, kids) for s in runs)
    fc = list(world.store.file_counts().values())
    L["table_format.files_per_key_median"] = _med(fc)
    L["table_format.files_per_key_max"] = max(fc) if fc else 0
    if overhead is None:
        overhead = measure_overhead()
        ctx.info["trace_overhead_us"] = overhead
        L["trace.overhead_ms_per_op"] = _med(
            (len(s) * overhead["span_us"] + inclusive_py4j(r, kids) * overhead["py4j_us"]) / 1000.0
            for s, r in zip(per, runs)
        )


def catalog_layers(ctx) -> None:
    tr = ctx.tracer
    kids = tr.children()
    L = ctx.layers
    roots = [s for s in tr.spans if s["name"] == "catalog.query"]
    for q in CATALOG_QUERIES:
        mine = [s for s in roots if s["query"] == q]
        L[f"catalog.{q}.build_ms"] = _med(_sum(kids.get(s["id"], []), "catalog.build") for s in mine)
        L[f"catalog.{q}.exec_ms"] = _med(_sum(kids.get(s["id"], []), "catalog.exec") for s in mine)
        L[f"catalog.{q}.py4j_calls"] = _med(inclusive_py4j(s, kids) for s in mine)
        L[f"catalog.{q}.jobs"] = _med(job_counts(ctx.spark, s["rid"])[0] for s in mine)
    passes: dict = {}
    for s in tr.spans:
        if s["name"] == "sources.load_table" and s["rid"]:
            k = s["rid"].rsplit("#", 1)[1]
            passes.setdefault(k, []).append(dur_ms(s))
    L["sources.load_table_ms"] = _med(sum(v) for v in passes.values())
    L["sources.load_table_calls"] = _med(len(v) for v in passes.values())
    ov = measure_overhead()
    ctx.info["trace_overhead_us"] = ov
    n_spans = _by_rid(tr.spans)
    L["trace.overhead_ms_per_op"] = _med(
        (len(n_spans[s["rid"]]) * ov["span_us"] + inclusive_py4j(s, kids) * ov["py4j_us"]) / 1000.0
        for s in roots
    )

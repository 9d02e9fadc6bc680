"""Per-layer probes of the traced run and the per-layer metric table.

The probes call the package's public layer functions directly, each
inside a span, over the state a workload left behind. A probe whose
function no longer exists reports null for its metrics instead of
failing the run. :func:`layer_metrics` turns the spans, their event-log
totals and the probes' counts into the ``per_layer`` metrics of
``BENCHMARK.json``.
"""

from __future__ import annotations

import datetime
import importlib
import math
import os
import statistics
import sys
import time

from tracing import Tracer

ENGINE_PHASES = (("_select_build", "select_build"),
                 ("fetch_stage_write", "fetch_stage_write"),
                 ("state_appends", "state_appends"),
                 ("lineage", "lineage"))
HTML_SAMPLE_PAGES = 2000
BLOOM_SHARDS = 16

# (name, unit) of every per-layer metric; query.<name>_s are added per
# query by per_layer_names()
PER_LAYER = [
    ("session.start_s", "s"),
    ("frontier.pending_s", "s"), ("frontier.select_s", "s"),
    ("frontier.pending_rows", "count"), ("frontier.selected_rows", "count"),
    ("frontier.select_shuffle_mb", "MB"),
    ("fetch.fetch_round_s", "s"), ("fetch.ok_ratio", "ratio"),
    ("fetch.extract_links_s", "s"), ("fetch.new_link_ratio", "ratio"),
    ("htmlspans.ms_per_page", "ms"), ("htmlspans.kb_per_page", "KB"),
    ("snapshot.frontier_files", "count"), ("snapshot.resolved_files", "count"),
    ("snapshot.documents_files", "count"), ("snapshot.read_s", "s"),
    ("snapshot.state_mb", "MB"),
    ("bloom.build_s", "s"), ("bloom.probe_s", "s"), ("bloom.neg_ratio", "ratio"),
    ("engine.select_build_s", "s"), ("engine.fetch_stage_write_s", "s"),
    ("engine.state_appends_s", "s"), ("engine.lineage_s", "s"),
    ("engine.compactions", "count"),
    ("round.jobs", "count"), ("round.stages", "count"),
    ("round.shuffle_read_mb", "MB"), ("round.shuffle_write_mb", "MB"),
    ("round.spill_mb", "MB"), ("round.task_max_ms", "ms"), ("round.task_p50_ms", "ms"),
    ("ingest.fresh_s", "s"), ("ingest.recrawl_s", "s"), ("ingest.mixed_s", "s"),
    ("ingest.exact_fastpath_ratio", "ratio"), ("ingest.jobs", "count"),
    ("operators.jobs", "count"), ("operators.shuffle_mb", "MB"),
    ("trace.overhead_s", "s"), ("trace.overhead_ratio", "ratio"),
]


def per_layer_names(queries: list[str]) -> list[tuple[str, str]]:
    return PER_LAYER + [(f"query.{q}_s", "s") for q in queries]


def _fn(module: str, name: str):
    """A public layer function, or None when it no longer exists."""
    try:
        return getattr(importlib.import_module(module), name)
    except (ImportError, AttributeError):
        return None


def force(df) -> None:
    """Run ``df`` to completion through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


class Steal:
    """Share of CPU time stolen by the hypervisor since construction."""

    def __init__(self):
        self.t0 = self._snap()

    @staticmethod
    def _snap() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def pct(self) -> float:
        d = [b - a for a, b in zip(self.t0, self._snap())]
        return 100.0 * d[7] / max(1, sum(d))


def canonical_rows(cols: list[str], records: list[tuple]) -> list[tuple]:
    """Order-insensitive canonical rows: columns sorted by name, floats
    to 9 significant digits, timestamps as ISO strings (the comparison
    of tests/test_driver_contract.py)."""
    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in records)


def crawl_counts(eng) -> tuple:
    return tuple(t.read().count() for t in
                 (eng.frontier, eng.resolved, eng.documents, eng.lineage))


def dedup_counts(st) -> tuple:
    return tuple(t.read().count() for t in
                 (st.fingerprints, st.bands, st.verdicts, st.lineage))


def engine_child_spans(tracer: Tracer, round_span: dict, timings: dict) -> None:
    """The engine's own phase timings of one round, as child spans laid
    end to end from the round span's start."""
    t = round_span["start"]
    for key, name in ENGINE_PHASES:
        if key in timings:
            tracer.add(f"engine.{name}", t, t + timings[key], parent=round_span["id"])
            t += timings[key]


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / (1024.0 * 1024.0)


def _html_probe(cfg) -> dict:
    synth_html = _fn("news_crawler_spark.fixtures.sitegen", "synth_html")
    html_to_spans = _fn("news_crawler_spark.functions.htmlspans", "html_to_spans")
    if synth_html is None or html_to_spans is None:
        return {}
    pages = []
    for i in range(HTML_SAMPLE_PAGES):
        page, html = synth_html(cfg, cfg.page_url(i % cfg.n_hosts, i // cfg.n_hosts))
        if page["status"] == 200:
            pages.append(html)
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for html in pages:
            html_to_spans(html)
        runs.append(time.perf_counter() - t0)
    return {"htmlspans.ms_per_page": 1000.0 * statistics.median(runs) / len(pages),
            "htmlspans.kb_per_page": sum(len(h.encode()) for h in pages) / len(pages) / 1024.0}


def crawl_layers(b, eng, cfg) -> dict:
    """Frontier, fetch, link, snapshot, bloom and htmlspans probes over
    the engine's post-run state. Durations are read from the spans at
    the end of the run; this returns counts and ratios."""
    from pyspark.sql import functions as F

    out: dict = {}
    span = b.tracer.span
    spark = b.spark
    out.update(_html_probe(cfg))
    out["engine.compactions"] = getattr(eng, "compactions", None)

    frontier, resolved = eng.frontier.read(), eng.resolved.read()
    pending = _fn("news_crawler_spark.crawl.frontier", "pending")
    select = _fn("news_crawler_spark.crawl.frontier", "select_candidates")
    fetch_round = _fn("news_crawler_spark.crawl.fetch", "fetch_round")
    extract = _fn("news_crawler_spark.crawl.fetch", "extract_links")
    if pending is not None:
        with span("probe.frontier.pending"):
            pend = pending(frontier, resolved, eng.next_round)
            force(pend)
        out["frontier.pending_rows"] = pend.count()
        if select is not None:
            with span("probe.frontier.select"):
                force(select(pend, eng.hosts))
            out["frontier.selected_rows"] = select(pend, eng.hosts).count()
            if fetch_round is not None:
                fetched_dir = b.path("probe-fetched")
                with span("probe.fetch.fetch_round"):
                    (fetch_round(select(pending(frontier, resolved, eng.next_round),
                                        eng.hosts), eng.fetcher)
                     .write.mode("overwrite").parquet(fetched_dir))
                if extract is not None:
                    fetched = spark.read.parquet(fetched_dir)
                    with span("probe.fetch.extract_links"):
                        links = extract(fetched)
                        force(links)
                    n_links = links.count()
                    n_new = links.join(frontier.select("url"), "url", "left_anti").count()
                    out["fetch.new_link_ratio"] = n_new / max(1, n_links)

    for name in ("frontier", "resolved", "documents"):
        out[f"snapshot.{name}_files"] = len(getattr(eng, name).read().inputFiles())
    with span("probe.snapshot.read"):
        for name in ("frontier", "resolved", "documents", "lineage"):
            getattr(eng, name).read().count()
    out["snapshot.state_mb"] = _du_mb(os.path.dirname(eng.frontier.dir))

    shards_cls = _fn("news_crawler_spark.crawl.bloom", "BloomShards")
    build = _fn("news_crawler_spark.crawl.bloom", "build_shard_blobs")
    split = _fn("news_crawler_spark.crawl.bloom", "split_by_bloom")
    if shards_cls is not None and build is not None:
        shards = shards_cls(n_shards=BLOOM_SHARDS)
        with span("probe.bloom.build"):
            blobs = build(resolved.select("url_hash", "attempt"),
                          shards.n_shards, shards.m_bits)
        if split is not None:
            shards.absorb_blobs(blobs)
            bc = spark.sparkContext.broadcast(shards.snapshot())
            pend0 = frontier.where(F.col("not_before") <= F.lit(eng.next_round))
            with span("probe.bloom.probe"):
                probed = split(pend0, bc)
                force(probed)
            out["bloom.neg_ratio"] = (probed.where("bloom_neg").count()
                                      / max(1, pend0.count()))
            bc.destroy()
    return out


def _median_dur(spans: list[dict], name: str) -> float | None:
    ds = [s["end"] - s["start"] for s in spans
          if s["name"] == name and s["end"] is not None]
    return statistics.median(ds) if ds else None


def layer_metrics(spans: list[dict], stats: dict[int, dict], recorded: dict,
                  queries: list[str], session_start_s: float | None) -> dict:
    """Every per-layer metric; None where its probe could not run."""
    m: dict = {name: None for name, _ in per_layer_names(queries)}
    m["session.start_s"] = session_start_s
    for name, span_name in (
            ("frontier.pending_s", "probe.frontier.pending"),
            ("frontier.select_s", "probe.frontier.select"),
            ("fetch.extract_links_s", "probe.fetch.extract_links"),
            ("snapshot.read_s", "probe.snapshot.read"),
            ("bloom.build_s", "probe.bloom.build"),
            ("bloom.probe_s", "probe.bloom.probe"),
            ("ingest.fresh_s", "ingest.fresh"),
            ("ingest.recrawl_s", "ingest.recrawl"),
            ("ingest.mixed_s", "ingest.mixed")):
        m[name] = _median_dur(spans, span_name)
    for _, phase in ENGINE_PHASES:
        m[f"engine.{phase}_s"] = _median_dur(spans, f"engine.{phase}")
    for q in queries:
        m[f"query.{q}_s"] = _median_dur(spans, f"query.{q}")

    fetch_s = _median_dur(spans, "probe.fetch.fetch_round")
    if fetch_s is not None and m["frontier.select_s"] is not None:
        m["fetch.fetch_round_s"] = fetch_s - m["frontier.select_s"]
    if m["ingest.fresh_s"] and m["ingest.recrawl_s"]:
        m["ingest.exact_fastpath_ratio"] = m["ingest.fresh_s"] / m["ingest.recrawl_s"]

    def of(name: str) -> list[dict]:
        return [stats.get(s["id"], {}) for s in spans if s["name"] == name]

    select = of("probe.frontier.select")
    if select:
        m["frontier.select_shuffle_mb"] = select[-1].get("shuffle_write_mb", 0.0)
    rounds = of("round")
    if rounds:
        for key in ("jobs", "stages", "shuffle_read_mb", "shuffle_write_mb",
                    "spill_mb", "task_max_ms", "task_p50_ms"):
            m[f"round.{key}"] = statistics.median(r.get(key, 0) for r in rounds)
    cycles = len(of("ingest.fresh"))
    if cycles:
        m["ingest.jobs"] = sum(r.get("jobs", 0) for n in ("fresh", "recrawl", "mixed")
                               for r in of(f"ingest.{n}")) / cycles
    passes = len(of(f"query.{queries[0]}"))
    if passes:
        q_stats = [r for q in queries for r in of(f"query.{q}")]
        m["operators.jobs"] = sum(r.get("jobs", 0) for r in q_stats) / passes
        m["operators.shuffle_mb"] = sum(r.get("shuffle_write_mb", 0.0)
                                        for r in q_stats) / passes
    for k, v in recorded.items():
        if k in m and v is not None:
            m[k] = v
    missing = sorted(k for k, v in m.items() if v is None)
    if missing:
        print(f"perfbench: per-layer metrics without a value: {missing}", file=sys.stderr)
    return m

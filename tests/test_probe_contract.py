"""The benchmark's probe contract.

The traced benchmark run (perfbench/probes.py) calls package functions
by name and reports null for a per-layer metric whose function is gone.
These tests import the probes read-only and pin what they call, so a
refactor that would null a per-layer metric fails here, not only in a
traced benchmark run.
"""

from __future__ import annotations

import ast
import importlib
import os
import sys
from types import SimpleNamespace

import pytest

from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
from news_crawler_spark.fixtures import SiteConfig, host_rows, seed_rows
from news_crawler_spark.schemas import HOSTS

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")
CFG = SiteConfig(seed=5, n_hosts=4, base_pages=12, n_seeds=2)
# per-layer groups a crawl round plus probes.crawl_layers must fill;
# fetch.ok_ratio comes from the workload's own round stats
CRAWL_LAYERS = ("frontier.", "fetch.", "htmlspans.", "snapshot.", "bloom.",
                "engine.", "round.")


@pytest.fixture(scope="module")
def probes():
    sys.path.insert(0, PERFBENCH)
    try:
        return importlib.import_module("probes")
    finally:
        sys.path.remove(PERFBENCH)


def _probed_functions() -> list[tuple[str, str]]:
    """Every ``_fn(module, name)`` call in probes.py."""
    with open(os.path.join(PERFBENCH, "probes.py")) as f:
        tree = ast.parse(f.read())
    return sorted({(c.args[0].value, c.args[1].value) for c in ast.walk(tree)
                   if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                   and c.func.id == "_fn"})


def test_every_probed_function_exists():
    names = _probed_functions()
    assert ("news_crawler_spark.crawl.fetch", "fetch_round") in names
    missing = [(m, n) for m, n in names
               if not hasattr(importlib.import_module(m), n)]
    assert not missing, f"probes call functions that are gone: {missing}"


def test_crawl_round_and_probes_fill_every_crawl_layer(spark, tmp_path, probes):
    hosts = spark.createDataFrame(host_rows(CFG), HOSTS)
    eng = CrawlEngine(spark, str(tmp_path / "state"), hosts,
                      SyntheticFetcher(CFG, parse_html=True), seed=CFG.seed)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    assert isinstance(eng.compactions, int)

    b = SimpleNamespace(tracer=probes.Tracer("contract", True), spark=spark,
                        path=lambda name: str(tmp_path / name))
    with b.tracer.span("round") as sp:
        eng.run_round()
    assert {key for key, _ in probes.ENGINE_PHASES} <= set(eng.last_timings)
    probes.engine_child_spans(b.tracer, sp, eng.last_timings)

    recorded = probes.crawl_layers(b, eng, CFG)
    m = probes.layer_metrics(b.tracer.spans, {}, recorded, ["none"], 0.0)
    null = sorted(k for k, v in m.items()
                  if k.startswith(CRAWL_LAYERS) and k != "fetch.ok_ratio" and v is None)
    assert not null, f"per-layer metrics without a value: {null}"

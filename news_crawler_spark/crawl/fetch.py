"""Batch fetch + parse as a vectorized Arrow UDF: the round's only
Python stage.

The reference fetches serially with requests/cloudscraper and parses
with BeautifulSoup (``news.py:85-124``, ``asec.py:56-61``); here a
fetch round is one ``mapInPandas`` pass over the selected candidates,
repartitioned by ``(host, salt)`` with the selection's
``frontier.N_SALTS`` so one hot host spreads over several partitions.
Politeness is not enforced here: the selection's per-host budget
already caps what a host gets per round (crawl/frontier.py).

Every Python task has a fixed cost before any row is fetched: the
worker's set-up (``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``, and on Python 3.11 every
zipimporter in the worker then re-reads its archive's directory. The
worker holds 16 of them: ``pyspark.zip`` and its package dirs, the
py4j zip, and the spark-core jar, whose 5,359 entries are the largest
share (~36 ms a re-read). Measured on a 4-vCPU Xeon VM (Spark 4.1.2,
Python 3.11.7, ``local[4]``): the call takes 0.20–0.25 s inside a
task, and an identity ``mapInPandas`` over 1,776 rows takes ~0.35 s
in 1 task, ~0.45 s in 4 and ~1.3 s in 16 (native: ~0.07 s), while
rendering and parsing the 1,776 synthetic pages of a perfbench
crawl_backlog round takes ~0.42 s of CPU in all. So the stage runs one
task per core, and nothing else on a round's path runs Python: empty
state tables read as driver-local relations (tables/local.py).

Fetchers are pluggable. :class:`SyntheticFetcher` computes pages as a
pure function of the URL (fixtures.sitegen) — deterministic, no I/O,
matching what the oracle sees. A real HTTP fetcher drops in with the
same signature; tests never touch the network (reference test model:
``pytest -m 'not network'``, ``pyproject.toml:95``).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_crawler_spark import schemas
from news_crawler_spark.crawl.frontier import N_SALTS
from news_crawler_spark.fixtures.sitegen import EXCLUDED_HOST, SiteConfig, synth_page


class Fetcher(Protocol):
    def fetch(self, url: str) -> dict:
        """Return {status:int, fetch_ms:int, title:str|None,
        published:datetime|None, spans:list[dict]|None}."""
        ...


class SyntheticFetcher:
    """Deterministic fixture fetcher: the synthetic web.

    With ``parse_html=True`` the page is rendered to real HTML and
    parsed back through :func:`html_to_spans` — the span sequence is
    identical (round-trip verified vs the oracle in the e2e tests) but
    the fetch path exercises the production parser at a realistic
    per-page CPU cost, which is what the throughput bench measures.
    """

    def __init__(self, cfg: SiteConfig, simulate_latency: bool = False,
                 parse_html: bool = False):
        self.cfg = cfg
        self.simulate_latency = simulate_latency
        self.parse_html = parse_html

    def fetch(self, url: str) -> dict:
        if self.parse_html:
            from news_crawler_spark.fixtures.sitegen import synth_html
            from news_crawler_spark.functions.htmlspans import html_to_spans

            page, html = synth_html(self.cfg, url)
            if page["status"] == 200:
                page = {**page, "spans": html_to_spans(html)}
        else:
            page = synth_page(self.cfg, url)
        if self.simulate_latency:
            time.sleep(page["fetch_ms"] / 1000.0)
        return page


class HttpFetcher:
    """Real HTTP fetcher (reference news.py:91: timeout=10; asec.py:59:
    timeout=15, fixed UA). Exercised in tests against a loopback
    server (tests/test_http_fetch.py) — no external network needed.

    HTTP status codes are preserved (an HTTPError IS a response): the
    engine's disposition logic treats 404 as permanently dead but -1
    (connection/timeout) as retryable, so collapsing a 404 into -1
    would retry dead pages up to max_attempts."""

    def __init__(self, timeout: float = 10.0, user_agent: str = "news-crawler-spark/0.1"):
        self.timeout = timeout
        self.user_agent = user_agent

    def fetch(self, url: str) -> dict:
        import urllib.error
        import urllib.request

        try:
            req = urllib.request.Request(url, headers={"User-Agent": self.user_agent})
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                body = resp.read().decode("utf-8", "replace")
                from news_crawler_spark.functions.htmlspans import html_to_spans

                return {"status": resp.status, "fetch_ms": 0, "title": "",
                        "published": None, "spans": html_to_spans(body)}
        except urllib.error.HTTPError as he:
            he.close()  # an HTTPError IS an open response: free the socket
            return {"status": he.code, "fetch_ms": 0, "title": None,
                    "published": None, "spans": None}
        except Exception:
            return {"status": -1, "fetch_ms": 0, "title": None,
                    "published": None, "spans": None}


def fetch_round(selected: DataFrame, fetcher: Fetcher) -> DataFrame:
    """Fetch+parse the selected candidates; returns schemas.FETCHED.

    ``selected`` must carry url/url_hash/url_sha/host/path/priority/
    discovered_round/attempt/seq. Vectorized per Arrow batch.
    """
    passthrough = ["url", "url_hash", "url_sha", "host", "path", "priority",
                   "discovered_round", "attempt", "seq"]
    # explicit partition count: the fetch UDF is CPU/latency-bound, not
    # byte-bound, so AQE's size-based partition coalescing must NOT fold
    # it onto a couple of workers (measured: coalesced to 2 tasks and
    # serialized the whole fetch). An explicit numPartitions is exempt
    # from AQE coalescing. One task per core, not more: each extra task
    # costs 0.20-0.25 s of a core in Python worker set-up, where
    # importlib.invalidate_caches() makes 16 zipimporters re-read their
    # archives, the spark-core jar most (module docstring) — more than
    # the (host, salt) imbalance that extra waves would pack.
    # Measured with perfbench crawl_backlog at local[4] on a 4-vCPU Xeon
    # VM, medians of 10 interleaved runs: 16 fetch tasks a round and the
    # hosts table re-read each round ran 366 urls/s; 4 fetch tasks and
    # hosts read once (CrawlEngine.hosts) ran 575 urls/s.
    n_parts = selected.sparkSession.sparkContext.defaultParallelism
    inp = (
        selected.withColumn("salt", F.pmod(F.col("url_hash"), F.lit(N_SALTS)))
        .repartition(n_parts, F.col("host"), F.col("salt"))
        .select(*passthrough)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   (*passthrough, "status", "title", "published", "spans")}
            for row in pdf.itertuples(index=False):
                page = fetcher.fetch(row.url)
                out["url"].append(row.url)
                out["url_hash"].append(row.url_hash)
                out["url_sha"].append(row.url_sha)
                out["host"].append(row.host)
                out["path"].append(row.path)
                out["priority"].append(float(row.priority))
                out["discovered_round"].append(int(row.discovered_round))
                out["attempt"].append(int(row.attempt))
                out["seq"].append(int(row.seq))
                out["status"].append(int(page["status"]))
                out["title"].append(page.get("title"))
                out["published"].append(page.get("published"))
                spans = page.get("spans")
                out["spans"].append(
                    None if spans is None else
                    [{"kind": k, "text": t, "media_ref": m, "offset": o}
                     for (k, t, m, o) in spans]
                )
            yield pd.DataFrame(out)

    return inp.mapInPandas(run, schema=schemas.FETCHED)


def extract_links(fetched: DataFrame) -> DataFrame:
    """Outlink harvest from parsed spans — all native ops (X3/P10/F4/F5).

    Explodes ``kind='link'`` spans of OK pages, resolves absolute-path
    refs against the page URL, drops non-http and excluded-domain
    targets (reference ``asec.py:102-120``), and returns distinct
    candidate URLs with host/path split out.
    """
    s = F.col("s")
    ref = s.getField("media_ref")
    page_origin = F.regexp_extract(F.col("url"), r"^(https?://[^/]+)", 1)
    resolved = (
        F.when(ref.startswith("http://") | ref.startswith("https://"), ref)
        .when(ref.startswith("/"), F.concat(page_origin, ref))
        .otherwise(F.lit(None))
    )
    # dedup on the exact URL — identical semantics to the former
    # url_sha key (sha256 of the url) but WITHOUT hashing every
    # extracted link: in the mid-crawl steady state almost every link
    # is already discovered and gets dropped by the engine's first-wins
    # anti-join, so the expensive per-candidate derivations (sha256,
    # xxhash64, host/path regex) are deferred to enrich_candidates()
    # over the anti-join SURVIVORS only.
    return (
        fetched.filter(F.col("status") == 200)
        .select("url", F.explode("spans").alias("s"))
        .filter(s.getField("kind") == "link")
        .select(resolved.alias("cand_url"))
        .filter(F.col("cand_url").isNotNull())
        .filter(~F.col("cand_url").contains(EXCLUDED_HOST))
        .select(F.col("cand_url").alias("url"))
        .dropDuplicates(["url"])
    )


def enrich_candidates(cands: DataFrame) -> DataFrame:
    """Derive url_hash/url_sha/host/path for candidate URLs — applied
    AFTER the first-wins anti-join so only genuinely new URLs pay the
    sha256/regex cost (extract_links contract above)."""
    return cands.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.sha2(F.col("url"), 256).alias("url_sha"),
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.coalesce(
            F.nullif(F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1),
                     F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )

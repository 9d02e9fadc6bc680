"""spark-submit entry point.

On a cluster::

    zip -r ncs.zip news_crawler_spark
    spark-submit --py-files ncs.zip -m news_crawler_spark crawl \
        --state-dir hdfs://.../crawl_state --rounds 10 --resume

In the sandbox the same command runs on local[N] via the session
factory. The fixture fetcher is the default (deterministic, offline);
``--http`` switches to the real urllib fetcher (network required —
reference model: the online path is opt-in, ``pytest -m network``).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="news_crawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    from news_crawler_spark.config import Settings, SettingsError

    # a malformed NCS_* env var must surface as a clean CLI error for
    # the subcommands that consume settings — and must not crash ones
    # that don't (bench): fall back to defaults here, re-raise through
    # parser.error() only if a settings-consuming subcommand was asked
    settings_err: SettingsError | None = None
    try:
        settings = Settings.from_env()
    except SettingsError as e:
        settings_err = e
        settings = Settings()

    c = sub.add_parser("crawl", help="run crawl rounds against the synthetic web")
    c.add_argument("--state-dir", default=settings.state_dir or None,
                   help="checkpoint root (env: NCS_STATE_DIR)")
    c.add_argument("--rounds", type=int, default=3)
    c.add_argument("--n-hosts", type=int, default=8)
    c.add_argument("--pages-per-host", type=int, default=40)
    c.add_argument("--n-seeds", type=int, default=4)
    c.add_argument("--seed", type=int, default=42)
    c.add_argument("--richness", type=int, default=1)
    c.add_argument("--cpus", type=int, default=None)
    c.add_argument("--max-attempts", type=int, default=settings.max_attempts,
                   help="retry cap (env: NCS_MAX_ATTEMPTS, bounds 1..10)")
    c.add_argument("--retry-jitter", type=int,
                   default=settings.retry_jitter_span,
                   help="retry jitter span in rounds (env: NCS_RETRY_JITTER_SPAN)")
    c.add_argument("--resume", action="store_true",
                   help="continue from the last complete lineage row")
    c.add_argument("--http", action="store_true",
                   help="real HTTP fetcher instead of the fixture web")

    g = sub.add_parser(
        "ingest",
        help="dedup-classify a parquet document batch against persisted "
             "fingerprint/band state (news_crawler_spark.ingest.DedupState)")
    g.add_argument("--state-dir", default=settings.state_dir or None,
                   help="dedup-state root (env: NCS_STATE_DIR)")
    g.add_argument("--batch", required=True,
                   help="parquet path with (doc_id long, text string) rows")
    g.add_argument("--batch-id", required=True,
                   help="idempotency key: a committed batch-id replays "
                        "its stored verdicts instead of re-ingesting")
    g.add_argument("--cpus", type=int, default=None)
    g.add_argument("--compact", action="store_true",
                   help="compact band/fingerprint state after the ingest")
    g.add_argument("--granularity", choices=("doc", "paragraph"),
                   default="doc",
                   help="'doc' = fingerprint+MinHash-band DedupState; "
                        "'paragraph' = sub-document first-wins "
                        "ParagraphState (new_frac per doc)")

    b = sub.add_parser("bench", help="alias for the repo-root bench harness")

    args = p.parse_args(argv)
    if args.cmd == "crawl" and settings_err is not None:
        p.error(f"invalid environment settings: {settings_err}")
    if args.cmd == "crawl" and not args.state_dir:
        p.error("--state-dir is required (or set NCS_STATE_DIR)")
    if args.cmd == "crawl":
        # same validation bounds as the env path (config._INT_BOUNDS):
        # the CLI must not accept what NCS_MAX_ATTEMPTS=... rejects
        # (e.g. --max-attempts 0 silently kills every page first try)
        from news_crawler_spark.config import _INT_BOUNDS

        for flag, name in (("max_attempts", "max_attempts"),
                           ("retry_jitter", "retry_jitter_span")):
            lo, hi = _INT_BOUNDS[name]
            v = getattr(args, flag)
            if not (lo <= v <= hi):
                p.error(f"--{flag.replace('_', '-')} {v} outside bounds "
                        f"{lo}..{hi}")
    if args.cmd == "bench":
        import bench

        bench.main()
        return 0

    if args.cmd == "ingest":
        if settings_err is not None:
            p.error(f"invalid environment settings: {settings_err}")
        if not args.state_dir:
            p.error("--state-dir is required (or set NCS_STATE_DIR)")
        from pyspark.sql import functions as F

        from news_crawler_spark.ingest import DedupState, ParagraphState
        from news_crawler_spark.session import get_spark

        spark = get_spark("ingest-cli", cpus=args.cpus)
        batch = spark.read.parquet(args.batch).select("doc_id", "text")
        if args.granularity == "paragraph":
            pstate = ParagraphState(spark, args.state_dir)
            pstate.resume()
            v = pstate.ingest(batch, args.batch_id)
            tot = v.agg(F.count("*").alias("nd"),
                        F.coalesce(F.sum("n_paras"), F.lit(0)).alias("np"),
                        F.coalesce(F.sum("n_new"), F.lit(0)).alias("nn")
                        ).collect()[0]
            out = {"batch_id": args.batch_id, "n_docs": int(tot.nd),
                   "n_paras": int(tot.np), "n_new_paras": int(tot.nn)}
            if args.compact:
                out["compact"] = pstate.compact()
            print(json.dumps(out))
            return 0
        state = DedupState(spark, args.state_dir)
        state.resume()  # roll back any torn prior ingest first
        verdicts = state.ingest(batch, args.batch_id)
        counts = {r["verdict"]: r["n"] for r in
                  verdicts.groupBy("verdict")
                  .agg(F.count("*").alias("n")).collect()}
        out = {"batch_id": args.batch_id,
               "n_docs": sum(counts.values()), **counts}
        if args.compact:
            out["compact"] = state.compact()
        print(json.dumps(out))
        return 0

    from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
    from news_crawler_spark.crawl.fetch import HttpFetcher
    from news_crawler_spark.fixtures import SiteConfig, host_rows, seed_rows
    from news_crawler_spark.schemas import HOSTS
    from news_crawler_spark.session import get_spark
    from news_crawler_spark.tables import local_frame

    spark = get_spark("crawl-cli", cpus=args.cpus)
    cfg = SiteConfig(seed=args.seed, n_hosts=args.n_hosts,
                     base_pages=args.pages_per_host, n_seeds=args.n_seeds,
                     richness=args.richness)
    fetcher = HttpFetcher() if args.http else SyntheticFetcher(cfg, parse_html=True)
    hosts = local_frame(spark, host_rows(cfg), HOSTS)
    eng = CrawlEngine(spark, args.state_dir, hosts, fetcher, seed=cfg.seed,
                      max_attempts=args.max_attempts,
                      retry_jitter_span=args.retry_jitter)
    if args.resume:
        nxt = eng.resume()
        print(json.dumps({"resumed_at_round": nxt}))
    else:
        eng.init(local_frame(spark, seed_rows(cfg),
                             "url string, priority double"))
    for _ in range(args.rounds):
        print(json.dumps(eng.run_round()))
    print(json.dumps({
        "url_seen": eng.url_seen_df().count(),
        "documents": eng.documents.read().count(),
        "frontier_rows": eng.frontier.read().count(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""spark-submit entrypoint mirroring the reference CLI surface
(cli.py:31-376: extract / batch / doctor → here extract / crawl / scrape /
doctor over page stores).

Usage (local or cluster):
  spark-submit --py-files <(zip of crawler_engine_spark) crawl.py extract \
      --pages /data/pages --out /data/results --mode adaptive --query "..."
  python crawl.py crawl --pages ... --seeds seeds.csv --state /data/state --rounds 5
  python crawl.py doctor
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import replace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crawler_engine_spark.config import CrawlConfig
from crawler_engine_spark.session import get_spark


def _parse_rule(spec: str) -> tuple[str, str, int]:
    """Parse ``name:selector[:priority]``.  The priority suffix is only
    split off when it is all digits, so selectors containing ':' (attribute
    values like [data-x="a:b"], pseudo-classes) survive intact."""
    name, _, rest = spec.partition(":")
    selector, sep, prio = rest.rpartition(":")
    if sep and prio.isdigit():
        return name, selector, int(prio)
    return name, rest, 10


def cmd_extract(args) -> None:
    from crawler_engine_spark.operators.extraction import extract_pages
    from crawler_engine_spark.operators.shaping import shape_results
    from crawler_engine_spark.sources.sinks import read_pages, write_results

    cfg = CrawlConfig.load(args.config)
    spark = get_spark("crawl-extract")
    pages = read_pages(spark, args.pages)
    opts = cfg.extract_opts
    if args.rule or args.selector:
        # CustomExtractor surface (cli analog of add_rule/add_selector)
        from crawler_engine_spark.operators.custom import CustomExtractor

        ex = CustomExtractor(opts)
        for spec in args.rule or []:
            name, selector, prio = _parse_rule(spec)
            ex.add_rule(name, selector, priority=prio)
        for sel in args.selector or []:
            ex.add_selector(sel)
        opts = ex.options()
        if args.mode and args.mode != "rule_based":
            print(json.dumps({"warning": f"--rule/--selector force rule_based mode "
                                         f"(explicit --mode {args.mode} ignored)"}),
                  file=sys.stderr)
        args.mode = "rule_based"
    results = extract_pages(
        pages, mode=args.mode or cfg.mode, query=args.query, opts=opts
    )
    if args.schema_template:
        results = shape_results(results, args.schema_template)
    results = results.cache()
    n = results.count()  # document count (text renderings may span lines)
    write_results(results, args.out, fmt=args.format)
    print(json.dumps({"command": "extract", "rows": n, "out": args.out}))
    spark.stop()


def cmd_scrape(args) -> None:
    from crawler_engine_spark.operators.scrape import scrape_metadata
    from crawler_engine_spark.sources.sinks import read_pages

    spark = get_spark("crawl-scrape")
    scrape_metadata(read_pages(spark, args.pages)).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"command": "scrape", "out": args.out}))
    spark.stop()


def cmd_crawl(args) -> None:
    import pandas as pd

    from crawler_engine_spark.frontier.robots_cache import ROBOTS_SCHEMA
    from crawler_engine_spark.frontier.rounds import CrawlEngine

    flags = {
        "round_seconds": args.round_seconds,
        "trap_threshold": args.trap_threshold,
        "trap_keep_per_pattern": args.trap_keep,
        "link_rank_budget": args.link_rank_budget or None,
        "link_rank_every": args.link_rank_every,
        "link_rank_focus": args.link_rank_focus or None,
    }
    cfg = replace(
        CrawlConfig.load(args.config),
        **{k: v for k, v in flags.items() if v is not None},
    )
    spark = get_spark("crawl-rounds")
    if args.robots:
        robots = spark.read.parquet(args.robots)
    else:
        robots = spark.createDataFrame([], ROBOTS_SCHEMA)
    engine = CrawlEngine(
        spark, state_dir=args.state, pages_path=args.pages, robots=robots, config=cfg
    )
    if engine.last_committed() < 0:
        if args.sitemap_seeds:
            # sitemap bootstrap: robots.txt rows of the page store →
            # Sitemap: directives → fetch-simulated sitemap XML → seeds
            from crawler_engine_spark.frontier.sitemaps import (
                discover_seeds_from_page_store,
            )

            pages = spark.read.parquet(args.pages)
            seeds = discover_seeds_from_page_store(pages, query=args.query)
        elif args.seeds is None:
            raise SystemExit("crawl: provide --seeds or --sitemap-seeds")
        elif args.seeds.endswith(".csv"):
            seeds_pdf = pd.read_csv(args.seeds)
            if "seed_rank" not in seeds_pdf:
                seeds_pdf["seed_rank"] = range(len(seeds_pdf))
            if "query" not in seeds_pdf:
                seeds_pdf["query"] = None
            seeds = spark.createDataFrame(
                seeds_pdf[["url", "seed_rank", "query"]],
                "url string, seed_rank int, query string",
            )
        else:
            seeds = spark.read.parquet(args.seeds)
        engine.init_from_seeds(seeds)
    else:
        print(json.dumps({"resuming_after_round": engine.last_committed()}))
    records = engine.run(max_rounds=args.rounds)
    for r in records:
        print(json.dumps(r))
    print(json.dumps({"command": "crawl", "rounds_run": len(records),
                      "total_fetched": records[-1]["total_fetched"] if records else 0}))
    spark.stop()


def cmd_expire(args) -> None:
    """Recrawl/TTL surface: expire URLs in a crawl state so the next
    `crawl` run fetches them again (tombstone + requeue)."""
    from crawler_engine_spark.frontier.robots_cache import ROBOTS_SCHEMA
    from crawler_engine_spark.frontier.rounds import CrawlEngine

    spark = get_spark("crawl-expire")
    robots = spark.createDataFrame([], ROBOTS_SCHEMA)
    eng = CrawlEngine(spark, args.state, args.pages, robots, CrawlConfig())
    if args.urls.endswith(".txt"):
        with open(args.urls) as f:
            urls = [(line.strip(),) for line in f if line.strip()]
        urls_df = spark.createDataFrame(urls, "canonical_url string")
    else:
        urls_df = spark.read.parquet(args.urls).select("canonical_url")
    n = eng.expire(urls_df, requeue=not args.no_requeue)
    print(json.dumps({"command": "expire", "expired": n,
                      "requeued": not args.no_requeue}))
    spark.stop()


def cmd_index(args) -> None:
    """Build a snapshot's persistable dedup index (banded MinHash
    projection + content digests): the signature work a later
    `corpus --ops incremental` ingest then never repeats.  With --merge,
    compact existing indexes into one instead (no signature work) so a
    pile of weekly snapshot indexes stays one read per ingest."""
    from crawler_engine_spark.operators import dedup

    if bool(args.docs) == bool(args.merge):
        raise SystemExit("index: provide exactly one of --docs or --merge")
    if args.merge:
        # merge reuses the parameters BAKED INTO the stored indexes
        # (merge_lsh_index asserts they match each other); an explicit
        # signature-param flag here would be silently ignored, so reject
        # it — re-parameterizing requires rebuilding from --docs
        ignored = [
            flag
            for flag, val in (
                ("--id-col", args.id_col), ("--text-col", args.text_col),
                ("--num-perm", args.num_perm), ("--bands", args.bands),
            )
            if val is not None
        ]
        if ignored:
            raise SystemExit(
                "index: --merge takes its parameters from the stored "
                f"indexes; drop {', '.join(ignored)}"
            )
    # one session-creation site for both branches (all pre-JVM argument
    # validation is above this line)
    spark = get_spark("crawl-index")
    if args.merge:
        params = dedup.merge_lsh_index(spark, args.merge.split(","), args.out)
        print(json.dumps({
            "command": "index", "merged": args.merge.split(","),
            "out": args.out, **params,
        }))
        spark.stop()
        return
    df = spark.read.parquet(args.docs)
    # only pass flags the user set — write_lsh_index's own signature
    # supplies the defaults (single source of truth; None is the
    # unset sentinel the --merge guard above relies on)
    overrides = {
        k: v
        for k, v in (
            ("text_col", args.text_col), ("id_col", args.id_col),
            ("num_perm", args.num_perm), ("bands", args.bands),
        )
        if v is not None
    }
    params = dedup.write_lsh_index(df, args.out, **overrides)
    print(json.dumps({"command": "index", "out": args.out, **params}))
    spark.stop()


def cmd_ingest(args) -> None:
    """Convert .warc/.warc.gz archives (the Common Crawl layout) into a
    page-store parquet usable by extract/crawl: url + html from HTTP-200
    response records (keep everything with --keep-non-200).  With --cdx
    the archives are range-read record-by-record from a CDXJ offset index
    (record-scale parallelism via --tasks; the at-scale path)."""
    from pyspark.sql import functions as F

    from crawler_engine_spark.frontier.rounds import write_counted
    from crawler_engine_spark.sources.warc import (
        read_cdxj,
        read_warc_pages,
        warc_pages_from_cdx,
    )

    if not args.cdx and not args.warc:
        raise SystemExit("ingest: provide --warc (archives) or --cdx (index)")
    # explicit None check, not `or`: a typo'd 0/negative cap would
    # silently classify EVERY listing row as malformed and write an
    # empty page store with exit code 0 (validated before JVM startup)
    if args.max_slice_bytes is not None and args.max_slice_bytes <= 0:
        raise SystemExit("ingest: --max-slice-bytes must be > 0")
    statuses = None
    if args.cdx_status:
        try:
            statuses = [int(s) for s in args.cdx_status.split(",")]
        except ValueError:
            # fail fast and clean like the other pre-JVM argument
            # checks: '200,' or '200, 301' must not dump a traceback
            raise SystemExit(
                "ingest: --cdx-status must be a comma-separated list "
                f"of integers; got {args.cdx_status!r}"
            )
    spark = get_spark("crawl-ingest")
    if args.cdx:
        mimes = args.cdx_mime.split(",") if args.cdx_mime else None
        listing = read_cdxj(
            spark, args.cdx, warc_root=args.warc_root,
            statuses=statuses, mimes=mimes,
        )
        from crawler_engine_spark.sources.warc import DEFAULT_MAX_SLICE_BYTES

        pages = warc_pages_from_cdx(
            listing, num_partitions=args.tasks,
            max_slice_bytes=(DEFAULT_MAX_SLICE_BYTES
                             if args.max_slice_bytes is None
                             else args.max_slice_bytes),
        )
    else:
        pages = read_warc_pages(spark, args.warc)
    if not args.keep_non_200:
        pages = pages.where(F.col("http_status") == 200)
    n_pages = write_counted(pages.select("url", "html", "warc_ts"), args.out)["n"]
    print(json.dumps({"command": "ingest", "pages": n_pages, "out": args.out}))
    spark.stop()


def cmd_rank(args) -> None:
    """Offline link-graph analysis of a finished crawl: PageRank the
    host→host edge deltas accumulated under state_dir (written by rounds
    run with link_rank_budget) and write the host rank table —
    optionally personalized to the crawl's round-0 seed hosts."""
    from pyspark.sql import functions as F

    from crawler_engine_spark.frontier.rounds import (
        committed_rounds,
        edge_rounds,
        host_edge_inputs,
        read_rounds,
        write_counted,
    )
    from crawler_engine_spark.operators import linkrank

    committed = committed_rounds(args.state)
    edge_dirs = host_edge_inputs(args.state, committed)
    if not edge_dirs:
        raise SystemExit(
            "rank: no host_edges under state "
            "(crawl with --link-rank-budget first)"
        )
    spark = get_spark("crawl-rank")
    edges = read_rounds(spark, args.state, "host_edges",
                        *edge_rounds(args.state, committed))
    if args.hits:
        ranks = linkrank.hits(
            edges, src_col="src_host", dst_col="dst_host",
            iterations=args.iterations,
        )
    else:
        teleport = None
        if args.focus_seeds:
            teleport = (
                read_rounds(spark, args.state, "frontier", [0])
                .select(F.col("host").alias("node"))
                .distinct()
            )
        ranks = linkrank.pagerank(
            edges, src_col="src_host", dst_col="dst_host",
            iterations=args.iterations, teleport=teleport,
        )
    n_hosts = write_counted(ranks, args.out)["n"]
    linkrank.release_caches(ranks)
    print(json.dumps({"command": "rank", "hosts": n_hosts,
                      "edge_inputs": len(edge_dirs), "out": args.out}))
    spark.stop()


def cmd_corpus(args) -> None:
    """Corpus-prep funnel over a parquet of documents: the --ops list runs
    in the order given, each stage reporting its surviving row count —
    the training-data preparation tier as a one-command pipeline."""
    from pyspark.sql import functions as F

    from crawler_engine_spark.operators import corpusops, dedup
    from crawler_engine_spark.operators.textstats import (
        lang_id_col,
        quality_score_col,
    )

    spark = get_spark("crawl-corpus")
    df = spark.read.parquet(args.docs)
    id_col, text_col = args.id_col, args.text_col
    stats = {"input": df.count()}
    for i, op in enumerate(args.ops.split(",")):
        op = op.strip()
        if op == "lang":
            df = df.withColumn("lang_pred", lang_id_col(F.col(text_col))).where(
                F.col("lang_pred").isin(args.langs.split(","))
            )
        elif op == "quality":
            df = df.withColumn(
                "quality", F.round(quality_score_col(F.col(text_col)), 4)
            ).where(F.col("quality") >= args.min_quality)
        elif op == "gopher":
            keep = (
                corpusops.repetition_stats(df, text_col, id_col)
                .where("gopher_keep")
                .select(F.col(id_col))
            )
            df = df.join(keep, id_col, "left_semi")
        elif op == "pii":
            df = df.withColumn(text_col, corpusops.redact_pii_col(F.col(text_col)))
        elif op == "exact_dedup":
            # exact_dedup returns (id, dup_count) — semi-join to keep rows
            keep = dedup.exact_dedup(df, text_col, id_col).select(F.col(id_col))
            df = df.join(keep, id_col, "left_semi")
        elif op == "near_dedup":
            df = dedup.minhash_dedup(
                df, text_col, id_col, threshold=args.jaccard, method="cc"
            )
        elif op == "incremental":
            # snapshot-over-snapshot ingest: keep only rows that are neither
            # exact nor near duplicates of the old corpus; with --old-index
            # the old side is never re-signed (crawl.py index writes one)
            if not args.old_docs:
                raise SystemExit("corpus op 'incremental' needs --old-docs")
            old_df = spark.read.parquet(args.old_docs)
            idx = (
                dedup.read_lsh_index(spark, args.old_index)
                if args.old_index
                else None
            )
            df = dedup.incremental_new_docs(
                df, old_df, text_col, id_col, threshold=args.jaccard,
                old_index=idx,
            )
        elif op == "chunk_dedup":
            cleaned = corpusops.chunk_dedup(df, text_col, id_col).select(
                F.col(id_col), F.col("clean_text")
            )
            df = (
                df.drop(text_col)
                .join(cleaned, id_col)
                .withColumnRenamed("clean_text", text_col)
                .where(F.trim(F.col(text_col)) != "")
            )
        elif op == "boilerplate":
            # per-site boilerplate strip (RefinedWeb line rule): chunks
            # repeated across >=3 docs of the same group disappear
            cleaned = corpusops.boilerplate_chunks(
                df, text_col, id_col, args.boilerplate_group
            ).select(F.col(id_col), F.col("clean_text"))
            df = (
                df.drop(text_col)
                .join(cleaned, id_col)
                .withColumnRenamed("clean_text", text_col)
                .where(F.trim(F.col(text_col)) != "")
            )
        elif op == "keywords":
            # annotation (not a filter): tf·idf doc tags for curation
            from crawler_engine_spark.operators.textstats import top_keywords

            kw = top_keywords(df, text_col, id_col, top_k=args.keywords_k)
            df = df.join(kw, id_col, "left").withColumn(
                "keywords",
                F.coalesce(F.col("keywords"), F.array().cast("array<string>")),
            )
        elif op == "sample":
            df = df.where(corpusops.hash_keep_col(F.col(id_col), args.sample_pct))
        elif op == "cap":
            df = corpusops.capped_sample(
                df, id_col, args.strata.split(","), args.cap
            )
        else:
            raise SystemExit(f"unknown corpus op: {op}")
        # truncate lineage per stage: expensive ops (near_dedup's
        # signatures+verify+components) must not re-execute for every later
        # stage's count and again for the final write
        df = df.localCheckpoint(eager=True)
        # repeated ops keep distinct stage keys (quality,cap,quality)
        key = op if op not in stats else f"{op}#{i + 1}"
        stats[key] = df.count()
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"command": "corpus", "stats": stats, "out": args.out}))
    spark.stop()


def cmd_interactive(args) -> None:
    """Interactive extraction loop (reference cli.py:234-317): prompt for
    URL / query / mode, extract from the page store, print a summary.
    Reads stdin line-wise so it works piped as well as at a TTY."""
    from pyspark.sql import functions as F

    from crawler_engine_spark.operators.extraction import extract_pages
    from crawler_engine_spark.sources.sinks import read_pages

    cfg = CrawlConfig.load(args.config)
    spark = get_spark("crawl-interactive")
    pages = read_pages(spark, args.pages).cache()

    def prompt(label: str) -> str | None:
        if sys.stdin.isatty():
            print(label, end="", flush=True)
        line = sys.stdin.readline()
        if not line:
            return None
        return line.strip()

    print("interactive extraction — blank URL exits", file=sys.stderr)
    while True:
        url = prompt("URL> ")
        if not url:
            break
        query = prompt("Query (optional)> ") or None
        mode = prompt("Mode (adaptive/semantic/structured/rule_based/hybrid)> ") or None
        row = extract_pages(
            pages.where(F.col("url") == url),
            mode=mode or cfg.mode,
            query=query,
            opts=cfg.extract_opts,
        ).first()
        if row is None:
            print(json.dumps({"url": url, "error": "url not in page store"}))
            continue
        print(json.dumps({
            "url": row["url"],
            "success": row["success"],
            "strategy": row["strategy_name"],
            "title": row["title"],
            "word_count": row["word_count"],
            "confidence": round(row["confidence_score"], 4),
            "n_links": len(row["out_links"] or []),
            "content_preview": (row["content"] or "")[:300],
        }))
    spark.stop()


def cmd_init(args) -> None:
    """Write a config template (reference cli.py:320-342 `init`): .env,
    yaml, or json, setting every knob — the .env template round-trips
    through ``CrawlConfig.from_env`` and the yaml/json templates through
    ``CrawlConfig.from_file`` (--config)."""
    fmt = args.format or "env"
    path = args.out or {"env": ".env", "yaml": "config.yaml", "json": "config.json"}[fmt]
    if os.path.exists(path) and not args.force:
        print(json.dumps({"command": "init", "error": f"{path} exists (use --force)"}))
        sys.exit(1)
    template = CrawlConfig(mode="adaptive")
    if fmt == "env":
        body = template.to_env()
    else:
        data = template.to_dict()
        if fmt == "yaml":
            try:
                import yaml
            except ImportError:
                print(json.dumps({"command": "init",
                                  "error": "pyyaml not installed; use --format json"}))
                sys.exit(1)
            body = yaml.safe_dump(data, sort_keys=False)
        else:
            body = json.dumps(data, indent=2) + "\n"
    with open(path, "w") as f:
        f.write(body)
    print(json.dumps({"command": "init", "out": path, "format": fmt}))


def cmd_doctor(args) -> None:
    """Smoke checks (reference cli.py:345-376 'doctor')."""
    import pyspark

    from crawler_engine_spark.data.gen import gen_pages_df
    from crawler_engine_spark.kernels.extract import extract_page
    from crawler_engine_spark.operators.extraction import extract_pages

    checks = {"pyspark_version": pyspark.__version__}
    rec = extract_page("https://h/x", "<html><body><p>ok doctor</p></body></html>", None, "adaptive")
    checks["kernel"] = "ok" if "ok doctor" in rec["content"] else "FAIL"
    spark = get_spark("doctor", master="local[2]", shuffle_partitions=2)
    n = extract_pages(gen_pages_df(spark, 8, partitions=2), mode="structured").count()
    checks["spark_extraction"] = "ok" if n == 8 else f"FAIL ({n})"
    spark.stop()
    checks["overall"] = "ok" if all(v == "ok" for k, v in checks.items() if k != "pyspark_version") else "FAIL"
    print(json.dumps(checks))


def main() -> None:
    p = argparse.ArgumentParser(prog="crawl.py")
    sub = p.add_subparsers(dest="command", required=True)

    pe = sub.add_parser("extract", help="one-shot extraction over a page store")
    pe.add_argument("--pages", required=True)
    pe.add_argument("--out", required=True)
    pe.add_argument("--config", help="yaml/json config file (overrides env)")
    pe.add_argument("--mode", choices=["adaptive", "semantic", "structured", "rule_based", "hybrid"])
    pe.add_argument("--query")
    pe.add_argument("--format", default="parquet",
                    choices=["parquet", "json", "markdown", "text", "html"])
    pe.add_argument("--schema-template", help="{placeholder} output template")
    pe.add_argument("--rule", action="append",
                    help="custom rule name:selector[:priority] (repeatable; "
                         "forces rule_based mode, cli analog of add_rule)")
    pe.add_argument("--selector", action="append",
                    help="custom content selector (repeatable)")
    pe.set_defaults(fn=cmd_extract)

    ps = sub.add_parser("scrape", help="page metadata scrape (meta tags, ld+json, stats)")
    ps.add_argument("--pages", required=True)
    ps.add_argument("--out", required=True)
    ps.set_defaults(fn=cmd_scrape)

    pc = sub.add_parser("crawl", help="run crawl rounds over a page store")
    pc.add_argument("--pages", required=True)
    pc.add_argument("--seeds", help="csv or parquet with url[,seed_rank,query]")
    pc.add_argument("--sitemap-seeds", action="store_true",
                    help="bootstrap the seed frontier from the page store's "
                         "robots.txt Sitemap: directives + sitemap XML "
                         "instead of --seeds")
    pc.add_argument("--query", help="extraction query attached to sitemap seeds")
    pc.add_argument("--state", required=True)
    pc.add_argument("--robots", help="parquet with host,disallow_prefixes,crawl_delay_s")
    pc.add_argument("--rounds", type=int, default=5)
    pc.add_argument("--round-seconds", type=float)
    pc.add_argument("--trap-threshold", type=int,
                    help="flag (host, URL-template) families with this many "
                         "distinct frontier URLs as crawl traps (0 disables)")
    pc.add_argument("--link-rank-budget", action="store_true",
                    help="PageRank the crawl's own host graph each round "
                         "and scale politeness budgets by link authority "
                         "(0.5x-2x, >=1 floor)")
    pc.add_argument("--link-rank-every", type=int,
                    help="recompute the rank table only every N rounds, "
                         "reusing the written table in between (default 1)")
    pc.add_argument("--link-rank-focus", action="store_true",
                    help="personalize the rank to the crawl's seed hosts "
                         "(focused crawling: authority as seen from the "
                         "seeds, not global)")
    pc.add_argument("--trap-keep", type=int,
                    help="URLs sampled from each flagged trap template")
    pc.add_argument("--config", help="yaml/json config file (overrides env)")
    pc.set_defaults(fn=cmd_crawl)

    pin = sub.add_parser(
        "ingest", help="WARC archives (.warc/.warc.gz) → page-store parquet"
    )
    pin.add_argument("--warc", default=None,
                     help="directory/glob of WARC files (whole-archive mode)")
    pin.add_argument("--cdx", default=None,
                     help="CDXJ offset index → record-granular range reads")
    pin.add_argument("--warc-root", default="",
                     help="prefix for the CDX index's relative filenames")
    pin.add_argument("--tasks", type=int, default=None,
                     help="repartition the CDX listing to this many tasks")
    pin.add_argument("--cdx-status", default=None, metavar="200,301",
                     help="listing pushdown: only range-read records whose "
                          "CDX status is in this comma list (rows without "
                          "the field still read; post-parse filter still "
                          "applies)")
    pin.add_argument("--cdx-mime", default=None, metavar="text/html",
                     help="listing pushdown on the CDX mime field "
                          "(comma list; same null-keeps semantics)")
    pin.add_argument("--max-slice-bytes", type=int, default=None,
                     help="skip listing rows with a larger length as "
                          "malformed (memory guard for corrupt indexes; "
                          "default: warc.DEFAULT_MAX_SLICE_BYTES)")
    pin.add_argument("--out", required=True)
    pin.add_argument("--keep-non-200", action="store_true",
                     help="keep non-200 and headerless response records")
    pin.set_defaults(fn=cmd_ingest)

    pr = sub.add_parser(
        "rank",
        help="PageRank a finished crawl's host graph (state_dir host_edges)",
    )
    pr.add_argument("--state", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--iterations", type=int, default=10)
    pr.add_argument("--focus-seeds", action="store_true",
                    help="personalize to the crawl's round-0 seed hosts")
    pr.add_argument("--hits", action="store_true",
                    help="HITS hub/authority scores instead of PageRank "
                         "(high-hub/low-authority = link-directory "
                         "signature)")
    pr.set_defaults(fn=cmd_rank)

    pd_ = sub.add_parser("doctor", help="dependency / smoke checks")
    pd_.set_defaults(fn=cmd_doctor)

    px = sub.add_parser("expire", help="expire URLs for recrawl (tombstone + requeue)")
    px.add_argument("--state", required=True)
    px.add_argument("--pages", required=True)
    px.add_argument("--urls", required=True,
                    help=".txt (one url/line) or parquet with canonical_url")
    px.add_argument("--no-requeue", action="store_true")
    px.set_defaults(fn=cmd_expire)

    pco = sub.add_parser(
        "corpus", help="training-data corpus-prep funnel over a docs parquet"
    )
    pco.add_argument("--docs", required=True, help="parquet with id+text columns")
    pco.add_argument("--out", required=True)
    pco.add_argument("--ops", default="lang,quality,exact_dedup,near_dedup,pii",
                     help="comma list, applied in order: lang quality gopher "
                          "pii exact_dedup near_dedup incremental chunk_dedup "
                          "boilerplate keywords sample cap")
    pco.add_argument("--old-docs",
                     help="previous-snapshot parquet for the 'incremental' op")
    pco.add_argument("--old-index",
                     help="LSH index dir written by `crawl.py index` for the "
                          "old snapshot (skips re-signing it)")
    pco.add_argument("--id-col", default="doc_id")
    pco.add_argument("--text-col", default="text")
    pco.add_argument("--langs", default="en")
    pco.add_argument("--min-quality", type=float, default=0.5)
    pco.add_argument("--jaccard", type=float, default=0.8)
    pco.add_argument("--sample-pct", type=int, default=10)
    pco.add_argument("--keywords-k", type=int, default=5,
                     help="tf-idf keywords per doc for the 'keywords' op")
    pco.add_argument("--boilerplate-group", default="source",
                     help="site/host column scoping the 'boilerplate' op")
    pco.add_argument("--strata", default="lang")
    pco.add_argument("--cap", type=int, default=1000)
    pco.set_defaults(fn=cmd_corpus)

    pix = sub.add_parser(
        "index", help="build a persistable LSH dedup index for a snapshot"
    )
    pix.add_argument("--docs", default=None,
                     help="parquet with id+text columns")
    pix.add_argument("--merge", default=None, metavar="IDX1,IDX2[,...]",
                     help="compact existing indexes into --out instead of "
                          "building one (params must match)")
    pix.add_argument("--out", required=True, help="index output directory")
    # None sentinels so cmd_index can tell "explicitly passed" from
    # "default" — --merge must reject signature-param flags it would
    # otherwise silently ignore
    pix.add_argument("--id-col", default=None, help="default: doc_id")
    pix.add_argument("--text-col", default=None, help="default: text")
    pix.add_argument("--num-perm", type=int, default=None,
                     help="default: 64")
    pix.add_argument("--bands", type=int, default=None, help="default: 16")
    pix.set_defaults(fn=cmd_index)

    pint = sub.add_parser("interactive", help="interactive extraction loop")
    pint.add_argument("--pages", required=True)
    pint.add_argument("--config", help="yaml/json config file (overrides env)")
    pint.set_defaults(fn=cmd_interactive)

    pi = sub.add_parser("init", help="write a config template (.env/yaml/json)")
    pi.add_argument("--out")
    pi.add_argument("--format", choices=["env", "yaml", "json"])
    pi.add_argument("--force", action="store_true")
    pi.set_defaults(fn=cmd_init)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()

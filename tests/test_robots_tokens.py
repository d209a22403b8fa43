"""robots.txt parsing, the robots-cache builder, and token-bucket politeness
state (burst mode) — engine vs oracle parity."""

import os
import shutil

import pandas as pd
import pytest

from crawler_engine_spark.data import gen
from crawler_engine_spark.frontier.robots_cache import build_robots_table
from crawler_engine_spark.frontier.rounds import CrawlConfig, CrawlEngine
from crawler_engine_spark.frontier.simulator import SimRobots, simulate_crawl
from crawler_engine_spark.kernels.robots import parse_robots_txt, robots_txt_of

ROBOTS_BODY = """
# comment line
User-agent: googlebot
Disallow: /google-only/

User-agent: crawler-engine-spark
User-agent: otherbot
Disallow: /private/
Disallow: /tmp/*session
Crawl-delay: 1.5

User-agent: *
Disallow: /all-blocked/
Crawl-delay: 9
"""


def test_parse_robots_specific_group_wins():
    rec = parse_robots_txt(ROBOTS_BODY, agent="crawler-engine-spark")
    assert rec["disallow_prefixes"] == ["/private/", "/tmp/"]  # wildcard → literal prefix
    assert rec["crawl_delay_s"] == 1.5


def test_parse_robots_wildcard_group():
    rec = parse_robots_txt(ROBOTS_BODY, agent="unknown-bot")
    assert rec["disallow_prefixes"] == ["/all-blocked/"]
    assert rec["crawl_delay_s"] == 9.0


def test_parse_robots_empty_and_missing():
    rec = parse_robots_txt("", agent="x")
    assert rec == {"disallow_prefixes": [], "crawl_delay_s": 0.5}
    rec = parse_robots_txt("User-agent: *\nDisallow:\n", agent="x")
    assert rec["disallow_prefixes"] == []


def test_robots_roundtrip():
    rules = {"disallow_prefixes": ["/private/"], "crawl_delay_s": 2.0}
    rec = parse_robots_txt(robots_txt_of(rules), agent="any")
    assert rec == rules


def test_build_robots_table(spark):
    rows = [
        (f"https://host{i}.example/robots.txt",
         robots_txt_of({"disallow_prefixes": [f"/sec{i}/"], "crawl_delay_s": float(i + 1)}).encode())
        for i in range(3)
    ] + [("https://host9.example/page", b"<html>not robots</html>")]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r["host"]: r for r in build_robots_table(pages).collect()}
    assert set(got) == {"host0.example", "host1.example", "host2.example"}
    assert got["host1.example"]["disallow_prefixes"] == ["/sec1/"]
    assert got["host2.example"]["crawl_delay_s"] == 3.0


N_DOCS = 120
ROUND_SECONDS = 3.0


def test_burst_token_bucket_matches_oracle(spark, tmp_path):
    """burst_rounds=2: under-used budget carries to the next round; the
    engine must still match the oracle's ordering and seen set exactly."""
    pages_path = str(tmp_path / "pages")
    gen.gen_pages_df(spark, N_DOCS, partitions=4).write.parquet(pages_path)
    seeds = gen.gen_seeds(N_DOCS, n_seeds=6)
    robots_rows = gen.gen_robots()
    robots_df = spark.createDataFrame(
        pd.DataFrame(robots_rows),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    sim_robots = SimRobots(
        disallow_prefixes={r["host"]: r["disallow_prefixes"] for r in robots_rows},
        crawl_delay_s={r["host"]: r["crawl_delay_s"] for r in robots_rows},
    )
    pages_dict = {gen.url_of(i): gen.html_of(i, N_DOCS).encode() for i in range(N_DOCS)}

    sim_log, sim_seen = simulate_crawl(
        seeds, pages_dict, sim_robots,
        round_seconds=ROUND_SECONDS, max_rounds=4, burst_rounds=2,
    )

    eng = CrawlEngine(
        spark, str(tmp_path / "state"), pages_path, robots_df,
        CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                    bloom_bits_per_segment=1 << 16, burst_rounds=2),
    )
    eng.init_from_seeds(
        spark.createDataFrame(pd.DataFrame(seeds), "url string, seed_rank int, query string")
    )
    eng.run(max_rounds=4)

    got = (
        eng.fetched_log()
        .orderBy("round", "fetch_seq")
        .select("round", "fetch_seq", "canonical_url")
        .collect()
    )
    assert [(r["round"], r["fetch_seq"], r["canonical_url"]) for r in got] == [
        (f.round, f.fetch_seq, f.url) for f in sim_log
    ]
    assert {r["canonical_url"] for r in eng.seen().collect()} == sim_seen
    # burst mode must actually change behavior vs burst=1 somewhere (host1
    # has delay 2.0: budget 1 in round 1, 2 in round 2 with carried tokens)
    sim_log_b1, _ = simulate_crawl(
        seeds, pages_dict, sim_robots,
        round_seconds=ROUND_SECONDS, max_rounds=4, burst_rounds=1,
    )
    assert [(f.round, f.url) for f in sim_log] != [(f.round, f.url) for f in sim_log_b1]


def test_host_tokens_value_lock(spark, tmp_path):
    """Each committed round's host_tokens/ equals the token-bucket rule
    recomputed from its inputs: per host fetched (or missed) in round k,
    min(burst·refill, tokens(k−1) + refill) − used(k), with refill from
    the robots table, tokens(k−1) from round k−1's host_tokens/ (0 when
    absent) and used(k) from round k's non-blocked seen_delta/ rows.  One
    host's crawl delay exceeds round_seconds, so its ≥1 budget floor runs
    the bucket into debt; burst_rounds=2 lets under-used hosts carry."""
    from crawler_engine_spark.frontier.politeness import DEFAULT_CRAWL_DELAY_S

    pages_path = str(tmp_path / "pages")
    gen.gen_pages_df(spark, N_DOCS, partitions=4).write.parquet(pages_path)
    robots_rows = gen.gen_robots()
    robots_rows[1]["crawl_delay_s"] = 2 * ROUND_SECONDS
    delay = {r["host"]: r["crawl_delay_s"] for r in robots_rows}
    robots_df = spark.createDataFrame(
        pd.DataFrame(robots_rows),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), pages_path, robots_df,
        CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                    bloom_bits_per_segment=1 << 16, burst_rounds=2),
    )
    eng.init_from_seeds(spark.createDataFrame(
        pd.DataFrame(gen.gen_seeds(N_DOCS, n_seeds=6)),
        "url string, seed_rank int, query string",
    ))
    assert len(eng.run(max_rounds=4)) == 4

    def tokens(k):
        d = os.path.join(eng._round_dir(k), "host_tokens")
        if not os.path.isdir(d):
            return {}
        return {r["host"]: r["tokens"] for r in spark.read.parquet(d).collect()}

    values, carried = [], []
    for k in eng.committed_rounds()[1:]:
        prev = tokens(k - 1)
        used = {
            r["host"]: r["count"]
            for r in spark.read.parquet(
                os.path.join(eng._round_dir(k), "seen_delta")
            ).where("fetch_status != 'robots_blocked'").groupBy("host").count()
            .collect()
        }
        want = {}
        for host, n in used.items():
            refill = ROUND_SECONDS / max(delay.get(host, DEFAULT_CRAWL_DELAY_S), 1e-9)
            want[host] = min(2.0 * refill, prev.get(host, 0.0) + refill) - n
        assert tokens(k) == want, k
        values += want.values()
        carried += [prev[h] for h in used if prev.get(h, 0.0) > 0]
    assert min(values) < 0  # the debt path
    assert carried  # the burst carry path


def test_robots_decisions_agree_with_stdlib_robotparser():
    """For the wildcard-free subset the engine models (plain Disallow
    prefixes, single group), our any-prefix-blocks decision must agree with
    urllib.robotparser on randomized rule sets and paths."""
    import random
    from urllib import robotparser

    from crawler_engine_spark.kernels.robots import parse_robots_txt

    rng = random.Random(42)
    segs = ["a", "b", "private", "shop", "docs", "x1"]
    for _case in range(200):
        prefixes = sorted(
            {
                "/" + "/".join(rng.sample(segs, rng.randint(1, 2))) + rng.choice(["", "/"])
                for _ in range(rng.randint(0, 4))
            }
        )
        body = "User-agent: *\n" + "".join(f"Disallow: {p}\n" for p in prefixes)

        rp = robotparser.RobotFileParser()
        rp.parse(body.splitlines())
        rec = parse_robots_txt(body, agent="anybot")

        for _p in range(8):
            path = "/" + "/".join(rng.sample(segs, rng.randint(1, 3)))
            ours = not any(path.startswith(pref) for pref in rec["disallow_prefixes"])
            theirs = rp.can_fetch("anybot", path)
            assert ours == theirs, (body, path, ours, theirs)

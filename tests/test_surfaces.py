"""Tests for the S7 scrape operator, sinks, shaping, streaming surface,
config loading, and the crawl.py CLI."""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_engine_spark.config import CrawlConfig
from crawler_engine_spark.data import gen
from crawler_engine_spark.kernels.scrape import scrape_page_metadata
from crawler_engine_spark.operators import shaping
from crawler_engine_spark.operators.scrape import scrape_metadata
from crawler_engine_spark.sources.sinks import write_results
from crawler_engine_spark.streaming.pipeline import stream_extract

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------------ scrape


def test_scrape_kernel():
    html = (
        '<html><head><title>T</title>'
        '<meta name="a" content="1"><meta property="og:b" content="2">'
        '<meta name="a" content="override">'
        '<script type="application/ld+json">{"@type":"Article"}</script>'
        '<script>var x;</script></head>'
        '<body><p>two words</p><a href="/x">l</a><a>nohref</a><img src="i"></body></html>'
    )
    rec = scrape_page_metadata(html)
    assert rec["title"] == "T"
    assert rec["meta_tags"] == {"a": "override", "og:b": "2"}  # later overwrites
    assert rec["ld_json"] == ['{"@type":"Article"}']
    assert rec["word_count"] == 4  # "two words l nohref"
    assert rec["link_count"] == 1
    assert rec["image_count"] == 1
    assert rec["script_count"] == 2


def test_scrape_operator(spark):
    pages = gen.gen_pages_df(spark, 20, partitions=2)
    rows = scrape_metadata(pages).collect()
    assert len(rows) == 20
    for r in rows:
        assert "description" in r["meta_tags"]
        assert r["script_count"] >= 1


# ----------------------------------------------------------------- shaping


def test_safe_dict_template():
    out = shaping.render_template("{title} by {author} ({missing})",
                                  {"title": "T", "author": "A"})
    assert out == "T by A ({missing})"


def test_render_template_col(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"title": ["T", None], "url": ["u1", "u2"]})
    )
    got = df.select(
        shaping.render_template_col("<h1>{title}</h1> {url} {nope}", df).alias("s")
    ).collect()
    assert got[0]["s"] == "<h1>T</h1> u1 {nope}"
    assert got[1]["s"] == "<h1>{title}</h1> u2 {nope}"  # null → literal


def test_shape_results_raw_and_template(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"content": ["body"], "title": ["T"], "url": ["u"]})
    )
    raw = shaping.shape_results(df, None).first()["formatted_data"]
    assert raw == "body"
    tpl = shaping.shape_results(df, "# {title}\n{content}").first()["formatted_data"]
    assert tpl == "# T\nbody"
    fallback = shaping.shape_results(df, 42).first()["formatted_data"]
    assert fallback == "body"  # deterministic fallback = raw content


def test_extract_json_cols(spark):
    """ai_client.py:697-732 JSON isolation, executed semantics: greedy span
    when valid, null otherwise; arrays unwrap items/data/results/list."""
    rows = [
        (0, 'prose {"a": 1, "b": "x"} tail'),          # clean object
        (1, 'use {placeholders} then {"a": 1} end'),    # invalid greedy span
        (2, 'pick [1, 2, 3] please'),                   # bare array
        (3, 'w [ bad {"results":[9,8]} ]'),             # unwrap via results
        (4, 'no json at all'),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {
        r["i"]: (r["o"], r["a"])
        for r in df.select(
            "i",
            shaping.extract_json_obj_col(F.col("t")).alias("o"),
            shaping.extract_json_arr_col(F.col("t")).alias("a"),
        ).collect()
    }
    assert got[0] == ('{"a": 1, "b": "x"}', None)
    assert got[1] == (None, None)
    assert got[2] == (None, "[1, 2, 3]")
    assert got[3] == ('{"results":[9,8]}', "[9,8]")
    assert got[4] == (None, None)


def test_shape_results_dict_schema(spark):
    df = spark.createDataFrame(
        pd.DataFrame({
            "content": ["body text here"], "title": ["T"], "url": ["u"],
            "word_count": [3],
        })
    )
    schema = {"title": "string", "word_count": "number", "author": "string"}
    out = shaping.shape_results(df, schema).first()["formatted_data"]
    assert out == '{"title":"T","word_count":3.0,"author":null}'
    # nested schema recurses; unknown nested keys become nulls
    nested = shaping.shape_results(
        df, {"meta": {"title": "string", "lang": "string"}, "url": "string"}
    ).first()["formatted_data"]
    assert nested == '{"meta":{"title":"T","lang":null},"url":"u"}'
    # [schema] → one-element JSON array of the projection
    arr = shaping.shape_results(df, [{"title": "string"}]).first()["formatted_data"]
    assert arr == '[{"title":"T"}]'


# ------------------------------------------------------------------- sinks


def test_write_results_formats(spark, tmp_path):
    from crawler_engine_spark.operators.extraction import extract_pages

    res = extract_pages(gen.gen_pages_df(spark, 6, partitions=2), mode="structured").cache()
    for fmt in ["parquet", "json", "markdown", "text", "html"]:
        out = str(tmp_path / fmt)
        write_results(res, out, fmt=fmt)
        if fmt == "parquet":
            assert spark.read.parquet(out).count() == 6
        else:
            txt = spark.read.text(out)
            assert txt.count() >= 6
    md = spark.read.text(str(tmp_path / "markdown")).collect()
    assert any(r["value"].startswith("# ") for r in md)
    js = spark.read.json(str(tmp_path / "json"))
    assert js.count() == 6 and "url" in js.columns


# --------------------------------------------------------------- streaming


def test_stream_extract_available_now(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    gen.gen_pages_df(spark, 30, partitions=3).write.parquet(pages_dir)
    q = stream_extract(
        spark, pages_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode="structured",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 30
    # incremental: add more pages, re-run with same checkpoint → only delta
    more_dir = str(tmp_path / "pages")
    gen.gen_pages_df(spark, 10, partitions=1).withColumn(
        "url", F.concat(F.lit("https://late.example/"), F.col("url"))
    ).write.mode("append").parquet(more_dir)
    q2 = stream_extract(
        spark, pages_dir,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode="structured",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 40


# ------------------------------------------------------------------ config


def test_engine_config_from_env(monkeypatch):
    monkeypatch.setenv("INTELLIGENT_EXTRACTOR_RELEVANCE_THRESHOLD", "0.4")
    monkeypatch.setenv("INTELLIGENT_EXTRACTOR_EXTRACT_FORMS", "true")
    monkeypatch.setenv("INTELLIGENT_EXTRACTOR_STRATEGY", "semantic")
    monkeypatch.setenv("CRAWL_ROUND_SECONDS", "42")
    monkeypatch.setenv("CRAWL_LINK_RANK", "true")
    cfg = CrawlConfig.from_env()
    assert cfg.extract_opts.relevance_threshold == 0.4
    assert cfg.extract_opts.extract_forms is True
    assert cfg.mode == "semantic"
    assert cfg.round_seconds == 42.0
    assert cfg.link_rank_budget is True
    assert cfg.link_rank_iterations == 5


def test_engine_config_file_overrides_env(monkeypatch, tmp_path):
    """Reference precedence (models/config.py:323-394): file beats env;
    keys absent from the file keep env values."""
    monkeypatch.setenv("INTELLIGENT_EXTRACTOR_STRATEGY", "semantic")
    monkeypatch.setenv("INTELLIGENT_EXTRACTOR_MIN_CONTENT_LENGTH", "77")
    monkeypatch.setenv("CRAWL_NUM_SALTS", "4")
    cfg_file = tmp_path / "engine.json"
    cfg_file.write_text(json.dumps({
        "extraction": {"strategy": "structured", "relevance_threshold": 0.25},
        "performance": {"requests_per_second": 9.5},
        "crawl": {"trap_threshold": 250},
    }))
    cfg = CrawlConfig.load(str(cfg_file))
    assert cfg.mode == "structured"              # file wins
    assert cfg.extract_opts.relevance_threshold == 0.25
    assert cfg.trap_threshold == 250
    assert cfg.extract_opts.min_content_length == 77  # env survives
    assert cfg.num_salts == 4


def test_engine_config_yaml_roundtrip(tmp_path):
    """Every file key round-trips: a config with every knob off its
    default survives to_dict → json/yaml file → from_file."""
    from crawler_engine_spark.kernels.extract import ExtractOptions

    cfg = CrawlConfig(
        round_seconds=7.5, num_salts=3, bloom_partitions=5,
        bloom_bits_per_segment=4096, mode="hybrid",
        extract_opts=ExtractOptions(
            relevance_threshold=0.3, min_content_length=7, remove_ads=False,
            remove_navigation=False, enable_hidden_content_handling=False,
            extract_tables=False, extract_lists=False, extract_forms=True,
            extract_links=False, extract_images=True,
        ),
        trap_threshold=50, trap_keep_per_pattern=9, link_rank_budget=True,
        link_rank_iterations=2, link_rank_focus=True, link_rank_every=3,
    )
    data, defaults = cfg.to_dict(), CrawlConfig().to_dict()
    assert data.keys() == defaults.keys()
    for section, keys in defaults.items():
        assert data[section].keys() == keys.keys()
        assert all(data[section][k] != v for k, v in keys.items()), section
    json_file = tmp_path / "engine.json"
    json_file.write_text(json.dumps(data))
    assert CrawlConfig.from_file(str(json_file)) == cfg
    yaml = pytest.importorskip("yaml")
    yaml_file = tmp_path / "engine.yaml"
    yaml_file.write_text(yaml.safe_dump(data))
    assert CrawlConfig.from_file(str(yaml_file)) == cfg


def test_engine_config_rejects_unknown_suffix(tmp_path):
    p = tmp_path / "engine.toml"
    p.write_text("")
    with pytest.raises(ValueError, match="Unsupported configuration"):
        CrawlConfig.from_file(str(p))


# env var → the CrawlConfig field it sets (dotted: an ExtractOptions field)
ENV_FIELDS = {
    "INTELLIGENT_EXTRACTOR_STRATEGY": "mode",
    "INTELLIGENT_EXTRACTOR_RELEVANCE_THRESHOLD": "extract_opts.relevance_threshold",
    "INTELLIGENT_EXTRACTOR_MIN_CONTENT_LENGTH": "extract_opts.min_content_length",
    "INTELLIGENT_EXTRACTOR_REMOVE_ADS": "extract_opts.remove_ads",
    "INTELLIGENT_EXTRACTOR_REMOVE_NAVIGATION": "extract_opts.remove_navigation",
    "INTELLIGENT_EXTRACTOR_ENABLE_HIDDEN_CONTENT": "extract_opts.enable_hidden_content_handling",
    "INTELLIGENT_EXTRACTOR_EXTRACT_TABLES": "extract_opts.extract_tables",
    "INTELLIGENT_EXTRACTOR_EXTRACT_LISTS": "extract_opts.extract_lists",
    "INTELLIGENT_EXTRACTOR_EXTRACT_FORMS": "extract_opts.extract_forms",
    "INTELLIGENT_EXTRACTOR_EXTRACT_LINKS": "extract_opts.extract_links",
    "INTELLIGENT_EXTRACTOR_EXTRACT_IMAGES": "extract_opts.extract_images",
    "CRAWL_ROUND_SECONDS": "round_seconds",
    "CRAWL_NUM_SALTS": "num_salts",
    "CRAWL_BLOOM_PARTITIONS": "bloom_partitions",
    "CRAWL_BLOOM_BITS": "bloom_bits_per_segment",
    "CRAWL_TRAP_THRESHOLD": "trap_threshold",
    "CRAWL_TRAP_KEEP": "trap_keep_per_pattern",
    "CRAWL_LINK_RANK": "link_rank_budget",
    "CRAWL_LINK_RANK_ITERS": "link_rank_iterations",
    "CRAWL_LINK_RANK_EVERY": "link_rank_every",
    "CRAWL_LINK_RANK_FOCUS": "link_rank_focus",
}


def _flat_fields(cfg):
    import dataclasses

    out = {f.name: getattr(cfg, f.name) for f in dataclasses.fields(cfg)}
    opts = out.pop("extract_opts")
    for f in dataclasses.fields(opts):
        out["extract_opts." + f.name] = getattr(opts, f.name)
    return out


def test_cli_init_env_matches_from_env(monkeypatch, tmp_path):
    """`init --format env` sets exactly the vars from_env reads; loaded
    back it gives the default config in adaptive mode, and each var
    changes only its own field."""
    out = tmp_path / "crawl.env"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "crawl.py"), "init",
         "--format", "env", "--out", str(out)],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    template = dict(
        line.split("=", 1) for line in out.read_text().splitlines()
        if line and not line.startswith("#")
    )

    class Recorder(dict):
        def get(self, key, default=None):
            self.read.add(key)
            return super().get(key, default)

        def __getitem__(self, key):
            self.read.add(key)
            return super().__getitem__(key)

    env = Recorder()
    env.read = set()
    monkeypatch.setattr(os, "environ", env)
    CrawlConfig.from_env()
    assert set(template) == env.read == set(ENV_FIELDS)

    for name, value in template.items():
        env[name] = value
    expected = CrawlConfig(mode="adaptive")
    assert CrawlConfig.from_env() == expected
    base = _flat_fields(expected)
    for name, value in template.items():
        if value in ("true", "false"):
            other = {"true": "false", "false": "true"}[value]
        elif name == "INTELLIGENT_EXTRACTOR_STRATEGY":
            other = "semantic"
        else:
            other = str(type(base[ENV_FIELDS[name]])(value) + 3)
        env[name] = other
        got = _flat_fields(CrawlConfig.from_env())
        env[name] = value
        changed = {k for k in base if got[k] != base[k]}
        assert changed == {ENV_FIELDS[name]}, name


def test_cli_rule_parsing_handles_colons():
    sys.path.insert(0, REPO)
    from crawl import _parse_rule

    assert _parse_rule("body:article.main:3") == ("body", "article.main", 3)
    assert _parse_rule("body:article.main") == ("body", "article.main", 10)
    assert _parse_rule('x:[data-x="a:b"]') == ("x", '[data-x="a:b"]', 10)
    assert _parse_rule('x:[data-x="a:b"]:7') == ("x", '[data-x="a:b"]', 7)
    assert _parse_rule("x:a:not(.y)") == ("x", "a:not(.y)", 10)


# --------------------------------------------------------------------- CLI


def test_cli_doctor():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "crawl.py"), "doctor"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["overall"] == "ok"


def test_spark_submit_py_files_deployment(tmp_path):
    """The north rule's deployment mode: `spark-submit --py-files <zip>`
    from a bare directory (no repo on sys.path, PYTHONPATH unset) must run
    the doctor job — proving the package travels in the zip, not the cwd."""
    import shutil
    import zipfile

    zpath = tmp_path / "pkg.zip"
    pkg = os.path.join(REPO, "crawler_engine_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, REPO))
    workdir = tmp_path / "bare"
    workdir.mkdir()
    shutil.copy(os.path.join(REPO, "crawl.py"), workdir)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", str(zpath),
         "crawl.py", "doctor"],
        cwd=str(workdir), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert rec["overall"] == "ok"


def test_cli_expire(spark, tmp_path):
    """expire subcommand: tombstones + requeues via the CLI against an
    existing crawl state."""
    import pandas as _pd

    from crawler_engine_spark.data import gen
    from crawler_engine_spark.frontier.rounds import CrawlConfig, CrawlEngine

    pages = str(tmp_path / "pages")
    gen.gen_pages_df(spark, 80, partitions=2).write.parquet(pages)
    robots = spark.createDataFrame(
        _pd.DataFrame(gen.gen_robots()),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    state = str(tmp_path / "state")
    eng = CrawlEngine(
        spark, state, pages, robots,
        CrawlConfig(round_seconds=3.0, bloom_partitions=4,
                    bloom_bits_per_segment=1 << 14),
    )
    eng.init_from_seeds(spark.createDataFrame(
        _pd.DataFrame(gen.gen_seeds(80, 4)), "url string, seed_rank int, query string"
    ))
    eng.run(max_rounds=2)
    fetched = sorted({r["canonical_url"] for r in eng.fetched_log().collect()})[:3]
    urls_txt = tmp_path / "expire.txt"
    urls_txt.write_text("\n".join(fetched) + "\n")

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "crawl.py"), "expire",
         "--state", state, "--pages", pages, "--urls", str(urls_txt)],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert rec["expired"] == 3
    seen = {r["canonical_url"] for r in eng.seen().collect()}
    assert not (set(fetched) & seen)


def test_cli_crawl_flag_file_env_precedence(spark, tmp_path):
    """`crawl.py crawl` applies flag > file > env: the file's 4 bloom
    partitions beat the env's 8, the env's CRAWL_LINK_RANK reaches the
    engine, and --round-seconds 3 beats the file's 1000 (records equal an
    in-process run at 3 s)."""
    from crawler_engine_spark.frontier.rounds import CrawlEngine

    pages = str(tmp_path / "pages")
    gen.gen_pages_df(spark, 80, partitions=2).write.parquet(pages)
    seeds = pd.DataFrame({"url": [gen.url_of(i) for i in range(0, 80, 2)]})
    seeds["seed_rank"] = range(len(seeds))
    seeds_csv = tmp_path / "seeds.csv"
    seeds.to_csv(seeds_csv, index=False)
    cfg_file = tmp_path / "crawl.json"
    cfg_file.write_text(json.dumps({"crawl": {
        "bloom_partitions": 4, "round_seconds": 1000,
        "bloom_bits_per_segment": 1 << 14,
    }}))
    env = {k: v for k, v in os.environ.items() if k not in ENV_FIELDS}
    env.update(CRAWL_BLOOM_PARTITIONS="8", CRAWL_LINK_RANK="true")
    state = tmp_path / "state"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "crawl.py"), "crawl",
         "--pages", pages, "--seeds", str(seeds_csv), "--state", str(state),
         "--rounds", "2", "--round-seconds", "3", "--config", str(cfg_file)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    cli = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    cli = [r for r in cli if "round" in r]
    assert len(os.listdir(state / "rounds" / "round=1" / "bloom")) == 4
    assert [r["link_rank_applied"] for r in cli] == [False, True]

    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_s double"
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "state_in_process"), pages, robots,
        CrawlConfig(round_seconds=3.0, bloom_partitions=4,
                    bloom_bits_per_segment=1 << 14, link_rank_budget=True),
    )
    seeds["query"] = None
    eng.init_from_seeds(spark.createDataFrame(
        seeds, "url string, seed_rank int, query string"
    ))
    ours = eng.run(max_rounds=2)
    # a 1000 s round would fetch all 40 seeds in round 1
    assert ours[0]["fetched"] < len(seeds)
    keys = ("fetched", "new_urls", "frontier_size")
    assert [[r[k] for k in keys] for r in cli] == [[r[k] for k in keys] for r in ours]


def test_cli_interactive(spark, tmp_path):
    """interactive loop: piped stdin (url/query/mode triples), one summary
    JSON per url, unknown url → error record."""
    from crawler_engine_spark.data import gen

    pages_path = str(tmp_path / "pages")
    gen.gen_pages_df(spark, 10, partitions=2).write.parquet(pages_path)
    url = gen.url_of(0)
    stdin = f"{url}\n\nstructured\nhttps://nope.example/x\n\n\n\n"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "crawl.py"), "interactive",
         "--pages", pages_path],
        input=stdin, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    recs = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(recs) == 2
    assert recs[0]["url"] == url and recs[0]["success"]
    assert recs[0]["strategy"] == "StructuredExtractionStrategy"
    assert recs[1]["error"] == "url not in page store"


def test_stream_politeness_token_bucket_state(spark, tmp_path):
    """Stateful streaming politeness (applyInPandasWithState): tokens carry
    across micro-batches — 12 candidates for one host arriving over three
    1-file micro-batches admit 5/5/2 with refill 5, not 5/5/5."""
    import pandas as pd

    from crawler_engine_spark.streaming.pipeline import stream_politeness_admit

    cand_dir = tmp_path / "cand"
    cand_dir.mkdir()
    # three files = three micro-batches (maxFilesPerTrigger=1)
    for b in range(3):
        pd.DataFrame(
            {
                "host": ["h.example"] * 4 + ["quiet.example"],
                "canonical_url": [f"https://h.example/p{b}_{i}" for i in range(4)]
                + [f"https://quiet.example/q{b}"],
                "url_hash": list(range(b * 10, b * 10 + 4)) + [1000 + b],
            }
        ).to_parquet(cand_dir / f"batch{b}.parquet")

    admitted = stream_politeness_admit(
        spark, str(cand_dir), refill_per_batch=5.0, capacity=10.0
    )
    q = (
        admitted.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out"))
    rows = got.collect()
    # hot host: 4+4+4 candidates, refill 5/batch: batch admits are
    # 4,4,4 (refill exceeds arrivals) — with refill 2 it would throttle; use
    # counts to assert state persisted: tokens accumulate 5-4=1, then 1+5-4=2...
    by_host = {r["host"]: [] for r in rows}
    for r in rows:
        by_host[r["host"]].append(r)
    assert len(by_host["h.example"]) == 12
    assert all(r["admitted"] for r in rows)
    lefts = sorted({round(r["tokens_left"], 1) for r in by_host["h.example"]})
    # tokens_left after each batch: 1.0, 2.0, 3.0 — proof of cross-batch carry
    assert lefts == [1.0, 2.0, 3.0], lefts
    assert len(by_host["quiet.example"]) == 3


def test_stream_politeness_carries_throttled_candidates(spark, tmp_path):
    """Over-budget path (refill < arrivals): candidates beyond the batch
    budget are queued in state and admitted at later triggers in url_hash
    order — throttling defers, it must not drop."""
    import pandas as pd

    from crawler_engine_spark.streaming.pipeline import stream_politeness_admit

    cand_dir = tmp_path / "cand"
    cand_dir.mkdir()
    for b in range(3):
        pd.DataFrame(
            {
                "host": ["hot.example"] * 4,
                "canonical_url": [f"https://hot.example/p{b}_{i}" for i in range(4)],
                "url_hash": list(range(b * 10, b * 10 + 4)),
            }
        ).to_parquet(cand_dir / f"batch{b}.parquet")

    admitted = stream_politeness_admit(
        spark, str(cand_dir), refill_per_batch=2.0, capacity=10.0
    )
    q = (
        admitted.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    # 12 arrivals, budget 2/batch over 3 batches → exactly 6 admitted, and
    # they are the deterministic queue order: batch-0's four first (two per
    # trigger), then batch-1's first two.  Nothing emitted unadmitted (the
    # rest is still queued in state, not lost).
    assert len(rows) == 6
    assert all(r["admitted"] for r in rows)
    got = sorted(r["canonical_url"] for r in rows)
    want = sorted(
        [f"https://hot.example/p0_{i}" for i in range(4)]
        + ["https://hot.example/p1_0", "https://hot.example/p1_1"]
    )
    assert got == want


def test_stream_politeness_overflow_emitted_unadmitted(spark, tmp_path):
    """A bounded pending queue never loses rows silently: overflow beyond
    max_pending is emitted with admitted=false for caller-side re-queue."""
    import pandas as pd

    from crawler_engine_spark.streaming.pipeline import stream_politeness_admit

    cand_dir = tmp_path / "cand"
    cand_dir.mkdir()
    pd.DataFrame(
        {
            "host": ["h.example"] * 8,
            "canonical_url": [f"https://h.example/p{i}" for i in range(8)],
            "url_hash": list(range(8)),
        }
    ).to_parquet(cand_dir / "batch0.parquet")

    admitted = stream_politeness_admit(
        spark, str(cand_dir), refill_per_batch=2.0, capacity=10.0, max_pending=3
    )
    q = (
        admitted.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    # 8 arrivals: 2 admitted, 3 queued in state, 3 overflow → visible split
    admitted_rows = [r for r in rows if r["admitted"]]
    overflow_rows = [r for r in rows if not r["admitted"]]
    assert len(admitted_rows) == 2
    assert len(overflow_rows) == 3
    assert sorted(r["canonical_url"] for r in admitted_rows) == [
        "https://h.example/p0", "https://h.example/p1",
    ]


def test_bench_compact_line_fits_driver_capture():
    """The driver parses the last 2,000 chars of bench.py's stdout; the
    final JSON line must fit with margin even if the catalog doubles, and
    must keep the contract fields (BENCH_r03 was unparseable because the
    line outgrew the capture)."""
    import json

    import bench

    def fake_full(n_queries):
        return {
            "metric": "bench_suite_seconds",
            "value": 123.456,
            "unit": "sec",
            "queries": {
                f"some_quite_long_query_name_{i:03d}": i + 0.123
                for i in range(n_queries)
            },
            "sf": 0.1,
            "crawl": {"urls_per_sec": 32.51, "round_wall_sec": 7.54,
                      "urls_fetched": 735, "rounds": 3, "seconds": 21.2},
            "scaleup": {"linearity": 0.991},
            "skew": {"speedup": 2.46, "reducer_bound_ratio": 7.99,
                     "frontier_rows": 12000000},
            "scaling": {
                f"local[{bench.SCALING_N}]": {"pages_per_sec": 895.9,
                                              "reps": [1, 2, 3]},
                f"local[{bench.SCALING_N * 4}]": {"pages_per_sec": 3907.6,
                                                  "reps": [1, 2, 3]},
                "efficiency": 1.09,
                "frequency_control": {"ceiling_efficiency": 0.872},
            },
        }

    for n in (52, 72, 100, 200):
        line = bench.compact_line(fake_full(n))
        assert len(line) <= 1900, (n, len(line))
        d = json.loads(line)
        for k in ("metric", "value", "unit", "queries", "sf"):
            assert k in d
        # degradation keeps the slowest queries when the catalog explodes
        if "queries_truncated_to_slowest" in d:
            assert len(d["queries"]) == 10
            assert f"some_quite_long_query_name_{n-1:03d}" in d["queries"]

"""WARC ingestion: framing round-trips (plain + member-gzip), record-type
filtering, truncation safety, and the Spark surface feeding extraction."""

import gzip

from crawler_engine_spark.sources.warc import (
    build_warc,
    build_warc_with_index,
    iter_response_pages,
    read_cdxj,
    read_warc_pages,
    warc_pages_from_cdx,
    warc_response_pages,
)

_TS = "2026-01-01T00:00:00Z"


def _recs(n=3):
    return [
        (f"https://w.example/p{i}", _TS, f"<html><body>doc {i}</body></html>".encode())
        for i in range(n)
    ]


def test_warc_roundtrip_plain_and_gzip():
    recs = _recs()
    for gz in (False, True):
        got = list(iter_response_pages(build_warc(recs, gzip_members=gz)))
        assert [(u, t, p) for u, t, _, p in got] == recs
        assert all(status == 200 for _, _, status, _ in got)


def test_warc_skips_non_response_records():
    info_body = "望b".encode()  # 4 bytes; non-ascii must not confuse framing
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        + f"Content-Length: {len(info_body)}\r\n\r\n".encode()
        + info_body + b"\r\n\r\n"
    )
    # request record for the same URI — must also be skipped
    req_body = b"GET /p0 HTTP/1.1\r\nHost: w.example\r\n\r\n"
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://w.example/p0\r\n"
        + f"Content-Length: {len(req_body)}\r\n\r\n".encode()
        + req_body + b"\r\n\r\n"
    )
    blob = info + req + build_warc(_recs(1))
    got = list(iter_response_pages(blob))
    assert len(got) == 1 and got[0][0] == "https://w.example/p0"
    assert got[0][3] == b"<html><body>doc 0</body></html>"


def test_warc_truncation_stops_at_last_whole_record():
    blob = build_warc(_recs(2))
    # cut into the middle of the second record's body
    cut = blob[: len(build_warc(_recs(1))) + 40]
    got = list(iter_response_pages(cut))
    assert [u for u, *_ in got] == ["https://w.example/p0"]
    # garbage tail after a whole record also stops cleanly
    got = list(iter_response_pages(build_warc(_recs(1)) + b"\x00garbage"))
    assert len(got) == 1
    # gzip path: a truncated final member yields only the whole members
    gz = build_warc(_recs(2), gzip_members=True)
    first_len = len(build_warc(_recs(1), gzip_members=True))
    got = list(iter_response_pages(gz[: first_len + 10]))
    assert [u for u, *_ in got] == ["https://w.example/p0"]
    # corrupt bytes inside the second member stop after the first
    corrupt = bytearray(gz)
    corrupt[first_len + 12] ^= 0xFF
    got = list(iter_response_pages(bytes(corrupt)))
    assert [u for u, *_ in got] == ["https://w.example/p0"]


def test_warc_negative_content_length_terminates():
    """A crafted 'Content-Length: -N' must not make the parser loop the
    same record forever (ADVICE r03, high): WARC input is untrusted web
    content, so malformed framing stops at the last whole record."""
    good = build_warc(_recs(1))
    head = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://w.example/evil\r\n"
    )
    # -(header_len + 4) would leave the cursor stationary in the old code
    evil_len = -(len(head) + len(b"Content-Length: -999\r\n\r\n"))
    evil = head + f"Content-Length: {evil_len}\r\n\r\n".encode()
    got = list(iter_response_pages(good + evil + build_warc(_recs(2))))
    assert [u for u, *_ in got] == ["https://w.example/p0"]


def test_warc_index_offsets_slice_to_records():
    recs = _recs(4)
    for gz in (False, True):
        blob, idx = build_warc_with_index(recs, gzip_members=gz)
        assert build_warc(recs, gzip_members=gz) == blob
        assert idx[0][0] == 0 and sum(ln for _, ln in idx) == len(blob)
        for (u, t, p), (off, ln) in zip(recs, idx):
            ((url, ts, status, payload),) = list(
                iter_response_pages(blob[off : off + ln])
            )
            assert (url, ts, status, payload) == (u, t, 200, p)


def test_warc_cdx_range_reads_match_full_scan(spark, tmp_path):
    """The CDX-offset path returns byte-identical pages to the whole-
    archive path, with record-granular parallelism (> #archives tasks)."""
    import pandas as pd

    n_archives, per = 2, 6
    listing_rows = []
    for a in range(n_archives):
        recs = [
            (f"https://w.example/a{a}/p{i}", _TS,
             f"<html><body>doc {a}-{i}</body></html>".encode())
            for i in range(per)
        ]
        blob, idx = build_warc_with_index(recs, gzip_members=(a % 2 == 0))
        name = f"s{a}.warc" + (".gz" if a % 2 == 0 else "")
        (tmp_path / name).write_bytes(blob)
        listing_rows += [
            (str(tmp_path / name), off, ln) for off, ln in idx
        ]
    cdx = spark.createDataFrame(
        pd.DataFrame(listing_rows, columns=["warc_path", "offset", "length"])
    )
    got = warc_pages_from_cdx(cdx, num_partitions=8)
    # record-scale parallelism: more tasks than archives, plan-asserted
    assert got.rdd.getNumPartitions() == 8 > n_archives
    full = read_warc_pages(spark, str(tmp_path))
    a = sorted((r["url"], bytes(r["html"])) for r in got.collect())
    b = sorted((r["url"], bytes(r["html"])) for r in full.collect())
    assert a == b and len(a) == n_archives * per
    # a wrong offset (mid-record) contributes zero rows, not a task failure
    bad = spark.createDataFrame(
        pd.DataFrame([(listing_rows[0][0], 3, 20)],
                     columns=["warc_path", "offset", "length"])
    )
    assert warc_pages_from_cdx(bad).count() == 0


def test_warc_cdxj_listing_parse(spark, tmp_path):
    lines = [
        'org,example)/p1 20260101000000 {"url": "https://example.org/p1", '
        '"filename": "seg/a.warc.gz", "offset": "123", "length": "456"}',
        "malformed line with no json",
        'org,example)/p2 20260101000001 {"filename": "seg/b.warc.gz", '
        '"offset": "0", "length": "9"}',
    ]
    (tmp_path / "idx.cdxj").write_text("\n".join(lines))
    # root with and without trailing slash must behave identically
    for root in ("s3://cc/", "s3://cc"):
        got = sorted(
            (r["warc_path"], r["offset"], r["length"])
            for r in read_cdxj(
                spark, str(tmp_path / "idx.cdxj"), warc_root=root
            ).collect()
        )
        assert got == [("s3://cc/seg/a.warc.gz", 123, 456),
                       ("s3://cc/seg/b.warc.gz", 0, 9)]


def _mixed_status_fixture(spark, tmp_path):
    """Archive with 200/404/301 records + a CDXJ whose third record lacks
    the status field (old-index shape).  Returns (cdxj_path, n_records)."""
    import json

    from crawler_engine_spark.sources import warc as warc_mod

    recs = [
        ("https://w.example/ok", _TS, b"<html><body>keep me</body></html>", 200),
        ("https://w.example/gone", _TS, b"<html>404 page</html>", 404),
        ("https://w.example/moved", _TS, b"", 301),
        ("https://w.example/nostatus", _TS,
         b"<html><body>also 200, but the index omits status</body></html>",
         200),
    ]
    blob, idx = build_warc_with_index(recs)
    (tmp_path / "s.warc").write_bytes(blob)
    lines = []
    for (url, _, _, status), (off, ln) in zip(recs, idx):
        j = {"url": url, "filename": "s.warc",
             "offset": str(off), "length": str(ln),
             "mime": "text/html"}
        if url != "https://w.example/nostatus":
            j["status"] = str(status)
        lines.append(f"x)/{url.rsplit('/', 1)[1]} 20260101000000 "
                     + json.dumps(j))
    p = tmp_path / "idx.cdxj"
    p.write_text("\n".join(lines))
    return str(p), len(recs)


def test_cdx_status_pushdown_skips_range_reads(spark, tmp_path):
    """VERDICT r04 #4: a status-filtered listing row's record is NEVER
    range-read (slice-read accumulator), and the pushdown is output-
    identical to post-parse filtering — null-status rows fall through to
    the parse rather than being dropped."""
    from crawler_engine_spark.sources import warc as warc_mod

    cdxj, n = _mixed_status_fixture(spark, tmp_path)
    root = str(tmp_path) + "/"

    def run(statuses):
        acc = spark.sparkContext.accumulator(0)
        warc_mod.CDX_SLICE_READ_COUNTER = acc
        try:
            listing = read_cdxj(spark, cdxj, warc_root=root,
                                statuses=statuses)
            pages = warc_pages_from_cdx(listing).collect()
        finally:
            warc_mod.CDX_SLICE_READ_COUNTER = None
        return acc.value, sorted(
            (r["url"], r["http_status"], bytes(r["html"])) for r in pages
        )

    reads_all, all_pages = run(None)
    assert reads_all == n == 4
    reads_pushed, pushed_pages = run([200])
    # 404 and 301 rows never opened; the status-less row still read
    assert reads_pushed == 2
    post = [p for p in all_pages if p[1] == 200]
    assert pushed_pages == post  # identical to post-parse filtering
    # mime pushdown takes the same path
    listing = read_cdxj(spark, cdxj, warc_root=root, mimes=["image/png"])
    assert listing.count() == 0
    listing = read_cdxj(spark, cdxj, warc_root=root, mimes=["text/html"])
    assert listing.count() == n


def test_cdx_oversized_length_counts_malformed(spark, tmp_path):
    """ADVICE r04 + r05 review: a corrupt/adversarial CDX row — length
    larger than max_slice_bytes, non-positive or null length, negative or
    null offset (seek(-1) would fail the whole task) — is never read and
    counts as malformed; well-formed rows are unaffected."""
    from crawler_engine_spark.sources import warc as warc_mod

    recs = [(f"https://w.example/p{i}", _TS,
             f"<html>{i}</html>".encode()) for i in range(3)]
    blob, idx = build_warc_with_index(recs)
    path = tmp_path / "s.warc"
    path.write_bytes(blob)
    rows = [(str(path), int(off), int(ln)) for off, ln in idx]
    rows.append((str(path), 0, 50 << 30))  # 50 GiB claimed length
    rows.append((str(path), 0, -7))        # negative length
    rows.append((str(path), -1, 100))      # negative offset: seek(-1) raises
    rows.append((str(path), None, 100))    # null offset
    rows.append((str(path), 4, None))      # null length
    cdx = spark.createDataFrame(
        rows, "warc_path string, offset long, length long"
    )
    acc_read = spark.sparkContext.accumulator(0)
    acc_bad = spark.sparkContext.accumulator(0)
    warc_mod.CDX_SLICE_READ_COUNTER = acc_read
    warc_mod.CDX_MALFORMED_COUNTER = acc_bad
    try:
        got = warc_pages_from_cdx(cdx, max_slice_bytes=1 << 20).collect()
    finally:
        warc_mod.CDX_SLICE_READ_COUNTER = None
        warc_mod.CDX_MALFORMED_COUNTER = None
    assert acc_read.value == 3 and acc_bad.value == 5
    assert sorted(r["url"] for r in got) == [u for u, _, _ in recs]


def test_warc_body_without_http_headers_kept_whole():
    raw = b"raw payload, no HTTP header block"
    blob = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://w.example/raw\r\n"
        + f"Content-Length: {len(raw)}\r\n\r\n".encode()
        + raw + b"\r\n\r\n"
    )
    ((url, _, status, payload),) = list(iter_response_pages(blob))
    assert url == "https://w.example/raw"
    assert status is None and payload == raw


def test_warc_spark_surface_feeds_extraction(spark, tmp_path):
    from pyspark.sql import functions as F

    from crawler_engine_spark.operators.extraction import extract_pages

    body = (
        b"<html><body><p>Enough prose content for the extractor to call "
        b"this a real page with words words words words words words words "
        b'words.</p><a href="https://w.example/next">next</a></body></html>'
    )
    recs = [(f"https://w.example/p{i}", _TS, body) for i in range(4)]
    (tmp_path / "a.warc.gz").write_bytes(build_warc(recs[:2], gzip_members=True))
    (tmp_path / "b.warc").write_bytes(build_warc(recs[2:]))

    pages = read_warc_pages(spark, str(tmp_path))
    rows = sorted(r["url"] for r in pages.collect())
    assert rows == sorted(u for u, _, _ in recs)
    assert pages.schema["html"].dataType.typeName() == "binary"

    res = extract_pages(pages.select("url", "html"), mode="adaptive")
    ok = res.where("success").select("url", F.size("out_links").alias("n"))
    assert all(r["n"] == 1 for r in ok.collect())
    assert ok.count() == 4


def test_cli_ingest_prints_rows_written(spark, tmp_path):
    """``crawl.py ingest --warc`` prints the page count observed on its
    own write: it equals the rows in the output, with the non-200 record
    dropped by default and kept under --keep-non-200."""
    import json
    import os
    import subprocess
    import sys

    recs = _recs(3) + [("https://w.example/gone", _TS, b"<html>404</html>", 404)]
    (tmp_path / "a.warc.gz").write_bytes(build_warc(recs, gzip_members=True))
    crawl = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "crawl.py"
    )
    for flags, want in (([], 3), (["--keep-non-200"], 4)):
        out = str(tmp_path / f"pages{len(flags)}")
        proc = subprocess.run(
            [sys.executable, crawl, "ingest", "--warc", str(tmp_path),
             "--out", out, *flags],
            capture_output=True, text=True, timeout=300,
            env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        rec = json.loads(
            [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert rec["pages"] == spark.read.parquet(out).count() == want, flags

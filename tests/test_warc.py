"""WARC source / WET sink tests.

Three layers: the pure-python kernel (roundtrip, spec fixture, damage
tolerance), the Spark source (record rows, pages projection, e2e into the
extraction kernel with byte-identity against the parquet path), and the
WET sink (deterministic files, byte-identical text roundtrip).
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import os
import random

import pytest

from gemini_ocr_batch_spark.kernels import warc as W

TS = dt.datetime(2026, 8, 17, 12, 0, 0)


def _sample_records(n: int = 6) -> list[bytes]:
    recs = [W.build_warcinfo_record(TS, "software: test")]
    for i in range(n):
        recs.append(
            W.build_response_record(
                f"https://ex{i}.org/p",
                TS + dt.timedelta(minutes=i),
                f"<html><body>doc {i}</body></html>".encode(),
            )
        )
    recs.append(W.build_conversion_record("https://ex0.org/p", TS, "doc 0 text"))
    return recs


# ---------------------------------------------------------------------------
# kernel
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("member_gzip", [True, False])
def test_kernel_roundtrip(member_gzip):
    recs = _sample_records()
    data = W.write_warc(recs, member_gzip=member_gzip)
    parsed = W.parse_warc(data)
    assert [r.error for r in parsed] == [None] * len(recs)
    assert [r.warc_type for r in parsed] == (
        ["warcinfo"] + ["response"] * 6 + ["conversion"]
    )
    r = parsed[1]
    assert r.url == "https://ex0.org/p" and r.date == TS
    status, ctype, body = W.split_http_payload(r.payload)
    assert (status, ctype) == (200, "text/html")
    assert body == b"<html><body>doc 0</body></html>"
    assert parsed[-1].payload == b"doc 0 text"
    # offsets are seekable: a record starts at every reported offset
    for rec in parsed:
        blob = data[rec.offset:]
        if member_gzip:
            blob = gzip.decompress(blob[: len(data) - rec.offset])
        assert blob.startswith(b"WARC/1.0")


def test_kernel_deterministic():
    recs = _sample_records()
    assert W.write_warc(recs) == W.write_warc(recs)


def test_spec_fixture_folded_headers_fractional_date():
    # hand-written per ISO 28500: LWS-folded header, fractional WARC-Date
    fix = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://a.example/\r\n"
        b"WARC-Date: 2020-01-02T03:04:05.678Z\r\n"
        b"X-Custom: one\r\n two\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: 4\r\n"
        b"\r\n"
        b"BODY\r\n\r\n"
    )
    (r,) = W.parse_warc(fix)
    assert r.error is None
    assert r.payload == b"BODY"
    assert r.date == dt.datetime(2020, 1, 2, 3, 4, 5, 678000)


def test_gzip_member_damage_is_contained():
    recs = _sample_records()
    data = W.write_warc(recs)
    offsets = [r.offset for r in W.parse_warc(data)]
    bad = bytearray(data)
    bad[offsets[3] + 20] ^= 0xFF  # corrupt one member's deflate stream
    parsed = W.parse_warc(bytes(bad))
    good = [r for r in parsed if r.error is None]
    errs = [r for r in parsed if r.error is not None]
    # every record except the damaged member survives
    assert len(good) == len(recs) - 1
    assert len(errs) >= 1 and "gzip" in errs[0].error


def test_plain_file_resyncs_at_next_magic():
    recs = _sample_records(2)
    plain = recs[1] + b"NOISE-NOT-A-RECORD" + recs[2]
    parsed = W.parse_warc(plain)
    assert [r.error is None for r in parsed] == [True, False, True]
    assert parsed[2].url == "https://ex1.org/p"


def test_truncated_tail_reports_error():
    rec = _sample_records(1)[1]
    parsed = W.parse_warc(rec[: len(rec) // 2])
    assert len(parsed) == 1 and "truncated" in parsed[0].error


def test_writer_parser_fuzz_roundtrip():
    # randomized bodies incl. CRLFs, WARC magic inside payloads, empties
    rng = random.Random(991)
    recs = []
    expect = []
    for i in range(60):
        body = bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 400)))
        if i % 7 == 0:
            body = b"WARC/1.0\r\n\r\n" + body  # magic inside a payload
        url = f"https://fuzz.example/{i}"
        recs.append(
            W.build_response_record(url, TS + dt.timedelta(seconds=i), body)
        )
        expect.append((url, body))
    for member_gzip in (True, False):
        parsed = W.parse_warc(W.write_warc(recs, member_gzip=member_gzip))
        assert [r.error for r in parsed] == [None] * 60
        got = [(r.url, W.split_http_payload(r.payload)[2]) for r in parsed]
        assert got == expect


# ---------------------------------------------------------------------------
# spark source
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def warc_dir(pages_rows, tmp_path_factory):
    from gemini_ocr_batch_spark.datagen import write_pages_warc

    d = str(tmp_path_factory.mktemp("warcsrc"))
    write_pages_warc(pages_rows, d, files=3)
    return d


def test_read_warc_rows(spark, warc_dir, pages_rows):
    from gemini_ocr_batch_spark.sources.warc import read_warc

    rows = read_warc(spark, warc_dir)
    by_type = {
        r["warc_type"]: r["count"]
        for r in rows.groupBy("warc_type").count().collect()
    }
    assert by_type == {"warcinfo": 3, "response": len(pages_rows)}
    assert rows.filter("error IS NOT NULL").count() == 0
    # provenance triple present and seekable-shaped
    probe = rows.filter("warc_type = 'response'").limit(1).collect()[0]
    assert probe.warc_file and probe.record_len > 0


def test_warc_to_pages_matches_parquet_pages(spark, warc_dir, pages_df):
    from gemini_ocr_batch_spark.sources.warc import read_warc, warc_to_pages

    pages = warc_to_pages(read_warc(spark, warc_dir))
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    a = {
        (r.url, r.warc_ts): bytes(r.html)
        for r in pages.collect()
    }
    b = {
        (r.url, r.warc_ts): bytes(r.html)
        for r in pages_df.collect()
    }
    assert a == b  # same keys, byte-identical blobs either path


def test_warc_pipeline_byte_identity(spark, warc_dir, pages_rows):
    """North-rule invariant holds through the WARC path: extraction over
    WARC input is byte-identical to the golden single-threaded kernel."""
    from gemini_ocr_batch_spark.datagen import golden_extract
    from gemini_ocr_batch_spark.operators.extract import extract_pages
    from gemini_ocr_batch_spark.sources.warc import read_warc, warc_to_pages

    pages = warc_to_pages(read_warc(spark, warc_dir))
    got = {
        (r.url, r.warc_ts.replace(tzinfo=dt.timezone.utc)): r.extracted_text
        for r in extract_pages(pages).collect()
    }
    golden = golden_extract(pages_rows)
    assert set(got) == set(golden)
    assert all(got[k] == golden[k][0] for k in got)


# ---------------------------------------------------------------------------
# WET sink
# ---------------------------------------------------------------------------


def test_write_wet_roundtrip_and_determinism(spark, warc_dir, tmp_path):
    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.operators.extract import extract_pages
    from gemini_ocr_batch_spark.sources.warc import (
        read_warc,
        warc_to_pages,
        write_wet,
    )

    extracted = extract_pages(
        warc_to_pages(read_warc(spark, warc_dir))
    ).cache()
    out1 = str(tmp_path / "wet1")
    stats = write_wet(extracted, out1, n_files=3).collect()
    n_success = extracted.filter("extracted_text IS NOT NULL").count()
    assert sum(s.n_records for s in stats) == n_success
    files = sorted(glob.glob(os.path.join(out1, "*.warc.wet.gz")))
    assert files and len(files) == len(stats)

    # roundtrip: reading the WET back reproduces extracted text byte-for-byte
    docs = read_warc(spark, out1).filter(
        F.col("error").isNull() & (F.col("warc_type") == "conversion")
    ).select("url", "warc_ts", F.col("payload").cast("string").alias("text"))
    back = {(r.url, r.warc_ts): r.text for r in docs.collect()}
    orig = {
        (r.url, r.warc_ts): r.extracted_text
        for r in extracted.filter("extracted_text IS NOT NULL").collect()
    }
    assert back == orig

    # determinism: a rerun writes byte-identical files
    out2 = str(tmp_path / "wet2")
    write_wet(extracted, out2, n_files=3).collect()
    for f1 in files:
        f2 = os.path.join(out2, os.path.basename(f1))
        with open(f1, "rb") as a, open(f2, "rb") as b:
            assert a.read() == b.read()
    extracted.unpersist()


def test_lf_record_with_crlf_http_payload_parses():
    # review regression: the header terminator must be the EARLIEST
    # blank line, not the first separator TYPE found — an LF-headered
    # record wrapping a standard CRLF HTTP message used to swallow the
    # HTTP headers into the WARC block and error on Content-Length.
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>x</html>"
    )
    hdr = (
        b"WARC/1.0\n"
        b"WARC-Type: response\n"
        b"WARC-Target-URI: https://ex.org/lf\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\n"
        b"Content-Type: application/http; msgtype=response\n"
        + b"Content-Length: %d\n\n" % len(http)
    )
    recs = W.parse_warc(hdr + http + b"\r\n\r\n")
    assert [r.error for r in recs] == [None]
    assert recs[0].url == "https://ex.org/lf"
    status, _ctype, body = W.split_http_payload(recs[0].payload)
    assert status == 200 and body == b"<html>x</html>"


def test_lf_http_headers_with_crlf_in_body_not_truncated():
    payload = (
        b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\n"
        b"line1\r\n\r\nline2"
    )
    status, ctype, body = W.split_http_payload(payload)
    assert (status, ctype) == (200, "text/plain")
    assert body == b"line1\r\n\r\nline2"


def test_conversion_record_null_ts_falls_back_to_epoch():
    rec = W.build_conversion_record("https://ex.org/x", None, "txt")
    assert b"WARC-Date: 1970-01-01T00:00:00Z" in rec
    # deterministic: the fallback feeds the content-addressed record id
    assert rec == W.build_conversion_record("https://ex.org/x", None, "txt")


def test_write_wet_tolerates_null_ts(spark, tmp_path):
    from gemini_ocr_batch_spark.sources.warc import write_wet

    df = spark.createDataFrame(
        [("https://ex.org/a", None, "text a"),
         ("https://ex.org/b", dt.datetime(2024, 1, 1), "text b")],
        "url string, warc_ts timestamp, extracted_text string",
    )
    stats = write_wet(df, str(tmp_path / "wet"), n_files=1).collect()
    assert sum(r["n_records"] for r in stats) == 2


def test_find_terminator_fuzz_vs_model():
    """Property pin for the earliest-terminator rule: agree with a
    direct min-index model over random CRLF/LF soup."""
    rng = random.Random(99)
    pieces = [b"\r\n", b"\n", b"\r", b"a", b"bb", b"\r\n\r\n", b"\n\n",
              b"X-H: v", b""]
    for _ in range(2000):
        buf = b"".join(rng.choice(pieces) for _ in range(rng.randint(0, 12)))
        crlf, lf = buf.find(b"\r\n\r\n"), buf.find(b"\n\n")
        cands = [(i, n) for i, n in ((crlf, 4), (lf, 2)) if i >= 0]
        want = min(cands) if cands else (-1, 0)
        assert W._find_terminator(buf) == want, buf

"""S2 URL-fetch ingestion tests (tools/fetch_to_landing.py) against a
local in-process HTTP server — no external network. Covers the reference
download_from_url contract (file_utils.py:46-101): chunked download,
Content-Length pre-abort, in-flight size abort with partial cleanup,
Content-Disposition / URL-basename / fallback naming, md5-prefixed landing
names, and error-rows-not-exceptions. The final test closes the S2 loop:
fetched files are picked up by the S1/S3 binaryfile_ingest scan."""

from __future__ import annotations

import http.server
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from tools.fetch_to_landing import fetch_one, fetch_to_landing, filename_from_headers  # noqa: E402


class _Handler(http.server.BaseHTTPRequestHandler):
    """Routes crafted per test case; body/headers by path."""

    ROUTES: dict[str, dict] = {}

    def do_GET(self):  # noqa: N802 (stdlib handler name)
        route = self.ROUTES.get(self.path)
        if route is None:
            self.send_error(404, "not found")
            return
        body = route["body"]
        self.send_response(200)
        if route.get("content_length", True):
            self.send_header("Content-Length", str(route.get("lie_length", len(body))))
        if "disposition" in route:
            self.send_header("Content-Disposition", route["disposition"])
        self.send_header("Content-Type", "application/octet-stream")
        self.end_headers()
        try:
            self.wfile.write(body)
        except BrokenPipeError:
            pass  # client aborted mid-stream (the size-abort path)

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def server():
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def test_basic_fetch_and_md5_name(server, tmp_path):
    _Handler.ROUTES["/docs/report.pdf"] = {"body": b"x" * 10_000}
    url = f"{server}/docs/report.pdf"
    row = fetch_one(url, str(tmp_path))
    assert row["error"] is None and row["n_bytes"] == 10_000
    base = os.path.basename(row["path"])
    assert base.startswith("url_download_") and base.endswith("_report.pdf")
    import hashlib

    assert hashlib.md5(url.encode()).hexdigest()[:8] in base
    assert os.path.getsize(row["path"]) == 10_000
    assert not os.path.exists(row["path"] + "._part")


def test_content_disposition_wins(server, tmp_path):
    _Handler.ROUTES["/dl?id=7"] = {
        "body": b"data",
        "disposition": 'attachment; filename="quarterly results.docx"',
    }
    row = fetch_one(f"{server}/dl?id=7", str(tmp_path))
    assert row["error"] is None
    assert row["path"].endswith("_quarterly results.docx")


def test_filename_fallbacks():
    assert filename_from_headers(None, "http://h/a/b/c.txt?x=1#frag") == "c.txt"
    assert filename_from_headers(None, "http://h/a/dir/") == "dir"
    assert filename_from_headers('inline; filename="n.pdf"', "http://h/x") == "n.pdf"


def test_content_disposition_cannot_leave_landing_dir():
    cd = 'attachment; filename="a/../b\n.pdf"'
    assert filename_from_headers(cd, "http://h/x") == "b.pdf"
    # nothing left after sanitising: fall back to the URL basename
    assert filename_from_headers('attachment; filename="dir/"', "http://h/x.txt") == "x.txt"


def test_non_http_scheme_is_error_row(tmp_path):
    row = fetch_one("file:///etc/hostname", str(tmp_path))
    assert row["path"] is None and "unsupported URL scheme 'file'" in row["error"]
    assert os.listdir(tmp_path) == []


def test_content_length_preabort(server, tmp_path):
    _Handler.ROUTES["/big.bin"] = {"body": b"y" * 100, "lie_length": 10**9}
    row = fetch_one(f"{server}/big.bin", str(tmp_path), max_bytes=1000)
    assert row["path"] is None and "exceeds maximum" in row["error"]
    assert os.listdir(tmp_path) == []  # nothing landed, no partial


def test_inflight_abort_removes_partial(server, tmp_path):
    # no Content-Length header: the pre-check can't fire, the in-flight
    # counter must — and the ._part file must be gone afterwards
    _Handler.ROUTES["/stream.bin"] = {"body": b"z" * 50_000, "content_length": False}
    row = fetch_one(f"{server}/stream.bin", str(tmp_path), max_bytes=20_000)
    assert row["path"] is None and "during download" in row["error"]
    assert os.listdir(tmp_path) == []


def test_error_rows_not_exceptions(server, tmp_path):
    _Handler.ROUTES["/ok.txt"] = {"body": b"fine"}
    rows = fetch_to_landing(
        [f"{server}/missing.txt", f"{server}/ok.txt", "http://127.0.0.1:1/refused"],
        str(tmp_path),
        timeout=2,
    )
    assert [r["error"] is None for r in rows] == [False, True, False]
    assert rows[1]["n_bytes"] == 4


def test_landing_feeds_binaryfile_ingest(server, tmp_path, spark):
    """The S2 -> S1/S3 handoff: fetched objects appear in the distributed
    ingest scan with the size/extension governance applied."""
    from docling_nlp_api_spark.sources.ingest import binaryfile_ingest

    _Handler.ROUTES["/a.pdf"] = {"body": b"%PDF-1.4 tiny"}
    _Handler.ROUTES["/b.xyz"] = {"body": b"unknown type"}
    rows = fetch_to_landing([f"{server}/a.pdf", f"{server}/b.xyz"], str(tmp_path))
    assert all(r["error"] is None for r in rows)
    df = binaryfile_ingest(spark, str(tmp_path) + "/*").orderBy("ext")
    got = {r["ext"]: r["accepted"] for r in df.collect()}
    assert got == {".pdf": True, ".xyz": False}

#!/usr/bin/env python
"""S2 URL-fetch ingestion (SURVEY.md §2.1): materialize remote objects
into a landing directory that `sources.ingest.binaryfile_ingest` (S1/S3)
then scans distributively.

Reference semantics (app/utils/file_utils.py:46-101 download_from_url +
get_filename_from_response), re-expressed as a standalone driver-side
fetcher because network I/O does not belong inside the engine: at 100 TB
the fetch tier is its own fleet writing to object storage, and the Spark
job only ever scans storage. Per-URL contract kept from the reference:

- chunked streaming download (8 KiB chunks), never buffer-whole-response;
- size guard BEFORE the body via Content-Length when the server sends
  one, and IN-FLIGHT while streaming (a lying/absent Content-Length still
  aborts at max_bytes and removes the partial file);
- http and https URLs only: any other scheme is an error row, fetched
  nothing;
- filename from the Content-Disposition header when present (its last
  path component, control characters dropped), else the URL path
  basename, else "downloaded_file";
- landing name "url_download_{md5(url)[:8]}_{filename}" — the same
  hash-prefix collision guard as the upload path (S1);
- one bad URL is an ERROR ROW in the returned manifest, never an
  exception that kills the batch (the pipeline-wide error-rows contract).

stdlib urllib only — no third-party HTTP dependency in the sandbox.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import unicodedata
import urllib.error
import urllib.parse
import urllib.request

CHUNK_BYTES = 8192
MAX_URL_FILE_BYTES = 100 * 1024 * 1024  # reference config.py:29
URL_TIMEOUT_S = 30  # reference config.py:28


def filename_from_headers(content_disposition: str | None, url: str) -> str:
    """Reference get_filename_from_response: Content-Disposition's
    filename= (quotes stripped) wins; else the URL path basename; else
    the fixed fallback. The header value is server-controlled, so only its
    last path component is kept, without control characters: a crafted
    name cannot point outside the landing dir."""
    if content_disposition and "filename=" in content_disposition:
        raw = os.path.basename(content_disposition.split("filename=")[1].strip('"'))
        name = "".join(c for c in raw if unicodedata.category(c) != "Cc")
        if name:
            return name
    path = url.split("?", 1)[0].split("#", 1)[0]
    base = path.rstrip("/").rsplit("/", 1)[-1]
    # scheme-only / host-only URLs leave the netloc here; treat a value
    # without a dot after a bare-host split the same as empty (reference
    # Path(url).name keeps the host — we keep that behavior for parity)
    return base or "downloaded_file"


def fetch_one(
    url: str,
    landing_dir: str,
    max_bytes: int = MAX_URL_FILE_BYTES,
    timeout: float = URL_TIMEOUT_S,
) -> dict:
    """Download one URL into landing_dir. Returns a manifest row:
    {"url", "path" | None, "n_bytes", "error" | None}. A size abort or
    HTTP error removes any partial file — the landing dir only ever
    holds complete objects, so a concurrent binaryfile_ingest scan can
    never pick up a torn download (write-to-._part, rename-on-complete)."""
    os.makedirs(landing_dir, exist_ok=True)
    dst = part = None
    try:
        # urlopen also serves file:// (and ftp://): without this check a
        # manifest URL could copy local files into the landing dir
        scheme = urllib.parse.urlsplit(url).scheme
        if scheme not in ("http", "https"):
            raise ValueError(f"unsupported URL scheme {scheme!r}: only http and https")
        req = urllib.request.Request(url, headers={"User-Agent": "fetch-to-landing/1"})
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            clen = resp.headers.get("Content-Length")
            if clen and int(clen) > max_bytes:
                raise ValueError(
                    f"URL file size {clen} exceeds maximum allowed size {max_bytes}"
                )
            filename = filename_from_headers(resp.headers.get("Content-Disposition"), url)
            prefix = hashlib.md5(url.encode()).hexdigest()[:8]
            dst = os.path.join(landing_dir, f"url_download_{prefix}_{filename}")
            part = dst + "._part"
            n = 0
            with open(part, "wb") as f:
                while True:
                    chunk = resp.read(CHUNK_BYTES)
                    if not chunk:
                        break
                    n += len(chunk)
                    if n > max_bytes:
                        raise ValueError(
                            "URL file size exceeds maximum allowed size during download"
                        )
                    f.write(chunk)
            os.replace(part, dst)
            return {"url": url, "path": dst, "n_bytes": n, "error": None}
    except Exception as exc:  # error ROW, never a batch-killing raise
        if part and os.path.exists(part):
            os.unlink(part)
        kind = type(exc).__name__
        msg = str(exc).splitlines()[0][:200] if str(exc) else kind
        return {"url": url, "path": None, "n_bytes": 0, "error": f"{kind}: {msg}"}


def fetch_to_landing(
    urls: list[str],
    landing_dir: str,
    max_bytes: int = MAX_URL_FILE_BYTES,
    timeout: float = URL_TIMEOUT_S,
) -> list[dict]:
    """Fetch every URL (sequentially — the sandbox tool; a production
    fetch tier fans this out across workers, each worker running exactly
    this per-URL contract) and return the manifest rows."""
    return [fetch_one(u, landing_dir, max_bytes=max_bytes, timeout=timeout) for u in urls]


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(
            "usage: fetch_to_landing.py <landing_dir> <url> [url ...]\n"
            "prints one JSON manifest row per URL; exit 1 if any row errored",
            file=sys.stderr,
        )
        return 2
    rows = fetch_to_landing(argv[2:], argv[1])
    for row in rows:
        print(json.dumps(row))
    return 1 if any(r["error"] for r in rows) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))

"""Acquisition retry-fetch source (reference make_request_with_retries,
scrapingHelpers.py:118-164): bounded retries, failure tagging, one output
row per input row — exercised over file:// URLs and a localhost HTTP
server (urllib serves both through the same code path as https://)."""

from __future__ import annotations

import errno
import http.server
import os
import threading
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_source_legislation_spark import queries
from open_source_legislation_spark.sources import fetch


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


@pytest.fixture
def http_server():
    """A localhost HTTP server: path ``/<code>/<n>/<body>`` answers HTTP
    ``code`` to its first ``n`` requests and 200 with ``body`` after.
    Yields the base URL and the request count per path."""
    hits = Counter()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits[self.path] += 1
            _, code, n, body = self.path.split("/")
            if hits[self.path] <= int(n):
                self.send_error(int(code))
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body.encode())

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}", hits
    srv.shutdown()
    srv.server_close()


def test_fetch_ok_and_failed_tagged(spark, tmp_path, http_server):
    p1 = tmp_path / "a.html"
    p1.write_text("<html><body>doc A</body></html>")
    p2 = tmp_path / "b.html"
    p2.write_text("<html><body>doc B</body></html>")
    missing = tmp_path / "nope.html"
    base, hits = http_server
    gone = {code: f"{base}/{code}/9/x" for code in (403, 404)}
    urls = [p1.as_uri(), missing.as_uri(), p2.as_uri(), *gone.values()]
    out = {
        r.url: r
        for r in fetch.fetch_with_retry(
            _urls_df(spark, urls), max_retries=2, backoff_s=0.001
        ).collect()
    }
    assert len(out) == 5  # one row per input, misses included
    assert out[p1.as_uri()].status == "ok"
    assert "doc A" in out[p1.as_uri()].content
    assert out[p1.as_uri()].attempts == 1
    bad = out[missing.as_uri()]
    assert bad.status == "failed"
    assert bad.content is None
    assert bad.attempts == 1  # a missing file is permanent: no retry
    assert "No such file" in bad.error
    # so is an HTTP 4xx other than 408 and 429
    for url in gone.values():
        got = (out[url].status, out[url].attempts, hits[url[len(base) :]])
        assert got == ("failed", 1, 1)


def test_fetch_over_max_bytes_is_tagged_truncated(spark, tmp_path):
    """A body longer than ``max_bytes`` keeps its first ``max_bytes`` and
    is tagged ``truncated``, never reported ``ok``; a body of exactly
    ``max_bytes`` is whole."""
    long_doc = tmp_path / "long.html"
    long_doc.write_text("0123456789")
    exact = tmp_path / "exact.html"
    exact.write_text("01234")
    out = {
        r.url: r
        for r in fetch.fetch_with_retry(
            _urls_df(spark, [long_doc.as_uri(), exact.as_uri()]), max_bytes=5
        ).collect()
    }
    cut = out[long_doc.as_uri()]
    assert (cut.status, cut.content, cut.error) == ("truncated", "01234", None)
    whole = out[exact.as_uri()]
    assert (whole.status, whole.content) == ("ok", "01234")


def test_fetch_retry_succeeds_after_transient_failure(spark, http_server):
    """A server that answers an error twice, then the page: the retry loop
    must pick it up (the reference's whole reason for backoff) for a 5xx and
    for the two retryable 4xx, 408 (request timeout) and 429 (too many
    requests)."""
    base, hits = http_server
    urls = [f"{base}/{code}/2/late-but-fine" for code in (408, 429, 500, 503)]
    out = fetch.fetch_with_retry(
        _urls_df(spark, urls), max_retries=3, backoff_s=0.001
    ).collect()
    assert sorted((r.url, r.status, r.attempts, r.content) for r in out) == [
        (url, "ok", 3, "late-but-fine") for url in urls
    ]
    assert [hits[url[len(base) :]] for url in urls] == [3, 3, 3, 3]


def test_fetch_feeds_the_parse_layer(spark, tmp_path):
    """Acquisition output plugs straight into the cached-HTML parse path:
    fetched content is a text column the xpath/regexp TOC parser consumes."""
    p = tmp_path / "toc.html"
    p.write_text("<html><ul><li>title=1 Alpha</li><li>title=2 Beta</li></ul></html>")
    fetched = fetch.fetch_with_retry(_urls_df(spark, [p.as_uri()]))
    items = fetched.filter(F.col("status") == "ok").select(
        F.explode(
            F.expr("xpath(content, '//li/text()')")
        ).alias("item")
    )
    got = sorted(r.item for r in items.collect())
    assert got == ["title=1 Alpha", "title=2 Beta"]
    assert os.path.exists(p)


def test_fixture_publish_raises_unless_a_rival_published(tmp_path, monkeypatch):
    """``ensure_fetch_fixture`` publishes by ``os.rename``: a failed rename
    is a lost race only when a rival's complete fixture sits at the
    destination; any other failure (here EXDEV) must raise, not return a
    directory that does not exist."""
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"doc_id": [1, 2, 4], "text": ["one", "two", "four"]}),
        str(sf / "documents.parquet"),
    )
    dest = tmp_path / "fixture"
    monkeypatch.setattr(queries, "_fetch_fixture_dir", lambda sf_dir, digest: str(dest))

    def cross_device(src, dst):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(os, "rename", cross_device)
    with pytest.raises(OSError):
        queries.ensure_fetch_fixture(str(sf))
    assert not dest.exists()
    assert list(tmp_path.glob("fixture.build-*")) == []  # temp build discarded

    def rival_wins(src, dst):
        os.makedirs(dst)
        open(os.path.join(dst, "_SUCCESS"), "w").close()
        raise OSError(errno.ENOTEMPTY, "Directory not empty")

    monkeypatch.setattr(os, "rename", rival_wins)
    assert queries.ensure_fetch_fixture(str(sf)) == str(dest)
    assert list(tmp_path.glob("fixture.build-*")) == []

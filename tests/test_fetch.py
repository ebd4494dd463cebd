"""Acquisition retry-fetch source (reference make_request_with_retries,
scrapingHelpers.py:118-164): bounded retries, failure tagging, one output
row per input row — exercised over file:// URLs (no network in sandbox;
urllib serves file:// through the same code path as https://)."""

from __future__ import annotations

import errno
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_source_legislation_spark import queries
from open_source_legislation_spark.sources import fetch


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_fetch_ok_and_failed_tagged(spark, tmp_path):
    p1 = tmp_path / "a.html"
    p1.write_text("<html><body>doc A</body></html>")
    p2 = tmp_path / "b.html"
    p2.write_text("<html><body>doc B</body></html>")
    missing = tmp_path / "nope.html"
    urls = [p1.as_uri(), missing.as_uri(), p2.as_uri()]
    out = {
        r.url: r
        for r in fetch.fetch_with_retry(
            _urls_df(spark, urls), max_retries=2, backoff_s=0.001
        ).collect()
    }
    assert len(out) == 3  # one row per input, misses included
    assert out[p1.as_uri()].status == "ok"
    assert "doc A" in out[p1.as_uri()].content
    assert out[p1.as_uri()].attempts == 1
    bad = out[missing.as_uri()]
    assert bad.status == "failed"
    assert bad.content is None
    assert bad.attempts == 3  # 1 try + 2 retries, then tagged
    assert "Error" in bad.error or "error" in bad.error


def test_fetch_retry_succeeds_after_transient_failure(spark, tmp_path):
    """A file that appears between attempts: the retry loop must pick it up
    (the reference's whole reason for backoff)."""
    import threading
    import time

    target = tmp_path / "late.html"

    def create_late():
        time.sleep(0.3)
        target.write_text("<html>late but fine</html>")

    t = threading.Thread(target=create_late)
    t.start()
    out = fetch.fetch_with_retry(
        _urls_df(spark, [target.as_uri()]), max_retries=10, backoff_s=0.05
    ).collect()[0]
    t.join()
    # NOT asserting attempts > 1: on a loaded host Spark's job startup can
    # exceed the creation delay, making the first attempt succeed — the
    # bounded-attempt accounting is pinned deterministically by
    # test_fetch_ok_and_failed_tagged instead
    assert out.status == "ok"
    assert out.attempts >= 1
    assert "late but fine" in out.content


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

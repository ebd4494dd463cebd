"""Acquisition source: parallel fetch with bounded retry + failure tagging.

The reference acquires every document with
``make_request_with_retries`` (scrapingHelpers.py:118-164): exponential
backoff, a bounded attempt budget, and on final failure it TAGS the row
and moves on instead of looping forever (3_process.py:51-56 applies the
same tag-don't-retry policy). The Spark-native re-expression:

- the work list is a DataFrame of references (one row per URL) — the
  same shape the engine's checkpoint runner resumes over;
- fetching runs inside ``mapInPandas``, so parallelism is executors ×
  partitions, not a driver-side thread pool, and a 10^9-URL crawl is just
  a bigger work-list table;
- the output keeps ONE row per input row: ``status='ok'`` with content,
  ``status='truncated'`` with the first ``max_bytes`` of a longer body,
  or ``status='failed'`` with the error string and the attempt count —
  misses and cut bodies become metrics, never silent drops; a failure no
  retry can mend (an HTTP 4xx other than 408 and 429, a missing
  ``file://`` file) is tagged at once, after one attempt;
- deterministic: given the same URL set and filesystem state, the output
  is identical (ordering is carried by the input row, not arrival time).

The sandbox has no network; tests exercise the full retry/tag machinery
over ``file://`` URLs, which ``urllib`` serves through the identical code
path as ``https://`` on a real deployment. Politeness knobs (per-host
rate limits, robots) belong to the crawler configuration layer above this
operator and are out of scope here, as in the reference.
"""

from __future__ import annotations

import urllib.error

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FETCH_RESULT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _permanent(e: Exception) -> bool:
    """True for a failure that no retry can mend: an HTTP 4xx other than
    408 (request timeout) and 429 (too many requests), or a ``file://``
    URL whose file is missing."""
    if isinstance(e, urllib.error.HTTPError):
        return 400 <= e.code < 500 and e.code not in (408, 429)
    return isinstance(e, urllib.error.URLError) and isinstance(
        e.reason, FileNotFoundError
    )


def fetch_with_retry(
    refs: DataFrame,
    url_col: str = "url",
    max_retries: int = 3,
    backoff_s: float = 0.01,
    timeout_s: float = 10.0,
    max_bytes: int = 16 * 1024 * 1024,
) -> DataFrame:
    """Fetch every URL in ``refs[url_col]``; never raises on a bad URL.

    ``max_retries`` counts retries AFTER the first attempt (the reference's
    ``retries=3`` budget); backoff doubles per retry. A permanent failure
    (:func:`_permanent`) is not retried: it is tagged ``failed`` with
    ``attempts = 1``. Content is decoded UTF-8 (errors replaced) and capped
    at ``max_bytes``; a longer body keeps its first ``max_bytes`` and is
    tagged ``status='truncated'``.
    """

    def gen(batches):
        import time
        import urllib.request

        import pandas as pd

        for pdf in batches:
            rows = []
            for url in pdf[url_col]:
                attempts = 0
                status = "failed"
                content = None
                error = None
                while True:
                    attempts += 1
                    try:
                        with urllib.request.urlopen(url, timeout=timeout_s) as r:
                            body = r.read(max_bytes + 1)
                        content = body[:max_bytes].decode("utf-8", "replace")
                        status = "truncated" if len(body) > max_bytes else "ok"
                        error = None
                        break
                    except Exception as e:  # noqa: BLE001 — tag, don't crash
                        error = f"{type(e).__name__}: {e}"
                        if attempts > max_retries or _permanent(e):
                            break
                        time.sleep(backoff_s * (2 ** (attempts - 1)))
                rows.append(
                    {
                        "url": url,
                        "status": status,
                        "attempts": attempts,
                        "content": content,
                        "error": error,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FETCH_RESULT.fields])

    return refs.select(url_col).mapInPandas(gen, schema=FETCH_RESULT)

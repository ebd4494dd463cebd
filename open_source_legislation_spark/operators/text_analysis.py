"""Text analysis for training-data pipelines over the `documents` table.

Language-ID (stopword-ratio heuristic), quality scoring, token counting,
and document fingerprinting — all expressed as native Spark SQL expressions
(whole-stage-codegen'd; zero Python in the scan path) with exact SQL-oracle
parity via rounded doubles and md5 fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EN_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]


def _tokens(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


# portable hash: same value in DuckDB via CAST('0x'||substr(md5(s),1,8) AS BIGINT)
def _h64(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _ngrams(w, n: int):
    """Token n-gram array over a token-array column — the ONE Spark-side
    construction shared by ``dedup.shingles`` and ``repetition_scores``
    (their DuckDB oracle mirrors must all match this exact shape: for
    fewer than n tokens it emits one truncated gram, never zero)."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens) — whitespace tokenization
    (reference tiktoken counting analog, utilityFunctions.py:625-629, with
    a deterministic tokenizer)."""
    toks = _tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts_bpe(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens) — BPE-ish regex tokenization
    (letter runs | digit runs | single punctuation, the GPT-2 pre-tokenizer
    shape): closer to real LLM token counts than whitespace splitting
    (reference tiktoken counting, utilityFunctions.py:625-629)."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, stopword_ratio, ttr, quality) — length/stopword/diversity
    quality heuristic; score = weighted blend truncated to 3 decimals.

    The blend is FLOOR-truncated, not rounded: its rational components
    (0.5·k/800 + 0.3·m/n + 0.2·s/n) frequently land on exact .xxx5
    boundaries where Spark's HALF_UP and DuckDB's rint-style rounding
    disagree (observed at sf0.1); floor over the bit-identical double is
    engine-stable (same trick as enrich.hash_embed_expr)."""
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(_EN_STOPWORDS)))
    ttr = F.size(F.array_distinct(toks)) / n
    stop_ratio = stop / n
    length_score = F.least(F.col("n_chars") / F.lit(400.0), F.lit(1.0))
    blend = 0.5 * length_score + 0.3 * ttr + 0.2 * stop_ratio
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 3).alias("stopword_ratio"),
        F.round(ttr, 3).alias("ttr"),
        (F.floor(blend * 1000) / 1000).alias("quality"),
    )


def language_id(docs: DataFrame, threshold: float = 0.04) -> DataFrame:
    """(doc_id, predicted_lang) — n-gram-free stopword heuristic: predict
    'en' when the English stopword ratio clears the threshold, else 'und'."""
    toks = _tokens(F.col("text"))
    ratio = F.size(F.filter(toks, lambda t: t.isin(_EN_STOPWORDS))) / F.size(toks)
    return docs.select(
        "doc_id",
        F.when(ratio >= threshold, "en").otherwise("und").alias("predicted_lang"),
    )


def vocab_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """(token, df) — the k tokens with highest DOCUMENT frequency (count of
    documents containing the token, not raw occurrences), tie-broken by
    token text so the top-k set is a total order on (df desc, token asc)
    and identical on every engine.

    Scale shape: array_distinct runs per row pre-shuffle, the explode stays
    JVM-side, the groupBy count partial-aggregates map-side (token cardinality
    ≪ corpus), and the limit compiles to TakeOrderedAndProject — no global
    sort materializes."""
    toks = F.array_distinct(_tokens(F.col("text")))
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(k)
    )


def repetition_scores(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, rep_permille) — occurrences of the document's most frequent
    token n-gram over its total n-gram occurrences, as floor permille (the
    Gopher-style repetition/boilerplate signal: near-1000 means the text is
    one phrase repeated).

    Float-free output: max/total are exact integers; their double quotient
    is correctly rounded identically on every engine, and floor of it never
    sits on a representability boundary unless the quotient is exact —
    where both engines hold the same exact double."""
    grams = _ngrams(F.col("w"), n)
    per_gram = (
        docs.select("doc_id", _tokens(F.col("text")).alias("w"))
        .select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.floor(F.max("c") * 1000.0 / F.sum("c"))
        .cast("bigint")
        .alias("rep_permille")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, redacted, n_redacted) — e-mail addresses replaced with
    ``[EMAIL]`` plus a per-row match count; one codegen'd regexp pass, the
    shape every pretraining pipeline runs before publishing text."""
    return docs.select(
        "doc_id",
        F.regexp_replace(F.col(text_col), _EMAIL_RE, "[EMAIL]").alias("redacted"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(_EMAIL_RE), 0))
        .cast("int")
        .alias("n_redacted"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — 16-hex-char fingerprint of whitespace-normalized text
    (reference content-identity analog of node_id determinism)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.substring(F.md5(norm), 1, 16).alias("fp"))


def c4_line_clean(
    docs: DataFrame, line_sep: str = "\n", min_words: int = 3
) -> DataFrame:
    """C4-style line-level cleaning (the public C4 heuristics: keep lines
    that end in terminal punctuation and have enough words, drop lines
    mentioning javascript, flag documents with boilerplate markers) —
    pure codegen expressions, zero Python.

    Output: ``doc_id, clean_text (kept lines re-joined), n_lines_kept,
    n_lines_total, doc_flagged`` (lorem-ipsum / curly-brace documents are
    flagged, not silently dropped — the caller decides).
    """
    # F.split takes a Java REGEX while concat_ws re-joins with the literal
    # string — quote the separator (\Q..\E) so a metacharacter separator
    # ('|', '.') splits on the literal text, matching the re-join
    lines = F.split(F.col("text"), "\\Q" + line_sep + "\\E")
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(r"""[.!?"']\s*$""")
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words)
        & ~F.lower(ln).contains("javascript"),
    )
    low = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.concat_ws(line_sep, kept).alias("clean_text"),
        F.size(kept).alias("n_lines_kept"),
        F.size(lines).alias("n_lines_total"),
        (low.contains("lorem ipsum") | low.contains("{")).alias("doc_flagged"),
    )


def tfidf_score_int(
    docs: DataFrame, query_tokens: list[str], scale: int = 1_000_000
) -> DataFrame:
    """Integer-exact TF-IDF relevance of every document against a fixed
    query token set (the training-data-pipeline "relevance filter" shape:
    score a corpus against a topic vocabulary, keep the top slice).

    ``score(doc) = Σ_{t ∈ query} tf(doc, t) · (scale div df(t))`` —
    idf ∝ 1/df in fixed-point: the corpus-size constant N in the
    classical N/df numerator cancels for ranking, and dropping it keeps
    every intermediate far inside int64 (weight ≤ scale, score ≤
    |doc| · scale) while making the arithmetic bit-identical across
    engines — no log(), no floats, no rounding ties.

    Scale shape: ONE explode+filter pass over the text (the token filter
    prunes to query tokens before any shuffle), one (doc_id, tok) partial
    aggregate, a broadcast join of the ≤|query|-row df table, one final
    doc_id aggregate. Docs containing no query token score 0 (left join
    back to the corpus), so the output is total over ``docs``.

    Output: ``(doc_id, score: bigint)``.
    """
    toks = docs.select(
        "doc_id",
        F.explode(_tokens(F.col("text"))).alias("tok"),
    ).filter(F.col("tok").isin([t.lower() for t in query_tokens]))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("_tf"))
    dfc = tf.groupBy("tok").agg(F.count("*").alias("_df"))
    w = dfc.select("tok", F.expr(f"({scale}L) div _df").alias("_w"))
    scored = (
        tf.join(F.broadcast(w), "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("_tf") * F.col("_w")).alias("score"))
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("score"), F.lit(0).cast("long")).alias("score"))
    )


def boilerplate_strip(
    docs: DataFrame, min_docs: int = 2, line_sep: str = "\n"
) -> DataFrame:
    """Cross-document boilerplate removal — the RefinedWeb/CCNet "line-wise
    dedup" step: a non-blank line occurring in ≥ ``min_docs`` DISTINCT
    documents (nav bars, cookie banners, shared footers) is boilerplate
    and is stripped from every document; blank lines and document-unique
    lines survive in order.

    Scale shape: the exploded line stream is evaluated exactly twice —
    once into the (line → n_distinct_docs) boilerplate aggregate
    (partial-aggregated map-side) and once into the tagged stream. Both
    the aggregate's exchange and the join back are keyed on the raw
    ``line`` string, so a long line is shuffled and hashed at full length.
    The kept/removed outputs come from ONE
    conditional aggregate over the tagged stream (``collect_list`` skips
    the NULL-ed boilerplate entries), not per-branch re-explodes. The
    boilerplate set joins back with a PLAIN hash join, not a broadcast —
    it is corpus-dependent and can be huge. Reassembly is an
    ``array_sort`` of (line_idx, line) structs per doc — no window, no
    reliance on ``collect_list`` ordering.

    Output: ``(doc_id, clean_text, n_lines_kept, n_lines_removed)`` —
    one row per input document (fully-boilerplate docs come back with
    empty text, never dropped).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\\Q" + line_sep + "\\E")).alias(
            "line_idx", "line"
        ),
    )
    boiler = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_docs)
        .select("line", F.lit(True).alias("_boiler"))
    )
    agg = (
        lines.join(boiler, "line", "left")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_boiler").isNull(),
                        F.struct("line_idx", "line"),
                    )
                )
            ).alias("_ls"),
            F.sum(
                F.when(F.col("_boiler").isNotNull(), 1).otherwise(0)
            ).alias("n_lines_removed"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(
                line_sep, F.transform("_ls", lambda s: s["line"])
            ).alias("clean_text"),
            F.coalesce(F.size("_ls"), F.lit(0)).cast("int").alias("n_lines_kept"),
            F.coalesce("n_lines_removed", F.lit(0))
            .cast("int")
            .alias("n_lines_removed"),
        )
    )

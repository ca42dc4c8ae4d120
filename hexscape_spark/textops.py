"""Text-analysis operators for the web-page payload (training-data pipeline).

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen) — no Python UDFs.  Each operator keeps the `text`
column untouched (byte-identity invariant, BASELINE.json input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Tiny per-language stopword markers for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "de"],
}


def with_token_count(df: DataFrame, text: str = "text",
                     out: str = "n_tokens") -> DataFrame:
    """Whitespace token count (single-space-separated corpus)."""
    t = F.col(text)
    n = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1)
    return df.withColumn(out, n.cast("long"))


# GPT-2-style pretokenizer WITHOUT lookahead (RE2-compatible, so the
# DuckDB oracle evaluates the identical pattern): contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
BPE_TOKEN_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)"
    "| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9']+|\\s+")


def with_bpe_token_count(df: DataFrame, text: str = "text",
                         out: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish subword-boundary token count: the number of pretokenizer
    matches (the unit BPE merges start from).  Pure JVM regex — one
    regexp_extract_all + size per row."""
    return df.withColumn(out, F.size(F.regexp_extract_all(
        F.col(text), F.lit(BPE_TOKEN_PATTERN), F.lit(0))).cast("long"))


def with_quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Length/word-length quality heuristics; columns n_chars_q, n_tokens,
    avg_token_len, quality."""
    df = with_token_count(df, text)
    t = F.col(text)
    df = df.withColumn("n_chars_q", F.length(t).cast("long"))
    df = df.withColumn(
        "avg_token_len",
        F.when(F.col("n_tokens") > 0,
               (F.col("n_chars_q") - (F.col("n_tokens") - 1)) / F.col("n_tokens"))
        .otherwise(F.lit(0.0)))
    df = df.withColumn(
        "quality",
        F.when((F.col("n_tokens") >= 5) & (F.col("avg_token_len") >= 2.0) &
               (F.col("avg_token_len") <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0)))
    return df


def with_lang_guess(df: DataFrame, text: str = "text",
                    out: str = "lang_guess") -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic, first match wins)."""
    t = F.concat(F.lit(" "), F.col(text), F.lit(" "))
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        hits = sum((F.when(t.contains(f" {m} "), 1).otherwise(0)
                    for m in LANG_MARKERS[lang]), F.lit(0))
        expr = F.when(hits >= 1, F.lit(lang)).otherwise(expr)
    return df.withColumn(out, expr)


def with_repetition_signals(df: DataFrame, text: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    all pure JVM expressions — no Python in the hot path:

      * dup_line_frac     — fraction of lines that repeat an earlier line
      * dup_line_char_frac— fraction of characters inside repeated lines
      * top_word_frac     — share of tokens taken by the most common word
      * dup_2gram_frac    — fraction of word 2-gram occurrences that are
                            repeats of an earlier identical 2-gram

    Production pipelines drop documents past thresholds on these (e.g.
    dup_line_frac > 0.30, top_word_frac > 0.20); with_quality_filter
    applies the standard cut.  Everything is arrays + higher-order
    functions over one split — map-only, no shuffle.  top_word_frac is
    O(distinct_words x words) per row (fine for document-sized rows; a
    corpus of degenerate multi-MB rows would instead explode+groupBy —
    one shuffle — which the map-only form deliberately avoids).
    """
    t = F.col(text)
    # blank/whitespace-only lines are FORMATTING (paragraph separators),
    # not repeated content — a 10-paragraph document would otherwise score
    # dup_line_frac ~0.47 from its separators alone (r4 review)
    lines = F.expr(
        f"filter(split({text}, '\\n'), l -> length(trim(l)) > 0)")
    words = F.expr(
        f"filter(split(lower({text}), '[^\\\\p{{L}}\\\\p{{N}}]+'), "
        "w -> w != '')")
    df = df.withColumn("__lines", lines).withColumn("__words", words)
    nl = F.greatest(F.size("__lines"), F.lit(1))
    df = df.withColumn(
        "dup_line_frac",
        (F.size("__lines") - F.size(F.array_distinct("__lines"))) / nl)
    # characters inside lines that are duplicates of an earlier line:
    # total chars of all lines minus chars of the distinct set
    tot_chars = F.expr(
        "aggregate(__lines, 0L, (a, l) -> a + length(l))")
    dist_chars = F.expr(
        "aggregate(array_distinct(__lines), 0L, (a, l) -> a + length(l))")
    df = df.withColumn(
        "dup_line_char_frac",
        (tot_chars - dist_chars) / F.greatest(tot_chars, F.lit(1)))
    nw = F.greatest(F.size("__words"), F.lit(1))
    # most-common-word share: max over distinct words of its count
    top = F.expr(
        "aggregate(transform(array_distinct(__words), "
        " w -> size(filter(__words, x -> x = w))), 0, (a, c) -> "
        " greatest(a, c))")
    df = df.withColumn("top_word_frac", top / nw)
    # word 2-grams: zip consecutive words
    grams = F.expr(
        "transform(slice(__words, 1, greatest(size(__words) - 1, 0)), "
        "(w, i) -> concat(w, ' ', element_at(__words, i + 2)))")
    df = df.withColumn("__grams", grams)
    ng = F.greatest(F.size("__grams"), F.lit(1))
    df = df.withColumn(
        "dup_2gram_frac",
        (F.size("__grams") - F.size(F.array_distinct("__grams"))) / ng)
    return df.drop("__lines", "__words", "__grams")


def with_quality_filter(df: DataFrame, text: str = "text") -> DataFrame:
    """The standard Gopher repetition cut: keep documents whose duplicate
    line fraction is at most 0.30 and whose top-word and duplicate-2gram
    fractions are at most 0.20.  Signal columns are retained for
    auditing."""
    df = with_repetition_signals(df, text)
    return df.where(
        (F.col("dup_line_frac") <= 0.30) &
        (F.col("top_word_frac") <= 0.20) &
        (F.col("dup_2gram_frac") <= 0.20))


_HTML_SKIP = {"script", "style", "noscript", "template"}
_HTML_BLOCK = {"p", "div", "br", "li", "tr", "h1", "h2", "h3", "h4", "h5",
               "h6", "table", "ul", "ol", "section", "article", "header",
               "footer", "blockquote", "pre"}


def _make_html_parser():
    # class object built once at module import, not per document (r4
    # review): _html_to_text runs per row on the extraction hot path
    from html.parser import HTMLParser

    class _X(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.parts: list[str] = []
            self.depth = 0

        def handle_starttag(self, tag, attrs):
            if tag in _HTML_SKIP:
                self.depth += 1
            elif tag in _HTML_BLOCK:
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in _HTML_SKIP and self.depth:
                self.depth -= 1
            elif tag in _HTML_BLOCK:
                self.parts.append("\n")

        def handle_data(self, data):
            if not self.depth and data.strip():
                self.parts.append(" ".join(data.split()))

    return _X


_HTML_PARSER_CLS = _make_html_parser()


def _html_to_text(html: str) -> str:
    """Visible-text extraction from HTML via the stdlib parser: drops
    script/style/noscript/template subtrees and tags, collapses
    whitespace within text runs, emits block boundaries as newlines."""
    p = _HTML_PARSER_CLS()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass                                     # salvage what parsed
    out: list[str] = []
    for part in p.parts:
        if part == "\n":
            if out and out[-1] != "\n":
                out.append("\n")
        else:
            if out and out[-1] != "\n":
                out.append(" ")
            out.append(part)
    return "".join(out).strip()


def with_html_text(df: DataFrame, html: str = "html",
                   out: str = "text") -> DataFrame:
    """HTML -> visible text as an Arrow-batched pandas UDF — the
    extraction stage between WARC ingest (warc.read_warc payloads) and
    the text operators (language ID, quality, dedup).  Parsing is
    per-row stdlib html.parser: no JVM round-trip of the DOM, no
    regex-over-HTML fragility, malformed markup degrades to whatever
    parsed.  Accepts STRING or BINARY input — bytes decode as UTF-8 with
    replacement (real crawl payloads carry arbitrary encodings; a strict
    JVM decode would fail the whole task on one mojibake page)."""
    @F.pandas_udf("string")
    def ext(h: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return ""
            if isinstance(x, (bytes, bytearray)):
                x = bytes(x).decode("utf-8", "replace")
            return _html_to_text(x)
        return h.map(one)

    return df.withColumn(out, ext(F.col(html)))

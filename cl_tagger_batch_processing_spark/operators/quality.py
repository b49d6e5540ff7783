"""The shared per-document rules — ONE definition each, so the copies in
the text, dedup and curation operators cannot drift:

* ``tokens``: what a token is (a split on single spaces);
* ``token_counts``: the (keys, token) occurrence-count relation;
* ``quality_components``: the canonical document quality score
  (text_quality_score, text_quality_calibration, the dedup keep-best
  policies): 0.5·stopword_ratio + 0.25·uniq_ratio +
  0.25·(min(avg_token_len, 8)/8), all exact-int ratios divided once in
  double.

A leaf module (imports nothing from operators/*) so text.py, dedup.py and
curation.py can all depend on it without a cycle. It loads no table:
every ``load_table`` call stays in the operator that makes it."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["a", "the", "of", "and", "in", "to"]


def tokens(text_col: Column | str) -> Column:
    """The whitespace token array of a text column: a split on single
    spaces. Character splits (``split(text, "")``) are a different
    tokenizer and do not go through here."""
    return F.split(text_col, " ")


def token_counts(docs: DataFrame, *keys: str, alias: str) -> DataFrame:
    """(*keys, token, <alias>): occurrences of each token of ``docs.text``
    per key tuple — one explode and one map-side-combined groupBy."""
    return (
        docs.select(*keys, F.explode(tokens("text")).alias("token"))
        .groupBy(*keys, "token")
        .agg(F.count(F.lit(1)).alias(alias))
    )


def quality_components(text_col: Column, toks_col: Column) -> dict[str, Column]:
    """stop_ratio / uniq_ratio / avg_len / score Columns from a text column
    and its whitespace-token array (pass the array as its OWN attribute —
    HOF lambdas get no CSE; see text.text_repetition)."""
    n_tokens = F.size(toks_col)
    stop_ratio = (
        F.size(F.filter(toks_col, lambda t: t.isin(STOPWORDS))).cast("double")
        / n_tokens
    )
    uniq_ratio = F.size(F.array_distinct(toks_col)).cast("double") / n_tokens
    avg_len = (
        F.length(F.replace(text_col, F.lit(" "), F.lit(""))).cast("double") / n_tokens
    )
    score = (
        F.lit(0.5) * stop_ratio
        + F.lit(0.25) * uniq_ratio
        + F.lit(0.25) * (F.least(avg_len, F.lit(8.0)) / F.lit(8.0))
    )
    return {
        "stop_ratio": stop_ratio,
        "uniq_ratio": uniq_ratio,
        "avg_len": avg_len,
        "score": score,
    }

"""Gopher-style rule-based document quality signals and filtering.

The heuristics follow the published Gopher/MassiveText and C4 cleaning
rules (word-count bounds, mean word length, alphabetic-word fraction,
stopword presence, repetition ratios). Every signal is a pure column
expression over the per-row token array — whole-stage codegen, zero
Python, zero shuffle: at 100 TB this runs at scan speed with column
pruning down to (doc_id, text), exactly like the rest of
:mod:`datapump_spark.operators.text`.

Extends the reference (no text analysis exists there, SURVEY §2.9) per the
build plan's training-data-pipeline surface. Thresholds are parameters;
the defaults are calibrated to the synthetic ``documents`` table so the
filter demonstrably separates classes (the point is the pipeline shape,
not the constants).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapump_spark.functions.hashing import tokens
from datapump_spark.functions.sqltext import sql_ident
from datapump_spark.operators.text import STOPWORDS

# the working columns the signal expressions read
_SCRATCH = ("__t", "__low", "__n")


def _signal_frame(df: DataFrame,
                  text_col: str) -> tuple[DataFrame, dict[str, Column]]:
    """``df`` plus the working columns, and the six signals as
    expressions over them (see :func:`gopher_signals`)."""
    # Scalar signals as native regexes over the lowered text, not
    # higher-order functions over the token array: HOF lambdas are
    # interpreted per element (measured 3-4x slower); regexp_count /
    # regexp_replace run one codegen'd JVM pass per row. Tokens are
    # exactly the [a-z0-9]+ runs of lower(text), so these are
    # value-identical to the array formulations (oracle-pinned).
    text = F.col(sql_ident(text_col))
    d = (df.withColumn("__t", tokens(text))
         .withColumn("__low", F.lower(text))
         .withColumn("__n", F.regexp_count("__low", F.lit("[a-z0-9]+"))))
    n = F.col("__n")
    nz = F.greatest(n, F.lit(1))

    mean_len = (F.length(F.regexp_replace("__low", "[^a-z0-9]", ""))
                .cast("bigint") / nz)
    digit_tokens = F.regexp_count(
        "__low", F.lit("(?<![a-z0-9])[0-9]+(?![a-z0-9])"))
    alpha_frac = (n - digit_tokens) / nz
    stop_re = "(?<![a-z0-9])(?:" + "|".join(STOPWORDS) + ")(?![a-z0-9])"
    stop_hits = F.regexp_count("__low", F.lit(stop_re))
    dup_word = F.lit(1.0) - F.size(F.array_distinct("__t")) / nz
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(F.element_at("__t", i), F.lit(" "),
                               F.element_at("__t", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_2gram = F.when(
        n >= 2,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / (n - 1),
    ).otherwise(F.lit(0.0))

    return d, {
        "n_words": n.cast("bigint"),
        "mean_word_len": F.round(mean_len, 6),
        "frac_alpha_words": F.round(alpha_frac, 6),
        "stop_hits": stop_hits.cast("bigint"),
        "dup_word_frac": F.round(dup_word, 6),
        "dup_2gram_frac": F.round(dup_2gram, 6),
    }


def gopher_signals(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document repetition / naturalness signals:

    - ``n_words``        — alphanumeric token count
    - ``mean_word_len``  — mean token length (0.0 when empty)
    - ``frac_alpha_words`` — fraction of tokens containing a letter
    - ``stop_hits``      — stopword occurrences (natural-language-ness)
    - ``dup_word_frac``  — 1 − distinct/total tokens (word repetition)
    - ``dup_2gram_frac`` — 1 − distinct/total word 2-grams
    """
    d, sig = _signal_frame(df, text_col)
    return d.select(F.col(sql_ident(id_col)),
                    *(c.alias(name) for name, c in sig.items()))


def gopher_verdict(
    sig: Mapping[str, Column],
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_word_frac: float = 0.95,
    max_dup_2gram_frac: float = 0.75,
) -> Column:
    """The ``keep`` verdict over the signals named as in
    :func:`gopher_signals` — every rule must pass.

    Matches the Gopher paper's shape (bounds on length, word length,
    symbol-to-word ratio, stopword presence; repetition caps). It reads
    only the text, so it can be taken on any row that carries it.
    """
    return (
        sig["n_words"].between(min_words, max_words)
        & sig["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (sig["frac_alpha_words"] >= min_alpha_frac)
        & (sig["stop_hits"] >= min_stop_hits)
        & (sig["dup_word_frac"] <= max_dup_word_frac)
        & (sig["dup_2gram_frac"] <= max_dup_2gram_frac)
    )


def gopher_filter(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", **thresholds) -> DataFrame:
    """Signals plus a ``keep`` verdict (:func:`gopher_verdict`, whose
    keyword arguments are the thresholds).

    Documents are never dropped here — ``keep`` is a column so downstream
    can route rejects to a quarantine corpus, mirroring the pipeline's
    archive/problems split. A caller that only needs the verdict on its
    own rows takes :func:`with_gopher_keep` instead: no id join back.
    """
    sig = gopher_signals(df, id_col, text_col)
    return sig.withColumn("keep", gopher_verdict(
        {c: F.col(c) for c in sig.columns[1:]}, **thresholds))


def with_gopher_keep(df: DataFrame, text_col: str = "text",
                     keep_col: str = "keep", **thresholds) -> DataFrame:
    """``df`` with the :func:`gopher_verdict` of each row as one more
    boolean column, every row and column kept. One projection: the regex
    work runs wherever ``df``'s rows are, e.g. in a scan's splits."""
    d, sig = _signal_frame(df, text_col)
    return d.withColumn(keep_col, gopher_verdict(sig, **thresholds)) \
        .drop(*_SCRATCH)

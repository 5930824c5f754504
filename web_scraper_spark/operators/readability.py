"""Readability scoring (Flesch 1948; Kincaid et al. 1975).

Classic surface readability metrics as pure Column expressions — the
quality-scoring axis orthogonal to operators/text.quality_columns'
symbol/stopword ratios: web-text curation pipelines use grade-level
bands both as quality filters and as difficulty strata for curriculum
mixing.

    Flesch Reading Ease  = 206.835 − 1.015·(words/sentences)
                                   − 84.6·(syllables/word)
    Flesch–Kincaid Grade = 0.39·(words/sentences)
                           + 11.8·(syllables/word) − 15.59

Deterministic engine-portable approximations (both sides documented,
identical in Spark and the DuckDB oracle):

- sentences = count of ``[.!?]+`` runs, floored at 1 (the synthetic
  corpus is punctuation-free word soup — TESTDATA.md — so every doc is
  one "sentence" there; the planted-text tests exercise multi-sentence
  inputs);
- syllables(word) = count of vowel-group runs ``[aeiouy]+``, floored at
  1 per word (the standard heuristic — no dictionary). Computed WITHOUT
  a per-token HOF: over the single-space-normalized text,
  ``Σ_w max(1, vg(w)) = vg_runs(text) + (n_words − n_vowel_words)``
  since vowel runs never cross the space separator and each word with
  ≥1 vowel contributes exactly one ``[^ ]*[aeiouy][^ ]*`` match — three
  codegen regexp scans instead of an interpreted fold that projection
  collapse would re-run once per referencing output column.

Both component ratios are rounded to 6 dp BEFORE entering the linear
formulas and the scores re-rounded to 4 dp, the quality_columns recipe:
identical IEEE inputs + identical expression shape → identical doubles,
so the driver's value-hash comparison can never flake.

The reference computes no readability signal (its only text features
are the tokenize/stopword chain, /root/reference/ConnectAndSave.py:79-84);
this implements the published formulas.

Plan shape at 100 TB: everything — sentence runs, vowel runs, and the
vowel-word correction — is a codegen regexp scan of the text column;
zero HOFs, no joins, no shuffles, no Python — embarrassingly parallel
at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_scraper_spark.operators.text import (
    clean_text,
    clean_text_sql,
    tokens,
    tokens_sql,
)

SENTENCE_RE = r"[.!?]+"
VOWEL_RE = r"[aeiouy]+"
VOWEL_WORD_RE = r"[^ ]*[aeiouy][^ ]*"  # one match per vowel-bearing word


def readability_scores(docs: DataFrame) -> DataFrame:
    """Per-document Flesch Reading Ease + Flesch–Kincaid grade.

    Returns (doc_id, n_words, n_sentences, n_syllables,
    words_per_sentence, syllables_per_word, flesch, fk_grade).
    """
    # NULL text scores as empty text; the DuckDB twin coalesces identically
    low = F.lower(clean_text(F.coalesce(F.col("text"), F.lit(""))))
    tok = tokens(low)
    n_words = F.size(tok).cast("bigint")
    n_sentences = F.greatest(
        F.regexp_count(low, F.lit(SENTENCE_RE)), F.lit(1)
    ).cast("bigint")
    # Σ_w max(1, vowel-groups(w)) without a HOF (see module docstring):
    # vowel runs can't cross the space separator, so the per-word sum
    # decomposes into pure codegen regexp counts over the text.
    n_syl = (
        F.regexp_count(low, F.lit(VOWEL_RE))
        + n_words
        - F.regexp_count(low, F.lit(VOWEL_WORD_RE))
    ).cast("bigint")
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    wps = F.round(n_words.cast("double") / n_sentences.cast("double"), 6)
    spw = F.round(n_syl.cast("double") / safe_words, 6)
    flesch = F.round(
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
    )
    fk = F.round(
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        flesch.alias("flesch"),
        fk.alias("fk_grade"),
    )


def readability_scores_sql() -> str:
    """DuckDB value-exact twin of :func:`readability_scores`."""
    low = "lower(" + clean_text_sql("coalesce(text, '')") + ")"
    tok = tokens_sql(low)
    return f"""
        WITH base AS (
            SELECT doc_id,
                   len({tok})::BIGINT AS n_words,
                   greatest(len(regexp_extract_all({low}, '{SENTENCE_RE}')),
                            1)::BIGINT AS n_sentences,
                   (len(regexp_extract_all({low}, '{VOWEL_RE}'))
                    + len({tok})
                    - len(regexp_extract_all({low}, '{VOWEL_WORD_RE}'))
                   )::BIGINT AS n_syllables
            FROM documents
        ),
        ratios AS (
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   round(n_words::DOUBLE / n_sentences::DOUBLE, 6)
                       AS words_per_sentence,
                   round(n_syllables::DOUBLE
                         / greatest(n_words, 1)::DOUBLE, 6)
                       AS syllables_per_word
            FROM base
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               words_per_sentence, syllables_per_word,
               round(206.835 - 1.015 * words_per_sentence
                     - 84.6 * syllables_per_word, 4) AS flesch,
               round(0.39 * words_per_sentence
                     + 11.8 * syllables_per_word - 15.59, 4) AS fk_grade
        FROM ratios
    """

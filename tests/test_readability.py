"""Readability scores (operators/readability.py).

Value-exactness vs DuckDB on the real corpus is covered by the oracle
replica (`readability_scores` is a registered oracled query — the
corpus is punctuation-free so every doc is one "sentence" there). These
tests pin the formulas on planted multi-sentence text against a
from-scratch Python twin, the floors, and the twin's punctuated path.
"""

import re

import duckdb
import pandas as pd

from web_scraper_spark.operators import readability


def _docs(spark, rows, parts=None):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return df.repartition(parts) if parts else df


def _py(text):
    tok = re.sub(r"\s+", " ", text.strip().lower()).split()
    tok = [t for t in tok if t]
    n_words = len(tok)
    n_sentences = max(len(re.findall(r"[.!?]+", " ".join(tok))), 1)
    n_syl = sum(max(len(re.findall(r"[aeiouy]+", w)), 1) for w in tok)
    wps = round(n_words / n_sentences, 6)
    spw = round(n_syl / max(n_words, 1), 6)
    return {
        "n_words": n_words,
        "n_sentences": n_sentences,
        "n_syllables": n_syl,
        "words_per_sentence": wps,
        "syllables_per_word": spw,
        "flesch": round(206.835 - 1.015 * wps - 84.6 * spw, 4),
        "fk_grade": round(0.39 * wps + 11.8 * spw - 15.59, 4),
    }


def test_matches_python_twin(spark):
    rows = [
        (0, "The cat sat on the mat. It was a sunny day! Was it?"),
        (1, "Comprehensive understanding necessitates deliberate investigation."),
        (2, "brrr pfft tsk"),  # zero-vowel words: 1 syllable each
        (3, ""),
        (4, "one"),
    ]
    out = {r["doc_id"]: r.asDict() for r in
           readability.readability_scores(_docs(spark, rows)).collect()}
    for doc_id, text in rows:
        expect = _py(text)
        got = out[doc_id]
        for k, v in expect.items():
            assert got[k] == v, (doc_id, k, got[k], v)


def test_simple_beats_complex(spark):
    rows = [
        (0, "The cat sat. The dog ran. We had fun."),
        (1, "Institutional heterogeneity complicates organizational accountability evaluation methodologies considerably."),
    ]
    out = {r["doc_id"]: r for r in
           readability.readability_scores(_docs(spark, rows)).collect()}
    assert out[0]["flesch"] > out[1]["flesch"]
    assert out[0]["fk_grade"] < out[1]["fk_grade"]


def test_floors(spark):
    out = readability.readability_scores(
        _docs(spark, [(0, "no punctuation here"), (1, "")])
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by[0]["n_sentences"] == 1  # floored, not 0
    assert by[1]["n_words"] == 0 and by[1]["n_syllables"] == 0
    assert by[1]["n_sentences"] == 1


def test_duckdb_twin_on_punctuated_text(spark):
    rows = [
        (0, "The cat sat on the mat. It was a sunny day! Was it?"),
        (1, "brrr pfft tsk"),
        (2, "Multi   space\ttext. And? More!!"),
        (3, ""),
        (4, None),  # NULL text scores as empty text on both engines
    ]
    df = readability.readability_scores(_docs(spark, rows))
    sdata = sorted(map(tuple, df.collect()))
    assert sdata[4][1:] == sdata[3][1:] and sdata[4][1] == 0
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    odata = sorted(map(tuple, con.execute(readability.readability_scores_sql()).fetchall()))
    assert sdata == odata


def test_partition_invariant_and_plan(spark):
    rows = [(i, f"word{i} " * (10 + i) + ". end here.") for i in range(8)]
    a = sorted(map(tuple, readability.readability_scores(_docs(spark, rows, 1)).collect()))
    b = sorted(map(tuple, readability.readability_scores(_docs(spark, rows, 5)).collect()))
    assert a == b
    df = readability.readability_scores(_docs(spark, rows))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # pure per-row scan: no shuffle at all

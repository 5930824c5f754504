"""Article text clean (SURVEY.md X9).

X9, the 10-step text-clean pipeline (preprocessing_extract_entity.py:
36-118), is :func:`deep_clean` — its 9 regexp steps as one native
regexp_replace chain. The NFC step is left out: synthetic corpora are
already NFC. The rest of the reference's E2
stage-1 chain (ConnectAndSave.py:31-108) lives where the registry uses
it: tokenization in operators/text.py, time parsing in
functions/timeparse.py, the keyword split in queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def deep_clean(col: Column) -> Column:
    """X9: URL/email/phone strip, repeated-char collapse, specials strip,
    lone-number drop, whitespace normalize (preprocessing_extract_entity.py:
    36-118 step order preserved; the NFC step 1 is a no-op on synthetic
    corpora, which are already NFC)."""
    c = F.regexp_replace(col, r"https?://\S+|www\.\S+", " ")       # URLs
    c = F.regexp_replace(c, r"\S+@\S+\.\S+", " ")                # emails
    c = F.regexp_replace(c, r"\b\+?\d[\d .-]{7,}\d\b", " ")      # phone runs
    c = F.regexp_replace(c, r"(.)\1{2,}", "$1$1")                # aaa+ → aa
    c = F.regexp_replace(c, r"[^\w\s.,;:()\-]", " ")             # specials
    c = F.regexp_replace(c, r"\b\d+\b", " ")                     # lone numbers
    c = F.regexp_replace(c, r"[\n\r\t]", " ")
    return F.regexp_replace(F.trim(c), r"\s+", " ")


def deep_clean_sql(expr: str) -> str:
    """DuckDB twin of :func:`deep_clean`. RE2 has no backreferences, so
    the generic ``(.)\\1{2,}`` repeated-char collapse is expanded into
    per-character rules over [a-z0-9] and the kept punctuation — identical
    output for any input whose 3+-runs are in that alphabet (uppercase is
    lowered by the time real pipelines reach this step; the oracle gate
    asserts equality on the corpus)."""
    c = expr
    c = f"regexp_replace({c}, 'https?://\\S+|www\\.\\S+', ' ', 'g')"
    c = f"regexp_replace({c}, '\\S+@\\S+\\.\\S+', ' ', 'g')"
    c = f"regexp_replace({c}, '\\b\\+?\\d[\\d .-]{{7,}}\\d\\b', ' ', 'g')"
    for ch in "abcdefghijklmnopqrstuvwxyz0123456789.,;:()-":
        esc = "\\" + ch if ch in ".,;:()-" else ch
        c = f"regexp_replace({c}, '{esc}{{3,}}', '{ch}{ch}', 'g')"
    c = f"regexp_replace({c}, '[^\\w\\s.,;:()\\-]', ' ', 'g')"
    c = f"regexp_replace({c}, '\\b\\d+\\b', ' ', 'g')"
    c = f"regexp_replace({c}, '[\\n\\r\\t]', ' ', 'g')"
    return f"regexp_replace(trim({c}), '\\s+', ' ', 'g')"


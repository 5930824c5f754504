"""web_scraper_spark — a from-scratch PySpark-native crawl-frontier + analytics engine.

Re-expresses the query/data-processing capabilities of the reference
(hung0310/web-scraper, a sequential Selenium/BeautifulSoup/pandas pipeline)
as an idiomatic Spark DataFrame engine:

- ``synth``     deterministic Common-Crawl-style ``pages`` table generator
- ``html``      stdlib-parser DOM + CSS-select subset + per-source extractors
                (the byte-identity surface, SURVEY.md §2.4)
- ``frontier``  URL-frontier rounds: seen-set anti-join dedup, politeness
                scheduler, priority queue, checkpoint/resume (SURVEY.md §2.9)
- ``operators`` relational operator library (SURVEY.md §2.2-2.8)
- ``functions`` scalar text/time functions (SURVEY.md §2.3)
- ``dedup``     exact / MinHash-LSH / SimHash / n-gram / embedding dedup
- ``similarity``ANN over embedding columns
- ``ml``        topic modeling (CountVectorizer+LDA), NER, relation tiering
- ``multimodal``binary media column: native size/hash stats and features
"""

__version__ = "0.1.0"

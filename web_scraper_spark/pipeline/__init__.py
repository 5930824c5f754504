"""The reference's analytics chains (SURVEY.md §3 E2/E3) as DataFrame stages.

- articles:  the X9 deep-clean chain (E2 stage 1's text clean)
- entities:  sentence split → NER (vectorized, stubbed model) → normalize →
             dedup → frequency gate (E3 stage 1)
- relations: sentence-group pairs → hybrid regex/LLM classify (regex tier
             native, LLM tier stubbed mapInPandas on deduped sentences) →
             typed edges (E3 stage 3)
- kg:        node/edge property-graph tables with MERGE-equivalent dedup
             (E3 stage 2)

The registry (queries.py) composes these stages; there is no one-call
chain runner and no database or graph sink.
"""
